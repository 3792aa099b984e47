package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small)
  * query set against the corpus, no corpus shuffle, ranking via a
  * per-query window. Scale path: sign-LSH bucketing (random
  * hyperplanes derived from seeded hashes, so the "planes" ship as
  * code, not data) restricts candidates to one bucket; an IVF-style
  * variant can use k-means centroids the same way. All vector math is
  * codegen'd higher-order functions (zip_with/aggregate) over
  * double-cast arrays.
  */
object Similarity {

  def toDoubleVec(v: Column): Column = transform(v, x => x.cast("double"))

  // r19: the zip_with/aggregate folds below became one-pass imperative
  // expressions (functions.VecOps) — interpreted higher-order functions
  // rebuilt a Catalyst tree walk per LANE and allocated an intermediate
  // array per pass; same left-to-right fp fold, same null-poisoning
  // (HashVecOpsSpec pins bit-equality incl. NaN/null/length edges).
  def dot(a: Column, b: Column): Column =
    graft.functions.VecOps.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    graft.functions.VecOps.cosine(a, b)

  /** Sign-LSH bucket key: one bit per hyperplane, the plane's dim-i
    * component derived as `pmod(xxhash64(table*1000+p, i), 1e6)/1e6 -
    * 0.5` — uniform in [-0.5, 0.5), reproducible anywhere without
    * shipping plane matrices. `table` seeds an independent plane
    * family (banded LSH uses several tables). r19: one imperative
    * pass (functions.SignLshKeyExpr) instead of `planes` interpreted
    * zip_with/aggregate folds. */
  def signLshKey(vec: Column, planes: Int, table: Int = 0): Column =
    graft.functions.VecOps.signLshKey(vec, planes, table)

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (cosine desc, id asc tie-break). Queries are
    * broadcast — the corpus is scanned once with no shuffle until the
    * final per-query ranking. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("qid"),
      toDoubleVec(col(vecCol)).as("qe")))
    val c = corpus.select(col(idCol).as("vec_id"),
      toDoubleVec(col(vecCol)).as("ce"))
    val scored = q.join(c, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine(col("qe"), col("ce")).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  // r19: the argmin/probe assignment became one imperative expression
  // (functions.NearestCentroidExpr) — the Column form built an
  // array<struct<d,c>> of nlist interpreted aggregate folds per ROW
  // (and per k-means iteration). Centroids still ship as plan
  // literals; tie/NaN/null semantics replay array_min/array_sort's
  // struct ordering exactly (HashVecOpsSpec pins them, including
  // duplicated-centroid ties and wrong-dimensionality vectors).

  /** Nearest-centroid id (argmin by squared L2, ties to the smaller
    * centroid id). */
  def nearestCentroid(vec: Column, centroids: Seq[Seq[Double]]): Column =
    graft.functions.VecOps.nearestCentroid(vec, centroids)

  /** (cluster, cdist) struct: nearest-centroid id AND the squared-L2
    * distance to it in one argmin pass (assignment + keep-rule inputs
    * of [[graft.operators.Dedup.semanticDedup]]). */
  def nearestCentroidAssign(vec: Column, centroids: Seq[Seq[Double]]): Column =
    graft.functions.VecOps.nearestCentroidAssign(vec, centroids)

  /** The `nprobe` nearest centroid ids, nearest first (the IVF probe
    * list; multi-probe pair enumeration in semanticDedup). */
  def nearestCentroids(vec: Column, centroids: Seq[Seq[Double]],
      nprobe: Int): Column =
    graft.functions.VecOps.nearestCentroids(vec, centroids, nprobe)

  /** Lloyd k-means over an embedding column, distributed: assignment is
    * a codegen'd argmin against broadcast centroid literals, the update
    * step one (cid, dim) grouped mean. Returns nlist centroids.
    * Deterministic init: the nlist lowest xxhash64(id) corpus vectors. */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 3): Seq[Seq[Double]] = {
    // r19: cache the double-cast vectors for the duration of the Lloyd
    // loop — every iteration (and the init sort) otherwise re-scans the
    // source and re-casts per element (iters+1 scans → 1; measured
    // 7.3 → 6.1 s for the 5-iteration sf0.1 bench variant). Freed
    // before returning; at scale the MEMORY_AND_DISK levels spill
    // rather than evict mid-iteration.
    val vecs = corpus.select(col(idCol).as("id"), toDoubleVec(col(vecCol)).as("e"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var centroids: Seq[Seq[Double]] = vecs
      .orderBy(xxhash64(col("id"))).limit(nlist)
      .select(col("e")).collect().toSeq.map(_.getSeq[Double](0))
    for (_ <- 1 to iters) {
      val assigned = vecs.withColumn("cid", nearestCentroid(col("e"), centroids))
      val means = assigned
        .select(col("cid"), posexplode(col("e")))
        .groupBy(col("cid"), col("pos")).agg(avg(col("col")).as("m"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ps"))
        .select(col("cid"), transform(col("ps"), p => p("m")).as("ctr"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
      // empty clusters keep their previous centroid
      centroids = centroids.indices.map(i => means.getOrElse(i, centroids(i)))
    }
    vecs.unpersist(false)
    centroids
  }

  /** IVF top-k: corpus partitioned into nlist centroid lists; each
    * query probes its `nprobe` nearest lists. nprobe = nlist degrades
    * gracefully to exact brute force (asserted in spec). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 16, nprobe: Int = 4, iters: Int = 3): DataFrame = {
    val in = Materialize.once(corpus) // read for the centroids and the lists
    val centroids = kmeansCentroids(in, idCol, vecCol, nlist, iters)
    val c = in.select(col(idCol).as("vec_id"),
        toDoubleVec(col(vecCol)).as("ce"))
      .withColumn("cid", nearestCentroid(col("ce"), centroids))
    val q = broadcast(queries.select(col(idCol).as("qid"),
        toDoubleVec(col(vecCol)).as("qe"))
      .withColumn("cid",
        explode(nearestCentroids(col("qe"), centroids, nprobe))))
    val scored = q.join(c, q("cid") === c("cid") && col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"), cosine(col("qe"), col("ce")).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Banded sign-LSH bucket rows: one (table, bucket) row per input row
    * per table — independent plane families so a near neighbor missed
    * by one table's split is caught by another (same recall structure
    * as MinHash-LSH banding). */
  private def bandedKeys(df: DataFrame, planes: Int, tables: Int,
      vec: Column): DataFrame =
    df.withColumn("__tb", explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"), signLshKey(vec, planes, t).as("b"))): _*)))
      .withColumn("__t", col("__tb")("t"))
      .withColumn("bucket", col("__tb")("b"))
      .drop("__tb")

  /** LSH-bucketed approximate top-k: candidates restricted to buckets
    * the query shares with the corpus row in ANY of `tables` independent
    * plane families; ranking as in the brute-force path. Recall rises
    * with `tables`, bucket selectivity with `planes`; recall vs the
    * exact baseline is asserted in DedupSimilaritySpec. */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, planes: Int = 6,
      tables: Int = 4): DataFrame = {
    val q = broadcast(bandedKeys(queries.select(col(idCol).as("qid"),
      toDoubleVec(col(vecCol)).as("qe")), planes, tables, col("qe")))
    val c = bandedKeys(corpus.select(col(idCol).as("vec_id"),
        toDoubleVec(col(vecCol)).as("ce")), planes, tables, col("ce"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val scored = q.join(c,
        col("qid") =!= col("vec_id") && q("__t") === c("__t") &&
          q("bucket") === c("bucket"))
      .select(col("qid"), col("vec_id"), col("qe"), col("ce"))
      .dropDuplicates("qid", "vec_id")
      .select(col("qid"), col("vec_id"),
        cosine(col("qe"), col("ce")).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    val topk = scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
    Materialize.andFree(topk, c)
  }
  /** Symmetric per-vector int8 quantization: scale = max|x|/127,
    * q_i = floor(x_i/scale + 0.5) clamped to [-127, 127], stored as
    * array<tinyint> + one float scale — a 4× memory/scan reduction
    * for a 100 TB embedding store (the standard faiss-style SQ8
    * layout). The rounding rule is integer-floor so any engine
    * replays it bit-for-bit; all-zero vectors keep scale 0 and an
    * all-zero code. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String)
      : DataFrame = {
    // r20: the interpreted aggregate (max-|x| scale) + per-element
    // transform collapse into one imperative pass
    // (functions.QuantizeInt8Expr) — bit-identical to the Column form
    //   scale  = aggregate(v, 0.0, (acc, x) => greatest(acc, abs(x)))/127
    //   qvec_i = when(scale === 0, 0).otherwise(greatest(-127,
    //              least(127, floor(x/scale + 0.5).cast("int"))))
    // including the null/NaN edges (HashVecOpsSpec pins equality).
    df.select(col(idCol).as("vec_id"),
        graft.functions.VecOps.quantizeInt8(col(vecCol)).as("__q"))
      .select(col("vec_id"), col("__q.qscale").as("qscale"),
        col("__q.qvec").as("qvec"))
  }

  /** Brute-force cosine top-k over the QUANTIZED corpus: codes
    * dequantize on the fly (q·scale), queries stay full-precision.
    * Same broadcast/no-corpus-shuffle shape as [[bruteForceTopK]] —
    * the corpus side just reads 1/4 the bytes. */
  def quantTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("qid"),
      toDoubleVec(col(vecCol)).as("qe")))
    val c = quantizeInt8(corpus, idCol, vecCol)
      .select(col("vec_id"),
        transform(col("qvec"),
          x => x.cast("double") * col("qscale").cast("double")).as("ce"))
    val scored = q.join(c, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine(col("qe"), col("ce")).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }
}