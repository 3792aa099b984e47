package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.{HashOps, VecOps}

/** Bit-equality pins for the r19 imperative hash/vector expressions
  * against the ORIGINAL Column formulations they replace (inlined here
  * verbatim from the pre-r19 `Dedup`/`Similarity`), over randomized
  * corpora plus the null/empty/NaN/unicode edges. The oracle and fuzz
  * suites prove the OPERATORS end to end; these prove the expression
  * swap itself changed nothing, element for element. */
class HashVecOpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- original Column formulations (pre-r19 Dedup/Similarity) ----

  private def oldShingleHashes(textCol: Column, n: Int): Column = {
    val words = split(trim(textCol), "\\s+")
    if (n == 1) transform(array_distinct(words), w => xxhash64(w))
    else {
      val wh = transform(words, w => xxhash64(w))
      array_distinct(
        when(size(wh) < n, array(xxhash64(wh)))
          .otherwise(transform(sequence(lit(0), size(wh) - n),
            i => xxhash64(slice(wh, i + 1, lit(n))))))
    }
  }

  private def oldMinhashSignature(shingleHashes: Column, k: Int): Column =
    array((0 until k).map { i =>
      array_min(transform(shingleHashes, h => xxhash64(lit(i.toLong), h)))
    }: _*)

  private def oldBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))))

  private def oldMatchCount(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), v => v))

  private def oldDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def oldNorm(a: Column): Column = sqrt(oldDot(a, a))

  private def oldCosine(a: Column, b: Column): Column =
    oldDot(a, b) / (oldNorm(a) * oldNorm(b))

  private def oldCentroidDists(vec: Column,
      centroids: Seq[Seq[Double]]): Column =
    array(centroids.zipWithIndex.map { case (ctr, i) =>
      val cLit = array(ctr.map(lit): _*)
      val d = aggregate(zip_with(vec, cLit, (x, c) => (x - c) * (x - c)),
        lit(0.0), (acc, x) => acc + x)
      struct(d.as("d"), lit(i).as("c"))
    }: _*)

  private def oldNearestAssign(vec: Column,
      centroids: Seq[Seq[Double]]): Column = {
    val m = array_min(oldCentroidDists(vec, centroids))
    struct(m("c").as("cluster"), m("d").as("cdist"))
  }

  private def oldNearestCentroids(vec: Column, centroids: Seq[Seq[Double]],
      nprobe: Int): Column =
    slice(transform(array_sort(oldCentroidDists(vec, centroids)),
      s => s("c")), 1, nprobe)

  private def oldPlaneComponent(table: Int, plane: Int, dim: Column): Column =
    (pmod(xxhash64(lit(table.toLong * 1000 + plane), dim), lit(1000000L))
      .cast("double") / 1e6) - 0.5

  private def oldSignLshKey(vec: Column, planes: Int, table: Int): Column =
    (0 until planes).map { p =>
      val proj = aggregate(zip_with(vec,
        transform(sequence(lit(0), size(vec) - 1),
          i => oldPlaneComponent(table, p, i)),
        (x, w) => x * w), lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)

  private def oldSimhashOfHashes(hashCol: Column): Column = {
    val masks = array((0 until 64).map(b => lit(1L << b)): _*)
    val votes = aggregate(hashCol,
      transform(masks, _ => lit(0)),
      (acc, h) => zip_with(acc, masks, (a, m) =>
        a + when(h.bitwiseAND(m) =!= 0L, 1).otherwise(-1)))
    aggregate(zip_with(votes, masks, (v, m) => when(v > 0, m).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
  }

  // ---- fixtures ----

  private val texts: Seq[String] = {
    val rnd = new scala.util.Random(4219)
    val vocab = Vector("the", "cat", "sät", "日本語", "a", "b", "-", "x9",
      "lorem", "ipsum", "dolor", "Qu'est-ce", "été")
    val gen = (1 to 60).map { _ =>
      val n = rnd.nextInt(30)
      (0 until n).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(if (rnd.nextBoolean()) " " else "  \t")
    }
    gen ++ Seq("", " ", "\t\n ", "one", "a a a a", "x y", null)
  }

  private def textDf: DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  private val vecs: Seq[Seq[java.lang.Double]] = {
    val rnd = new scala.util.Random(77)
    val gen = (1 to 40).map { _ =>
      Seq.fill(6)(java.lang.Double.valueOf(rnd.nextGaussian()))
    }
    gen ++ Seq(
      Seq.fill(6)(java.lang.Double.valueOf(0.0)),
      Seq(1.0, -0.0, 0.0, Double.NaN, 2.0, -3.0).map(java.lang.Double.valueOf),
      Seq[java.lang.Double](1.0, null, 2.0, 3.0, 4.0, 5.0),
      null,
      Seq[java.lang.Double](1.0, 2.0), // wrong dimensionality
      Seq.empty[java.lang.Double],
      // quantize floor-boundary: -0.5/(float)(1/127) floors to -64
      // where the double scale gives -63 — pins the float-scale
      // division (DedupSimilaritySpec's -64 case)
      Seq(1.0, -0.5, 0.25, 0.125, -1.0, 0.75).map(java.lang.Double.valueOf),
      // double scale underflows the float cast to 0 → all-zero codes
      Seq.fill(6)(java.lang.Double.valueOf(1e-46)))
  }

  private def vecDf: DataFrame =
    vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "v")

  private val centroids: Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(13)
    (0 until 5).map(_ => Seq.fill(6)(rnd.nextGaussian())) :+
      Seq(1.0, -0.0, 0.0, 0.5, 2.0, -3.0) // exercises 0.0 vs -0.0 paths
  }

  /** Bit-level canonical form: doubles via doubleToLongBits so NaN==NaN
    * holds and ±0.0 stay distinct; recurses into rows/arrays. */
  private def canon(v: Any): Any = v match {
    case d: java.lang.Double => java.lang.Double.doubleToLongBits(d)
    case f: java.lang.Float  => java.lang.Float.floatToIntBits(f)
    case r: Row              => r.toSeq.map(canon)
    case s: scala.collection.Seq[_] => s.map(canon)
    case other => other
  }

  private def assertSameRows(a: DataFrame, b: DataFrame, tag: String): Unit = {
    val (ra, rb) = (a.collect().toSeq.map(canon), b.collect().toSeq.map(canon))
    assert(ra.size == rb.size, s"$tag: row count ${ra.size} != ${rb.size}")
    val diffs = ra.zip(rb).zipWithIndex.collect {
      case ((x, y), i) if x != y => s"row $i: new=$x old=$y"
    }
    assert(diffs.isEmpty,
      s"$tag: ${diffs.size} rows differ; first: ${diffs.take(3).mkString(" | ")}")
  }

  // ---- pins ----

  test("ShingleHashesExpr == old shingleHashes for n = 1, 2, 3, 13") {
    for (n <- Seq(1, 2, 3, 13)) {
      assertSameRows(
        textDf.select(col("doc_id"), HashOps.shingleHashes(col("text"), n)),
        textDf.select(col("doc_id"), oldShingleHashes(col("text"), n)),
        s"shingleHashes n=$n")
    }
  }

  test("MinHashSigExpr == old minhashSignature (k=24), incl. null text") {
    val newSig = textDf.select(col("doc_id"),
      HashOps.minhashSig(HashOps.shingleHashes(col("text"), 1), 24))
    val oldSig = textDf.select(col("doc_id"),
      oldMinhashSignature(oldShingleHashes(col("text"), 1), 24))
    assertSameRows(newSig, oldSig, "minhashSig k=24")
  }

  test("MinHashBandsExpr == old band transform (8 x 3)") {
    val sig = HashOps.minhashSig(HashOps.shingleHashes(col("text"), 1), 24)
    assertSameRows(
      textDf.select(col("doc_id"), HashOps.minhashBands(sig, 8, 3)),
      textDf.select(col("doc_id"), oldBands(sig, 8, 3)),
      "minhashBands")
  }

  test("MatchCountExpr == size(filter(zip_with)) incl. null-element sigs") {
    // null-text docs produce all-null signatures — the null===null path
    // every 7th sig replaced by a NULL array — pins the legacy
    // size(null) = -1 path of the replaced size(filter(zip_with))
    val sigs = textDf.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(7)) === 0, lit(null))
        .otherwise(HashOps.minhashSig(HashOps.shingleHashes(col("text"), 1),
          12)).as("s"))
    val pairs = sigs.as("a").crossJoin(sigs.as("b"))
      .select(col("a.s").as("s1"), col("b.s").as("s2"))
    assertSameRows(
      pairs.select(HashOps.matchCount(col("s1"), col("s2"))),
      pairs.select(oldMatchCount(col("s1"), col("s2"))),
      "matchCount")
  }

  test("Md5MinHashBucketsExpr == the exploded md5 double-hash pipeline") {
    for ((bands, rowsPerBand, n) <- Seq((4, 3, 3), (2, 2, 1), (3, 2, 5))) {
      val k = bands * rowsPerBand
      // original lshBuckets batch pipeline, inlined (explode + groupBy)
      val toks = filter(graft.operators.TextOps.wordNgramsOf(
        filter(split(trim(col("text")), "\\s+"), w => w =!= ""), n),
        g => g =!= "")
      val hv = textDf.select(col("doc_id"), toks.as("__toks"))
        .where(size(col("__toks")) > 0)
        .select(col("doc_id"), explode(col("__toks")).as("g"))
        .select(col("doc_id"),
          conv(substring(md5(col("g")), 1, 8), 16, 10)
            .cast("long").as("h0"),
          conv(substring(md5(col("g")), 9, 8), 16, 10)
            .cast("long").as("h1"))
      val mins = (0 until k).map(i =>
        min(pmod(col("h0") + col("h1") * i, lit(4294967291L))).as(s"__s$i"))
      val oldSig = hv.groupBy("doc_id").agg(mins.head, mins.tail: _*)
        .select(col("doc_id"),
          array((0 until k).map(i => col(s"__s$i")): _*).as("__sig"))
      val oldBuckets = oldSig.select(col("doc_id"), col("__sig"),
          explode(sequence(lit(0), lit(bands - 1))).as("band"))
        .select(col("doc_id"), col("band"),
          md5(concat_ws(",", transform(
            slice(col("__sig"), col("band") * rowsPerBand + 1,
              lit(rowsPerBand)),
            x => x.cast("string")))).as("bh"))
      val newBuckets = textDf.select(col("doc_id"),
          posexplode(HashOps.md5MinhashBuckets(col("text"), bands,
            rowsPerBand, n)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
      assertSameRows(
        newBuckets.orderBy("doc_id", "band"),
        oldBuckets.orderBy("doc_id", "band"),
        s"md5MinhashBuckets $bands x $rowsPerBand n=$n")
    }
  }

  test("SimHash64Expr == the 64-lane vote fold") {
    val hashes = transform(split(trim(col("text")), "\\s+"), w => xxhash64(w))
    assertSameRows(
      textDf.select(col("doc_id"), HashOps.simhash64(hashes)),
      textDf.select(col("doc_id"), oldSimhashOfHashes(hashes)),
      "simhash64")
  }

  test("StructFieldSumExpr == aggregate(arr, 0.0, acc + x.f)") {
    val rnd = new scala.util.Random(5)
    val lists: Seq[Seq[java.lang.Double]] =
      (1 to 30).map(_ => Seq.fill(rnd.nextInt(8))(
        java.lang.Double.valueOf(rnd.nextGaussian()))) ++
        Seq(Seq.empty, Seq(java.lang.Double.valueOf(Double.NaN)),
          Seq[java.lang.Double](1.0, null, 2.0), null)
    val df = lists.zipWithIndex.map { case (l, i) => (i, l) }.toDF("id", "l")
      .select(col("id"), transform(col("l"),
        (x, i) => struct(i.as("pos"), x.as("lp"))).as("arr"))
    assertSameRows(
      df.select(col("id"), HashOps.fieldSum(col("arr"), "lp")),
      df.select(col("id"),
        aggregate(col("arr"), lit(0.0), (acc, x) => acc + x("lp"))),
      "fieldSum")
  }

  test("DotExpr / CosineExpr == aggregate(zip_with) folds, " +
      "incl. NaN / null-element / length-mismatch / null-vector edges") {
    val pairs = vecDf.as("a").crossJoin(vecDf.as("b"))
      .select(col("a.vec_id"), col("b.vec_id"),
        col("a.v").as("v1"), col("b.v").as("v2"))
    assertSameRows(
      pairs.select(VecOps.dot(col("v1"), col("v2"))),
      pairs.select(oldDot(col("v1"), col("v2"))),
      "dot")
    assertSameRows(
      pairs.select(VecOps.cosine(col("v1"), col("v2"))),
      pairs.select(oldCosine(col("v1"), col("v2"))),
      "cosine")
  }

  test("DotExpr / CosineExpr accept float arrays like the cast chain") {
    val fdf = vecs.filter(v => v != null && !v.contains(null))
      .map(_.map(d => java.lang.Float.valueOf(d.floatValue)))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "fv")
    val casted = transform(col("fv"), x => x.cast("double"))
    assertSameRows(
      fdf.select(VecOps.dot(col("fv"), col("fv")),
        VecOps.cosine(col("fv"), col("fv"))),
      fdf.select(oldDot(casted, casted), oldCosine(casted, casted)),
      "float dot/cosine")
  }

  test("NormalizeExpr == transform(v, x => x / norm(v))") {
    assertSameRows(
      vecDf.select(VecOps.normalize(col("v"))),
      vecDf.select(transform(col("v"), x => x / oldNorm(col("v")))),
      "normalize")
  }

  test("NearestCentroidExpr (assign / cluster / probes) == the " +
      "array_min / array_sort struct formulations") {
    assertSameRows(
      vecDf.select(VecOps.nearestCentroidAssign(col("v"), centroids)),
      vecDf.select(oldNearestAssign(col("v"), centroids)),
      "nearestCentroidAssign")
    assertSameRows(
      vecDf.select(VecOps.nearestCentroid(col("v"), centroids)),
      vecDf.select(oldNearestAssign(col("v"), centroids)("cluster")),
      "nearestCentroid")
    for (nprobe <- Seq(1, 2, 4, centroids.size)) {
      assertSameRows(
        vecDf.select(VecOps.nearestCentroids(col("v"), centroids, nprobe)),
        vecDf.select(oldNearestCentroids(col("v"), centroids, nprobe)),
        s"nearestCentroids nprobe=$nprobe")
    }
  }

  test("NearestCentroidExpr ties break to the smaller centroid id") {
    val twice = centroids ++ centroids // every centroid duplicated
    val clean = vecDf.where(col("vec_id") < 40)
    assertSameRows(
      clean.select(VecOps.nearestCentroidAssign(col("v"), twice)),
      clean.select(oldNearestAssign(col("v"), twice)),
      "dup-centroid ties (assign)")
    assertSameRows(
      clean.select(VecOps.nearestCentroids(col("v"), twice, 3)),
      clean.select(oldNearestCentroids(col("v"), twice, 3)),
      "dup-centroid ties (probes)")
  }

  test("SignLshKeyExpr == the per-plane projection fold") {
    for ((planes, table) <- Seq((2, 0), (6, 3), (8, 7))) {
      assertSameRows(
        vecDf.select(VecOps.signLshKey(col("v"), planes, table)),
        vecDf.select(oldSignLshKey(col("v"), planes, table)),
        s"signLshKey planes=$planes table=$table")
    }
  }

  // ---- r20 pins ----

  test("FirstBandMatchExpr == no-earlier-band-equal Column check") {
    // randomized band-hash arrays with deliberate collisions so every
    // prefix length sees both matching and non-matching earlier bands
    val rnd = new scala.util.Random(2020)
    val bandArrs: Seq[Seq[Long]] =
      (1 to 50).map(_ => Seq.fill(8)(rnd.nextInt(4).toLong))
    val df = bandArrs.zipWithIndex.map { case (b, i) => (i.toLong, b) }
      .toDF("id", "bv")
    val pairs = df.as("a").crossJoin(df.as("b"))
      .crossJoin(Seq(0, 1, 3, 7).toDF("band"))
      .select(col("a.bv").as("bva"), col("b.bv").as("bvb"), col("band"))
    val oldForm = size(filter(zip_with(
      slice(col("bva"), lit(1), col("band")),
      slice(col("bvb"), lit(1), col("band")),
      (x, y) => x === y), v => v)) === 0
    assertSameRows(
      pairs.select(HashOps.firstBandMatch(col("bva"), col("bvb"),
        col("band"))),
      pairs.select(oldForm),
      "firstBandMatch")
  }

  test("uncapped minhash candidate set: first-band-match join == " +
      "groupBy pair-distinct over raw band matches") {
    // the r20 minhashLshPairs (uncapped) candidate shape vs the r18
    // groupBy-distinct shape it replaces, over the fixture corpus
    val (bands, rowsPerBand) = (8, 3)
    val sig = textDf.select(col("doc_id"),
      HashOps.minhashSig(HashOps.shingleHashes(col("text"), 1),
        bands * rowsPerBand).as("sig"))
    val withBv = sig.select(col("doc_id"),
        HashOps.minhashBands(col("sig"), bands, rowsPerBand).as("__bv"))
      .select(col("doc_id"), col("__bv"), posexplode(col("__bv")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
    val newCand = withBv.as("a").join(withBv.as("b"),
        col("a.bh") === col("b.bh") && col("a.band") === col("b.band") &&
          col("a.doc_id") < col("b.doc_id") &&
          HashOps.firstBandMatch(col("a.__bv"), col("b.__bv"),
            col("a.band")))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
    val oldCand = withBv.as("a").join(withBv.as("b"),
        col("a.bh") === col("b.bh") && col("a.band") === col("b.band") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("__nb"))
      .select(col("id1"), col("id2"))
    // exactly-once emission: newCand must itself be duplicate-free
    val newRows = newCand.collect().toSeq.map(_.toSeq)
    assert(newRows.size == newRows.distinct.size,
      "first-band-match join emitted a pair more than once")
    assertSameRows(
      newCand.orderBy("id1", "id2"),
      oldCand.orderBy("id1", "id2"),
      "uncapped candidate set")
  }

  test("SortedStructFieldSumExpr == fieldSum(array_sort(arr)) and the " +
      "aggregate(sort_array(arr)) fold, incl. null/NaN elements") {
    val rnd = new scala.util.Random(8)
    val lists: Seq[Seq[java.lang.Double]] =
      (1 to 40).map(_ => Seq.fill(rnd.nextInt(10))(
        java.lang.Double.valueOf(rnd.nextGaussian()))) ++
        Seq(Seq.empty, Seq(java.lang.Double.valueOf(Double.NaN)),
          Seq[java.lang.Double](1.0, null, 2.0),
          Seq[java.lang.Double](3.0, Double.NaN, -0.0, 0.0, 3.0), null)
    val df = lists.zipWithIndex.map { case (l, i) => (i, l) }.toDF("id", "l")
      // shuffled positions so the sort genuinely reorders
      .select(col("id"), transform(col("l"),
        (x, i) => struct((lit(97) - i).as("pos"), x.as("lp"))).as("arr"))
    assertSameRows(
      df.select(col("id"), HashOps.sortedFieldSum(col("arr"), "lp")),
      df.select(col("id"),
        HashOps.fieldSum(array_sort(col("arr")), "lp")),
      "sortedFieldSum vs array_sort (perplexity form)")
    assertSameRows(
      df.select(col("id"), HashOps.sortedFieldSum(col("arr"), "lp")),
      df.select(col("id"), aggregate(sort_array(col("arr")), lit(0.0),
        (acc, x) => acc + x("lp"))),
      "sortedFieldSum vs sort_array fold (bm25 form)")
  }

  test("DistinctSizeExpr == size(array_distinct(ws))") {
    val wordArrs: Seq[Seq[String]] = {
      val rnd = new scala.util.Random(31)
      val vocab = Vector("a", "b", "sät", "日本語", "", "x y", "-")
      (1 to 40).map(_ => Seq.fill(rnd.nextInt(12))(
        vocab(rnd.nextInt(vocab.size)))) ++
        Seq(Seq.empty, Seq("only"), Seq("a", null, "a", null), null)
    }
    val df = wordArrs.zipWithIndex.map { case (w, i) => (i, w) }
      .toDF("id", "ws")
    assertSameRows(
      df.select(col("id"), HashOps.distinctSize(col("ws"))),
      df.select(col("id"), size(array_distinct(col("ws")))),
      "distinctSize")
  }

  test("DistinctNgramSizeExpr == size(array_distinct(wordNgramsOf))") {
    val wordArrs: Seq[Seq[String]] = {
      val rnd = new scala.util.Random(47)
      val vocab = Vector("the", "cat", "cat cat", "日本", "", "b")
      (1 to 40).map(_ => Seq.fill(rnd.nextInt(10))(
        vocab(rnd.nextInt(vocab.size)))) ++
        Seq(Seq.empty, Seq("one"), Seq("a", "b"), // shorter than n edges
          Seq("x", null, "y", "x", null, "y"))
    }
    val df = wordArrs.zipWithIndex.map { case (w, i) => (i, w) }
      .toDF("id", "ws")
    for (n <- Seq(2, 3, 5)) {
      assertSameRows(
        df.select(col("id"), HashOps.distinctNgramSize(col("ws"), n)),
        df.select(col("id"), size(array_distinct(
          graft.operators.TextOps.wordNgramsOf(col("ws"), n)))),
        s"distinctNgramSize n=$n")
    }
  }

  test("DistinctNgramSizeExpr compares grams as bytes: invalid UTF-8 " +
      "words stay distinct") {
    // 0xFF and 0xFE both decode to U+FFFD, so grams built through
    // java Strings would collide: "FF a" == "FE a"
    val df = spark.range(1).select(array(unhex(lit("FF")).cast("string"),
      lit("a"), unhex(lit("FE")).cast("string"), lit("a")).as("ws"))
    val got = df.select(HashOps.distinctNgramSize(col("ws"), 2)).head.getInt(0)
    val want = df.select(size(array_distinct(
      graft.operators.TextOps.wordNgramsOf(col("ws"), 2)))).head.getInt(0)
    assert(want == 3)
    assert(got == want)
  }

  test("QuantizeInt8Expr == the aggregate-scale + transform chain, " +
      "incl. NaN / null-element / null-vector / empty / all-zero") {
    // verbatim pre-r20 Similarity.quantizeInt8: the transform's
    // col("qscale") resolves to the float-cast lateral alias of the
    // same select, so the chain divides by the float scale (as
    // QuantizeInt8Expr does; see the VecOps scaladoc)
    val v = transform(col("v"), x => x.cast("double"))
    val scale = aggregate(v, lit(0.0),
      (acc, x) => greatest(acc, abs(x))) / 127.0
    val oldQ = vecDf
      .select(col("vec_id"), v.as("__v"), scale.as("qscale"))
      .select(col("vec_id"), col("qscale").cast("float").as("qscale"),
        transform(col("__v"), x =>
          when(col("qscale") === 0.0, lit(0))
            .otherwise(greatest(lit(-127), least(lit(127),
              floor(x / col("qscale") + 0.5).cast("int"))))
            .cast("tinyint")).as("qvec"))
    val newQ = vecDf.select(col("vec_id"),
        VecOps.quantizeInt8(col("v")).as("__q"))
      .select(col("vec_id"), col("__q.qscale").as("qscale"),
        col("__q.qvec").as("qvec"))
    assertSameRows(newQ, oldQ, "quantizeInt8")
  }
}
