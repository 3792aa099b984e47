package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale document deduplication operators.
  *
  * All stages are shuffle-planned for 100 TB: exact dedup is one
  * hash-partitioned groupBy; MinHash-LSH explodes b band rows per doc
  * and shuffles by (band, bandHash) — candidate generation never
  * compares all pairs; the word-level Jaccard join collapses duplicate
  * token sets then prefix-filters the inverted index (AllPairs/PPJoin)
  * so hot tokens cannot quadratically explode the join.
  */
object Dedup {

  /** Exact dedup: group identical texts by md5, keep the smallest id. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Keep policy over near-dup clusters: one canonical document per
    * component — the highest-scoring member, lowest id on ties (the
    * standard "keep best quality" retention step after
    * [[connectedComponents]]; a training-data pipeline drops every
    * other member). One hash-partitioned groupBy over (id, component,
    * score) rows — no per-cluster buffering, scale-safe under a giant
    * cluster. Returns (component, keep_id, n_docs).
    */
  def keepBest(components: DataFrame, scores: DataFrame,
      idCol: String = "doc_id", componentCol: String = "component",
      scoreCol: String = "score"): DataFrame =
    components.join(scores, idCol)
      .groupBy(col(componentCol))
      .agg(
        max_by(col(idCol), struct(col(scoreCol), -col(idCol))).as("keep_id"),
        count(lit(1)).as("n_docs"))

  /** C4-style span-level deduplication: any `spanTokens`-token span
    * (non-overlapping, in token order) whose exact text occurs anywhere
    * else in the corpus is removed, keeping the single globally-first
    * occurrence (C4 does this with three-sentence spans; token windows
    * are the tokenizer-only analog). Returns one row per input
    * document: (doc_id, n_spans, n_kept, text_dedup).
    *
    * Scale shape: ONE shuffle on the span hash (md5 keeps the grouped
    * rows narrow — the span text itself never shuffles twice), partial
    * aggregation collapses in-partition duplicates, then one shuffle
    * back to doc_id to reassemble surviving spans in order. The
    * first-occurrence rule is a single min over a (doc_id, span_idx)
    * struct — no window, no driver state, and (unlike an arithmetic
    * doc_id·1e6+span_idx encoding) it neither overflows for large ids
    * nor nulls out (dropping every occurrence) on a non-numeric id
    * column: struct min orders lexicographically on any orderable id
    * type. */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int): DataFrame = {
    // explode the START OFFSETS first (cheap ints), then build each
    // span string from the once-materialized token array — building a
    // chunk-struct array inside a transform lambda re-runs split() per
    // element (no CSE inside lambdas), which measured ~4x slower here
    val in = Materialize.once(docs) // read for the spans and the counts
    val spans = in.select(col(idCol).as("doc_id"),
        TextOps.words(col(textCol)).as("ws"),
        length(trim(col(textCol))).as("tl"))
      .where(col("tl") > 0)
      .select(col("doc_id"), col("ws"), size(col("ws")).as("n"),
        explode(sequence(lit(0), greatest(size(col("ws")) - 1, lit(0)),
          lit(spanTokens))).as("st"))
      .where(col("st") < col("n"))
      .select(col("doc_id"),
        (col("st") / spanTokens).cast("int").as("span_idx"),
        array_join(slice(col("ws"), col("st") + 1, lit(spanTokens)), " ")
          .as("span"))
      .withColumn("h", md5(col("span")))
      .withColumn("ord", struct(col("doc_id"), col("span_idx")))
    val winners = spans.groupBy("h")
      .agg(min("ord").as("keep_ord"), count(lit(1)).as("occ"))
    val kept = spans.join(winners, "h")
      .where(col("occ") === 1 || col("ord") === col("keep_ord"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(array_sort(collect_list(
          struct(col("span_idx"), col("span")))), x => x("span")))
          .as("text_dedup"))
    // span count is closed-form from the token count — no reason to
    // build the chunk strings a second time just to size() them
    in.select(col(idCol).as("doc_id"),
        when(length(trim(col(textCol))) > 0,
          floor((size(TextOps.words(col(textCol))) - 1) / spanTokens) + 1)
          .otherwise(0L).cast("long").as("n_spans"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** Banded MinHash buckets with a PORTABLE hash (md5-derived, exactly
    * replayable by any engine — unlike xxhash64, DuckDB can recompute
    * it): one row per (doc, band) with the band's bucket key. Documents
    * with no tokens produce no buckets (no content → no near-dup).
    * Shared by the batch [[lshFirstSeen]] and the streaming
    * [[graft.streaming.StreamingDedup.lshFirstSeen]] — the expressions
    * run unchanged on a streaming DataFrame. */
  def lshBuckets(docs: DataFrame, idCol: String, textCol: String,
      bands: Int, rowsPerBand: Int, shingleN: Int = 3): DataFrame = {
    val k = bands * rowsPerBand
    // shingle over word n-grams (TextOps.wordNgramsOf convention: a
    // doc shorter than n yields its whole word sequence as one gram) —
    // distinct unigram sets are too coarse on small shared
    // vocabularies to discriminate near-dups
    // no array_distinct: the min of a multiset IS the min of its set,
    // and distinct over n-gram strings is O(n²) string compares per doc
    val toks = filter(TextOps.wordNgramsOf(
      filter(TextOps.words(col(textCol)), w => w =!= ""), shingleN),
      g => g =!= "") // an empty doc's whole-sequence gram is "" — drop it
    // double-hashing MinHash family: ONE md5 per shingle split into two
    // 32-bit halves, permutation i = (h0 + i*h1) mod prime (k md5
    // calls per shingle measured 2x slower)
    val P = 4294967291L // largest prime below 2^32
    // Batch path (r19): the ENTIRE per-doc pipeline — n-gram strings,
    // md5 double-hash, k per-permutation minima, per-band md5 bucket
    // keys — is ONE imperative expression riding the scan projection
    // (functions.Md5MinHashBucketsExpr; bit-equality vs the exploded
    // pipeline pinned by HashVecOpsSpec). This removes the gram
    // explode, the k-min-column groupBy SHUFFLE, and the interpreted
    // n-gram string building the r18 shape paid (the explode + hash
    // aggregate beat the interpreted expression-side fold by ~3x; the
    // imperative one-pass beats the explode since nothing shuffles).
    // Streaming path: a groupBy here would be a streaming aggregation
    // — illegal before the downstream flatMapGroupsWithState in append
    // mode — and the stateless Column fold also pins the md5/conv
    // arithmetic the imperative batch form must replay (batch ==
    // streaming bucket rows is asserted in StreamingDedupSpec).
    if (!docs.isStreaming) {
      return docs.select(col(idCol).as("doc_id"),
          posexplode(graft.functions.HashOps.md5MinhashBuckets(
            col(textCol), bands, rowsPerBand, shingleN)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
    }
    val sig: DataFrame = {
        // (h0, h1) pack into one long — struct field names do not
        // survive inside higher-order lambdas (col1/col2)
        val hs = transform(transform(col("__toks"), w => md5(w)), m =>
          shiftleft(conv(substring(m, 1, 8), 16, 10).cast("long"), 32) +
            conv(substring(m, 9, 8), 16, 10).cast("long"))
        val sigCol = aggregate(hs,
          array_repeat(lit(Long.MaxValue), k),
          (acc, x) => {
            val h0 = shiftrightunsigned(x, 32)
            val h1 = x.bitwiseAND(lit(0xffffffffL))
            zip_with(acc, sequence(lit(0L), lit(k - 1L)),
              (a, i) => least(a, pmod(h0 + i * h1, lit(P))))
          })
        docs.select(col(idCol).as("doc_id"), toks.as("__toks"))
          .where(size(col("__toks")) > 0)
          .select(col("doc_id"), sigCol.as("__sig"))
      }
    // band fan-out through a Generate with __sig as a pass-through
    // column: band hashes inside a transform lambda re-evaluated the
    // signature per band (no CSE inside lambdas — measured 4x)
    sig.select(col("doc_id"), col("__sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("doc_id"), col("band"),
        md5(concat_ws(",", transform(
          slice(col("__sig"), col("band") * rowsPerBand + 1,
            lit(rowsPerBand)),
          x => x.cast("string")))).as("bh"))
  }

  /** Incremental (first-seen) LSH near-dup verdicts: a document is a
    * near-duplicate iff any of its MinHash band buckets was already
    * claimed by an earlier document (min doc_id); `matched_id` is the
    * earliest such claimant. This is the dedup-against-prior-corpus
    * decision a continually-ingested pipeline makes per document —
    * [[minhashLshPairs]] materializes the full pair set instead.
    * Returns (doc_id, is_dup, matched_id).
    *
    * Scale: one groupBy on (band, bh) for the bucket minima, one
    * narrow join back, one per-doc min — no pair blowup: work is
    * O(docs × bands) regardless of how dense the duplicate clusters
    * are (the pathological case where pair enumeration goes O(n²)). */
  def lshFirstSeen(docs: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, rowsPerBand: Int = 3,
      shingleN: Int = 3, maxBucketSize: Int = 0): DataFrame = {
    val (result, buckets) =
      lshFirstSeenPlan(docs, idCol, textCol, bands, rowsPerBand, shingleN,
        maxBucketSize)
    Materialize.andFree(result, buckets)
  }

  /** [[lshFirstSeen]] WITHOUT the materialization barrier — the public
    * operator's [[Materialize.andFree]] checkpoint truncates the lineage
    * to `Scan ExistingRDD`, which hides the banded groupBy/join shape
    * from the plan gate (Plans/PlanQualitySpec read this form instead).
    * Returns (result, buckets cache); callers other than the plan gate
    * must hand both to [[Materialize.andFree]] or the signature cache
    * leaks. */
  private[graft] def lshFirstSeenPlan(docs: DataFrame, idCol: String,
      textCol: String, bands: Int = 4, rowsPerBand: Int = 3,
      shingleN: Int = 3, maxBucketSize: Int = 0): (DataFrame, DataFrame) = {
    // the bucket stream feeds BOTH the per-bucket minima and the join
    // back — cache it so the shingle/signature work runs once; the
    // result joins back to the docs, their second read
    val in = Materialize.once(docs)
    val buckets0 = lshBuckets(in, idCol, textCol, bands, rowsPerBand,
      shingleN).cache()
    // Hot-bucket cap, mirroring [[minhashLshPairs]]'s production
    // hygiene: a band bucket holding more than `maxBucketSize` docs is
    // usually a boilerplate-pattern cluster; skipping it bounds the
    // join-back fan-in. Unlike the pairs operator this stage is only
    // O(bucket size) per bucket, so the cap is a recall trade, not a
    // complexity one — the quality gate runs uncapped and the capped
    // form is the at-scale configuration (benched as
    // q_dedup_lshseen_capped). The count window's exchange is the same
    // (band, bh) hash partitioning the groupBy below needs.
    val buckets =
      if (maxBucketSize <= 0) buckets0
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bh"))
        buckets0.withColumn("__bsz", count(lit(1)).over(w))
          .filter(col("__bsz") <= maxBucketSize).drop("__bsz")
      }
    val firsts = buckets.groupBy("band", "bh")
      .agg(min("doc_id").as("first_id"))
    val matched = buckets.join(firsts, Seq("band", "bh"))
      .where(col("first_id") < col("doc_id"))
      .groupBy("doc_id").agg(min("first_id").as("matched_id"))
    // buckets0, NOT the capped derivative: unpersist matches cache
    // entries by plan equality, so handing back the filter-derived
    // frame would no-op and leak the shingle/signature cache on every
    // capped call.
    (in.select(col(idCol).as("doc_id"))
      .join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"), col("matched_id").isNotNull.as("is_dup"),
        col("matched_id")), buckets0)
  }

  /** Distinct word tokens of a text column. */
  def tokens(textCol: Column): Column =
    array_distinct(split(trim(textCol), "\\s+"))

  /** Word-level Jaccard near-dup pairs, scalable formulation:
    *
    *  1. collapse documents to DISTINCT token sets (near-dup corpora
    *     carry many exact token-set duplicates — they pay once);
    *  2. PREFIX-FILTERED candidate generation (AllPairs/PPJoin): two
    *     sets with J >= t must share a token among each set's
    *     `|s| - ceil(t*|s|) + 1` RAREST tokens, so the inverted index
    *     is built over prefixes only — hot tokens (df ~ n) never
    *     explode the join the way a naive token self-join does
    *     (448M intermediate rows -> prefix-bounded at sf0.1);
    *  3. verify candidates exactly with one array_intersect per
    *     distinct-set pair; expand back to doc pairs last, so the
    *     quadratic doc fan-out only materializes true results.
    *
    * Returns (id1, id2, jaccard) with jaccard >= threshold, id1 < id2.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val (verified, selfPairs, docsBySet, sets) =
      jaccardSetGraph(docs, idCol, textCol, threshold)
    // expand set pairs back to doc pairs (id1 < id2)
    val pairs = verified.unionByName(selfPairs)
      .join(docsBySet.select(col("set_id").as("s1"), col("doc_id").as("d1")), "s1")
      .join(docsBySet.select(col("set_id").as("s2"), col("doc_id").as("d2")), "s2")
      .filter(col("s1") =!= col("s2") || col("d1") < col("d2"))
      .select(least(col("d1"), col("d2")).as("id1"),
        greatest(col("d1"), col("d2")).as("id2"), col("jaccard"))
    Materialize.andFree(pairs, sets)
  }

  /** Near-dup cluster assignment, computed WITHOUT materializing doc
    * pairs: connected components over the DISTINCT-TOKEN-SET graph.
    * Identical-text documents share one set node, so a k-copy
    * boilerplate clique contributes ZERO edges here instead of the
    * k(k−1)/2 doc pairs `connectedComponents(jaccardPairs(...))`
    * feeds on — the measured difference at the 10× sf1 fixture is 71M
    * doc-pair edges (heap-OOM in an 8 GiB single JVM) vs the set
    * graph's edge count, which is bounded by DISTINCT texts. On a
    * dup-dense 100 TB crawl this is the only shape that survives:
    * pair volume grows quadratically in clique size, set-graph volume
    * linearly. Output equals the pair formulation exactly: two docs
    * connect iff their sets connect (or coincide), and the component
    * label is the smallest member doc id — (doc_id, component), one
    * row per input document (singletons label themselves).
    */
  def jaccardComponents(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    val (verified, _, docsBySet, sets) =
      jaccardSetGraph(docs, idCol, textCol, threshold)
    val setComp = connectedComponents(
      verified.select(col("s1"), col("s2")), "s1", "s2")
    // a set with no near-dup edge labels itself; identical-text docs
    // still collapse because they share the set node
    val labeled = docsBySet
      .join(setComp.withColumnRenamed("id", "set_id"), Seq("set_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("set_id")).as("__lbl"))
    val minDoc = labeled.groupBy(col("__lbl"))
      .agg(min(col("doc_id")).as("component"))
    val out = labeled.join(minDoc, "__lbl")
      .select(col("doc_id"), col("component"))
    Materialize.andFree(out, sets)
  }

  /** Shared machinery of [[jaccardPairs]] / [[jaccardComponents]]:
    * distinct token sets, PPJoin prefix candidates, exact
    * verification. Returns (verified set pairs (s1,s2,jaccard),
    * identical-set self pairs, doc↔set membership, the persisted sets
    * handle — callers free it via [[Materialize.andFree]]). */
  private def jaccardSetGraph(docs: DataFrame, idCol: String,
      textCol: String, threshold: Double)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // read twice: into the persisted sets and the doc↔set membership
    val docSets = Materialize.once(docs).select(col(idCol).as("doc_id"),
      array_sort(tokens(col(textCol))).as("toks"))
    // distinct token sets, keyed by set hash; persisted — referenced by
    // the prefix index, the verify join (twice), and the expansion
    val sets = docSets.select(xxhash64(col("toks")).as("set_id"), col("toks"))
      .dropDuplicates("set_id")
      .withColumn("sz", size(col("toks")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val docsBySet = docSets.select(xxhash64(col("toks")).as("set_id"),
      col("doc_id"))

    // global token rarity over distinct sets → rarest-first ordering
    val df_ = sets.select(col("set_id"), explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    val prefixLen = (col("sz") - ceil(col("sz") * threshold) + 1).cast("int")
    val prefixes = sets.select(col("set_id"), col("sz"),
        explode(col("toks")).as("w"))
      .join(df_, "w")
      .groupBy(col("set_id"), col("sz"))
      .agg(array_sort(collect_list(struct(col("df"), col("w")))).as("o"))
      .select(col("set_id"),
        explode(slice(transform(col("o"), x => x("w")), lit(1), prefixLen)).as("w"))

    // candidates: sets sharing a prefix token
    val cand = prefixes.as("a").join(prefixes.as("b"),
        col("a.w") === col("b.w") && col("a.set_id") < col("b.set_id"))
      .select(col("a.set_id").as("s1"), col("b.set_id").as("s2"))
      .dropDuplicates("s1", "s2")

    // exact verification per distinct-set pair. The threshold filter
    // must NOT push past the project into the toks-attach join
    // condition (that knocks the stage out of whole-stage codegen —
    // same measured pattern as the MinHash sig-attach: ~25x slower
    // interpreted). The pushdown fence is an always-true
    // non-deterministic conjunct: Catalyst never moves a filter with a
    // non-deterministic term, the whole pipeline stays streaming and
    // codegen'd, and — unlike the eager localCheckpoint barrier this
    // replaces — nothing materializes. The checkpoint pinned EVERY
    // pre-threshold candidate pair on the heap (MEMORY_AND_DISK blocks
    // unroll in memory first, 32 tasks at once), which at the 10× sf1
    // fixture (dup-dense corpus, ~tiny vocabulary → 10⁸-scale
    // candidates) took down an 8 GiB JVM before the filter ever ran.
    val verified = cand
      .join(sets.select(col("set_id").as("s1"), col("toks").as("t1"),
        col("sz").as("z1")), "s1")
      .join(sets.select(col("set_id").as("s2"), col("toks").as("t2"),
        col("sz").as("z2")), "s2")
      .withColumn("inter", size(array_intersect(col("t1"), col("t2"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("z1") + col("z2") - col("inter")))
      .select(col("s1"), col("s2"), col("jaccard"))
      .filter(col("jaccard") >= threshold && rand(42) > lit(-1.0))
    // identical token sets: J = 1.0 by definition
    val selfPairs = sets.select(col("set_id").as("s1"),
      col("set_id").as("s2"), lit(1.0).as("jaccard"))

    (verified, selfPairs, docsBySet, sets)
  }

  /** Connected components over an undirected near-dup pair list —
    * the step that turns pairwise dedup output into per-document
    * cluster assignments (keep one representative per component).
    *
    * Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14):
    * converges in O(log n) rounds even on pathological chain graphs,
    * where plain min-label propagation needs O(diameter). Each round
    * is two hash-shuffles (groupBy min + equi-join) — no arrays, no
    * per-node neighbor lists, no driver-side graph state — so a hot
    * node with millions of neighbors costs a skewed-but-bounded
    * aggregation rather than one giant collect_set row.
    *
    * Returns (id, component) for every node in `pairs`, where
    * `component` is the smallest node id reachable from `id`.
    */
  def connectedComponents(pairs: DataFrame, aCol: String,
      bCol: String, maxRounds: Int = 50): DataFrame = {
    var edges = Materialize.andFree(pairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      .distinct())

    // large-star: every neighbor v > u links to m(u) = min(N(u) ∪ u);
    // small-star: every neighbor v < u (and u itself) links to m(u).
    def largeStar(e: DataFrame): DataFrame = {
      val und = e.unionByName(
        e.select(col("b").as("a"), col("a").as("b")))
      val m = und.groupBy("a").agg(min(col("b")).as("mb"))
        .select(col("a"), least(col("a"), col("mb")).as("m"))
      und.filter(col("b") > col("a"))
        .join(m, "a")
        .select(col("b").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // edges kept oriented a > b, so min(b) < a always
      val m = e.groupBy("a").agg(min(col("b")).as("m"))
      e.join(m, "a")
        .select(col("b").as("v"), col("m"))
        .unionByName(m.select(col("a").as("v"), col("m")))
        .filter(col("v") =!= col("m"))
        .select(greatest(col("v"), col("m")).as("a"),
          least(col("v"), col("m")).as("b"))
        .distinct()
    }

    var stable = false
    var round = 0
    var sig = edgeSig(edges)
    while (!stable && round < maxRounds) {
      // eager checkpoint materializes `next` BEFORE the previous
      // round's blocks are released — local-checkpoint blocks are
      // pinned (not evictable), so skipping the release accumulates
      // every round's edge set on the heap (see Materialize.free)
      val next = Materialize.andFree(smallStar(largeStar(edges)))
      val nextSig = edgeSig(next)
      stable = nextSig == sig
      sig = nextSig
      Materialize.free(edges)
      edges = next
      round += 1
    }
    // stars: every remaining edge points a node at its component root
    edges.select(col("a").as("id"), col("b").as("component"))
      .unionByName(
        edges.select(col("b").as("id"), col("b").as("component")))
      .groupBy("id").agg(min(col("component")).as("component"))
  }

  /** Order-insensitive fingerprint of an edge set (convergence test —
    * one count+sum action per contraction round). */
  private def edgeSig(e: DataFrame): (Long, Long) = {
    val r = e.agg(
      coalesce(sum(hash(col("a"), col("b")).cast("long")), lit(0L)),
      count(lit(1))).head
    (r.getLong(0), r.getLong(1))
  }

  /** MinHash signature over 64-bit shingle hashes: each shingle string
    * is hashed ONCE; the k "permutations" re-mix that long with
    * xxhash64(seed_i, h) — a two-long hash per shingle per permutation
    * instead of k string hashes, and overflow-safe under ANSI mode.
    * r19: ONE imperative walk computes all k minima
    * (functions.MinHashSigExpr — the Column form paid k interpreted
    * transform+array_min passes with k array allocations per doc;
    * bit-equality pinned by HashVecOpsSpec). */
  def minhashSignature(shingleHashes: Column, k: Int): Column =
    graft.functions.HashOps.minhashSig(shingleHashes, k)

  /** 64-bit hashes of distinct word n-gram shingles. Each word is
    * xxhash64'd once; n-grams hash the word-hash slice (an array of
    * longs — never re-slicing string arrays, which is O(words²) string
    * copies under interpreted higher-order-function eval). r19: one
    * imperative pass (functions.ShingleHashesExpr) — split, per-word
    * xxhash64, windowed long-slice hashing and the distinct filter run
    * in a single JIT'd loop instead of four interpreted
    * higher-order-function walks (HashVecOpsSpec pins bit-equality,
    * including the whole-sequence short-doc gram and null/empty
    * texts). */
  def shingleHashes(textCol: Column, n: Int): Column =
    graft.functions.HashOps.shingleHashes(textCol, n)

  /** MinHash-LSH candidate pairs: band the signature (bands × rowsPerBand
    * = k), bucket-join docs sharing any band hash, then estimate
    * similarity as matching-minhash fraction. Returns
    * (id1, id2, est_jaccard >= threshold).
    *
    * `maxBucketSize` caps the O(bucket²) pair enumeration: a band
    * bucket over the cap (a boilerplate-pattern cluster) is skipped
    * entirely — a deliberate recall trade. Measured under a real mega
    * bucket (with
    * src/main/scala/graft/tools/SkewCapProbe.scala at commit fbc33c6:
    * 10% of the sf0.1 corpus rewritten to one template, best-of-3):
    * uncapped 10.15 s,
    * cap=16 0.57 s, cap=64 0.61 s, cap=256 1.11 s — 64 is the
    * recommended production cap (16.8× over uncapped, with more
    * small-cluster recall headroom than 16; 256 already doubles the
    * cost as the surviving buckets' pair counts grow quadratically).
    * 0 (the default) disables the cap — the exact-audit configuration
    * the correctness gate runs.
    *
    * Bench-ratio note (r17, closing the r14→r16 1.10→1.25 drift watch):
    * the operator definition was unchanged across those rounds, the sf1
    * driver ratio read 0.998, and an ISOLATED fresh-JVM best-of-5 at
    * sf0.1 measured ours 12.98 s vs the hand-written twin 14.00 s =
    * **0.93**, with a 12.98–44.67 s spread across passes of identical
    * work. The drift was bench-context memory pressure: accumulated
    * InMemoryRelations from earlier bench queries LRU-evict part of
    * this operator's sig cache mid-run, re-inlining the k-minhash
    * projection into both join sides (the >10× recompute documented
    * below) — a measurement artifact, not a plan property. The bench
    * now clears the cache per query and samples multi-second pairs
    * best-of-3 (graft.Bench).
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, bands: Int, rowsPerBand: Int,
      threshold: Double, maxBucketSize: Int = 0): DataFrame = {
    val k = bands * rowsPerBand
    // Persist the signature table: without a materialization barrier
    // Catalyst inlines the k-minhash expression into every band-hash
    // reference and both self-join sides — a >10× recompute blowup
    // (measured 90s → 8s at sf0.1). The cached table is n_docs × ~(8+8k)
    // bytes — negligible next to the corpus at any scale.
    val sig = docs.select(col(idCol).as("doc_id"),
      minhashSignature(shingleHashes(col(textCol), shingleN), k).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one row per (doc, band): band hash = xxhash64 of the band's
    // signature slice (a long array; the join key includes the band
    // index, so the hash needs no band seed). Rows are a fixed 20
    // bytes — the full signature never enters the band shuffle.
    // r19: the per-band slice hashes come from one imperative pass
    // (functions.MinHashBandsExpr) instead of an interpreted transform
    // re-walking the signature per band (HashVecOpsSpec pins equality)
    def banded0 = sig.select(col("doc_id"),
        posexplode(graft.functions.HashOps.minhashBands(col("sig"),
          bands, rowsPerBand)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
    // Hot-bucket cap (production-LSH hygiene): skip band buckets
    // holding more than `maxBucketSize` docs. A bucket of B docs emits
    // B²/2 candidates — one boilerplate-heavy shingle cluster at 100 TB
    // turns into a full O(n²) stage; the cap bounds every bucket's
    // contribution at maxBucketSize²/2 while pairs that also agree in
    // any NON-hot band still surface. Pairs whose EVERY matching band
    // is hot are dropped — on a corpus where the giant buckets ARE the
    // true near-dup clusters (this synthetic one: >50% of all pairs
    // exceed J=0.6), that is a direct recall trade, so the quality
    // gate (SparkEntry q_dedup_minhash) runs uncapped; measured
    // recall under caps in DedupSimilaritySpec. The size count is one
    // (band, bh) window whose exchange is the same hash partitioning
    // the self-join below needs — no extra shuffle of the banded rows.
    // Candidate pairs stay NARROW (two ids) through the join — the
    // 2×k-long signatures re-attach afterwards via joins against the
    // small per-doc sig table. On near-dup-dense corpora the candidate
    // set approaches O(n²) rows — shuffling signatures per pair instead
    // of per doc was a >100× data-volume difference (and attaching them
    // to the raw self-join output measured 5× slower end-to-end).
    //
    // Pair DISTINCTNESS (r20, guide §2.4 "remove shuffles outright"):
    // in the uncapped shape each banded row carries its doc's full
    // band-hash array (bands × 8 bytes, so the banded exchange of
    // n·bands rows is O(n·bands²); r20 measured only the bench's
    // bands = 8, so re-measure if `bands` is raised well past that)
    // and the join condition conjoins
    // `first_band_match(a.__bv, b.__bv, band)` — TRUE iff no EARLIER
    // band already matched the pair. Evaluated as the equi-join's
    // pushed residual (one JIT'd walk of < bands longs per probed
    // candidate), it emits every pair exactly once, from its smallest
    // matching band — so the groupBy(id1,id2) pair-distinct and its
    // O(candidates) exchange (31.1M raw → 9.17M distinct rows, ~11 s
    // of the 15 s sf0.1 wall; the aggregate hashed 31M probes and
    // exchanged ~3.4× the distinct volume because cross-BAND
    // duplicates land in different partitions, out of partial-agg's
    // reach) disappear outright. An earlier first-match formulation
    // (pre-r17) measured 8-16× slower past 4 bands — but it compared
    // both sides' full band arrays through an interpreted O(bands²)
    // Column chain; the imperative residual is O(band) with no
    // allocation, and r20 measured the win at sf0.1 (see
    // OPTIMIZATION_r20.md). The CAPPED path keeps the r18
    // groupBy-distinct shape: the cap drops individual band buckets,
    // and "first band where the pair matches" is not knowable from
    // the band arrays alone once earlier-band buckets may have been
    // capped away (a first-match emission there would drop pairs the
    // capped semantics keep).
    val cand =
      if (maxBucketSize <= 0) {
        val withBv = sig
          .select(col("doc_id"),
            graft.functions.HashOps.minhashBands(col("sig"),
              bands, rowsPerBand).as("__bv"))
          .select(col("doc_id"), col("__bv"), posexplode(col("__bv")))
          .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
        withBv.as("a").join(withBv.as("b"),
            col("a.bh") === col("b.bh") && col("a.band") === col("b.band") &&
              col("a.doc_id") < col("b.doc_id") &&
              graft.functions.HashOps.firstBandMatch(
                col("a.__bv"), col("b.__bv"), col("a.band")))
          .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      } else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bh"))
        val banded = banded0.withColumn("__bsz", count(lit(1)).over(w))
          .filter(col("__bsz") <= maxBucketSize).drop("__bsz")
        banded.as("a").join(banded.as("b"),
            col("a.bh") === col("b.bh") && col("a.band") === col("b.band") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
          .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("__nb"))
          .select(col("id1"), col("id2"))
      }
    // Scoring expression shape matters more than codegen membership
    // here: Catalyst splits filter conjuncts and pushes the
    // deterministic threshold predicate INTO the sig-attach join as a
    // residual condition (no guard can stop the split — only the
    // nondeterministic conjunct stays out). With a k-term
    // element_at-compare chain that residual evaluates interpreted per
    // PROBED pair and dominates (28-31 s end-to-end at sf0.1, k=24);
    // as a compact zip_with count the same interpreted eval is cheap
    // AND the push is a win — pairs below threshold are dropped inside
    // the join before the output projection ever materializes them
    // (measured 12.7 s vs 21 s for the previous
    // chain-compare + eager-localCheckpoint-barrier formulation).
    // r19: imperative agreement count (functions.MatchCountExpr) — the
    // zip_with/filter chain evaluated interpreted per PROBED pair as a
    // pushed join residual; the one-loop form keeps the push a win at
    // a fraction of the per-pair cost (HashVecOpsSpec pins equality,
    // including the all-null-signature pairs of null-text docs)
    val matches = graft.functions.HashOps.matchCount(
      col("sig1"), col("sig2"))
    // Materialize the sig cache and hint broadcast when it fits: the
    // static planner sees no size for a cached derived table and picks
    // sort-merge, which shuffles+sorts the (candidate-pair × 2) rows —
    // measured 33.7 s vs 14.6 s end-to-end at sf0.1. The count is one
    // cheap job (and pre-warms the cache for both attach sides); past
    // the 64 MB build-side budget the hint drops away and the joins
    // degrade to shuffle joins, which is the correct shape at that size.
    // The sig cache stays registered (no unpersist: the consumer runs
    // after this function returns, and an async unpersist here would
    // drop the blocks first, re-inlining the k-minhash expression into
    // both join sides); it is ~(8+8k)·n_docs bytes, LRU-evicted.
    val sigBytes = sig.count() * (8 + 8 * k)
    def attach(as1: String, as2: String) = {
      val s = sig.select(col("doc_id").as(as1), col("sig").as(as2))
      if (sigBytes < (64L << 20)) broadcast(s) else s
    }
    cand
      .join(attach("id1", "sig1"), "id1")
      .join(attach("id2", "sig2"), "id2")
      .select(col("id1"), col("id2"),
        (matches.cast("double") / k).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Benchmark decontamination — the train/test-overlap removal step
    * of an LLM data pipeline: flag every training document sharing ANY
    * word n-gram with the probe (benchmark) set. Grams compare as
    * xxhash64 shingles ([[shingleHashes]] — membership-equivalent to
    * string n-grams, collision odds ~(|grams|²/2⁶⁵)); the probe gram
    * set broadcasts by default (benchmark suites are tiny next to a
    * 100 TB training corpus — drop the hint via `broadcastProbes` for
    * a probe set past executor memory and the equi-join shuffles).
    * Returns `train` plus a `contaminated` boolean. */
  def decontaminate(train: DataFrame, probes: DataFrame, idCol: String,
      textCol: String, n: Int = 3,
      broadcastProbes: Boolean = true): DataFrame = {
    val in = Materialize.once(train) // read for the hits and the join
    val pg0 = probes
      .select(explode(shingleHashes(col(textCol), n)).as("__g")).distinct()
    val probeGrams = if (broadcastProbes) broadcast(pg0) else pg0
    // narrow (id, gram) rows through the join; partial-agg distinct
    // collapses duplicate hits map-side before the id shuffle
    val hits = in.select(col(idCol).as("__cid"),
        explode(shingleHashes(col(textCol), n)).as("__g"))
      .join(probeGrams, "__g")
      .select(col("__cid")).distinct()
    in.join(hits, in(idCol) === hits("__cid"), "left")
      .withColumn("contaminated", col("__cid").isNotNull)
      .drop("__cid")
  }

  /** [[decontaminate]] with a Bloom-filter prefilter — the production
    * formulation for a probe gram set too large to broadcast as an
    * exact hash relation. Identical output (false positives die in an
    * exact verify of the survivors), different join economics:
    *
    *  1. the probe grams fold into ONE Bloom filter (`fpp` default 1%
    *     ≈ 1.2 MB per million grams vs ~30+ MB/million for an exact
    *     broadcast relation) via the distributed
    *     `DataFrameStatFunctions.bloomFilter` treeAggregate; only the
    *     filter ships to executors — nothing is broadcast-joined;
    *  2. the corpus side explodes gram rows and kills ~all of them
    *     with a codegen'd `BloomFilterMightContain` predicate BEFORE
    *     any join. (A document-level `exists()` prefilter that never
    *     explodes looks cheaper but is not: higher-order functions are
    *     CodegenFallback, and the interpreted per-row eval measured
    *     1.4× SLOWER than the exact path at sf0.1 — the explode +
    *     whole-stage-codegen filter shape wins, the same
    *     explode-beats-fused lesson as the MinHash signatures);
    *  3. only BF survivors — true hits plus ~fpp stragglers — reach
    *     the exact gram equi-join, which the planner is left free to
    *     shuffle: BOTH sides are now small, so at 100 TB neither the
    *     corpus grams (pre-killed) nor the probe grams (never
    *     broadcast) strain executor memory, which is exactly the
    *     regime where [[decontaminate]]'s broadcast relation breaks.
    *
    * Returns `train` plus `contaminated`, bit-identical to
    * [[decontaminate]]. */
  def decontaminateBloom(train: DataFrame, probes: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      fpp: Double = 0.01): DataFrame =
    decontaminateWith(probeFilter(probes, textCol, n, fpp),
      train, idCol, textCol)

  /** The static half of the Bloom decontamination pipeline: the probe
    * gram set and its serialized Bloom filter. Built ONCE and reused
    * across corpora / micro-batches (the probe set — a benchmark
    * suite — does not change per batch). */
  case class ProbeFilter(bytes: Array[Byte],
      grams: DataFrame, n: Int)

  def probeFilter(probes: DataFrame, textCol: String, n: Int = 3,
      fpp: Double = 0.01): ProbeFilter = {
    // the probe gram set is small relative to the corpus (benchmark
    // suites vs a 100 TB corpus) — recomputing it for the sizing
    // count, the filter build, and the verify join beats holding a
    // cache the caller would have to free under a wide result
    val pg = probes
      .select(explode(shingleHashes(col(textCol), n)).as("__g")).distinct()
    // two driver actions on the (small) probe side: size, then build
    val bf = pg.stat.bloomFilter("__g", math.max(pg.count(), 1L), fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    ProbeFilter(bos.toByteArray, pg, n)
  }

  def decontaminateWith(pf: ProbeFilter, train: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.CatalystBridge
    val mightContain = CatalystBridge.column(
      BloomFilterMightContain(Literal(pf.bytes),
        CatalystBridge.expression(col("__g"))))
    val in = Materialize.once(train) // read for the hits and the join
    val hits = in.select(col(idCol).as("__cid"),
        explode(shingleHashes(col(textCol), pf.n)).as("__g"))
      .where(mightContain)
      .join(pf.grams, "__g")
      .select(col("__cid")).distinct()
    in.join(hits, in(idCol) === hits("__cid"), "left")
      .withColumn("contaminated", col("__cid").isNotNull)
      .drop("__cid")
  }

  /** 64-bit SimHash over word tokens: per-bit weighted vote of token
    * hashes; bit b set iff Σ_tokens sign(bit b of xxhash64(token)) > 0. */
  def simhash(textCol: Column): Column =
    simhashOfHashes(transform(split(trim(textCol), "\\s+"), w => xxhash64(w)))

  /** SimHash over an arbitrary long-hash array — e.g. word n-gram
    * shingle hashes ([[shingleHashes]]), which discriminate far better
    * than single words on template-heavy corpora (shared vocabulary
    * saturates word-level votes; measured sep 0.03 word-level vs n-gram
    * at sf0.01 — see
    * src/main/scala/graft/tools/QualityProbe.scala at commit fbc33c6). */
  def simhashOfHashes(hashCol: Column): Column =
    // r19: one imperative int[64] vote walk (functions.SimHash64Expr)
    // — the 64-lane zip_with fold rebuilt two interpreted arrays per
    // TOKEN (HashVecOpsSpec pins bit-equality)
    graft.functions.HashOps.simhash64(hashCol)

  /** Embedding cosine near-duplicate pairs above a threshold, bucketed
    * by BANDED sign-LSH (tables × planes independent plane families,
    * same recall structure as MinHash banding) to avoid the full cross
    * product at scale. Candidate pairs stay narrow (two ids) through the
    * dedup shuffle; vectors re-attach afterwards and every emitted pair
    * carries its EXACT cosine — precision is 1.0 by construction, recall
    * is 1-(1-p^planes)^tables for plane-agreement probability p and is
    * asserted against the exact pair set in DedupSimilaritySpec. */
  def embeddingNearDup(embs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 2, tables: Int = 8): DataFrame = {
    // persist: the bucket-key expressions (tables × planes × vector dot
    // products) would otherwise be recomputed inlined on both self-join
    // sides
    val vecs = embs.select(col(idCol).as("vec_id"),
        Similarity.toDoubleVec(col(vecCol)).as("e"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keyed = vecs.select(col("vec_id"),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("t"),
            Similarity.signLshKey(col("e"), planes, t).as("b"))): _*)).as("tb"))
      .select(col("vec_id"), col("tb")("t").as("t"), col("tb")("b").as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = keyed.as("a").join(keyed.as("b"),
        col("a.t") === col("b.t") && col("a.b") === col("b.b") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
      .dropDuplicates("id1", "id2")
    // narrow checkpoint barrier before the threshold filter — pushed
    // into the vec-attach join condition the interpreted cosine would
    // evaluate twice per pair and the stage loses whole-stage codegen
    val scored = cand
      .join(vecs.select(col("vec_id").as("id1"), col("e").as("e1")), "id1")
      .join(vecs.select(col("vec_id").as("id2"), col("e").as("e2")), "id2")
      .select(col("id1"), col("id2"),
        Similarity.cosine(col("e1"), col("e2")).as("cos"))
    Materialize.andFree(scored, vecs, keyed).filter(col("cos") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): k-means-cluster the embedding
    * space, enumerate near-dup pairs ONLY within a cluster
    * (cos >= `threshold`), connect them into semantic-dup groups, and
    * keep exactly one document per group — the member FARTHEST from
    * its cluster centroid (the paper's "low similarity to centroid"
    * keep rule; it preserves the cluster's outer, most-diverse
    * examples), ties to the smallest id.
    *
    * Returns one row per input doc: (doc_id, cluster, component,
    * keep) — `component` is the semantic-dup group label (smallest
    * member id), singletons keep themselves.
    *
    * Scale shape: pair enumeration is the IVF/LSH bucket pattern —
    * one shuffle of (cluster, id, vec) rows, per-cluster self-join, so
    * the cost is sum(cluster_size²) instead of n²; nlist scales it
    * (the paper runs 50k clusters over 5B embeddings). Assignment is
    * a codegen'd argmin against broadcast centroid literals (code, not
    * data — no shuffle), components use the same large/small-star
    * rounds as every other dedup family here, and the keep rule is one
    * max_by aggregate. A pathological mega-cluster has the same
    * O(bucket²) failure mode as an LSH hot bucket; `maxClusterSize`
    * is the same production cap the LSH families carry — a pair
    * ENUMERATION BUCKET over the cap skips pair enumeration entirely,
    * bounding every bucket's contribution at maxClusterSize²/2. With
    * nprobe=1 buckets ARE the clusters, so over-cap clusters keep all
    * members (recall trade pinned in SemanticDedupSpec); with
    * nprobe>1 the cap applies per PROBE bucket (a cluster's bucket
    * holds its members plus outside probes, so the cap trips at
    * correspondingly smaller cluster sizes, and a doc capped out of
    * one bucket can still pair through another probe — LSH
    * any-non-hot-band semantics, not a per-cluster guarantee).
    * 0 (default) disables the cap — the exact-audit configuration the
    * correctness gate runs.
    */
  def semanticDedup(docs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int, iters: Int = 3,
      centroidsIn: Option[Seq[Seq[Double]]] = None,
      maxClusterSize: Int = 0, nprobe: Int = 1): DataFrame = {
    val (out, assigned) = semanticDedupPlan(docs, idCol, vecCol,
      threshold, nlist, iters, centroidsIn, maxClusterSize, nprobe)
    Materialize.andFree(out, assigned)
  }

  /** [[semanticDedup]] before its materialization barrier — (result,
    * cached assignment handle). The connected-components rounds inside
    * are EAGER (iterative actions over checkpointed edge sets), so the
    * returned plan shows the labeling joins; the lazily-planned pair
    * enumeration the plan gate audits is [[semanticDedupEdges]]. */
  def semanticDedupPlan(docs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int, iters: Int = 3,
      centroidsIn: Option[Seq[Seq[Double]]] = None,
      maxClusterSize: Int = 0, nprobe: Int = 1): (DataFrame, DataFrame) = {
    val (edges, assigned) = semanticDedupEdges(docs, idCol, vecCol,
      threshold, nlist, iters, centroidsIn, maxClusterSize, nprobe)
    val comp = connectedComponents(edges, "d1", "d2")
      .withColumnRenamed("id", "doc_id")
    val labeled = assigned.join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), col("cluster"), col("cdist"),
        coalesce(col("component"), col("doc_id")).as("component"))
    // keep rule: max cdist wins, ties to the smallest doc id
    val keepers = labeled.groupBy(col("component"))
      .agg(max_by(col("doc_id"),
        struct(col("cdist"), (-col("doc_id")).as("nid"))).as("__keep_id"))
    val out = labeled.join(keepers, "component")
      .select(col("doc_id"), col("cluster"), col("component"),
        (col("doc_id") === col("__keep_id")).as("keep"))
    (out, assigned)
  }

  /** Pair-enumeration stage of [[semanticDedup]] as a LAZY plan —
    * (near-dup edges (d1, d2), cached assignment handle). This is the
    * scale-critical subplan (bucketed self-join, argmin assignment as
    * broadcast literals) the plan gate audits; [[semanticDedupPlan]]
    * feeds it to the eager components rounds. */
  def semanticDedupEdges(docs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int, iters: Int = 3,
      centroidsIn: Option[Seq[Seq[Double]]] = None,
      maxClusterSize: Int = 0, nprobe: Int = 1): (DataFrame, DataFrame) = {
    // the paper's production shape clusters ONCE and reuses the
    // centroids across corpus snapshots — accept them precomputed;
    // deriving them here reads the docs a second time
    val in = if (centroidsIn.isEmpty) Materialize.once(docs) else docs
    val centroids = centroidsIn.getOrElse(
      Similarity.kmeansCentroids(in, idCol, vecCol, nlist, iters))
    // one argmin pass yields the cluster id and keep-rule distance;
    // the probe list (nprobe > 1) is computed HERE, from the same RAW
    // vector and the same raw-space metric as the assignment — probing
    // with the normalized vector would rank centroids differently
    // whenever doc norms ≠ 1 and could drop pairs single-probe finds.
    // The vector is then stored NORMALIZED so pair scoring below is a
    // bare dot product (cos = dot of unit vectors) — norms once per
    // doc, not twice per candidate pair; the per-element norm
    // recompute inside the transform is bounded by the one-time cache
    // build (O(d²) per doc, ~4k flops at 64 dims). Persisted —
    // referenced by both self-join sides and the final labeling.
    // r19: normalization is one imperative pass with the norm computed
    // ONCE (functions.NormalizeExpr) — the transform lambda re-folded
    // the norm aggregate under every element (O(d²) per doc)
    val assigned = in.select(col(idCol).as("doc_id"),
        Similarity.toDoubleVec(col(vecCol)).as("v0"))
      .withColumn("__a", Similarity.nearestCentroidAssign(col("v0"), centroids))
      .select(col("doc_id"),
        graft.functions.VecOps.normalize(col("v0")).as("v"),
        col("__a")("cluster").as("cluster"),
        col("__a")("cdist").as("cdist"),
        (if (nprobe <= 1) array(col("__a")("cluster"))
         else Similarity.nearestCentroids(col("v0"), centroids, nprobe))
          .as("probes"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pair-enumeration buckets: the primary cluster, or (nprobe > 1)
    // each doc's nprobe nearest clusters — multi-probe recovers true
    // pairs the hard cluster boundary splits (SemDeDup's recall loss
    // mode; measured at sf0.01: coverage 0.889 nprobe=1 → see gate
    // comment for nprobe=2), at nprobe× bucket rows
    val probed = assigned.select(col("doc_id"), col("v"),
      explode(col("probes")).as("pc"))
    // mega-bucket cap: the size count is one bucket-partitioned window
    // whose exchange is the same hash partitioning the self-join below
    // needs — no extra shuffle (the LSH hot-bucket cap's shape,
    // Dedup.minhashLshPairs)
    val paired =
      if (maxClusterSize <= 0) probed
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("pc"))
        probed.withColumn("__csz", count(lit(1)).over(w))
          .filter(col("__csz") <= maxClusterSize).drop("__csz")
      }
    // within-bucket near-dup edges: unit vectors make cos a bare dot
    // (r19: the imperative DotExpr — one JIT'd loop per pair). Both
    // probe modes now score IN the bucket join; multi-probe dedups the
    // threshold SURVIVORS (see the r19 note at the multi-probe branch
    // below; the r18 dedup-then-attach shape — 43 s naive → 20 s
    // unit-vector dot → 10 s dedup-then-attach at sf0.1 — was the
    // right trade only while the duplicate dots were interpreted).
    val edges =
      if (nprobe <= 1)
        paired.select(col("pc"), col("doc_id").as("d1"), col("v").as("v1"))
          .join(paired.select(col("pc"), col("doc_id").as("d2"),
            col("v").as("v2")), Seq("pc"))
          .filter(col("d1") < col("d2"))
          .select(col("d1"), col("d2"),
            Similarity.dot(col("v1"), col("v2")).as("cos"))
          .filter(col("cos") >= threshold)
          .select(col("d1"), col("d2"))
      else {
        // r19: score IN the bucket join (the single-probe shape) and
        // dedup only the SURVIVORS. The r18 narrow-candidates +
        // dedup-then-attach shape existed because the interpreted dot
        // made scoring a pair 2-4x per shared probe bucket expensive;
        // with the imperative DotExpr the duplicate dots are cheap and
        // the threshold (which kills ~99.6% of candidates here) now
        // runs BEFORE the pair-dedup exchange, so the groupBy shuffles
        // thousands of rows instead of millions (measured at sf0.1
        // bench variant: edges pass 2.7 s → see OPTIMIZATION_r19.md).
        // Output is identical: a pair's dot is the same through every
        // shared bucket, so filter-then-distinct == distinct-then-
        // filter (oracle + SemanticDedupSpec pin it).
        paired.select(col("pc"), col("doc_id").as("d1"), col("v").as("v1"))
          .join(paired.select(col("pc"), col("doc_id").as("d2"),
            col("v").as("v2")), Seq("pc"))
          .filter(col("d1") < col("d2"))
          .select(col("d1"), col("d2"),
            Similarity.dot(col("v1"), col("v2")).as("cos"))
          .filter(col("cos") >= threshold)
          .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("__nb"))
          .select(col("d1"), col("d2"))
      }
    (edges, assigned)
  }
}
