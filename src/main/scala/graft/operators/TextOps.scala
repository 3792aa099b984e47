package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token stats,
  * quality scoring, n-gram-heuristic language ID, and document
  * fingerprinting. Pure codegen'd expression pipelines — no UDFs —
  * so they scan-scale linearly and stay inside whole-stage codegen.
  */
object TextOps {

  def words(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(words(text))

  /** BPE-ish subword proxy: letter runs, digit runs, and punctuation
    * runs each count as one token (the GPT-2-style pre-tokenizer
    * classes, without the merge table — a standard corpus-costing
    * heuristic). Pure RE2/Java-regex-portable pattern. */
  val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"

  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0)))

  /** Characters excluding whitespace. */
  def charCount(text: Column): Column =
    length(regexp_replace(text, "\\s+", ""))

  private val EN = Seq("the", "a", "and", "of", "to", "in", "is")
  private val ES = Seq("el", "la", "de", "y", "que", "los")
  private val DE = Seq("der", "die", "das", "und", "ist", "ein")
  private val FR = Seq("le", "la", "et", "les", "un", "une")

  private def hitsOf(ws: Column, stop: Seq[String]): Column =
    size(filter(ws, w => lower(w).isin(stop: _*)))

  def stopwordRatioOf(ws: Column): Column =
    hitsOf(ws, EN).cast("double") / size(ws)

  /** Heuristic quality score in [0,1]: length, information density and
    * word-shape terms (deterministic; thresholds are pipeline config).
    * The `Of` form shares already-materialized words/char-count
    * columns — see [[wordNgramsOf]] on why that matters for a
    * multi-metric projection. */
  def qualityScoreOf(ws: Column, nChars: Column): Column = {
    val lenTerm = least(size(ws).cast("double") / 100.0, lit(1.0))
    val stopTerm = lit(1.0) - stopwordRatioOf(ws)
    val shapeTerm = least((nChars.cast("double") / size(ws)) / 8.0, lit(1.0))
    lit(0.5) * lenTerm + lit(0.3) * stopTerm + lit(0.2) * shapeTerm
  }
  def qualityScore(text: Column): Column =
    qualityScoreOf(words(text), charCount(text))

  /** Stopword-hit-count language ID with a fixed preference order on
    * ties (en > es > de > fr). */
  def langIdOf(ws: Column): Column = {
    val (en, es, de, fr) =
      (hitsOf(ws, EN), hitsOf(ws, ES), hitsOf(ws, DE), hitsOf(ws, FR))
    when(en >= es && en >= de && en >= fr, "en")
      .when(es >= de && es >= fr, "es")
      .when(de >= fr, "de")
      .otherwise("fr")
  }
  def langId(text: Column): Column = langIdOf(words(text))

  /** Content fingerprint: md5 of case/whitespace-normalized text. */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))

  /** Overlapping token-window chunks — the context-window preparation
    * step of an LLM training pipeline. Chunk i covers tokens
    * [i·stride, i·stride + chunkTokens); start positions run
    * 0, stride, 2·stride, … while they fall inside the document, so
    * consecutive chunks overlap by (chunkTokens − stride) tokens.
    * Returns array<struct<chunk_idx int, chunk string, n_tokens int>>
    * — `explode` it into one row per chunk. Pure expression pipeline:
    * chunking scan-scales and never leaves whole-stage codegen;
    * per-row output is O(n_tokens · chunkTokens / stride).
    */
  def chunks(text: Column, chunkTokens: Int, stride: Int): Column = {
    require(chunkTokens > 0 && stride > 0,
      s"chunkTokens ($chunkTokens) and stride ($stride) must be positive")
    val ws = words(text)
    val n = size(ws)
    // `split("")` yields [""] — a blank document must chunk to NOTHING,
    // not to one empty chunk
    val starts = when(length(trim(text)) > 0,
      filter(sequence(lit(0), greatest(n - 1, lit(0)), lit(stride)),
        s => s < n)).otherwise(array().cast("array<int>"))
    transform(starts, (s, i) => struct(
      i.cast("int").as("chunk_idx"),
      array_join(slice(ws, s + 1, lit(chunkTokens)), " ").as("chunk"),
      least(n - s, lit(chunkTokens)).cast("int").as("n_tokens")))
  }

  /** Word n-grams as strings (space-joined, NON-distinct, in order);
    * a document shorter than n yields its whole word sequence as one
    * gram — the same convention as [[Dedup.shingleHashes]]'s hashed
    * form, so hash- and string-level n-gram semantics agree.
    *
    * The `*Of` variants take an ALREADY-SPLIT words column: several
    * metrics over one document should materialize `words(text)` once
    * (withColumn) and share the attribute — composing the text-typed
    * forms into a single projection re-evaluates the split per
    * reference, which measured ~8× slower for the three repetition
    * metrics at sf0.1. */
  def wordNgramsOf(ws: Column, n: Int): Column = {
    require(n >= 1, s"n must be positive, got $n")
    if (n == 1) ws
    else when(size(ws) < n, array(array_join(ws, " ")))
      .otherwise(transform(sequence(lit(1), size(ws) - (n - 1)),
        i => array_join(slice(ws, i, lit(n)), " ")))
  }
  def wordNgrams(text: Column, n: Int): Column = wordNgramsOf(words(text), n)

  /** Repetition metrics — the Gopher/C4-style duplicate-text quality
    * filters (a high duplicate fraction marks boilerplate/spam):
    * fraction of words that repeat an earlier word. Pure expression,
    * scan-scales. */
  def dupWordFractionOf(ws: Column): Column =
    // r20: size(array_distinct(ws)) → one imperative hash-set pass
    // (functions.DistinctSizeExpr; array_distinct walked the array
    // through a CodegenFallback node and allocated the distinct copy
    // just to take its size). Bit-identical incl. null-element and
    // size(null) = -1 semantics (HashVecOpsSpec).
    when(size(ws) <= 0, lit(0.0)).otherwise(
      lit(1.0) - graft.functions.HashOps.distinctSize(ws).cast("double")
        / size(ws))
  def dupWordFraction(text: Column): Column =
    dupWordFractionOf(words(text))

  /** Fraction of word n-grams that repeat an earlier n-gram (documents
    * shorter than n score 0 — [[wordNgramsOf]]'s whole-sequence gram
    * for those is guarded away by the `when`). */
  def dupNgramFractionOf(ws: Column, n: Int): Column = {
    val total = size(ws) - (n - 1)
    // r20: the n-gram string building (interpreted transform +
    // array_join per window) and the array_distinct + size collapse
    // into one imperative pass (functions.DistinctNgramSizeExpr):
    // grams compare as the bytes of their space-joined strings,
    // exactly like the Column chain, so colliding windows still count
    // once
    // (HashVecOpsSpec pins bit-equality).
    val distinctGrams =
      if (n == 1) graft.functions.HashOps.distinctSize(ws)
      else graft.functions.HashOps.distinctNgramSize(ws, n)
    when(size(ws) < n, lit(0.0)).otherwise(
      lit(1.0) - distinctGrams.cast("double") / total)
  }
  def dupNgramFraction(text: Column, n: Int): Column =
    dupNgramFractionOf(words(text), n)

  /** PII redaction: emails → <EMAIL>, IPv4 literals → <IP>. Patterns
    * are RE2/Java-portable (no lookaround), so the same regex text
    * verifies in DuckDB. Extend with pipeline-specific patterns as
    * needed — each additional class is one more regexp_replace in the
    * same codegen'd projection. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      Ipv4Pattern, "<IP>")
  /** Corpus vocabulary: term frequency (total occurrences) and
    * document frequency (docs containing the term) per token, the
    * top-k by tf with a deterministic term tie-break — the first step
    * of any tokenizer/BPE training or df-based filtering run.
    *
    * Scale: two classic wordcounts — explode + hash aggregate with
    * map-side partial aggregation (the shuffle carries one row per
    * distinct term per PARTITION, not per occurrence), the df pass
    * exploding the per-doc distinct set so each doc contributes a
    * term once. The tf⋈df join is vocabulary-sized (bounded by token
    * diversity, AQE broadcasts it), and top-k is a TakeOrdered — no
    * global sort materialization. A fused single-pass variant
    * (expression-side per-doc counting) measured 3.9× SLOWER at
    * sf0.1 and degrades quadratically with document length — the
    * extra pass is the right trade. */
  def vocab(docs: org.apache.spark.sql.DataFrame, textCol: Column,
      k: Int): org.apache.spark.sql.DataFrame = {
    val ws = words(textCol)
    val in = Materialize.once(docs) // read for tf and for df
    val tf = in.select(explode(ws).as("term"))
      .groupBy("term").agg(count(lit(1)).as("tf"))
    val df = in.select(explode(array_distinct(ws)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(df, "term")
      .orderBy(col("tf").desc, col("term"))
      .limit(k)
  }

  /** Size-gated broadcast hint for a vocabulary-sized derived table
    * (same discipline as the minhash signature cache gate in
    * `Dedup.minhashLshPairs`): the static planner sees no size for a
    * derived aggregate, so an unconditional `broadcast(...)` hint is
    * the only way to get a broadcast join — but on a 100 TB web
    * corpus the distinct-token table (typos, URLs, hashes) can reach
    * billions of rows and an unconditional hint OOMs the driver.
    * Instead: materialize the table through [[Materialize.once]] (it
    * feeds both the measuring job and the join — read twice, the
    * wordcount would recompute), MEASURE it with one cheap agg job (row
    * count + total term bytes; `fixedBytes` covers the numeric columns
    * + per-row overhead), and hint only under `budgetBytes`. Past the
    * budget the hint drops away and the join degrades to a shuffle
    * join — the correct shape at that size. The checkpoint is not a
    * CacheManager entry: its blocks, and the broadcasts of the plan
    * that built it, are freed once the caller's result is unreachable,
    * where a registered persist stayed for the session's lifetime, one
    * per call. */
  private[graft] def gatedVocabBroadcast(t: org.apache.spark.sql.DataFrame,
      termCol: String, fixedBytes: Int,
      budgetBytes: Long): org.apache.spark.sql.DataFrame =
    gatedBroadcastBy(t, length(col(termCol)).cast("long") + fixedBytes,
      budgetBytes)

  /** General form of [[gatedVocabBroadcast]]: `rowBytes` is a per-row
    * byte-estimate expression summed in the measuring job. */
  private[graft] def gatedBroadcastBy(t: org.apache.spark.sql.DataFrame,
      rowBytes: Column,
      budgetBytes: Long): org.apache.spark.sql.DataFrame = {
    val cached = Materialize.once(t)
    val bytes = cached
      .agg(coalesce(sum(rowBytes.cast("long")), lit(0L))).head().getLong(0)
    if (bytes < budgetBytes) broadcast(cached) else cached
  }

  /** Default build-side budget for [[gatedVocabBroadcast]] — matches
    * the 64 MB gate used for the minhash signature cache. */
  val VocabBroadcastBudget: Long = 64L << 20

  /** Per-document top-k TF-IDF terms: score = in-doc count · ln(N/df),
    * ties broken by term — the classic salient-term extraction for
    * corpus exploration and topic features.
    *
    * Scale: per-doc term counts come from explode + hash aggregate on
    * (doc, term) — partial aggregation collapses within-partition
    * duplicates before the shuffle, so shuffle volume is one row per
    * distinct term per doc (NOT per occurrence; an expression-side
    * fused variant was measured 2× slower and quadratic in document
    * length). The document-frequency table is vocabulary-sized
    * (bounded by token diversity, not corpus size) and joined back to
    * that stream through the measured [[gatedVocabBroadcast]] gate —
    * broadcast under the budget, shuffle join past it; N rides along
    * as a 1-row broadcast cross join rather than a driver-side
    * `.count()`. */
  def tfidfTopTerms(docs: org.apache.spark.sql.DataFrame, idCol: Column,
      textCol: Column, k: Int,
      broadcastBudgetBytes: Long = VocabBroadcastBudget)
      : org.apache.spark.sql.DataFrame = {
    val in = Materialize.once(docs) // read for the term counts and N
    val tc = in.select(idCol.as("doc_id"),
        explode(words(textCol)).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("cnt"))
    // fixedBytes: 8 (df long) + ~24 string/row overhead.
    val dfTab = gatedVocabBroadcast(
      tc.groupBy("term").agg(count(lit(1)).as("df")),
      "term", 32, broadcastBudgetBytes)
    val n = in.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tc.join(dfTab, "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("cnt") * log(col("n_docs").cast("double") / col("df")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("doc_id"), col("term"),
        round(col("score"), 6).as("score"))
  }

  /** BM25 lexical top-k retrieval (Robertson–Spärck Jones weighting
    * with the Lucene-standard idf = ln(1 + (N − df + 0.5)/(df + 0.5))):
    *
    *   score(q,d) = Σ_{t∈q} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl))
    *
    * The sparse-retrieval complement to the embedding ANN family —
    * contamination triage, hard-negative mining, RAG-style lookup all
    * start from a lexical index.
    *
    * Shape (scales like tf-idf): one corpus pass builds (doc, term,
    * tf, |d|); df goes through the measured [[gatedVocabBroadcast]]
    * gate (broadcast under budget, shuffle join past it) and the
    * (N, avgdl) pair is unit-sized and broadcast; the query terms
    * equi-join the posting stream on
    * term (queries × postings is the retrieval work itself); ONE
    * shuffle groups contributions per (query, doc). Σ over doubles is
    * order-sensitive, so contributions fold in sorted-term order —
    * bit-deterministic, and an oracle can replay the identical fold
    * (same discipline as LangModel.perplexity). |d| sums are integer-
    * valued doubles < 2^53, so avgdl is exact in any partition order. */
  def bm25TopK(docs: org.apache.spark.sql.DataFrame, idCol: Column,
      textCol: Column,
      queries: org.apache.spark.sql.DataFrame, qidCol: Column,
      qtextCol: Column, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      broadcastBudgetBytes: Long = VocabBroadcastBudget)
      : org.apache.spark.sql.DataFrame = {
    // read for the postings and the (N, avgdl) stats
    val base = Materialize.once(docs)
      .select(idCol.as("doc_id"), words(textCol).as("ws"))
      .select(col("doc_id"), col("ws"),
        size(col("ws")).cast("double").as("dl"))
    val tc = base
      .select(col("doc_id"), col("dl"), explode(col("ws")).as("term"))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
    // fixedBytes: 8 (df double) + ~24 string/row overhead.
    val dfTab = gatedVocabBroadcast(
      tc.groupBy("term").agg(count(lit(1)).cast("double").as("df")),
      "term", 32, broadcastBudgetBytes)
    val stats = base.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val qt = queries
      .select(qidCol.as("qid"),
        explode(array_distinct(words(qtextCol))).as("term"))
    val contrib = qt.join(tc, "term")
      .join(dfTab, "term")
      .crossJoin(broadcast(stats))
      .withColumn("w",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) *
          col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) +
            lit(b) * col("dl") / col("avgdl"))))
    val scored = contrib.groupBy("qid", "doc_id")
      .agg(collect_list(struct(col("term"), col("w"))).as("cs"))
      // r19: imperative sorted-term fold (functions.StructFieldSumExpr)
      // — same left fold as the aggregate lambda, bit-identical.
      // r20: the sort_array fuses in (SortedStructFieldSumExpr) — same
      // ascending struct order (terms are unique per (qid, doc), and a
      // null element poisons the fold wherever it sorts), one walk +
      // one primitive sort instead of a CodegenFallback sort node and
      // its array copy (HashVecOpsSpec pins equality).
      .withColumn("score",
        graft.functions.HashOps.sortedFieldSum(col("cs"), "w"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("doc_id"),
        round(col("score"), 6).as("score"))
  }

  /** Per-stratum corpus datasheet — the profiling pass a training-data
    * release ships with (doc/token volumes, length quantiles, exact
    * duplicate rate, short-doc and quality-pass counts). ONE partial-
    * aggregating groupBy over a single corpus scan. Every output is an
    * integer or an exact percentile: counts commute, the quality
    * score is compared through the same floor(q·1e6) quantization the
    * rest of the suite uses, and the length quantiles use Spark's
    * EXACT `percentile` — its state is a count-map over DISTINCT
    * lengths (a bounded domain: document lengths, not documents), so
    * it scales as histogram size, not corpus size. Nothing here is
    * fp-order-sensitive. */
  def corpusProfile(docs: org.apache.spark.sql.DataFrame,
      textCol: Column, strataCol: Column): org.apache.spark.sql.DataFrame = {
    val base = docs.select(strataCol.as("stratum"),
        words(textCol).as("__ws"), charCount(textCol).as("__nc"),
        fingerprint(textCol).as("__fp"))
      .select(col("stratum"), size(col("__ws")).as("toks"),
        floor(qualityScoreOf(col("__ws"), col("__nc")) * 1e6)
          .cast("long").as("q6"),
        col("__fp"))
    base.groupBy("stratum").agg(
      count(lit(1)).as("n_docs"),
      sum(col("toks").cast("long")).as("n_tokens"),
      round(percentile(col("toks"), lit(0.5)), 6).as("tok_p50"),
      round(percentile(col("toks"), lit(0.9)), 6).as("tok_p90"),
      round(percentile(col("toks"), lit(0.99)), 6).as("tok_p99"),
      countDistinct(col("__fp")).as("n_unique"),
      sum(when(col("toks") < 50, 1L).otherwise(0L)).as("n_short"),
      sum(when(col("q6") >= 500000L, 1L).otherwise(0L)).as("n_quality"))
  }
}