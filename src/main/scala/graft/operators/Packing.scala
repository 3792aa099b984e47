package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for LLM pretraining: concatenate documents into a
  * token stream and chunk the stream into fixed-budget context windows
  * ("packs"), emitting each document's span(s) inside its pack(s) —
  * the standard concat-and-chunk formulation (documents MAY split
  * across adjacent packs; no pack padding except the shard tail).
  *
  * Scale design. A single global stream would serialize the corpus
  * through one ordering — instead the corpus is split into `shards`
  * independent streams by a content-addressed hash (md5, recomputable
  * by any engine — the same coordinate idiom as [[Sampling]]), and
  * packs never span shards, exactly like sharded pretraining data
  * where each worker packs its own shard. Within a shard the stream
  * offset is ONE partitioned-window cumulative sum (one shuffle on
  * shard, 100 TB safe for `shards` >> executor count), and the
  * doc-to-pack fan-out is a native `sequence` + `explode` — the whole
  * pipeline is codegen'd expressions, no UDFs, no driver state.
  */
object Packing {

  /** Shard coordinate: first 8 md5 nibbles of "id:salt" mod `shards`
    * — content-addressed, so retries/repartitions/engines agree. */
  def shardOf(id: Column, shards: Int, salt: String): Column =
    pmod(conv(substring(md5(concat(id.cast("string"), lit(":" + salt))),
      1, 8), 16, 10).cast("long"), lit(shards.toLong))

  /** Pack `docs` into `budget`-token windows over `shards` independent
    * streams. `tokensCol` is the document's token count (any costing —
    * whitespace, BPE-ish, chars); zero-token documents occupy no
    * stream space and are dropped (they cannot anchor a span).
    *
    * Output, one row per (document, pack) span:
    * {{{
    *   doc_id   – idCol, passed through
    *   shard    – which independent stream
    *   pack_id  – pack ordinal within the shard (0-based)
    *   doc_off  – span start within the document (tokens, 0-based)
    *   pack_off – span start within the pack (tokens, 0-based)
    *   span_len – span length (tokens, >= 1)
    * }}}
    * A document with `pack_last > pack_first` splits: its spans cover
    * it exactly, each pack is exactly `budget` tokens except the last
    * of each shard. Deterministic: stream order is (shard, idCol), so
    * the layout is a pure function of the corpus.
    */
  def packSequences(docs: DataFrame, idCol: Column, tokensCol: Column,
      budget: Long, shards: Int = 1024,
      salt: String = "pack", shuffled: Boolean = false): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(shards > 0, "shards must be positive")
    // `shuffled` packs in content-addressed pseudorandom order (md5
    // coordinate, unique per id) instead of id order — the standard
    // shuffle-before-pack so a pack doesn't concatenate adjacent ids;
    // still a pure function of the corpus (retry/engine-stable), and
    // still the same ONE shuffle (only the in-shard sort key changes)
    val orderKey =
      if (shuffled) Sampling.sampleKey(col("doc_id"), salt + "#o")
      else col("doc_id")
    val w = Window.partitionBy(col("shard")).orderBy(orderKey)
    val b = lit(budget)
    docs
      .select(idCol.as("doc_id"), tokensCol.cast("long").as("__t"))
      .where(col("__t") > 0)
      .withColumn("shard", shardOf(col("doc_id"), shards, salt))
      .withColumn("__end", sum(col("__t")).over(w))
      .withColumn("__start", col("__end") - col("__t"))
      // packs touched: floor(start/B) .. floor((end-1)/B)
      .withColumn("pack_id", explode(sequence(
        floor(col("__start") / b), floor((col("__end") - 1) / b))))
      .withColumn("__ps", greatest(col("__start"), col("pack_id") * b))
      .select(
        col("doc_id"), col("shard"), col("pack_id"),
        (col("__ps") - col("__start")).as("doc_off"),
        (col("__ps") - col("pack_id") * b).as("pack_off"),
        (least(col("__end"), (col("pack_id") + 1) * b) - col("__ps"))
          .as("span_len"))
  }

  /** Materialize the packed training rows: one row per (shard, pack)
    * with the concatenated token text and its token count. Documents
    * are whitespace-tokenized ([[TextOps.words]] costing — pass the
    * same costing to [[packSequences]] callers comparing layouts).
    *
    * Scale: the span layout joins BACK to the corpus on doc_id (both
    * sides hash-partition on the join key; span rows are narrow), each
    * span slices its token range expression-side, and one groupBy
    * (shard, pack_id) assembles packs — spans of a pack are few, so
    * the collected list stays small regardless of corpus size.
    * Ordering inside a pack is deterministic: pack_off is unique
    * within a pack, and `sort_array` on (pack_off, tokens) structs
    * restores stream order without a sort exchange. */
  def packTexts(docs: DataFrame, idCol: Column, textCol: Column,
      budget: Long, shards: Int = 1024,
      salt: String = "pack"): DataFrame = {
    // read twice: the layout, then the join back
    val in = Materialize.once(docs)
    val spans = packSequences(
      in.select(idCol.as("doc_id"), textCol.as("__text")),
      col("doc_id"), TextOps.tokenCount(col("__text")), budget, shards, salt)
    val toks = slice(TextOps.words(col("__text")),
      (col("doc_off") + 1).cast("int"), col("span_len").cast("int"))
    spans
      .join(in.select(idCol.as("doc_id"), textCol.as("__text")), "doc_id")
      .select(col("shard"), col("pack_id"),
        struct(col("pack_off"), toks.as("toks")).as("__sp"))
      .groupBy("shard", "pack_id")
      .agg(
        array_join(flatten(transform(sort_array(collect_list(col("__sp"))),
          x => x("toks"))), " ").as("text"),
        sum(size(col("__sp")("toks"))).cast("long").as("n_tokens"))
  }

  /** Sharded-release writer: the corpus lands as `shards`
    * content-addressed parquet shards (`outDir/shard=<s>/…`) in a
    * deterministic in-shard order. Assignment ([[shardOf]]) and order
    * (a second md5 coordinate) are pure functions of the corpus, so
    * retries, cluster sizes, and engines agree on which rows belong to
    * which shard and in what sequence — the property a reproducible
    * data release needs. ONE shuffle: the repartition on the shard id
    * co-locates each shard in a single task, so `partitionBy` emits
    * exactly one ordered file per shard with no second pass. */
  def writeShards(docs: DataFrame, idCol: Column, shards: Int,
      salt: String, outDir: String): Unit =
    writeShards(docs, idCol, shards, salt, outDir, Nil)

  /** [[writeShards]] with a Z-ORDER layout inside each shard:
    * `zorderDims` (bucket-index columns, see [[Layout.lowBits]] /
    * [[Layout.rankBuckets]]) drive a Morton-interleaved in-shard sort,
    * so range scans on ANY z-dimension skip most row groups of every
    * shard file (min/max stats stay tight on all dims — proven by
    * LayoutSpec's skipped-file counts). Still fully deterministic: the
    * z-value is a pure function of the row and the md5 order breaks
    * z-ties, so re-layout on any engine yields byte-identical shards. */
  def writeShards(docs: DataFrame, idCol: Column, shards: Int,
      salt: String, outDir: String, zorderDims: Seq[Column]): Unit = {
    require(shards > 0, "shards must be positive")
    val base = docs.withColumn("shard", shardOf(idCol, shards, salt))
      .withColumn("__ord",
        md5(concat(idCol.cast("string"), lit(":o:" + salt))))
      .repartition(shards, col("shard"))
    val ordered =
      if (zorderDims.isEmpty)
        base.sortWithinPartitions(col("shard"), col("__ord"))
      else
        base.withColumn("__z", Layout.zorderValue(zorderDims))
          .sortWithinPartitions(col("shard"), col("__z"), col("__ord"))
          .drop("__z")
    ordered.drop("__ord")
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
  }

  /** Order-independent shard manifest over (written or virtual) shard
    * rows: per-shard doc/token counts plus a content fingerprint —
    * bit_xor of a portable md5-derived 60-bit row hash, so a reader
    * re-derives and checks release integrity without caring about row
    * order, and any lost/duplicated row flips the fingerprint. */
  def shardManifest(rows: DataFrame, shardCol: Column, idCol: Column,
      textCol: Column, toksCol: Column): DataFrame =
    rows.select(shardCol.cast("int").as("shard"),
        toksCol.cast("long").as("__toks"),
        conv(substring(md5(concat(idCol.cast("string"), lit(":"),
          textCol)), 1, 15), 16, 10).cast("long").as("__h"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("__toks")).as("n_tokens"),
        expr("bit_xor(__h)").as("fp"))
}
