package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** N-gram language-model quality scoring — the CCNet/KenLM-style
  * perplexity filter every large-scale training-data pipeline runs:
  * score each document by its average bigram log-likelihood under an
  * add-one-smoothed model, drop (or bucket) the tail. Here the model
  * trains on the corpus itself; substituting a reference-corpus model
  * is the same plan with `train`'s input swapped.
  *
  * Scale shape: training is explode → hash-aggregate bigram counts
  * (partial aggregation collapses duplicates before the one shuffle;
  * the model is vocabulary-bounded, not corpus-bounded). Scoring joins
  * each document bigram to the model — the context table (≤ vocab+1
  * rows) broadcasts; the bigram table joins by its natural key and
  * broadcasts when small. Per-document reduction folds the term list
  * in document order (array_sort on the unique position), so the score
  * is bit-deterministic under any partitioning/retry — the same
  * left-fold a DuckDB `list_reduce(list(... ORDER BY pos))` replays.
  */
object LangModel {

  private def toks(textCol: Column): Column =
    filter(TextOps.words(textCol), w => w =!= "")

  /** Top-`vocabSize` tokens by corpus frequency (ties: token asc). */
  def vocabulary(docs: DataFrame, textCol: Column,
      vocabSize: Int): DataFrame =
    docs.select(explode(toks(textCol)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc)
      .limit(vocabSize)
      .select("w")

  /** Per-document bigram perplexity under an add-one-smoothed bigram
    * model trained on `model` (usually the same corpus). Output:
    * (doc_id, n_bigrams, avg_logprob round 6, ppl round 4) — documents
    * with fewer than two tokens keep n_bigrams = 0 and null scores.
    *
    * Out-of-vocabulary tokens map to "<unk>"; smoothing denominator is
    * |vocab| + 1 (the unk class). P(w2|w1) = (c(w1,w2)+1)/(c(w1)+V).
    */
  def perplexity(docs: DataFrame, idCol: Column, textCol: Column,
      vocabSize: Int, model: DataFrame = null,
      broadcastBudgetBytes: Long = TextOps.VocabBroadcastBudget)
      : DataFrame = {
    // docs feed the scoring bigrams and the final join, the corpus the
    // vocabulary and the training bigrams: each is read more than once
    val in = Materialize.once(docs)
    val corpus = Option(model).map(Materialize.once).getOrElse(in)
    // at most vocabSize words: ranked once on the driver and broadcast
    // as a local relation (as Sampling.downsample's rates), so neither
    // vocab lookup nor the smoothing denominator re-plans the top-k
    val words = vocabulary(corpus, textCol, vocabSize).collect()
    val vocab = in.sparkSession.createDataFrame(words.toSeq.asJava,
      StructType(Seq(StructField("w", StringType))))

    def bigrams(src: DataFrame, id: Column): DataFrame = {
      val t = toks(textCol)
      src.select(id.as("doc_id"), t.as("__t"))
        .where(size(col("__t")) >= 2)
        .select(col("doc_id"), posexplode(arrays_zip(
          slice(col("__t"), lit(1), size(col("__t")) - 1),
          slice(col("__t"), lit(2), size(col("__t")) - 1))))
        .select(col("doc_id"), col("pos"),
          col("col")("0").as("w1"), col("col")("1").as("w2"))
    }
    // vocab-map both slots: a broadcast hash semi-lookup per token
    // (array_contains over a literal vocab would be O(V) per token)
    def mapped(src: DataFrame): DataFrame = src
      .join(broadcast(vocab.select(col("w").as("w1"),
        lit(1).as("__v1"))), Seq("w1"), "left")
      .join(broadcast(vocab.select(col("w").as("w2"),
        lit(1).as("__v2"))), Seq("w2"), "left")
      .select(col("doc_id"), col("pos"),
        when(col("__v1").isNotNull, col("w1")).otherwise("<unk>").as("w1"),
        when(col("__v2").isNotNull, col("w2")).otherwise("<unk>").as("w2"))

    val trainBig = mapped(bigrams(corpus, lit(0L)))
    // The bigram table is bounded by (V+1)² in principle and by the
    // corpus's distinct-bigram count in practice — at 100 TB that can
    // exceed driver memory even with vocab-mapping, so the broadcast
    // is size-gated (measured, same discipline as the minhash sig
    // cache): hinted under the budget, shuffle join past it.
    val c2 = TextOps.gatedBroadcastBy(
      trainBig.groupBy("w1", "w2").agg(count(lit(1)).as("c2")),
      length(col("w1")) + length(col("w2")) + lit(56),
      broadcastBudgetBytes)
    val c1 = c2.groupBy("w1").agg(sum("c2").as("c1"))
    // smoothing denominator: |vocab| + 1
    val vSize = lit((words.length + 1).toDouble)

    val scored = mapped(bigrams(in, idCol))
      .join(c2, Seq("w1", "w2"), "left")
      .join(broadcast(c1), Seq("w1"), "left")
      .select(col("doc_id"), col("pos"),
        log((coalesce(col("c2"), lit(0L)) + lit(1.0)) /
          (coalesce(col("c1"), lit(0L)) + vSize)).as("lp"))
      .groupBy("doc_id")
      // r19: the document-order fold is one imperative walk
      // (functions.StructFieldSumExpr) instead of an interpreted
      // aggregate lambda per term — same left fold, bit-identical.
      // r20: the array_sort fuses in (functions.SortedStructFieldSumExpr)
      // — the default comparator evaluated an interpreted lambda PER
      // COMPARISON and allocated the sorted copy; same struct ordering,
      // same fold, bit-identical (HashVecOpsSpec).
      .agg(count(lit(1)).as("n_bigrams"),
        graft.functions.HashOps.sortedFieldSum(
          collect_list(struct(col("pos"), col("lp"))), "lp")
          .as("__sum"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("__sum") / col("n_bigrams"), 6).as("avg_logprob"),
        round(exp(-col("__sum") / col("n_bigrams")), 4).as("ppl"))

    in.select(idCol.as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_logprob"), col("ppl"))
  }
}
