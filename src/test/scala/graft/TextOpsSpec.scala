package graft

import org.apache.spark.sql.functions._
import graft.operators.TextOps

/** Chunking and redaction edges (the bulk behavior is DuckDB-oracle
  * gated via q_text_chunks / q_text_redact). */
class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("chunks: overlap, boundary, short and empty documents") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "only three tokens"),
      (3L, ""),
      (4L, "exact four tok s")
    ).toDF("id", "text")
    val out = docs.select(col("id"),
        explode(TextOps.chunks(col("text"), 4, 3)).as("c"))
      .select(col("id"), col("c")("chunk_idx"), col("c")("chunk"),
        col("c")("n_tokens"))
      .as[(Long, Int, String, Int)].collect().toSeq.sorted
    // doc 1: starts 0,3,6,9 → chunks of 4,4,4,1 tokens, stride-3 overlap
    val d1 = out.filter(_._1 == 1L)
    assert(d1.map(_._2) == Seq(0, 1, 2, 3))
    assert(d1.map(_._4) == Seq(4, 4, 4, 1))
    assert(d1(0)._3 == "w1 w2 w3 w4" && d1(1)._3 == "w4 w5 w6 w7")
    assert(d1(3)._3 == "w10")
    // doc 2: one full + nothing at start 3 (only 3 tokens)
    assert(out.filter(_._1 == 2L).map(_._3) == Seq("only three tokens"))
    // doc 3: empty text → zero chunks
    assert(!out.exists(_._1 == 3L))
    // doc 4: 4 tokens → starts 0 and 3
    assert(out.filter(_._1 == 4L).map(_._4) == Seq(4, 1))
  }

  test("redact replaces emails and ipv4 literals, leaves the rest") {
    val got = Seq("mail a.b+c@ex-1.org and 192.168.1.254 but not 1.2.3 or x@y")
      .toDF("t").select(TextOps.redact(col("t"))).as[String].head()
    assert(got == "mail <EMAIL> and <IP> but not 1.2.3 or x@y")
  }

  test("repetition metrics: duplicate word and n-gram fractions") {
    val rows = Seq(
      (1L, "a b a b a b"),        // words: 2 distinct of 6; 3-grams: "a b a","b a b" ×2 → 2 of 4
      (2L, "x y z w"),            // no repeats at all
      (3L, "spam spam spam spam"),// 1 distinct of 4; 3-gram "spam spam spam" ×2 → 1 of 2
      (4L, "one two")             // shorter than n: 0 by definition
    ).toDF("id", "t")
    val got = rows.select(col("id"),
        TextOps.dupWordFraction(col("t")).as("dw"),
        TextOps.dupNgramFraction(col("t"), 3).as("dg"))
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) == (1.0 - 2.0 / 6, 1.0 - 2.0 / 4))
    assert(got(2L) == (0.0, 0.0))
    assert(got(3L) == (0.75, 0.5))
    assert(got(4L) == (0.0, 0.0))
  }

  test("wordNgrams keeps order and duplicates; short docs gram whole") {
    val g = Seq("a b c d").toDF("t")
      .select(TextOps.wordNgrams(col("t"), 2)).as[Seq[String]].head()
    assert(g == Seq("a b", "b c", "c d"))
    val short = Seq("a b").toDF("t")
      .select(TextOps.wordNgrams(col("t"), 3)).as[Seq[String]].head()
    assert(short == Seq("a b"))
  }

  test("vocab: tf/df with deterministic top-k tie-break") {
    import spark.implicits._
    val docs = Seq(
      "a b a c", "b b d", "a e", "  a   b  "
    ).toDF("text")
    val v = TextOps.vocab(docs, org.apache.spark.sql.functions.col("text"), 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // tf: a=4 b=4 c=1 d=1 e=1; top-3 ties broken by term asc
    assert(v.toSeq == Seq(("a", 4L, 3L), ("b", 4L, 3L), ("c", 1L, 1L)))
  }
  test("tfidfTopTerms: salient terms rank by cnt*ln(N/df), df joins broadcast") {
    import spark.implicits._
    // 4 docs; "x" appears everywhere (idf 0), "rare" in one doc
    val docs = Seq(
      (1L, "x x rare"), (2L, "x common common"),
      (3L, "x common"), (4L, "x")
    ).toDF("id", "text")
    val out = TextOps.tfidfTopTerms(docs, col("id"), col("text"), 2)
    val byDoc = out.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .groupBy(_._1)
    // doc 1: rare (1*ln4) beats x (2*ln1 = 0)
    assert(byDoc(1L).head._2 == "rare")
    assert(math.abs(byDoc(1L).head._3 - math.log(4.0)) < 1e-6)
    // doc 4: only x, score exactly 0
    assert(byDoc(4L).map(t => (t._2, t._3)).toSeq == Seq(("x", 0.0)))
    // doc 2: common counts twice (2*ln2) over x
    assert(byDoc(2L).head._2 == "common")
    // the df side joins as a broadcast (no corpus-side shuffle)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("tfidf/bm25 vocabulary broadcast is size-gated: both paths equal") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x x rare quick brown fox"), (2L, "x common common fox jumps"),
      (3L, "x common lazy dog"), (4L, "x over the lazy dog")
    ).toDF("id", "text")
    val queries = Seq((10L, "lazy fox"), (11L, "common rare")).toDF("qid", "q")

    // budget 0 forces the shuffle-join path; default takes broadcast.
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq

    val tHint = TextOps.tfidfTopTerms(docs, col("id"), col("text"), 3)
    val tShuf = TextOps.tfidfTopTerms(docs, col("id"), col("text"), 3,
      broadcastBudgetBytes = 0L)
    assert(canon(tHint) == canon(tShuf))
    // the gate really changed the plan: only the hinted variant carries
    // a broadcast hint on the df table (auto-broadcast of tiny test
    // tables is a planner choice, so assert on the analyzed plan's
    // ResolvedHint, not the physical join pick)
    def hintCount(df: org.apache.spark.sql.DataFrame): Int =
      "(?i)resolvedhint".r
        .findAllIn(df.queryExecution.analyzed.toString).length
    // hinted: df-table hint + 1-row n_docs hint; gated-off: n_docs only
    assert(hintCount(tHint) == 2, tHint.queryExecution.analyzed.toString)
    assert(hintCount(tShuf) == 1)

    val bHint = TextOps.bm25TopK(docs, col("id"), col("text"),
      queries, col("qid"), col("q"), 2)
    val bShuf = TextOps.bm25TopK(docs, col("id"), col("text"),
      queries, col("qid"), col("q"), 2, broadcastBudgetBytes = 0L)
    assert(canon(bHint) == canon(bShuf))
    assert(hintCount(bHint) == 2 && hintCount(bShuf) == 1)
    assert(bHint.collect().nonEmpty)
  }

  test("the size gate registers no cache entry for the table it measures") {
    // a registered entry outlives the caller's result, with the
    // broadcasts of the plan that built it: one per call, for the
    // session's lifetime
    val t = Seq("a", "b", "a").toDF("term").groupBy("term").count()
    val gated = TextOps.gatedVocabBroadcast(t, "term", 8, 1L << 20)
    assert(t.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(gated.as[(String, Long)].collect().toSet == Set(("a", 2L), ("b", 1L)))
  }
}