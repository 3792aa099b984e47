package graft

import org.apache.spark.sql.functions._
import graft.operators.{WindowOps, Multimodal, TextOps}
import graft.sources.Sources

class RequestModeSourcesSpec extends SparkSpec {
  import spark.implicits._

  test("point-in-time frame sees history + self, never other requests") {
    val history = Seq(
      (1L, "u1", 10L, 1.0), (2L, "u1", 20L, 2.0), (3L, "u1", 100L, 50.0)
    ).toDF("id", "k", "ts", "v")
    val requests = Seq(
      (10L, "u1", 25L, 0.5), (11L, "u1", 25L, 0.7) // same key+ts requests
    ).toDF("id", "k", "ts", "v")
    // requests ∪ history with a provenance flag; a request row's frame
    // is history plus itself (instanceNotInWindow)
    val flag = "__graft_is_request"
    val u = requests.withColumn(flag, lit(true))
      .unionByName(history.withColumn(flag, lit(false)),
        allowMissingColumns = true)
    val arr = WindowOps.frameArray(col("v"), col("ts"), col("id"),
      Seq(col("k")), precedingMs = 20L,
      isPrimary = col(flag), instanceNotInWindow = true)
    val out = u.select(col("id"), WindowOps.aggSum(arr).as("s"), col(flag))
      .filter(col(flag))
      .select("id", "s").as[(Long, Double)].collect().toMap
    // frame [5,25]: history rows 10,20 + the request row itself;
    // the other same-ts request must NOT leak in
    assert(out(10L) == 1.0 + 2.0 + 0.5)
    assert(out(11L) == 1.0 + 2.0 + 0.7)
  }

  test("hive:// URIs route LOAD DATA / SELECT INTO through the catalog") {
    // the reference maps hive://name to catalog-table reads/writes
    // (HybridseUtil.parseOptions); Spark's session catalog is the
    // native equivalent — saveAsTable then read.table
    val src = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    try {
      Sources.selectInto(src, "hive://graft_hive_spec",
        Map("mode" -> "overwrite"))
      val back = Sources.loadData(spark, "hive://graft_hive_spec")
      assert(back.orderBy("id").as[(Long, String)].collect().toSeq ==
        Seq((1L, "a"), (2L, "b")))
      // format option is irrelevant for table URIs, like the reference
      val back2 = Sources.loadData(spark, "HIVE://graft_hive_spec",
        Map("format" -> "'csv'"))
      assert(back2.count() == 2)
    } finally spark.sql("DROP TABLE IF EXISTS graft_hive_spec")
  }

  test("selectInto/loadData csv round-trip preserves values and nulls") {
    // explicit quote: a delimiter inside the data survives the trip
    val dir = java.nio.file.Files.createTempDirectory("graft_io_spec").toString + "/t"
    val src = Seq((1L, "alpha"), (2L, null.asInstanceOf[String]), (3L, "c;d"))
      .toDF("id", "s")
    Sources.selectInto(src, dir, Map("format" -> "csv", "mode" -> "overwrite",
      "delimiter" -> ";", "null_value" -> "NULL", "quote" -> "\""))
    val back = Sources.loadData(spark, dir,
      Map("format" -> "csv", "delimiter" -> ";", "null_value" -> "NULL",
        "quote" -> "\""),
      Some(src.schema))
    val out = back.orderBy("id").as[(Long, Option[String])].collect().toSeq
    assert(out == Seq((1L, Some("alpha")), (2L, None), (3L, Some("c;d"))))
  }

  test("default csv is UNQUOTED like the reference: delimiter in data fails") {
    // reference SELECT INTO writes without quoting (quote default none)
    // so a delimiter inside the data corrupts the roundtrip
    // (test_out_in.yaml id 34)
    val dir = java.nio.file.Files.createTempDirectory("graft_io_spec2").toString + "/t"
    val src = Seq((1L, "a"), (2L, "c;d")).toDF("id", "s")
    Sources.selectInto(src, dir, Map("format" -> "csv", "mode" -> "overwrite",
      "delimiter" -> ";"))
    intercept[Exception] {
      Sources.loadData(spark, dir,
        Map("format" -> "csv", "delimiter" -> ";"), Some(src.schema))
        .collect()
    }
  }

  test("multimodal decode stub produces fixed-size features per row") {
    val media = Multimodal.withPayload(
      Seq((1L, "abc"), (2L, "")).toDF("doc_id", "text"), "doc_id", "text")
    val out = Multimodal.extractFeatures(media, new Multimodal.FakeDecoder(4))(spark)
      .collect().map(r => r.id -> (r.n_bytes, r.features.length)).toMap
    assert(out(1L) == (3, 4))
    assert(out(2L) == (0, 4))
  }

  test("text ops: token counts and language id heuristics") {
    val out = Seq(Tuple1("the quick fox is in the barn"))
      .toDF("text")
      .select(TextOps.tokenCount(col("text")), TextOps.charCount(col("text")),
        TextOps.langId(col("text")))
      .collect()(0)
    assert(out.getInt(0) == 7)
    assert(out.getInt(1) == "thequickfoxisinthebarn".length)
    assert(out.getString(2) == "en")
  }
}
