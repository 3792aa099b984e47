package graft.tools

import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.sql.GraftSql
import graft.streaming.StreamingDedup

/** Sustained streaming-at-scale evidence (VERDICT r16 item 9): run the
  * StreamingDedup.firstSeen operator over the FULL documents corpus of
  * a scale dir, delivered as a file stream in many micro-batches,
  * sinking the survivors through `writeStream.format("graft")` with
  * putIfAbsent, in about 20 epochs. Records throughput (rows/sec), epoch
  * count, and the state-store trajectory (rows + bytes per progress
  * event), and asserts the end state: the sink table holds exactly one
  * row per distinct text, and state rows never exceed the distinct-
  * hash bound the operator documents.
  *
  * Usage: StreamSoak [sfDir] [outJson] — e.g. the sf1 fixture from
  * `graft.tools.ScaleUp`. Writes one JSON object. */
object StreamSoak {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft-sf1")
    val outPath = if (args.length > 1) args(1) else "STREAM_SOAK.json"
    val spark = GraftSession.builder().getOrCreate()
    GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // deliver the corpus as 40 parquet files → 20 micro-batches at
    // maxFilesPerTrigger=2
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft_soak_src").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_soak_ckpt").toString
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    docs.repartition(40).write.mode("overwrite").parquet(srcDir)
    val nIn = docs.count()
    val nDistinct = docs.select(countDistinct(col("text"))).head.getLong(0)

    GraftSql.statement(spark, "DROP TABLE IF EXISTS soak_out")
    GraftSql.statement(spark,
      "CREATE TABLE soak_out (doc_id bigint, text string)")

    val stateRows = scala.collection.mutable.ArrayBuffer.empty[Long]
    val stateBytes = scala.collection.mutable.ArrayBuffer.empty[Long]
    var epochs = 0L
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        if (e.progress.numInputRows > 0) epochs += 1
        e.progress.stateOperators.foreach { so =>
          stateRows += so.numRowsTotal
          stateBytes += so.memoryUsedBytes
        }
      }
    }
    spark.streams.addListener(listener)

    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(srcDir)
      .as[StreamingDedup.Doc]
    val deduped = StreamingDedup.firstSeen(stream)
    val t0 = System.nanoTime()
    val q = deduped.toDF().writeStream.format("graft")
      .option("db", "default").option("table", "soak_out")
      .option("putIfAbsent", "true")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    val wallSec = (System.nanoTime() - t0) / 1e9
    q.stop()
    spark.streams.removeListener(listener)

    val nOut = spark.table("soak_out").count()
    val maxStateRows = if (stateRows.isEmpty) 0L else stateRows.max
    val lastStateRows = if (stateRows.isEmpty) 0L else stateRows.last
    val maxStateMb =
      if (stateBytes.isEmpty) 0.0 else stateBytes.max / 1048576.0
    val ok = nOut == nDistinct && maxStateRows <= nDistinct
    val json =
      f"""{"bench":"stream_soak","sf_dir":"$sfDir","input_rows":$nIn,""" +
        f""""distinct_texts":$nDistinct,"sink_rows":$nOut,""" +
        f""""epochs":$epochs,"wall_sec":$wallSec%.1f,""" +
        f""""rows_per_sec":${nIn / wallSec}%.0f,""" +
        f""""state_rows_max":$maxStateRows,"state_rows_last":$lastStateRows,""" +
        f""""state_mb_max":$maxStateMb%.1f,"dedup_exact_ok":$ok}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
