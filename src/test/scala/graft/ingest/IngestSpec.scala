package graft.ingest

import graft.SparkSpec
import graft.core.{Codec, Schemas}
import graft.core.Schemas.TickFrame
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Streaming ingest end-to-end: MemoryStream of binary frames -> decode ->
  * enrichment -> micro-batch Parquet sink (FIXTURES.md §5 script 1). */
class IngestSpec extends SparkSpec {

  private def frame(token: String, seq: Long, tsMs: Long, ltpPaise: Long): Array[Byte] =
    Codec.encode(TickFrame(2, 1, token, seq, tsMs, ltpPaise,
      Some(10L), Some(ltpPaise), Some(100L), Some(1.0), Some(2.0),
      Some(ltpPaise), Some(ltpPaise + 100), Some(ltpPaise - 100), Some(ltpPaise)))

  private def writeTokensJson(): String = {
    val dir = Files.createTempDirectory("tokens").toFile
    val f = new java.io.File(dir, "tokens.json")
    val json =
      """{"symbol": "RELIANCE", "token": "2885", "exchange": "NSE_CM"}
        |{"symbol": "NIFTY", "token": "43607", "exchange": "NSE_FO"}
        |{"symbol": "BADEX", "token": "9999", "exchange": "NOPE_XX"}""".stripMargin
    Files.writeString(f.toPath, json)
    f.getAbsolutePath
  }

  test("token directory: unknown exchange dropped, groups per exchange") {
    val dim = TokenDirectory.load(spark, writeTokensJson())
    val rows = dim.collect()
    assert(rows.length === 2) // BADEX/NOPE_XX dropped (P6)
    assert(dim.filter(col("token") === "2885").select("exchange_type").head().getInt(0) === 1)
    val grouped = TokenDirectory.byExchange(dim).collect()
    assert(grouped.length === 2)
  }

  test("ingest pipeline: frames -> decode -> enrich -> parquet micro-batches") {
    import spark.implicits._
    val sink = Files.createTempDirectory("sink").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val dim = TokenDirectory.load(spark, writeTokensJson())

    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Array[Byte]]
    val t0 = 1704447000000L
    stream.addData(
      frame("2885", 1, t0, 286550L),
      frame("2885", 2, t0 + 1000, 286600L),
      frame("43607", 1, t0 + 2000, 12345L),
      frame("UNKNOWN", 1, t0 + 3000, 100L),     // not in dim: symbol null
      Array[Byte](1, 2, 3))                      // short frame: dropped

    val q = IngestStream.start(spark, stream.toDS(), dim, sink, ckpt,
      Trigger.ProcessingTime("1 second"))
    q.processAllAvailable()
    q.stop()

    val out = spark.read.parquet(sink)
    assert(out.count() === 4) // 5 frames, 1 invalid dropped
    assert(out.filter(col("token") === "2885" && col("symbol") === "RELIANCE").count() === 2)
    assert(out.filter(col("token") === "UNKNOWN").select("symbol").head().isNullAt(0))
    // paise scaling applied at decode
    assert(out.filter(col("sequence_number") === 1 && col("token") === "2885")
      .select("last_traded_price").head().getDouble(0) === 2865.50)

    // the reference's self-verification queries over the sink
    val latest = IngestStream.verifyLastInserted(spark, sink, "2885").collect()
    assert(latest.length === 1)
    assert(latest(0).getAs[Long]("sequence_number") === 2L)
    val stats = IngestStream.dailyStats(spark, sink, "2885").collect()
    assert(stats.length === 1)
    assert(stats(0).getAs[Long]("tick_count") === 2L)
  }

  test("a micro-batch broadcasts the directory loaded once: no tokens.json scan") {
    import spark.implicits._
    val sink = Files.createTempDirectory("sinkdim").toString
    val ckpt = Files.createTempDirectory("ckptdim").toString
    val dim = TokenDirectory.load(spark, writeTokensJson())
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[Array[Byte]]
    val t0 = 1704447000000L
    val q = IngestStream.start(spark, stream.toDS(), dim, sink, ckpt,
      Trigger.ProcessingTime("1 second"))
    // the executed plan of each micro-batch (the foreachBatch write sees
    // only the batch's already-planned rows)
    def batchPlan(frames: Array[Byte]*): String = {
      stream.addData(frames: _*)
      q.processAllAvailable()
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan.toString
    }
    val plans = try Seq(
      batchPlan(frame("2885", 1, t0, 286550L),
        frame("9999", 1, t0 + 1000, 100L)), // BADEX: its exchange is unknown
      batchPlan(frame("2885", 2, t0 + 2000, 286600L)))
    finally q.stop()
    plans.foreach { p =>
      assert(p.contains("BroadcastHashJoin") && p.contains("LocalTableScan"),
        s"enrichment must broadcast the local directory:\n$p")
      assert(!p.contains("FileScan") && !p.contains("tokens.json"),
        s"a micro-batch must not scan tokens.json:\n$p")
    }

    val out = spark.read.parquet(sink)
    assert(out.filter(col("token") === "2885" && col("symbol") === "RELIANCE").count() === 2)
    assert(out.filter(col("token") === "9999").select("symbol").head().isNullAt(0),
      "a token on an unknown exchange keeps flowing with a null symbol")
  }
}
