package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.queries.TickQueries
import graft.storage.TickTable

/** Streaming ingest pipeline (SURVEY §3.1): frames -> decode -> broadcast
  * enrichment -> 5 s micro-batch Parquet append with checkpointing.
  *
  * Implements the reference's *documented* batch semantics
  * (/root/reference/README.md:116-117: 1000-row batches, 5 s flush) with
  * Structured Streaming — Trigger.ProcessingTime("5 seconds") +
  * foreachBatch append. Delivery upgrades from the reference's
  * drop-on-full at-most-once (/root/reference/main.go:325-330) to
  * effectively exactly-once: the sink write is IDEMPOTENT per micro-batch
  * (each batch dynamically overwrites its own (trade_date, batch_id)
  * partitions, so a batch replayed after a crash-between-write-and-commit
  * replaces itself instead of duplicating), and the (token,
  * sequence_number) dedup in Bars covers source-side redelivery.
  *
  * A micro-batch is one narrow stage: source slice -> decode -> enrich
  * -> sort -> write, with no shuffle. The token directory is loaded once
  * per stream, as the reference loads it once at start, so each batch
  * broadcasts a local relation and never re-reads tokens.json; a large
  * batch gets its parallelism from the source's frame slices.
  *
  * Scale: the sink is date-partitioned and sorted within partitions by
  * event time, approximating the reference's MergeTree ORDER BY timestamp
  * (/root/reference/db/clickhouse.go:26-27) — time-range queries prune
  * partitions, then row groups via min/max stats.
  */
object IngestStream {

  /** Wire the pipeline: returns the started query. `frames` is any
    * streaming Dataset of raw frames (MemoryStream in tests; a Kafka or
    * file source in production — the reconnect/backoff logic of the
    * reference's WS client is subsumed by source retry + checkpoint).
    * `tokenDim` is joined into every micro-batch: pass
    * `TokenDirectory.load`'s local relation, not a file-backed frame,
    * or each batch re-scans the directory's files. */
  def start(
      spark: SparkSession,
      frames: Dataset[Array[Byte]],
      tokenDim: DataFrame,
      sinkDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery = {
    val ticks = TickDecoder.decode(spark, frames)
    val enriched = TokenDirectory.enrich(ticks.toDF(), tokenDim)
    enriched.writeStream
      .queryName("graft-ingest")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        TickTable.appendBatch(batch, sinkDir, batchId)
      }
      .start()
  }

  /** K4 debug sink: decoded ticks to the console (the reference's
    * per-tick log line, /root/reference/main.go:158-162). */
  def startConsole(
      spark: SparkSession,
      frames: Dataset[Array[Byte]],
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    TickDecoder.decode(spark, frames).toDF()
      .writeStream
      .queryName("graft-ingest-console")
      .format("console")
      .option("truncate", "false")
      .trigger(trigger)
      .start()

  /** The reference's periodic self-verification queries
    * (/root/reference/db/clickhouse.go:122-187), re-expressed over the
    * sink table: latest row + daily stats for a token. */
  def verifyLastInserted(spark: SparkSession, sinkDir: String, token: String): DataFrame =
    TickQueries.latestTick(TickTable.read(spark, sinkDir), token)

  def dailyStats(spark: SparkSession, sinkDir: String, token: String): DataFrame =
    TickQueries.dailyStats(TickTable.read(spark, sinkDir), token)
}
