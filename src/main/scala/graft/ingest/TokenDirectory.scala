package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Schemas
import scala.jdk.CollectionConverters._

/** Instrument-directory loading + enrichment (SURVEY §2.1 S3, §2.4 J1/J2).
  *
  * Mirrors the reference main.go:168-191: load tokens.json ONCE, validate
  * the exchange against the known map (unknown exchanges dropped — P6),
  * and expose a broadcastable dim for symbol enrichment. The dim is tens
  * of rows (33 in the reference config), so every join against it must be
  * a broadcast hash join — at 100 TB of ticks a shuffle here would be the
  * whole job's bottleneck. `load` collects it into a local relation, so a
  * stream that enriches every micro-batch broadcasts rows already in the
  * driver instead of re-scanning the file per batch.
  */
object TokenDirectory {

  /** Load + validate token config, collected once into a local relation.
    * Unknown exchanges are dropped (the reference logs and skips,
    * main.go:182-186); the dropped count is observable via the returned
    * DataFrame being smaller than the input. Edits to the file after
    * `load` are not seen: the reference also reads it once at start. */
  def load(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val exchanges = Schemas.ExchangeCodes.toSeq.toDF("exchange", "exchange_type")
    val dim = spark.read.schema(Schemas.tokenConfigSchema).json(path)
      .join(broadcast(exchanges), Seq("exchange"), "inner")
    spark.createDataFrame(dim.collect().toSeq.asJava, dim.schema)
  }

  /** Per-exchange token groups — the subscription request shape
    * (/root/reference/main.go:288-304). */
  def byExchange(dim: DataFrame): DataFrame =
    dim.groupBy("exchange_type")
      .agg(collect_list("token").as("tokens"))

  /** Enrich a tick stream/table with the symbol column via broadcast join
    * (left: unknown tokens keep flowing with null symbol). */
  def enrich(ticks: DataFrame, dim: DataFrame): DataFrame =
    ticks.drop("symbol")
      .join(broadcast(dim.select("token", "symbol")), Seq("token"), "left")
}
