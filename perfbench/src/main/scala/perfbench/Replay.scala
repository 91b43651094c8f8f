package perfbench

import graft.core.Codec
import graft.ingest.{TickDecoder, TokenDirectory}
import graft.ops.{TextAnalysis, TextDedup}
import graft.storage.TickTable
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Traced-run probes that split work a running stream does not let the
  * benchmark time from outside: one batch-sized slice replayed through
  * each ingest layer's public function, the codec in a single-thread
  * loop, and the native text expressions on ASCII and non-ASCII docs. */
final class Replay(spark: SparkSession, spans: Spans, reps: Int) {
  private def medianMs(name: String)(body: => Unit): Double =
    Stats.median((0 until reps).map { i =>
      val t = System.nanoTime()
      spans(name, i)(body)
      (System.nanoTime() - t) / 1e6
    })

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Single-thread `Codec.decode` over every frame, ns per frame. */
  def codecNsPerFrame(frames: Seq[Array[Byte]]): Double = {
    val arr = frames.toArray
    Stats.median((0 until reps).map { i =>
      val t = System.nanoTime()
      var ok = 0L
      spans("ingest.codec_decode", i) { arr.foreach(b => if (Codec.decode(b).isRight) ok += 1) }
      require(ok > 0)
      (System.nanoTime() - t).toDouble / arr.length
    })
  }

  /** (decode ms, enrich ms) on one slice, each forced with a noop write. */
  def decodeEnrich(slice: Seq[Array[Byte]], tokensJson: String): (Double, Double) = {
    val ds = spark.createDataset(slice)(Encoders.BINARY)
    val decodeMs = medianMs("ingest.decode")(noop(TickDecoder.decode(spark, ds).toDF()))
    val decoded = TickDecoder.decode(spark, ds).toDF().persist()
    decoded.count()
    val dim = TokenDirectory.load(spark, tokensJson)
    val enrichMs = medianMs("ingest.enrich")(noop(TokenDirectory.enrich(decoded, dim)))
    decoded.unpersist(blocking = true)
    (decodeMs, enrichMs)
  }

  /** `TickTable.appendBatch` of one decoded, enriched slice, ms. */
  def append(slice: Seq[Array[Byte]], tokensJson: String, sink: String): Double = {
    val ds = spark.createDataset(slice)(Encoders.BINARY)
    val enriched = TokenDirectory.enrich(TickDecoder.decode(spark, ds).toDF(),
      TokenDirectory.load(spark, tokensJson)).persist()
    enriched.count()
    var batch = 0L
    val ms = medianMs("storage.append")({ TickTable.appendBatch(enriched, sink, batch); batch += 1 })
    enriched.unpersist(blocking = true)
    ms
  }

  /** ns per document of the quality expressions and of normalized-text
    * exact dedup over `docs` (repeated to `rows` rows, cached first). */
  def textNsPerDoc(docs: Seq[Doc], rows: Int): (Double, Double) = {
    import spark.implicits._
    val base = docs.map(d => (d.id, d.text))
    val df = Iterator.continually(base).flatten.take(rows).toSeq.zipWithIndex
      .map { case ((_, t), i) => (i.toLong, t) }.toDF("doc_id", "text")
      .repartition(spark.sparkContext.defaultParallelism).persist()
    df.count()
    val q = medianMs("plans.quality") {
      TextAnalysis.withQuality(df).agg(sum("n_words"), sum("avg_word_len"), sum("stopword_ratio"),
        sum("punct_ratio"), sum("quality_score")).collect()
    }
    val n = medianMs("plans.normtext")(TextDedup.exactNormalizedOf(df).count())
    df.unpersist(blocking = true)
    (q * 1e6 / rows, n * 1e6 / rows)
  }
}
