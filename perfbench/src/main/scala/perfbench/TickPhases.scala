package perfbench

import graft.Graft
import graft.queries.TickQueries
import graft.storage.TickTable
import org.apache.spark.sql.{Row, SparkSession, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.collection.mutable

/** Tick inputs of one run: a drain backlog over several trading days, and
  * serve segments on the following (hot) day, generated in order on first
  * use so a run may take as many serve rounds as its time allows. */
final class TickInputs(seed: Long, drainSegments: Int, framesPerSegment: Int, dir: java.io.File) {
  val gen = new TickGen(seed)
  /** Trading days the backlog spans: one segment per day. */
  val Days: Int = drainSegments
  val drain: IndexedSeq[IndexedSeq[Frame]] = (0 until drainSegments).map { s =>
    gen.frames(framesPerSegment, gen.firstDay + s, 0L, gen.SessionMs, quoteShare = 0.7)
  }
  val hotDay: Long = gen.firstDay + Days
  private val served = mutable.ArrayBuffer[IndexedSeq[Frame]]()
  /** Serve segment `i`: 1,000 frames over minute `i` of the hot day. */
  def serve(i: Int): IndexedSeq[Frame] = {
    while (served.size <= i) {
      val r = served.size
      served += gen.frames(1000, hotDay, r * 60000L, (r + 1) * 60000L, quoteShare = 0.7)
    }
    served(i)
  }
  val spool = new java.io.File(dir, "spool")
  val tokensJson = new java.io.File(dir, "tokens.json")

  def write(): Unit = {
    spool.mkdirs()
    drain.zipWithIndex.foreach { case (fs, i) => TickGen.writeSegment(new java.io.File(spool, f"seg-$i%04d.bin"), fs) }
    java.nio.file.Files.write(tokensJson.toPath, gen.tokensJson.getBytes("UTF-8"))
  }

  def day(d: Long): String = java.time.LocalDate.ofEpochDay(d).toString
  /** Query parameters, pinned: as-of in the middle of the second drain day,
    * volume-profile window opening at noon IST of the first day. */
  val watch: String = gen.tokens(3)
  val watchSet: Seq[String] = Seq(gen.tokens(0), gen.tokens(3), gen.tokens(5), gen.tokens(8), gen.unknownToken).sorted
  val asOf = s"${day(gen.firstDay + 1)} 06:30:00"
  val asOfMs: Long = (gen.firstDay + 1) * gen.DayMs + (6 * 60 + 30) * 60000L
  val profileAsOf = s"${day(gen.firstDay + 7)} 06:30:00"
  val profileFromMs: Long = gen.firstDay * gen.DayMs + (6 * 60 + 30) * 60000L

  def newModel(): TickModel = {
    val m = new TickModel(gen, watch, watchSet, profileFromMs, asOfMs)
    drain.foreach(_.foreach(m.add))
    m
  }
  def drainFrames: Long = drain.map(_.size.toLong).sum
  def drainBad: Long = drain.map(_.count(_.bad).toLong).sum
  def drainValid: Long = drainFrames - drainBad
}

/** The tick workloads' timed calls and their checks: a backlog drain into
  * a fresh sink, and closed-loop serve rounds on one running stream. */
final class TickPhases(spark: SparkSession, in: TickInputs, probes: Probes) {
  import TickPhases._

  final class DrainOut {
    var seconds = 0.0; var sinkBytes = 0L; var files = 0
    var queryId: java.util.UUID = _; var errors = 0L
  }

  /** The spool backlog through `Trigger.AvailableNow` into `sink`. */
  def drain(sink: String, checkpoint: String, batch: Int, ops: Ops, spans: Spans, r: Int): DrainOut = {
    val out = new DrainOut
    val err0 = errors()
    ops.run("ingest.drain", spans, r) {
      val t = System.nanoTime()
      val q = Graft.ingestFromSpool(spark, in.spool.getAbsolutePath, in.tokensJson.getAbsolutePath,
        sink, checkpoint, Trigger.AvailableNow(), maxFramesPerBatch = batch)
      q.awaitTermination()
      out.seconds = (System.nanoTime() - t) / 1e9
      out.queryId = q.id
    } { _ =>
      probes.drain()
      out.errors = errors() - err0
      Check.eq("decode errors", out.errors, in.drainBad) ++ checkSink(sink, in.newModel())
    }
    val files = parquetFiles(sink)
    out.sinkBytes = files.map(_.length).sum
    out.files = files.size
    out
  }

  final class ServeOut {
    val freshMs = mutable.ArrayBuffer[Double](); var queryMs = 0.0; var filesAdded = 0
    var filesRead = 0.0; var planningMs = 0.0
  }

  /** Closed-loop serve rounds against one `ProcessingTime(0)` stream that
    * appends to `sink` (which already holds the drained backlog). A round
    * appends `appends` segments one after another, then runs the query
    * round, and ends by compacting the hot date, so every round's queries
    * see the same table shape. */
  final class Serve(sink: String, dir: java.io.File) {
    private val model = in.newModel()
    private val spool = new java.io.File(dir, "spool-serve")
    private val staging = new java.io.File(dir, "staging")
    spool.mkdirs(); staging.mkdirs()
    private val hotDate = in.day(in.hotDay)
    private var hotRows = 0L
    /** Serve segments appended so far. */
    private var segments = 0
    val query: StreamingQuery = Graft.ingestFromSpool(spark, spool.getAbsolutePath,
      in.tokensJson.getAbsolutePath, sink, new java.io.File(dir, "ckpt-serve").getAbsolutePath,
      Trigger.ProcessingTime(0L), maxFramesPerBatch = 1000)

    /** One segment renamed into the spool; its freshness in ms. */
    private def append(i: Int, ops: Ops, spans: Spans): Double = {
      val frames = in.serve(segments)
      val name = f"seg-$segments%05d.bin"
      segments += 1
      val staged = new java.io.File(staging, name)
      TickGen.writeSegment(staged, frames)
      val target = new java.io.File(spool, name)
      val e0 = errors()
      val ms = ops.run("ingest.serve", spans, i) {
        val t = System.nanoTime()
        java.nio.file.Files.move(staged.toPath, target.toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        // processAllAvailable can return on a trigger that listed the
        // spool just before the rename; wait until the segment is committed
        val key = java.net.URLEncoder.encode(target.getAbsolutePath, "UTF-8") + "=" + frames.size
        query.processAllAvailable()
        while (!Option(query.lastProgress).exists(_.sources.exists(s => Option(s.endOffset).exists(_.contains(key)))))
          query.processAllAvailable()
        (System.nanoTime() - t) / 1e6
      } { _ =>
        probes.drain()
        Check.eq("decode errors", errors() - e0, frames.count(_.bad).toLong)
      }
      frames.foreach(model.add)
      hotRows += frames.count(!_.bad)
      ms
    }

    def round(i: Int, appends: Int, ops: Ops, spans: Spans): ServeOut = {
      val out = new ServeOut
      val before = parquetFiles(sink).size
      (0 until appends).foreach(_ => out.freshMs += append(i, ops, spans))
      out.filesAdded = parquetFiles(sink).size - before
      if (probes.traced) { probes.drain(); probes.queries.reset() }
      val t = System.nanoTime()
      queryRound(sink, model, ops, spans, i)
      out.queryMs = (System.nanoTime() - t) / 1e6
      if (probes.traced) {
        probes.drain()
        out.filesRead = probes.queries.filesRead.toDouble
        out.planningMs = probes.queries.planningMs
      }
      ops.run("storage.compact", spans, i)(TickTable.compactPartition(spark, sink, hotDate)) { _ =>
        val n = spark.read.parquet(sink).filter(col("trade_date") === hotDate).count()
        Check.eq("rows on the hot date after compaction", n, hotRows)
      }
      out
    }

    def stop(): Unit = query.stop()
  }

  private def errors(): Long = probes.tasks.decodeErrors

  /** Everything the drain committed, against the generator's tallies. */
  private def checkSink(sink: String, m: TickModel): Seq[String] = {
    val t = spark.read.parquet(sink)
    val rows = t.groupBy("token").agg(
      count(lit(1)), sum(functions.round(col("last_traded_price") * 100).cast("long")),
      min("last_traded_price"), max("last_traded_price"),
      sort_array(collect_set("symbol")), count("symbol")).collect()
    val dups = t.groupBy("token", "sequence_number").count().filter(col("count") > 1).count()
    val got = rows.map(r => r.getString(0) -> r).toMap
    val problems = mutable.ArrayBuffer[String]()
    problems ++= Check.eq("rows committed", rows.map(_.getLong(1)).sum, m.valid)
    problems ++= Check.eq("duplicate (token, sequence_number)", dups, 0L)
    problems ++= Check.eq("tokens", got.keySet, m.byToken.keySet.toSet)
    m.byToken.foreach { case (tok, a) => got.get(tok).foreach { r =>
      val sym = in.gen.symbolOf(tok)
      problems ++= Check.eq(s"$tok count", r.getLong(1), a.n)
      problems ++= Check.eq(s"$tok paise sum", r.getLong(2), a.sumPaise)
      problems ++= Check.eq(s"$tok min", r.getDouble(3), a.minP / 100.0)
      problems ++= Check.eq(s"$tok max", r.getDouble(4), a.maxP / 100.0)
      problems ++= Check.eq(s"$tok symbols", r.getSeq[String](5).toList, sym.toList)
      problems ++= Check.eq(s"$tok symbol rows", r.getLong(6), if (sym.isDefined) a.n else 0L)
    }}
    problems.toSeq
  }

  /** The eight-query round, each result collected and checked. */
  private def queryRound(sink: String, m: TickModel, ops: Ops, spans: Spans, i: Int): Unit = {
    val ticks = Graft.ticks(spark, sink)
    def q(name: String)(df: => org.apache.spark.sql.DataFrame)(check: Array[Row] => Seq[String]): Unit =
      ops.run(name, spans, i)(df.collect())(check)
    val w = m.byToken(m.watch)
    q("queries.latest_tick")(TickQueries.latestTick(ticks, m.watch)) { rs =>
      Check.eq("rows", rs.length, 1) ++ rs.headOption.toSeq.flatMap { r =>
        Check.eq("seq", r.getAs[Long]("sequence_number"), w.lastKey._2) ++
          Check.eq("ts", ts(r, "exchange_timestamp"), w.lastKey._1) ++
          Check.eq("ltp", r.getAs[Double]("last_traded_price"), w.lastPaise / 100.0) ++
          Check.eq("symbol", Option(r.getAs[String]("symbol")), in.gen.symbolOf(m.watch))
      }
    }
    val watchDays = m.days.toSeq.filter(_._1._1 == m.watch).map(kv => kv._1._2 -> kv._2).sortBy(-_._1)
    q("queries.daily_stats")(TickQueries.dailyStats(ticks, m.watch)) { rs =>
      Check.eq("days", rs.map(r => date(r, "trade_date")).toSeq, watchDays.map(_._1)) ++
        rs.zip(watchDays).flatMap { case (r, (_, d)) =>
          Check.eq("low", r.getAs[Double]("low_price"), d.lowOrLtp / 100.0) ++
            Check.eq("high", r.getAs[Double]("high_price"), d.highOrLtp / 100.0) ++
            Check.eq("volume", optL(r, "total_volume"), if (d.volN > 0) Some(d.vol) else None) ++
            Check.eq("count", r.getAs[Long]("tick_count"), d.n)
        }
    }
    val present = m.watchSet.filter(m.byToken.contains)
    q("queries.token_freshness")(TickQueries.tokenFreshness(ticks, m.watchSet)) { rs =>
      Check.eq("rows", rs.map(r => (r.getString(0), ts(r, "last_ts"), r.getAs[Long]("tick_count"))).toSeq,
        present.map(t => (t, m.byToken(t).lastTs, m.byToken(t).n)))
    }
    q("queries.latest_prices")(TickQueries.latestPrices(ticks, m.watchSet, 10)) { rs =>
      Check.eq("rows", rs.map(r => (r.getString(0), Option(r.getString(1)), ts(r, "exchange_timestamp"),
          r.getAs[Double]("last_traded_price"), optL(r, "volume"))).toSeq,
        m.latest.values.toSeq.reverse.map(f => (f.token, in.gen.symbolOf(f.token), f.tsMs, f.ltpPaise / 100.0, f.volume)))
    }
    q("queries.daily_ohlcv")(TickQueries.dailyOhlcv(ticks, m.watch)) { rs =>
      Check.eq("rows", rs.map(r => (date(r, "trade_date"), r.getAs[Double]("open_price"), optD(r, "high_price"),
          optD(r, "low_price"), r.getAs[Double]("close_price"), optL(r, "total_volume"), r.getAs[Long]("tick_count"))).toSeq,
        watchDays.map { case (day, d) => (day, d.open / 100.0, d.maxHigh.map(_ / 100.0), d.minLow.map(_ / 100.0),
          d.close / 100.0, if (d.volN > 0) Some(d.vol) else None, d.n) })
    }
    q("queries.volume_profile")(TickQueries.volumeProfile(ticks, m.watch, in.profileAsOf, 7)) { rs =>
      Check.eq("rows", rs.map(r => (math.round(r.getAs[Double]("price_level") * 100), r.getAs[Long]("tick_count"),
          optL(r, "total_volume"))).toSeq,
        m.profile.toSeq.sortBy(-_._1).map { case (p, (c, v, vn)) => (p, c, if (vn > 0) Some(v) else None) })
    }
    q("queries.asof_price")(TickQueries.asofPrice(ticks, m.watchSet, in.asOf)) { rs =>
      Check.eq("rows", rs.map(r => (r.getString(0), r.getAs[Double]("asof_price"), ts(r, "asof_ts"))).toSeq,
        m.watchSet.filter(m.asof.contains).map(t => (t, m.asof(t)._2 / 100.0, m.asof(t)._1._1)))
    }
    q("queries.token_stats")(TickQueries.tokenStats(ticks)) { rs =>
      val tokens = m.byToken.keys.toSeq.sorted
      Check.eq("tokens", rs.map(_.getString(0)).toSeq, tokens) ++ rs.zip(tokens).flatMap { case (r, t) =>
        val a = m.byToken(t)
        Check.eq(s"$t min", r.getAs[Double]("min_price"), a.minP / 100.0) ++
          Check.eq(s"$t max", r.getAs[Double]("max_price"), a.maxP / 100.0) ++
          Check.near(s"$t avg", r.getAs[Double]("avg_price"), a.sumPaise / 100.0 / a.n, 1e-9) ++
          Check.eq(s"$t volume", optL(r, "total_volume"), if (a.volN > 0) Some(a.vol) else None) ++
          Check.eq(s"$t count", r.getAs[Long]("tick_count"), a.n) ++
          Check.eq(s"$t last", ts(r, "last_update"), a.lastTs)
      }
    }
  }
}

object TickPhases {
  def parquetFiles(dir: String): Seq[java.io.File] = {
    val out = mutable.ArrayBuffer[java.io.File]()
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.getName.endsWith(".parquet") && !f.getName.startsWith(".")) out += f
    walk(new java.io.File(dir))
    out.toSeq
  }
  def ts(r: Row, c: String): Long = r.getAs[java.sql.Timestamp](c).getTime
  def date(r: Row, c: String): Long = r.getAs[java.sql.Date](c).toLocalDate.toEpochDay
  def optL(r: Row, c: String): Option[Long] = Option(r.getAs[Any](c)).map(_.asInstanceOf[Long])
  def optD(r: Row, c: String): Option[Double] = Option(r.getAs[Any](c)).map(_.asInstanceOf[Double])
}
