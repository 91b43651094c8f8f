package perfbench

import graft.Graft
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run of one workload: set up, then whole rounds until
  * `--seconds` have passed, then (traced runs only) the replay probes.
  * Writes one JSON result object to `--result`.
  *
  *  - tick_serve: the spool backlog is drained through
  *    `Graft.ingestFromSpool` with `Trigger.AvailableNow` into a fresh sink;
  *    then each round renames 1,000-frame segments, one at a time, into
  *    the spool of a running `ProcessingTime(0)` stream on that sink,
  *    waits for each commit, runs the eight tick queries and compacts the
  *    hot date;
  *  - corpus_curate: each round curates the corpus, runs the operator set
  *    cold and warm on a fresh directory, then refreshes that directory.
  *    Every round holds the same operations, so the share of failed
  *    operations is the same in every run. */
object Main {
  // input sizes (README "Inputs")
  val DrainSegments = 4
  val FramesPerSegment = 20000
  val DrainBatch = 40000
  /** Frames per segment (and per batch) of the set-up drain's two segments. */
  val WarmupFrames = 20000
  val ServeWarmupRounds = 3
  /** Segments appended per measured serve round (one per warm-up round). */
  val ServeAppends = 4
  /** Measured serve rounds a run holds even when `--seconds` pass sooner:
    * the figures are medians over rounds, and a run on a busy machine that
    * stopped after two would take them from its earliest, least warm rounds. */
  val ServeMinRounds = 3
  val Background = 200
  val RefreshBackground = 80
  val JsonFiles = 16
  val NonAsciiShare = 0.3

  /** Failures the benchmark keeps on purpose (README "Known faults"): the
    * refresh's stale threshold-tagged n-gram clusters, and every check of
    * the planted near family that the program's MinHash does not pair. */
  def knownFault(op: String, problem: String): Boolean =
    (op == "refresh.ngram_clusters_t50" && problem.startsWith("clusters:")) ||
      problem.startsWith("near_missed family")

  val Workloads: Seq[String] = Seq("tick_serve", "corpus_curate")

  /** Every end-to-end metric, printed by every untraced run. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "items_per_s" -> "1/s",
    "bytes_per_item" -> "B", "latency_ms_p50" -> "ms", "round_ms_p50" -> "ms")

  val opNames: Seq[String] = CorpusPhase.operators.map(_._1)
  /** Every per-layer metric, printed by every traced run; a layer the
    * workload does not load reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "stream.batches" -> "count", "stream.add_batch_ms_p50" -> "ms", "stream.planning_ms_p50" -> "ms",
    "stream.offsets_ms_p50" -> "ms", "stream.commit_ms_p50" -> "ms",
    "stream.drain_batches" -> "count", "stream.drain_add_batch_ms_p50" -> "ms",
    "ingest.codec_decode_ns_per_frame" -> "ns", "ingest.decode_ms_per_batch" -> "ms",
    "ingest.enrich_ms_per_batch" -> "ms", "ingest.decode_errors" -> "count",
    "storage.drain_append_ms_per_batch" -> "ms", "storage.drain_files_per_batch" -> "files",
    "storage.append_ms_per_batch" -> "ms", "storage.files_per_batch" -> "files",
    "storage.sink_files" -> "files", "storage.compact_ms" -> "ms") ++
    Seq("latest_tick", "daily_stats", "token_freshness", "latest_prices", "daily_ohlcv",
      "volume_profile", "asof_price", "token_stats").map(q => s"queries.${q}_ms" -> "ms") ++
    Seq("queries.files_read_per_round" -> "files", "queries.planning_ms_per_round" -> "ms") ++
    opNames.flatMap(o => Seq(s"ops.${o}_cold_s" -> "s", s"ops.${o}_warm_s" -> "s")) ++
    Seq("core.cache_build_s" -> "s", "core.refresh_s" -> "s",
      "plans.quality_ns_per_doc_ascii" -> "ns", "plans.quality_ns_per_doc_nonascii" -> "ns",
      "plans.normtext_ns_per_doc_ascii" -> "ns", "plans.normtext_ns_per_doc_nonascii" -> "ns",
      "spark.cpu_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_write_mb" -> "MB",
      "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.tasks" -> "count",
      "host.canary_s" -> "s",
      "ingest_ticks_per_s" -> "ticks/s", "sink_bytes_per_tick" -> "B/tick",
      "fresh_ms_p50" -> "ms", "query_round_ms_p50" -> "ms",
      "curate_docs_per_s" -> "docs/s", "analysis_cold_s" -> "s", "analysis_warm_s" -> "s")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt.getOrElse("workload", "")
    if (!Workloads.contains(workload)) die(s"unknown workload '$workload' (${Workloads.mkString(" | ")})")
    val seed = opt.get("seed").flatMap(_.toLongOption).getOrElse(die("--seed <n> required"))
    val seconds = opt.get("seconds").flatMap(_.toDoubleOption).getOrElse(die("--seconds <n> required"))
    val traced = opt.getOrElse("trace", "0") == "1"
    val t0Ms = opt.get("t0-ms").flatMap(_.toLongOption).getOrElse(System.currentTimeMillis())
    val work = new java.io.File(opt.getOrElse("work", die("--work <dir> required")))
    val result = new java.io.File(opt.getOrElse("result", die("--result <file> required")))
    try {
      val json = new Run(workload, seed, seconds, traced, t0Ms, work, opt.get("trace-dir").map(new java.io.File(_))).result()
      java.nio.file.Files.write(result.toPath, (json + "\n").getBytes("UTF-8"))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        CorpusPhase.deleteTree(work)
        System.exit(1)
    }
    CorpusPhase.deleteTree(work)
    System.exit(0)
  }

  private def die(msg: String): Nothing = { System.err.println(s"[perfbench] $msg"); System.exit(2); throw new Error }

  /** A fixed single-thread CPU loop: how fast this box is right now. */
  def canaryS(): Double = {
    val t = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 300000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42) println()
    (System.nanoTime() - t) / 1e9
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }

  def render(m: Seq[(String, (Double, String))]): String =
    m.map { case (k, (v, u)) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s""""$k": {"value": $v, "unit": "$u"}"""
    }.mkString("{", ", ", "}")

  def med(xs: Iterable[Double]): Double = Stats.median(xs.toSeq)
}

final class Run(workload: String, seed: Long, seconds: Double, traced: Boolean, t0Ms: Long,
                work: java.io.File, traceDir: Option[java.io.File]) {
  import Main._

  CorpusPhase.deleteTree(work)
  work.mkdirs()
  private val canary = if (traced) canaryS() else 0.0
  private val spark: SparkSession = Graft.session(Runtime.getRuntime.availableProcessors())
  spark.sparkContext.setLogLevel("WARN")
  private val probes = new Probes(spark, traced)
  private val ops = new Ops(knownFault)
  /** Set-up and warm-up calls are checked too, but not counted. */
  private val setupOps = new Ops(knownFault)
  private val spans = new Spans(traced)
  private val quiet = new Spans(false)
  private val e2e = mutable.Map[String, Double]()
  private val layer = mutable.Map[String, Double]()
  private val taskTotals = mutable.ArrayBuffer[Seq[Double]]()

  private def note(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - t0Ms) / 1e3}%.1f s: $msg")

  /** Set-up ends here: process start to the first timed call. */
  private def setupDone(): Unit = {
    if (!setupOps.correct) throw new IllegalStateException("set-up calls returned wrong results")
    e2e("setup_s") = (System.currentTimeMillis() - t0Ms) / 1e3
    note(f"set-up done (${e2e("setup_s")}%.2f s)")
  }

  /** Whole rounds until `seconds` have passed since `start` and at least
    * `min` rounds have run; Spark task totals per round. */
  private def rounds(start: Long, min: Int = 1)(body: Int => Unit): Int = {
    var r = 0
    do {
      probes.drain()
      val before = probes.tasks.totals()
      body(r)
      probes.drain()
      taskTotals += probes.tasks.totals().zip(before).map { case (a, b) => a - b }
      r += 1
    } while ((System.nanoTime() - start) / 1e9 < seconds || r < min)
    r
  }

  /** Per-batch figures of the workload's round streams; `rounds` rounds
    * ran from batch `from` on. */
  private def streamLayer(ids: Iterable[java.util.UUID], rounds: Int, from: Long = 0L): Unit = {
    probes.drain()
    val s = probes.streams
    val ps = ids.toSeq.flatMap(id => s.batches(id, from))
    layer("stream.batches") = ps.size.toDouble / rounds
    layer("stream.add_batch_ms_p50") = med(ps.map(p => s.ms(p, "addBatch")))
    layer("stream.planning_ms_p50") = med(ps.map(p => s.ms(p, "queryPlanning")))
    layer("stream.offsets_ms_p50") = med(ps.map(p => s.ms(p, "latestOffset")))
    layer("stream.commit_ms_p50") = med(ps.map(p => s.ms(p, "walCommit", "commitOffsets")))
  }

  private def tickServe(): Int = {
    val in = new TickInputs(seed, DrainSegments, FramesPerSegment, new java.io.File(work, "inputs"))
    in.write()
    // warm-up: a drain of a small backlog in its own directories
    val warm = new TickInputs(seed + 1, 2, WarmupFrames, new java.io.File(work, "warmup"))
    warm.write()
    new TickPhases(spark, warm, probes).drain(new java.io.File(work, "warmup/ticks").getAbsolutePath,
      new java.io.File(work, "warmup/ckpt").getAbsolutePath, WarmupFrames, setupOps, quiet, -1)
    setupDone()

    // measured: the backlog drain, then serve rounds over the drained table;
    // the stream's first rounds are not counted (its first batches plan and
    // compile what later batches reuse)
    val dir = new java.io.File(work, "serve")
    val sink = new java.io.File(dir, "ticks").getAbsolutePath
    val tick = new TickPhases(spark, in, probes)
    val drained = tick.drain(sink, new java.io.File(dir, "ckpt-drain").getAbsolutePath, DrainBatch, ops, spans, 0)
    val serve = new tick.Serve(sink, dir)
    val outs = mutable.ArrayBuffer[tick.ServeOut]()
    val n = try {
      (0 until ServeWarmupRounds).foreach(i => serve.round(i, 1, setupOps, quiet))
      if (!setupOps.correct) throw new IllegalStateException("serve warm-up rounds returned wrong results")
      rounds(System.nanoTime(), ServeMinRounds) { r =>
        outs += serve.round(ServeWarmupRounds + r, ServeAppends, ops, spans)
        note(f"round $r: fresh ${outs.last.freshMs.map(_.round).mkString(" ")} ms, queries ${outs.last.queryMs}%.0f ms, " +
          f"compact ${ops.samples("storage.compact").last}%.0f ms")
      }
    } finally serve.stop()
    e2e("items_per_s") = in.drainValid / drained.seconds
    e2e("bytes_per_item") = drained.sinkBytes.toDouble / in.drainValid
    e2e("latency_ms_p50") = med(outs.flatMap(_.freshMs))
    e2e("round_ms_p50") = med(outs.map(_.queryMs))
    if (traced) {
      probes.drain()
      val batches = math.ceil(in.drainFrames.toDouble / DrainBatch)
      val drainBatches = probes.streams.batches(drained.queryId)
      layer("stream.drain_batches") = drainBatches.size.toDouble
      layer("stream.drain_add_batch_ms_p50") = med(drainBatches.map(p => probes.streams.ms(p, "addBatch")))
      streamLayer(Seq(serve.query.id), outs.size, from = ServeWarmupRounds)
      val replay = new Replay(spark, spans, 3)
      val tokens = in.tokensJson.getAbsolutePath
      layer("ingest.codec_decode_ns_per_frame") = replay.codecNsPerFrame(in.drain.flatten.map(_.bytes))
      val drainSlice = in.drain.flatten.take(DrainBatch).map(_.bytes)
      val (dec, enr) = replay.decodeEnrich(drainSlice, tokens)
      layer("ingest.decode_ms_per_batch") = dec
      layer("ingest.enrich_ms_per_batch") = enr
      layer("ingest.decode_errors") = drained.errors.toDouble
      layer("storage.drain_append_ms_per_batch") =
        replay.append(drainSlice, tokens, new java.io.File(work, "replay-drain").getAbsolutePath)
      layer("storage.append_ms_per_batch") =
        replay.append(in.serve(0).map(_.bytes), tokens, new java.io.File(work, "replay-serve").getAbsolutePath)
      layer("storage.drain_files_per_batch") = drained.files / batches
      layer("storage.files_per_batch") = med(outs.map(_.filesAdded.toDouble / ServeAppends))
      layer("storage.sink_files") = TickPhases.parquetFiles(sink).size.toDouble
      if (ops.samples("storage.compact").nonEmpty) layer("storage.compact_ms") = med(ops.samples("storage.compact"))
      for (q <- Seq("latest_tick", "daily_stats", "token_freshness", "latest_prices", "daily_ohlcv",
                    "volume_profile", "asof_price", "token_stats"))
        layer(s"queries.${q}_ms") = med(ops.samples(s"queries.$q"))
      layer("queries.files_read_per_round") = med(outs.map(_.filesRead))
      layer("queries.planning_ms_per_round") = med(outs.map(_.planningMs))
      layer("ingest_ticks_per_s") = e2e("items_per_s")
      layer("sink_bytes_per_tick") = e2e("bytes_per_item")
      layer("fresh_ms_p50") = e2e("latency_ms_p50")
      layer("query_round_ms_p50") = e2e("round_ms_p50")
    }
    n
  }

  private def corpusCurate(): Int = {
    val inputs = new java.io.File(work, "inputs")
    val a = new CorpusInputs(CorpusGen.generate(seed, Background, NonAsciiShare, 0L), new java.io.File(inputs, "a"), JsonFiles)
    a.writeJsonl()
    // the refresh corpus does not depend on the seed: its planted
    // families sit on doc ids no seeded corpus uses
    val b = new CorpusInputs(CorpusGen.generate(1L, RefreshBackground, NonAsciiShare, 1000000L), new java.io.File(inputs, "b"), JsonFiles)
    a.writeParquet(spark)
    b.writeParquet(spark)
    // warm-up: one curation of a small corpus (the operator set is not
    // warmed: a run cannot afford a second full pass, README "Set-up")
    val warm = new CorpusInputs(CorpusGen.generate(seed + 1, 30, NonAsciiShare, 0L), new java.io.File(work, "warmup"), 2)
    warm.writeJsonl()
    new CorpusPhase(spark, warm, warm, setupOps, quiet)
      .round(new java.io.File(work, "warmup/round"), -1, curateOnly = true)
    endRound(new java.io.File(work, "warmup/round"))
    setupDone()
    val corpus = new CorpusPhase(spark, a, b, ops, spans)
    val outs = mutable.ArrayBuffer[corpus.RoundOut]()
    val n = rounds(System.nanoTime()) { r =>
      val dir = new java.io.File(work, s"round-$r")
      outs += corpus.round(dir, r)
      endRound(dir)
      val o = outs.last
      note(f"round $r: curate ${o.curateS}%.2f cold ${o.coldS}%.2f warm ${o.warmS}%.2f refresh ${o.refreshS}%.2f " +
        opNames.map(k => f"$k ${ops.samples(s"ops.${k}_cold").last / 1e3}%.2f").mkString(" "))
    }
    val docs = a.corpus.docs.size
    e2e("items_per_s") = med(outs.map(docs / _.curateS))
    e2e("bytes_per_item") = med(outs.map(o => o.curatedBytes.toDouble / o.curatedDocs))
    e2e("latency_ms_p50") = med(outs.map(_.curateS * 1e3))
    e2e("round_ms_p50") = med(outs.map(o => (o.coldS + o.warmS) * 1e3))
    if (traced) {
      streamLayer(outs.map(_.curateQueryId), outs.size)
      for (o <- opNames; pass <- Seq("cold", "warm"))
        layer(s"ops.${o}_${pass}_s") = med(ops.samples(s"ops.${o}_$pass")) / 1e3
      layer("core.cache_build_s") = CorpusPhase.cached.map { c =>
        med(ops.samples(s"ops.${c}_cold")) - med(ops.samples(s"ops.${c}_warm"))
      }.sum / 1e3
      layer("core.refresh_s") = med(outs.map(_.refreshS))
      val replay = new Replay(spark, spans, 3)
      val probe = CorpusGen.generate(seed + 2, 600, 0.5, 0L).docs.filter(!_.failer)
      val (asciiDocs, otherDocs) = probe.partition(_.text.forall(_ < 128))
      val (qa, na) = replay.textNsPerDoc(asciiDocs, 10000)
      val (qn, nn) = replay.textNsPerDoc(otherDocs, 10000)
      layer("plans.quality_ns_per_doc_ascii") = qa
      layer("plans.quality_ns_per_doc_nonascii") = qn
      layer("plans.normtext_ns_per_doc_ascii") = na
      layer("plans.normtext_ns_per_doc_nonascii") = nn
      layer("curate_docs_per_s") = e2e("items_per_s")
      layer("analysis_cold_s") = med(outs.map(_.coldS))
      layer("analysis_warm_s") = med(outs.map(_.warmS))
    }
    n
  }

  private def endRound(dir: java.io.File): Unit = {
    graft.ops.TextDedup.invalidate(spark, new java.io.File(dir, "corpus").getAbsolutePath)
    graft.core.SessionCache.clear(spark)
    CorpusPhase.deleteTree(dir)
  }

  def result(): String = {
    note("session ready")
    val n = workload match {
      case "tick_serve" => tickServe()
      case "corpus_curate" => corpusCurate()
    }
    e2e("peak_rss_mb") = peakRssMb()
    note(s"$n round(s), ${ops.attempted} operations, ${ops.failed} failed; " +
      EndToEnd.map { case (k, u) => f"$k ${e2e(k)}%.4g $u" }.mkString(", "))
    val metrics =
      if (!traced) EndToEnd.map { case (k, u) => k -> (e2e(k), u) }
      else {
        Seq("spark.cpu_s", "spark.gc_s", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
          "spark.spill_mb", "spark.tasks").zipWithIndex.foreach { case (k, i) => layer(k) = med(taskTotals.map(_(i))) }
        layer("host.canary_s") = canary
        val unknown = layer.keySet -- PerLayer.map(_._1)
        require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
        traceDir.foreach { d =>
          spans.write(new java.io.File(d, s"spans-$workload-seed$seed.jsonl"))
          java.nio.file.Files.write(new java.io.File(d, s"e2e-$workload-seed$seed.json").toPath,
            (render(EndToEnd.map { case (k, u) => k -> (e2e(k), u) }) + "\n").getBytes("UTF-8"))
        }
        PerLayer.map { case (k, u) => k -> (layer.getOrElse(k, 0.0), u) }
      }
    spark.stop()
    s"""{"correct": ${ops.correct}, "attempted": ${ops.attempted}, "failed": ${ops.failed}, "metrics": ${render(metrics)}}"""
  }
}
