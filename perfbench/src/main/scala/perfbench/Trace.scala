package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
}

/** In-memory spans around each call the benchmark makes into a layer's
  * public function: name, start, end, parent and round id. Written out as
  * JSON lines when the run ends. With tracing off nothing is recorded. */
final class Spans(enabled: Boolean) {
  private final case class Span(id: Int, parent: Int, name: String, round: Int, start: Long, end: Long)
  private val done = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 1
  private val t0 = System.nanoTime()

  def apply[T](name: String, round: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val start = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, round, start - t0, System.nanoTime() - t0)
        stack = stack.tail
      }
    }

  def write(file: java.io.File): Unit = if (enabled) {
    file.getParentFile.mkdirs()
    val out = new java.io.PrintWriter(file, "UTF-8")
    try done.sortBy(_.start).foreach { s =>
      out.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", "round": ${s.round}, "start_ns": ${s.start}, "end_ns": ${s.end}}""")
    } finally out.close()
  }
}

/** Task-level counters from Spark's own listener bus. The decode-error
  * accumulator is read in every run (the ingest checks need it); executor
  * CPU, GC, shuffle, spill and task counts only when tracing. */
final class TaskProbe(traced: Boolean) extends SparkListener {
  @volatile var decodeErrors = 0L
  private val sums = new Array[Long](6) // cpu ns, gc ms, shuffle write, shuffle read, spill bytes, tasks

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    e.taskInfo.accumulables.foreach { a =>
      if (a.name.contains("graft.decode.errors"))
        a.update.foreach(u => decodeErrors += u.toString.toLong)
    }
    val m = e.taskMetrics
    if (traced && m != null) sums.synchronized {
      sums(0) += m.executorCpuTime
      sums(1) += m.jvmGCTime
      sums(2) += m.shuffleWriteMetrics.bytesWritten
      sums(3) += m.shuffleReadMetrics.totalBytesRead
      sums(4) += m.memoryBytesSpilled + m.diskBytesSpilled
      sums(5) += 1
    }
  }

  /** Running totals: (cpu s, gc s, shuffle write MB, shuffle read MB, spill MB, tasks). */
  def totals(): Seq[Double] = sums.synchronized {
    Seq(sums(0) / 1e9, sums(1) / 1e3, sums(2) / 1e6, sums(3) / 1e6, sums(4) / 1e6, sums(5).toDouble)
  }
}

/** Per-action planning time (analysis + optimization + planning phases of
  * QueryPlanningTracker) and files read by the final plan's file scans. */
final class QueryProbe extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  @volatile var planningMs = 0.0
  @volatile var filesRead = 0L
  def reset(): Unit = { planningMs = 0.0; filesRead = 0L }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    planningMs += qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    filesRead += collect(qe.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Micro-batch progress of every stream, with its query id. */
final class StreamProbe extends StreamingQueryListener {
  import StreamingQueryListener._
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[(java.util.UUID, org.apache.spark.sql.streaming.StreamingQueryProgress)]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add((e.progress.id, e.progress))

  /** Progress of the data-carrying batches of the query with this id,
    * from batch `from` on. */
  def batches(id: java.util.UUID, from: Long = 0L): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    val out = mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()
    progress.forEach { case (q, p) => if (q == id && p.numInputRows > 0 && p.batchId >= from) out += p }
    out.toSeq
  }
  def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress, keys: String*): Double =
    keys.map(k => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum.toDouble
}

/** The instrumentation a run installs, outside-in, from the benchmark's
  * own files. */
final class Probes(spark: SparkSession, val traced: Boolean) {
  val tasks = new TaskProbe(traced)
  val queries = new QueryProbe
  val streams = new StreamProbe
  spark.sparkContext.addSparkListener(tasks)
  if (traced) {
    spark.listenerManager.register(queries)
    spark.streams.addListener(streams)
  }
  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
