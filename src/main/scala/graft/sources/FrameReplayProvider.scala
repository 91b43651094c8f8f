package graft.sources

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.util
import scala.jdk.CollectionConverters._

/** DataSourceV2 micro-batch streaming source: replays spooled binary tick
  * frames (SURVEY §2.1 S1 — the engine-native stand-in for the reference's
  * WebSocket client, /root/reference/ws/client.go:90-112).
  *
  * Frames are length-prefixed records in `.bin` spool files under `path`
  * (written by FrameSpool.write). Offsets are per-segment consumed counts
  * (see FrameOffset) — restart from checkpoint resumes mid-file, and new
  * segments may appear ANYWHERE in sort order without remapping committed
  * progress. `maxFramesPerBatch` is the backpressure knob (reference
  * BUFFER_SIZE analog): a backlog drains across triggers instead of being
  * dropped.
  *
  * Usage:
  *   spark.readStream.format("graft.sources.FrameReplayProvider")
  *     .option("path", spoolDir).option("maxFramesPerBatch", "1000").load()
  */
class FrameReplayProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FrameReplayProvider.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val maxPerBatch =
      Option(properties.get("maxFramesPerBatch")).map(_.toInt).getOrElse(1000)
    val source = Option(properties.get("source")).getOrElse("spool") match {
      case "spool" =>
        val path = properties.get("path")
        require(path != null, "option 'path' is required for source=spool")
        new SpoolFrameSource(path)
      case "memory" =>
        val channel = properties.get("channel")
        require(channel != null, "option 'channel' is required for source=memory")
        new LiveFrameSource(channel)
      case "websocket" =>
        val url = properties.get("url")
        require(url != null, "option 'url' is required for source=websocket")
        val channel = Option(properties.get("channel")).getOrElse(url)
        val headers = properties.asScala.collect {
          case (k, v) if k.toLowerCase(java.util.Locale.ROOT).startsWith("header.") =>
            k.substring("header.".length) -> v
        }.toMap
        val subscribe = Option(properties.get("subscribe"))
        val heartbeat =
          Option(properties.get("heartbeatMillis")).map(_.toLong).getOrElse(10000L)
        val backoff = WsBackoff(
          initialMillis = Option(properties.get("backoffInitialMillis"))
            .map(_.toLong).getOrElse(1000L),
          maxMillis = Option(properties.get("backoffMaxMillis"))
            .map(_.toLong).getOrElse(30000L))
        // spoolDir set -> frames land on (shared) storage and executors
        // read files: the multi-executor live path. Absent -> in-process
        // feed, the local[*] path.
        Option(properties.get("spoolDir")) match {
          case Some(spool) => new WebSocketSpoolSource(
            url, channel, spool, headers, subscribe, heartbeat, backoff)
          case None => new WebSocketFrameSource(
            url, channel, headers, subscribe, heartbeat, backoff)
        }
      case other =>
        throw new IllegalArgumentException(
          s"unknown source '$other' (spool|memory|websocket)")
    }
    new FrameReplayTable(source, maxPerBatch)
  }
}

object FrameReplayProvider {
  val schema: StructType = StructType(Seq(StructField("payload", BinaryType)))
}

/** The seam a live connector drops into: ordered segments + range reads.
  * FrameReplayStream's offset/commit logic is written against this trait
  * only, so a WebSocket or Kafka implementation replaces the spool reader
  * without touching admission control, offset mapping, or recovery.
  * Segment counts may GROW between calls (a live feed appends), and new
  * segments may appear; offsets are kept per segment, so growth and new
  * arrivals only ever extend the readable range. */
trait FrameSource extends Serializable {
  /** Ordered segments with their current frame counts. */
  def segments(): Seq[(String, Long)]
  /** Read records [from, until) of one segment. */
  def readRange(segment: String, from: Long, until: Long): Array[Array[Byte]]
  /** Called (driver-side) when the query COMMITS a batch: frames below
    * `upTo` will never be re-read — a restart resumes from the committed
    * offset — so a live source may release them. Replay sources ignore
    * this (the spool is the durable record). */
  def committed(segment: String, upTo: Long): Unit = ()
}

/** Replay source over length-prefixed spool files (the capture format). */
final class SpoolFrameSource(path: String) extends FrameSource {
  override def segments(): Seq[(String, Long)] = FrameSpool.listFiles(path)
  override def readRange(segment: String, from: Long, until: Long): Array[Array[Byte]] =
    FrameSpool.readRange(segment, from, until)
}

/** Broker auth is CONFIG, not engine logic (SURVEY §2.1 S5): a live
  * WebSocket FrameSource performs the REST login + TOTP handshake
  * (/root/reference/angel/auth.go:20-65) inside its own connect path,
  * entirely outside the offset/commit seam, and receives these values as
  * DataSource options. Declared here so the live-connector contract is
  * explicit; no credential ever touches the engine. */
final case class BrokerAuthConfig(
    apiUrl: String, clientCode: String, password: String,
    apiKey: String, totpSecret: String) {

  /** Redacted: the case-class default would print password/apiKey/
    * totpSecret verbatim into any log line or exception message the
    * config ever reaches — at odds with the credentials-never-enter-the-
    * engine boundary. Only the non-secret routing fields survive. */
  override def toString: String =
    s"BrokerAuthConfig($apiUrl, $clientCode, password=***, apiKey=***, totpSecret=***)"

  /** The WebSocket connect headers the reference builds from its login
    * response (/root/reference/main.go:212-218). The REST+TOTP handshake
    * that PRODUCES `authToken`/`feedToken` (/root/reference/angel/auth.go:
    * 20-65) stays outside the engine — a deployment performs it and hands
    * the tokens in; these become `header.*` options on the websocket
    * source. */
  def wsHeaders(authToken: String, feedToken: String): Map[String, String] = Map(
    "Authorization" -> s"Bearer $authToken",
    "X-Client-Code" -> clientCode,
    "X-Api-Key"     -> apiKey,
    "X-Feed-Token"  -> feedToken,
    "Accept"        -> "application/json",
    "Content-Type"  -> "application/json")
}

/** In-process frame feed: the stub "live" implementation of FrameSource.
  * A producer thread (standing in for the reference's WebSocket read loop,
  * /root/reference/ws/client.go:90-112) appends frames while a streaming
  * query consumes them — frames arrive between triggers exactly as a
  * broker push would. Single-JVM by construction (a registry keyed by
  * channel name), which is the honest scope for a container with no
  * network egress; a real deployment swaps this class for one that owns a
  * socket + BrokerAuthConfig and leaves every other line untouched. */
object LiveFrameFeed {
  /** Growable frame buffer with a TRIM BASE: appends are amortized O(1)
    * (a CopyOnWriteArrayList here made N appends O(N^2)) and consumed
    * frames can be dropped without invalidating absolute offsets — `base`
    * is the absolute offset of the first retained frame, so a
    * long-running live feed holds only the un-trimmed tail. */
  private final class Buf {
    private val frames = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    private var base = 0L
    def append(f: Array[Byte]): Unit = synchronized { frames += f }
    def size: Long = synchronized { base + frames.length }
    def slice(from: Long, until: Long): Array[Array[Byte]] = synchronized {
      val lo = math.max(from, base)
      val hi = math.min(until, base + frames.length)
      if (hi <= lo) Array.empty
      else frames.slice((lo - base).toInt, (hi - base).toInt).toArray
    }
    def trim(upTo: Long): Unit = synchronized {
      val n = math.min(math.max(upTo - base, 0L), frames.length.toLong).toInt
      frames.remove(0, n)
      base += n
    }
  }

  private val channels =
    new java.util.concurrent.ConcurrentHashMap[String, Buf]()

  private def buf(channel: String) =
    channels.computeIfAbsent(channel, _ => new Buf)

  def append(channel: String, frame: Array[Byte]): Unit = buf(channel).append(frame)

  def size(channel: String): Long = buf(channel).size

  def slice(channel: String, from: Long, until: Long): Array[Array[Byte]] =
    buf(channel).slice(from, until)

  /** Drop frames below the absolute offset `upTo` — call with the
    * query's COMMITTED offset only (a trimmed range reads back empty). */
  def trim(channel: String, upTo: Long): Unit = buf(channel).trim(upTo)

  def clear(channel: String): Unit = channels.remove(channel)
}

final class LiveFrameSource(channel: String) extends FrameSource {
  override def segments(): Seq[(String, Long)] =
    Seq((channel, LiveFrameFeed.size(channel)))
  override def readRange(segment: String, from: Long, until: Long): Array[Array[Byte]] =
    LiveFrameFeed.slice(segment, from, until)
  override def committed(segment: String, upTo: Long): Unit =
    LiveFrameFeed.trim(segment, upTo)
}

class FrameReplayTable(source: FrameSource, maxPerBatch: Int)
    extends Table with SupportsRead {
  override def name(): String = s"frame-replay($source)"
  override def schema(): StructType = FrameReplayProvider.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = FrameReplayProvider.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new FrameReplayStream(source, maxPerBatch)
    }
}

/** Offset = consumed frame count PER SEGMENT, not a global cumulative
  * count: a new segment whose name sorts between already-consumed ones
  * must not remap committed progress (a cumulative count silently
  * re-reads and skips frames in that case — progress keyed by segment
  * name is stable under any arrival order). Serialized as one line of
  * URL-encoded `name=count` pairs (the offset log stores it opaquely). */
case class FrameOffset(counts: Seq[(String, Long)]) extends Offset {
  private lazy val byName: Map[String, Long] = counts.toMap
  def countFor(segment: String): Long = byName.getOrElse(segment, 0L)
  override def json(): String = counts.map { case (n, c) =>
    java.net.URLEncoder.encode(n, "UTF-8") + "=" + c
  }.mkString("&")
}

object FrameOffset {
  val zero: FrameOffset = FrameOffset(Nil)
  def parse(s: String): FrameOffset =
    if (s == null || s.isEmpty) zero
    else if (s.forall(_.isDigit))
      // legacy cumulative offset (pre-per-segment checkpoints): there is
      // no reliable file mapping — refuse rather than corrupt
      throw new IllegalStateException(
        s"legacy cumulative frame offset '$s' — restart with a fresh checkpoint")
    else FrameOffset(s.split("&").toSeq.filter(_.nonEmpty).map { kv =>
      val i = kv.lastIndexOf('=')
      (java.net.URLDecoder.decode(kv.substring(0, i), "UTF-8"), kv.substring(i + 1).toLong)
    })
}

class FrameReplayStream(source: FrameSource, maxPerBatch: Int)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private def frameCounts(): Seq[(String, Long)] = source.segments()

  /** Trigger.AvailableNow: snapshot the segment counts at query start;
    * batches then drain toward exactly that snapshot (still paced by
    * maxFramesPerBatch) and the query self-terminates — the
    * backfill-then-stop mode. Frames arriving after the snapshot wait
    * for the next run. */
  @volatile private var availableNowTarget: Option[Seq[(String, Long)]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(frameCounts())

  override def initialOffset(): Offset = FrameOffset.zero

  /** Admission control: the per-trigger cap lives HERE (capping only in
    * planInputPartitions would desync the committed offset from the rows
    * actually read). Each segment advances independently; the cap is a
    * total budget spread across segments in listing order. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[FrameOffset]
    var budget = maxPerBatch.toLong
    val current = availableNowTarget.getOrElse(frameCounts())
    val advanced = current.map { case (seg, avail) =>
      val consumed = s.countFor(seg)
      val take = math.max(0L, math.min(avail - consumed, budget))
      budget -= take
      (seg, consumed + take)
    }
    // carry committed counts of segments the listing no longer returns
    val known = advanced.map(_._1).toSet
    FrameOffset(advanced ++ s.counts.filterNot(c => known.contains(c._1)))
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxPerBatch)

  override def reportLatestOffset(): Offset = FrameOffset(frameCounts())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used via SupportsAdmissionControl")

  override def deserializeOffset(json: String): Offset = FrameOffset.parse(json)

  /** One input partition per slice of at most MaxFramesPerSlice frames
    * of each segment's new range: a large batch reads, decodes and
    * writes in parallel tasks with no shuffle (TickTable.appendBatch
    * writes one file per input partition and date). */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FrameOffset]
    val e = end.asInstanceOf[FrameOffset]
    val max = FrameReplayStream.MaxFramesPerSlice
    e.counts.flatMap { case (seg, until) =>
      (s.countFor(seg) until until by max.toLong).map { from =>
        FrameReplayPartition(seg, from, math.min(from + max, until)): InputPartition
      }
    }.toArray
  }

  // standalone factory: an anonymous class here would capture the
  // non-serializable stream as $outer and fail task serialization
  override def createReaderFactory(): PartitionReaderFactory =
    FrameReplayReaderFactory(source)

  // a committed batch is never re-read (restart resumes from the
  // checkpointed offset), so live sources may trim their buffers here —
  // this is what bounds a long-running live feed's memory
  override def commit(end: Offset): Unit =
    end.asInstanceOf[FrameOffset].counts.foreach { case (seg, c) =>
      source.committed(seg, c)
    }
  override def stop(): Unit = ()
}

object FrameReplayStream {
  /** Frames per input partition at most: the reference's documented
    * queue size (MAX_QUEUE_SIZE=10000, the reference README.md:118). */
  val MaxFramesPerSlice = 10000
}

case class FrameReplayReaderFactory(source: FrameSource) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[FrameReplayPartition]
    new PartitionReader[InternalRow] {
      private val frames = source.readRange(p.file, p.fromRecord, p.untilRecord)
      private var i = -1
      override def next(): Boolean = { i += 1; i < frames.length }
      override def get(): InternalRow = InternalRow(frames(i))
      override def close(): Unit = ()
    }
  }
}

case class FrameReplayPartition(file: String, fromRecord: Long, untilRecord: Long)
    extends InputPartition

/** Length-prefixed binary spool files (the capture format). Pure JVM I/O —
  * works for local paths in tests; a production deployment would route
  * through the Hadoop FileSystem API the same way. */
object FrameSpool {

  /** Write frames as one `.bin` spool file; returns the file path. */
  def write(dir: String, frames: Seq[Array[Byte]], name: String): String = {
    val d = new java.io.File(dir)
    d.mkdirs()
    val f = new java.io.File(d, s"$name.bin")
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(f)))
    try frames.foreach { b => out.writeInt(b.length); out.write(b) }
    finally out.close()
    f.getAbsolutePath
  }

  /** Incremental spool writer for a LIVE recorder: append + flush keep
    * the file readable mid-write (a flushed-length/unflushed-payload
    * tear is tolerated by countFrames' torn-frame guard). One appender
    * per segment file; close() finishes the segment. */
  final class Appender(dir: String, name: String) {
    private val file = {
      val d = new java.io.File(dir); d.mkdirs(); new java.io.File(d, s"$name.bin")
    }
    private val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(file, true)))
    def path: String = file.getAbsolutePath
    def append(frame: Array[Byte]): Unit = synchronized {
      out.writeInt(frame.length); out.write(frame); out.flush()
    }
    def close(): Unit = synchronized(out.close())
  }

  def appender(dir: String, name: String): Appender = new Appender(dir, name)

  /** Sorted spool files with their frame counts. */
  def listFiles(dir: String): Seq[(String, Long)] = {
    val d = new java.io.File(dir)
    val files = Option(d.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".bin")).sortBy(_.getName)
    files.toSeq.map(f => (f.getAbsolutePath, countFrames(f)))
  }

  private def countFrames(f: java.io.File): Long = {
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(new java.io.FileInputStream(f)))
    try {
      var n = 0L
      var torn = false
      while (!torn && in.available() >= 4) {
        val len = in.readInt()
        // a live recorder may have flushed the length prefix but not the
        // payload yet: do NOT count a torn trailing frame (it would be
        // admitted into an offset and then fail readFully)
        if (in.available() < len) torn = true
        else { in.skipBytes(len); n += 1 }
      }
      n
    } finally in.close()
  }

  /** Read records [from, until) of one spool file. */
  def readRange(file: String, from: Long, until: Long): Array[Array[Byte]] = {
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(new java.io.FileInputStream(file)))
    try {
      val out = Array.newBuilder[Array[Byte]]
      var i = 0L
      while (i < until && in.available() >= 4) {
        val len = in.readInt()
        if (i >= from) {
          val buf = new Array[Byte](len)
          in.readFully(buf)
          out += buf
        } else in.skipBytes(len)
        i += 1
      }
      out.result()
    } finally in.close()
  }
}
