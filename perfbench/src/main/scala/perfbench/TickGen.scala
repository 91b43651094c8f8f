package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import scala.collection.mutable

/** One generated tick frame and the values it carries. `bad` frames are
  * truncated on the wire and must be rejected by the decoder. */
final case class Frame(
    bytes: Array[Byte], bad: Boolean, token: String, seq: Long,
    tsMs: Long, ltpPaise: Long, volume: Option[Long], lowPaise: Option[Long],
    highPaise: Option[Long])

/** Seeded tick-frame generator, held apart from the program: frames are
  * laid out byte by byte from the wire format (FIXTURES.md section 1),
  * never through the program's own encoder, so an encode/decode pair that
  * agreed on a wrong layout would still fail the checks.
  *
  * Exchange timestamps come from the seed and a fixed trading calendar
  * (09:15-15:30 IST, i.e. 03:45-10:00 UTC), never from the wall clock.
  * Sequence numbers are unique across all tokens, so every (ts, seq)
  * ordering in the queries has exactly one answer.
  *
  * The calendar and the instrument directory are the same for every seed:
  * the sink spreads a date's rows over writer tasks by a hash of date and
  * token, so seeding them changed the number of files per batch, and with
  * it the query and compaction times, from seed to seed. */
final class TickGen(seed: Long) {
  private val rng = new java.util.SplittableRandom(seed)
  private val fixed = new java.util.SplittableRandom(0L)

  val DayMs: Long = 86400000L
  val SessionOpenMs: Long = (3 * 60 + 45) * 60000L
  val SessionMs: Long = (6 * 60 + 15) * 60000L

  /** First trading day: a Monday in 2024 (epoch day 19725 is Monday
    * 2024-01-01). */
  val firstDay: Long = 19725L + 7L * fixed.nextInt(40)

  /** Instruments: (symbol, token, exchange, wire exchange code). Token 0 is
    * exactly 25 bytes long (no NUL on the wire). The last row names an
    * exchange the program does not know, so its ticks keep a null symbol. */
  val instruments: IndexedSeq[(String, String, String, Int)] = {
    val exch = Seq("NSE_CM" -> 1, "NSE_FO" -> 2, "BSE_CM" -> 3, "BSE_FO" -> 4,
      "MCX_FO" -> 5, "NCX_FO" -> 7, "CDE_FO" -> 13)
    val known = (0 until 31).map { i =>
      val tok = if (i == 0) "9" * 25 else (1000 + 37 * i + fixed.nextInt(30)).toString
      val (ex, code) = exch(i % exch.size)
      (s"SYM$i", tok, ex, code)
    }
    known :+ (("BADEX", "99999", "NOPE_XX", 9))
  }
  val tokens: IndexedSeq[String] = instruments.map(_._2)
  val unknownToken: String = instruments.last._2
  val symbolOf: Map[String, Option[String]] =
    instruments.map(i => i._2 -> (if (i._3 == "NOPE_XX") None else Some(i._1))).toMap
  private val exchangeOf = instruments.map(i => i._2 -> i._4).toMap

  def tokensJson: String = instruments.map { case (sym, tok, ex, _) =>
    s"""{"symbol": "$sym", "token": "$tok", "exchange": "$ex"}"""
  }.mkString("", "\n", "\n")

  private var nextSeq = 1L + rng.nextInt(1000)
  private val lastPrice = mutable.Map[String, Long]()

  private def putToken(buf: ByteBuffer, tok: String): Unit = {
    val b = tok.getBytes(StandardCharsets.UTF_8)
    var i = 0
    while (i < 25) { buf.put(2 + i, if (i < b.length) b(i) else 0.toByte); i += 1 }
  }

  /** Frames whose exchange timestamps fall on trading day `day` (epoch
    * day), spread evenly from `fromMs` to `toMs` after the session open.
    * `quoteShare` of them are 123-byte Quote frames, the rest 51-byte LTP
    * frames. About one in fifty reuses its token's previous timestamp so
    * ties are broken by sequence number. One frame in each block of 100,
    * at a seeded place, is truncated. */
  def frames(n: Int, day: Long, fromMs: Long, toMs: Long, quoteShare: Double): IndexedSeq[Frame] = {
    val badAt = mutable.Set[Int]()
    var b = 0
    while (b < n) { badAt += b + rng.nextInt(math.min(100, n - b)); b += 100 }
    val lastTs = mutable.Map[String, Long]()
    (0 until n).map { i =>
      val tok = tokens(rng.nextInt(tokens.size))
      val base = day * DayMs + SessionOpenMs + fromMs
      val ts =
        if (lastTs.contains(tok) && rng.nextInt(50) == 0) lastTs(tok)
        else base + (toMs - fromMs) * i / n + rng.nextInt(1000)
      lastTs(tok) = math.max(ts, lastTs.getOrElse(tok, ts))
      val seq = nextSeq; nextSeq += 1 + rng.nextInt(3)
      val prev = lastPrice.getOrElseUpdate(tok, 10000L + rng.nextInt(490000))
      val ltp = math.max(100L, prev + rng.nextInt(101) - 50)
      lastPrice(tok) = ltp
      val quote = rng.nextDouble() < quoteShare
      val mode = if (quote) 2 else 1
      val buf = ByteBuffer.allocate(if (quote) 123 else 51).order(ByteOrder.LITTLE_ENDIAN)
      buf.put(0, mode.toByte)
      buf.put(1, exchangeOf(tok).toByte)
      putToken(buf, tok)
      buf.putLong(27, seq)
      buf.putLong(35, ts)
      buf.putLong(43, ltp)
      var volume: Option[Long] = None
      var low: Option[Long] = None
      var high: Option[Long] = None
      if (quote) {
        val v = rng.nextLong(1000000L)
        val lo = ltp - rng.nextInt(500)
        val hi = ltp + rng.nextInt(500)
        buf.putLong(51, 1L + rng.nextInt(500))             // last traded quantity
        buf.putLong(59, ltp + rng.nextInt(21) - 10)        // average price
        buf.putLong(67, v)                                 // volume
        buf.putDouble(75, rng.nextInt(100000).toDouble)    // total buy quantity
        buf.putDouble(83, rng.nextInt(100000).toDouble)    // total sell quantity
        buf.putLong(91, ltp + rng.nextInt(201) - 100)      // open
        buf.putLong(99, hi)                                // high
        buf.putLong(107, lo)                               // low
        buf.putLong(115, ltp + rng.nextInt(201) - 100)     // close
        volume = Some(v); low = Some(lo); high = Some(hi)
      }
      val whole = buf.array()
      if (badAt(i)) {
        // cut anywhere short of the mode's full length (LTP frames below
        // 51 bytes, Quote frames below 123): the decoder must reject it
        val cut = 10 + rng.nextInt(whole.length - 10)
        Frame(java.util.Arrays.copyOf(whole, cut), bad = true, tok, seq, ts, ltp, None, None, None)
      } else Frame(whole, bad = false, tok, seq, ts, ltp, volume, low, high)
    }
  }
}

object TickGen {
  /** The spool segment format the replay source reads: a big-endian
    * 4-byte length before each frame. */
  def writeSegment(file: java.io.File, frames: Seq[Frame]): Unit = {
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(file), 1 << 16))
    try frames.foreach { f => out.writeInt(f.bytes.length); out.write(f.bytes) }
    finally out.close()
  }
}

/** Expected query answers, updated frame by frame from what the benchmark
  * wrote (never from a saved copy of program output). */
final class TickModel(gen: TickGen, val watch: String, val watchSet: Seq[String],
                      val profileFromMs: Long, val asOfMs: Long) {
  final class Agg {
    var n = 0L; var sumPaise = 0L; var minP = Long.MaxValue; var maxP = Long.MinValue
    var vol = 0L; var volN = 0L; var lastTs = Long.MinValue
    var lastKey: (Long, Long) = (Long.MinValue, Long.MinValue); var lastPaise = 0L
    def add(f: Frame): Unit = {
      n += 1; sumPaise += f.ltpPaise
      minP = math.min(minP, f.ltpPaise); maxP = math.max(maxP, f.ltpPaise)
      f.volume.foreach { v => vol += v; volN += 1 }
      lastTs = math.max(lastTs, f.tsMs)
      if (Ordering[(Long, Long)].gt((f.tsMs, f.seq), lastKey)) { lastKey = (f.tsMs, f.seq); lastPaise = f.ltpPaise }
    }
  }
  final class Day {
    var n = 0L; var lowOrLtp = Long.MaxValue; var highOrLtp = Long.MinValue
    var vol = 0L; var volN = 0L
    var minLow: Option[Long] = None; var maxHigh: Option[Long] = None
    var openKey: (Long, Long) = (Long.MaxValue, Long.MaxValue); var open = 0L
    var closeKey: (Long, Long) = (Long.MinValue, Long.MinValue); var close = 0L
    def add(f: Frame): Unit = {
      n += 1
      lowOrLtp = math.min(lowOrLtp, f.lowPaise.getOrElse(f.ltpPaise))
      highOrLtp = math.max(highOrLtp, f.highPaise.getOrElse(f.ltpPaise))
      f.volume.foreach { v => vol += v; volN += 1 }
      f.lowPaise.foreach(l => minLow = Some(minLow.fold(l)(math.min(_, l))))
      f.highPaise.foreach(h => maxHigh = Some(maxHigh.fold(h)(math.max(_, h))))
      val k = (f.tsMs, f.seq)
      val ord = Ordering[(Long, Long)]
      if (ord.lt(k, openKey)) { openKey = k; open = f.ltpPaise }
      if (ord.gt(k, closeKey)) { closeKey = k; close = f.ltpPaise }
    }
  }
  val byToken = mutable.Map[String, Agg]()
  val days = mutable.Map[(String, Long), Day]()
  /** Watched token's volume profile: price (paise) -> (ticks, volume, volume rows). */
  val profile = mutable.Map[Long, (Long, Long, Long)]()
  /** As-of state per watched token: latest (ts, seq) at or before asOf. */
  val asof = mutable.Map[String, ((Long, Long), Long)]()
  /** The ten latest frames of the watch set, by (ts, seq). */
  val latest = mutable.TreeMap[(Long, Long), Frame]()
  var valid = 0L
  var bad = 0L

  def add(f: Frame): Unit =
    if (f.bad) bad += 1
    else {
      valid += 1
      byToken.getOrElseUpdate(f.token, new Agg).add(f)
      days.getOrElseUpdate((f.token, Math.floorDiv(f.tsMs, gen.DayMs)), new Day).add(f)
      if (f.token == watch && f.tsMs >= profileFromMs) {
        val (c, v, vn) = profile.getOrElse(f.ltpPaise, (0L, 0L, 0L))
        profile(f.ltpPaise) = (c + 1, v + f.volume.getOrElse(0L), vn + f.volume.size)
      }
      if (watchSet.contains(f.token)) {
        if (f.tsMs <= asOfMs) {
          val k = (f.tsMs, f.seq)
          if (asof.get(f.token).forall(p => Ordering[(Long, Long)].gt(k, p._1))) asof(f.token) = (k, f.ltpPaise)
        }
        latest((f.tsMs, f.seq)) = f
        if (latest.size > 10) latest -= latest.firstKey
      }
    }
}
