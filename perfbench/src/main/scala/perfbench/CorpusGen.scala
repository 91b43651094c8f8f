package perfbench

import java.util.Locale
import scala.collection.mutable

/** A generated document. `family` groups documents planted as copies of
  * one another (exact, normalized, near or cyclic duplicates); it is -2 for
  * a member of a mid-Jaccard pair and -1 otherwise. `failer` marks a
  * document planted to fail the curation gate. */
final case class Doc(id: Long, text: String, lang: String, family: Int, failer: Boolean)

/** The planted structure of one corpus, kept by the generator. */
final case class Corpus(docs: IndexedSeq[Doc], familyKinds: Map[Int, String]) {
  def ids: Set[Long] = docs.map(_.id).toSet
  def families: Map[Int, Seq[Long]] =
    docs.filter(_.family >= 0).groupBy(_.family).map { case (k, v) => k -> v.map(_.id) }
}

/** Seeded corpus generator.
  *
  *  - `exact` families: one text, copies differing only in letter case;
  *  - `normalized` families: copies differing only in whitespace runs;
  *  - `near` families: a text and two copies with two adjacent words
  *    swapped at distinct places (word-3-gram Jaccard above 0.9, same word
  *    set). They are built from fixed seeds, the same in every corpus, so
  *    whether the program's banded MinHash pairs their members does not
  *    depend on the corpus seed;
  *  - one `near_missed` family, built like them from a fixed seed, whose
  *    second copy shares no MinHash band with the other two members
  *    (Jaccard 0.94 and 0.89). Every check that asks for one survivor of
  *    it, or for its members in one MinHash cluster, fails on every seed
  *    (README "Known faults");
  *  - `cyclic` families: a text that ends by repeating its first two words,
  *    and copies that continue the cycle by one and two words: distinct
  *    texts with identical 3-gram sets (Jaccard 1), so banded MinHash must
  *    pair them whatever its hash functions;
  *  - mid pairs: two documents sharing a prefix, Jaccard in (0.22, 0.45);
  *  - gate failers: 5-12 word documents, and punctuation-heavy documents;
  *  - `nonAsciiShare` of the documents carry accented, Cyrillic and CJK
  *    words (and the odd astral emoji). */
object CorpusGen {
  /** Families planted per kind (the near families: `NearSeeds`). */
  val Families: Map[String, Int] = Map("exact" -> 18, "normalized" -> 18, "cyclic" -> 12)
  /** Seeds of the near families: every pair of members shares a MinHash
    * band. Of the near families with seeds 0-999, 8 have a pair that shares
    * none. */
  val NearSeeds: Seq[Long] = 0L until 12L
  private val NearSalt = 0x6e656172L << 32
  /** Seed of the `near_missed` family: its text and first copy share every
    * band; its second copy shares none with either, and agrees with them in
    * 5 of 32 minima, at Jaccard 0.94 and 0.89. */
  val MissedSeed: Long = 83L
  val MidPairs = 15
  val ShortFailers = 30
  val PunctFailers = 30

  private val vocab: IndexedSeq[String] = {
    val r = new java.util.SplittableRandom(7L)
    val syl = Seq("ka", "ri", "to", "ne", "mu", "sa", "lo", "pe", "di", "gu", "ve", "ha",
      "zo", "bi", "ta", "re", "no", "fu", "ce", "wa", "ly", "qu", "st", "en")
    val ws = mutable.LinkedHashSet[String]()
    while (ws.size < 4000) ws += (0 until 2 + r.nextInt(3)).map(_ => syl(r.nextInt(syl.size))).mkString
    ws.toIndexedSeq
  }
  private val nonAsciiVocab: IndexedSeq[String] = {
    val r = new java.util.SplittableRandom(11L)
    val accent = Map('a' -> "á", 'e' -> "é", 'o' -> "ö", 'u' -> "ü", 'i' -> "ï", 'c' -> "ç", 's' -> "ś")
    val cyr = "абвгдежзийклмнопрстуфхцчшщыэюя"
    (0 until 300).map { i =>
      i % 3 match {
        case 0 => vocab(r.nextInt(vocab.size)).map(c => accent.getOrElse(c, c.toString)).mkString
        case 1 => (0 until 3 + r.nextInt(5)).map(_ => cyr(r.nextInt(cyr.length))).mkString
        case _ =>
          val s = new java.lang.StringBuilder
          (0 until 2 + r.nextInt(3)).foreach(_ => s.appendCodePoint(0x4e00 + r.nextInt(0x900)))
          if (i % 30 == 2) s.appendCodePoint(0x1f600 + r.nextInt(40))
          s.toString
      }
    }
  }
  private val langs = Seq("de", "en", "es", "fr", "zh")

  private def wordsFrom(r: java.util.SplittableRandom, n: Int, nonAscii: Boolean): IndexedSeq[String] =
    (0 until n).map { _ =>
      if (nonAscii && r.nextInt(4) == 0) nonAsciiVocab(r.nextInt(nonAsciiVocab.size))
      else vocab(r.nextInt(vocab.size))
    }

  /** A near family from its own seed: a 120-199 word text (a quarter of
    * the families carry non-ASCII words) and two copies, each with two
    * adjacent words swapped at a place of its own. */
  def nearFamily(seed: Long): IndexedSeq[String] = {
    // salted, so no corpus seed's own stream repeats a near family's text
    val r = new java.util.SplittableRandom(NearSalt + seed)
    val ws = wordsFrom(r, 120 + r.nextInt(80), r.nextInt(4) == 0)
    val third = ws.size / 3
    ws.mkString(" ") +: IndexedSeq(10 + r.nextInt(third - 20), third + 10 + r.nextInt(third - 20)).map { at =>
      val v = ws.toArray
      var i = at
      while (v(i) == v(i + 1)) i += 1
      val t = v(i); v(i) = v(i + 1); v(i + 1) = t
      v.mkString(" ")
    }
  }

  def generate(seed: Long, background: Int, nonAsciiShare: Double, idBase: Long): Corpus = {
    val r = new java.util.SplittableRandom(seed)
    def words(n: Int, nonAscii: Boolean): IndexedSeq[String] = wordsFrom(r, n, nonAscii)
    def nonAscii(): Boolean = r.nextDouble() < nonAsciiShare
    def len(): Int = 120 + r.nextInt(80)
    val texts = mutable.ArrayBuffer[(String, Int, Boolean)]() // (text, family, failer)
    val kinds = mutable.Map[Int, String]()
    var fam = 0
    def capitalizeSome(ws: IndexedSeq[String]): String =
      ws.map(w => if (r.nextInt(8) == 0) w.capitalize else w).mkString(" ")
    def rewhite(ws: IndexedSeq[String]): String = {
      val sb = new StringBuilder
      ws.zipWithIndex.foreach { case (w, i) =>
        if (i > 0) sb.append(r.nextInt(10) match { case 0 => "  " case 1 => "\t" case 2 => " \n" case _ => " " })
        sb.append(w)
      }
      if (r.nextBoolean()) sb.append(" ")
      sb.toString
    }
    for (_ <- 0 until Families("exact")) {
      val ws = words(len(), nonAscii())
      kinds(fam) = "exact"
      texts += ((ws.mkString(" "), fam, false))
      texts += ((capitalizeSome(ws), fam, false))
      texts += ((capitalizeSome(ws), fam, false))
      fam += 1
    }
    for (_ <- 0 until Families("normalized")) {
      val ws = words(len(), nonAscii())
      kinds(fam) = "normalized"
      texts += ((ws.mkString(" "), fam, false))
      texts += ((rewhite(ws), fam, false))
      texts += ((rewhite(ws), fam, false))
      fam += 1
    }
    for (s <- NearSeeds) {
      kinds(fam) = "near"
      nearFamily(s).foreach(t => texts += ((t, fam, false)))
      fam += 1
    }
    kinds(fam) = "near_missed"
    nearFamily(MissedSeed).foreach(t => texts += ((t, fam, false)))
    fam += 1
    for (_ <- 0 until Families("cyclic")) {
      val ws = words(len(), nonAscii())
      kinds(fam) = "cyclic"
      (2 to 4).foreach(k => texts += (((ws ++ ws.take(k)).mkString(" "), fam, false)))
      fam += 1
    }
    val midTexts = mutable.ArrayBuffer[(String, String)]()
    while (midTexts.size < MidPairs) {
      val n = len()
      val a = words(n, nonAscii())
      val keep = (n * (0.42 + 0.2 * r.nextDouble())).toInt
      val b = a.take(keep) ++ words(n - keep, nonAscii = false)
      val j = jaccard(shingles(wordsOf(a.mkString(" "))), shingles(wordsOf(b.mkString(" "))))
      if (j > 0.22 && j < 0.45) midTexts += ((a.mkString(" "), b.mkString(" ")))
    }
    midTexts.foreach { case (a, b) => texts += ((a, -2, false)); texts += ((b, -2, false)) }
    for (_ <- 0 until ShortFailers) texts += ((words(5 + r.nextInt(8), nonAscii()).mkString(" "), -1, true))
    val punct = "!?#$%&*+=@^~;:"
    for (_ <- 0 until PunctFailers) {
      val ws = (0 until 40 + r.nextInt(40)).map { i =>
        if (i % 16 == 0) vocab(r.nextInt(vocab.size))
        else (0 until 6 + r.nextInt(7)).map(_ => punct(r.nextInt(punct.length))).mkString
      }
      texts += ((ws.mkString(" "), -1, true))
    }
    for (_ <- 0 until background) texts += ((words(len(), nonAscii()).mkString(" "), -1, false))
    // shuffle so families and failers spread over ids and input files
    val arr = texts.toArray
    var i = arr.length - 1
    while (i > 0) { val k = r.nextInt(i + 1); val t = arr(i); arr(i) = arr(k); arr(k) = t; i -= 1 }
    val docs = arr.toIndexedSeq.zipWithIndex.map { case ((t, f, fail), k) =>
      Doc(idBase + k, t, langs(r.nextInt(langs.size)), f, fail)
    }
    Corpus(docs, kinds.toMap)
  }

  // ---- independent formulations of what the program computes ----

  /** Lower-cased whitespace words, empties dropped (Java `\s`: ASCII
    * whitespace only, as in Spark's split). */
  def wordsOf(text: String): Array[String] =
    text.toLowerCase(Locale.ROOT).split("[ \\t\\n\\x0B\\f\\r]+").filter(_.nonEmpty)

  /** Word 3-gram shingles; a document under three words is one shingle. */
  def shingles(ws: Array[String]): Set[String] =
    if (ws.length < 3) Set(ws.mkString(" "))
    else ws.sliding(3).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** Lowercase, drop everything outside [a-z0-9 whitespace], collapse
    * whitespace runs, trim. */
  def normalized(text: String): String =
    text.toLowerCase(Locale.ROOT).replaceAll("[^a-z0-9 \\t\\n\\x0B\\f\\r]", "")
      .replaceAll("[ \\t\\n\\x0B\\f\\r]+", " ").trim

  def codePoints(s: String): Int = s.codePointCount(0, s.length)

  private def round4(x: Double): Double =
    new java.math.BigDecimal(java.lang.Double.toString(x)).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue

  /** (n_words, quality_score) under the curation gate's heuristic. */
  def quality(text: String): (Long, Double) = {
    val n = wordsOf(text).length.toLong
    val len = codePoints(text)
    val alnumSpace = text.count(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == ' ')
    val punct = if (len == 0) 0.0 else round4((len - alnumSpace).toDouble / len)
    (n, round4(math.min(1.0, n / 50.0) * (1.0 - punct)))
  }

  /** (n_bigrams, top bigram fraction) over the word list. */
  def repetition(text: String): (Long, Double) = {
    val ws = wordsOf(text)
    if (ws.length < 2) (0L, 0.0)
    else {
      val counts = ws.sliding(2).map(_.mkString(" ")).toSeq.groupBy(identity).map(_._2.size)
      val nb = ws.length - 1L
      (nb, round4(counts.max.toDouble / nb))
    }
  }

  /** doc -> (cluster_rep, cluster_size): components of the exact
    * word-3-gram Jaccard graph at `threshold`, every unpaired document its
    * own cluster, representative = smallest id. */
  def clustersAt(docs: Seq[Doc], threshold: Double): Map[Long, (Long, Long)] = {
    val sh = docs.map(d => d.id -> shingles(wordsOf(d.text))).toMap
    val postings = mutable.Map[String, mutable.ArrayBuffer[Long]]()
    sh.foreach { case (id, ss) => ss.foreach(s => postings.getOrElseUpdate(s, mutable.ArrayBuffer()) += id) }
    val inter = mutable.Map[(Long, Long), Int]()
    postings.valuesIterator.foreach { ids =>
      val s = ids.sorted
      var i = 0
      while (i < s.size) { var j = i + 1; while (j < s.size) { val k = (s(i), s(j)); inter(k) = inter.getOrElse(k, 0) + 1; j += 1 }; i += 1 }
    }
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val q = find(p); parent(x) = q; q } }
    inter.foreach { case ((a, b), n) =>
      if (n.toDouble / (sh(a).size + sh(b).size - n) >= threshold) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    val comp = docs.map(d => d.id -> find(d.id))
    val members = comp.groupBy(_._2).map { case (root, xs) => root -> (xs.map(_._1).min, xs.size.toLong) }
    comp.map { case (id, root) => id -> members(root) }.toMap
  }

  def json(d: Doc): String = {
    val sb = new StringBuilder("{\"doc_id\": ").append(d.id).append(", \"text\": \"")
    d.text.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append("\", \"lang\": \"").append(d.lang).append("\"}").toString
  }
}
