package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import TextHashing._

/** Deduplication operators for a large-scale text corpus — the
  * training-data-pipeline extension of the engine (north star in
  * BASELINE.json; fixtures /root/testdata/sf* /documents.parquet).
  *
  * Scale posture: every method is bucketed/banded — candidate pairs come
  * from equality joins on shingle/band/bucket keys, never a cross join.
  * Signatures (minhash minima, simhash bit votes) are computed as WIDE
  * AGGREGATES (32/48 agg columns over one row per shingle/word) instead of
  * exploding an index column — no 32-48x row blowup, one shuffle, and the
  * whole signature stage stays in whole-stage codegen.
  */
object TextDedup {

  val JaccardThreshold = 0.2
  val NumHashes = 32
  val BandRows = 4 // 8 bands x 4 rows
  val SimHashBits = 48
  val SimHashBands = 4
  /** Verified-pair cut: banded candidates survive iff their 48-bit
    * signatures differ in at most this many bits. ONE constant shared by
    * the all-pairs verification join ([[sigPairGraph]]) and the
    * forest-sparsified cluster path ([[sigForestEdges]]) — drift between
    * the two would silently change components vs the all-pairs face. */
  val SimHashHammingMax = 6L
  /** Target expected population of a (band, band_val) candidate bucket. */
  val SimHashTargetPop = 1024L

  /** AUTO-SIZED simhash banding LEVEL (r16 verdict advice, medium):
    * the r16 law widened the 4 bands past 12 bits with overlapping
    * offsets (b*(48-w)/3), which silently SHRANK the pigeonhole
    * guarantee — disjoint 4x12 bands catch every pair within Hamming
    * distance 3 (<= 3 dirty bits leave >= 1 band untouched), but at
    * w = 13 a pair dirty only inside the band overlaps falls in no
    * common band and the guaranteed radius collapses to 1.
    *
    * This replaces width-growing with the BLOCK-COMBINATION scheme of
    * Manku, Jain & Das Sarma, "Detecting Near-Duplicates for Web
    * Crawling" (WWW'07 §3): split the 48-bit signature into disjoint
    * 8-bit blocks and key each band on a COMBINATION of whole blocks.
    * A pair with d dirty blocks still shares every band drawn entirely
    * from its 6-d clean blocks, so with bands = all C(6,r) r-subsets
    * the guaranteed radius is 6-r dirty BITS (d dirty bits dirty at
    * most d blocks). Three population-driven levels:
    *
    *   level 0:  4 bands x 12 bits (one 12-bit block each — EXACTLY
    *             the historical 0/12/24/36 layout) — radius 3
    *   level 1: 15 bands x 16 bits (C(6,2) pairs of 8-bit blocks)
    *             — radius 4
    *   level 2: 20 bands x 24 bits (C(6,3) triples of 8-bit blocks)
    *             — radius 3
    *
    * The guaranteed radius never drops below the historical 3 at any
    * scale (the r16 overlap law fell to 1 at its first widening).
    * Levels flip on the same E[bucket population] <= [[SimHashTargetPop]]
    * law as before: level 0 up to 1024*2^12 = 4,194,304 unique sigs,
    * level 1 up to 1024*2^16 = 67,108,864, level 2 beyond (bucket
    * population stays <= TargetPop through 1024*2^24 ~ 17 billion
    * unique sigs ~ exabyte corpora). More bands cost a wider explode
    * (15x/20x instead of 4x) — linear, and only paid at the decades
    * where the old quadratic bucket growth was the alternative.
    * Above the guaranteed radius (Hamming 4..[[SimHashHammingMax]] at
    * levels 0/2, 5..6 at level 1) recall is probabilistic, exactly as
    * the historical layout's was.
    *
    * Mirrored digit-for-digit in the DuckDB oracles: the band-spec
    * table in the SQL is GENERATED from [[simhashBandSpecs]], so the
    * two sides cannot drift. */
  def simhashLevel(nUniqueSigs: Long): Int =
    if (nUniqueSigs <= (SimHashTargetPop << 12)) 0
    else if (nUniqueSigs <= (SimHashTargetPop << 16)) 1
    else 2

  /** Band specs at a level: one entry per band, each a list of
    * (bit shift, bit width) limbs concatenated LSB-first into the
    * band key. Level 0 is the historical disjoint 4x12 layout. */
  def simhashBandSpecs(level: Int): Seq[Seq[(Int, Int)]] = level match {
    case 0 => (0 until SimHashBands).map(b => Seq((12 * b, 12)))
    case 1 => for { i <- 0 until 6; j <- (i + 1) until 6 }
      yield Seq((8 * i, 8), (8 * j, 8))
    case _ => for { i <- 0 until 6; j <- (i + 1) until 6; k <- (j + 1) until 6 }
      yield Seq((8 * i, 8), (8 * j, 8), (8 * k, 8))
  }

  /** The band key of one spec over a signature column: limbs extracted
    * with shift+mask and packed LSB-first. */
  def simhashBandValCol(sig: Column, limbs: Seq[(Int, Int)]): Column = {
    var outPos = 0
    limbs.map { case (sh, bits) =>
      val limb = shiftright(sig, sh).bitwiseAND(lit((1L << bits) - 1L))
      val placed = shiftleft(limb, outPos)
      outPos += bits
      placed
    }.reduce(_ bitwiseOR _)
  }

  def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** Session-scoped shingle index: the (doc_id, shingle) inverted index is
    * the shared prefix of every shingle-based dedup query — and, within
    * `minhashLsh` alone, the same scan+explode+distinct subtree is
    * referenced three times in one plan (band table, candidate
    * verification, set sizes). A persisted DedupIndex pays that cost once
    * per (session, dir): the first reference materializes the cache, the
    * other references (and any later dedup query in the session) read it.
    * At 100 TB this is the difference between one corpus shingling pass
    * per session and one per sub-plan. If documents.parquet is rewritten
    * mid-session, call `invalidate(spark, dir)` first. */
  private val indexes =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DedupIndex]()

  // evict this session's indexes when its application ends (the same
  // listener that clears SessionCache) — without this, stopped sessions
  // and their persisted plans stay pinned for the JVM lifetime
  graft.core.SessionCache.onSessionEnd { spark =>
    val it = indexes.keySet().iterator()
    while (it.hasNext) {
      val k = it.next()
      if (k._1 eq spark) {
        val idx = indexes.remove(k)
        if (idx != null) {
          try idx.close() catch { case _: Throwable => }
        }
      }
    }
  }

  def index(spark: SparkSession, dir: String): DedupIndex = {
    graft.core.SessionCache.watch(spark)
    indexes.computeIfAbsent((spark, dir), kv => DedupIndex(docs(kv._1, kv._2)))
  }

  /** Kind prefixes of every session-cache entry this object builds per
    * dir, threshold-tagged variants included. */
  private val CacheKindPrefixes =
    Seq("simhash_", "minhash_", "ngram_", "ppjoin_", "semantic_clusters_")

  /** Drop this (session, dir)'s cached shingle index and every derived
    * table built from it, at every threshold. */
  def invalidate(spark: SparkSession, dir: String): Unit = {
    val idx = indexes.remove((spark, dir))
    if (idx != null) idx.close()
    graft.core.SessionCache.invalidatePrefixed(spark, dir, CacheKindPrefixes)
  }

  /** Exact dedup by content hash: one surviving doc_id per distinct
    * normalized text (hash-groupBy — the trivially-parallel baseline). */
  def exact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(md5(lower(col("text"))).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .select("keep_id", "content_hash", "n_dups")
      .orderBy("keep_id")

  /** CCNet-style aggressive text normalization: lowercase, strip every
    * char outside [a-z0-9 whitespace], collapse whitespace runs, trim.
    * ASCII character classes only — Java regex, RE2 (DuckDB) and
    * Python `re` with re.ASCII agree on them codepoint-for-codepoint
    * (an unanchored \\s would NOT: Python's default includes U+00A0).
    *
    * Computed by the fused single-pass native expression
    * (plans/NormTextExpr — r17 measured the two-regex chain at 280 s
    * of the sf100 `dedup_exact_normalized` run; the fused pass emits
    * each kept byte once). GraftExtensionsSpec pins it bit-identical
    * to the declarative chain (kept there as `normalizedTextRef`), and
    * the DuckDB oracle keeps the independent regex formulation. */
  private[ops] def normalizedText(c: Column): Column =
    graft.plans.GraftExtensions.normText(c)

  /** The declarative reference formulation — retained for the spec pin
    * (GraftExtensionsSpec asserts fused == reference on adversarial
    * strings, the same discipline as TextStatsExpr). */
  private[graft] def normalizedTextRef(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(c), "[^a-z0-9\\s]", ""), "\\s+", " "))

  /** Exact dedup over NORMALIZED text — catches the punctuation/
    * casing/whitespace variants the raw-hash group misses ("Hello,
    * World!" == "hello world"), the standard pre-pass before shingle
    * dedup. Same trivially-parallel hash-groupBy shape as `exact`;
    * `n_raw_variants` counts how many DISTINCT raw-lowercase hashes the
    * normalization merged into the group (1 = normalization changed
    * nothing for this group; >1 = catches `exact` cannot see). */
  def exactNormalized(spark: SparkSession, dir: String): DataFrame =
    exactNormalizedOf(docs(spark, dir))

  def exactNormalizedOf(d: DataFrame): DataFrame = d
    .groupBy(md5(normalizedText(col("text"))).as("content_hash"))
    .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"),
      count_distinct(md5(lower(col("text")))).as("n_raw_variants"))
    .select("keep_id", "content_hash", "n_dups", "n_raw_variants")
    .orderBy("keep_id")

  /** N-gram Jaccard near-dedup: word 3-gram shingles, inverted-index
    * self-join on shingle, exact Jaccard >= threshold. Runs over the
    * session shingle index (the self-join reads the cache twice). */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramPairsCached(spark, dir).orderBy("doc_a", "doc_b")

  private def ngramPairsCached(spark: SparkSession, dir: String): DataFrame =
    ngramPairsCachedAt(spark, dir, JaccardThreshold)

  /** The exact-Jaccard pair list at an arbitrary threshold, session-
    * cached per (dir, threshold) — a dataset card sweeps several
    * thresholds over one corpus, and each sweep point is its own small
    * derived table (the shared shingle index underneath is built once). */
  private def ngramPairsCachedAt(spark: SparkSession, dir: String,
                                 threshold: Double): DataFrame = {
    val tag = if (threshold == JaccardThreshold) "" else s"@$threshold"
    graft.core.SessionCache.getOrBuild(spark, s"ngram_pairs$tag", dir) {
      index(spark, dir).ngramPairs(threshold)
    }
  }

  /** The PPJoin-filtered exact pair list, session-cached like its
    * siblings (`ngram_pairs`, `minhash_pairs`) — identical rows to
    * `ngramJaccard` by losslessness (the oracle proves it), produced
    * through the prefix+length+positional candidate path. The UNCACHED
    * cost profile lives in docs/SCALING.md (PpjoinProbe). */
  def ppjoinPairs(spark: SparkSession, dir: String): DataFrame =
    graft.core.SessionCache.getOrBuild(spark, "ppjoin_pairs", dir) {
      TextHashing.ppjoinFor(index(spark, dir).shingles, JaccardThreshold)
    }

  /** Cluster-representative dedup over the EXACT Jaccard pair graph —
    * the ground-truth clustering the banded variants approximate (their
    * pair sets are subsets of this one, InvarianceSpec). Same scale
    * shape as `minhashClusters`: the component loop touches only docs
    * that appear in a pair, singletons join via one anti join. */
  def ngramClusters(spark: SparkSession, dir: String): DataFrame =
    ngramClustersAt(spark, dir, JaccardThreshold)

  /** The cluster family with the threshold as an OPERATOR-LEVEL knob: a
    * dataset card sweeps dedup aggressiveness (0.2 catches topical
    * near-dups, 0.8 only boilerplate clones), and each threshold yields
    * its own pair graph, component fixpoint, and cluster table — all
    * session-cached per (dir, threshold), sharing one shingle index. */
  def ngramClustersAt(spark: SparkSession, dir: String, threshold: Double): DataFrame = {
    val tag = if (threshold == JaccardThreshold) "" else s"@$threshold"
    clustersFromPairs(spark, dir,
      ngramPairsCachedAt(spark, dir, threshold).select("doc_a", "doc_b"),
      s"ngram_clusters$tag")
  }

  /** 32-minima MinHash signature per doc, one array column: 32 affine
    * permutations h_i(x) = ((2i+1)*x' + i^2+7) mod p over md5-hashed
    * shingles (x' = x mod p), computed as 32 min-aggregate columns (no
    * row explosion) then packed. The array form is what the curation
    * pipeline PERSISTS as its near-dup index — fixed 32 longs per doc,
    * unlike shingle sets, so cross-run verification never has to re-read
    * historical document text. */
  def sigTable(sh: DataFrame): DataFrame = {
    val hashed = sh.withColumn("h", md5Long(col("sh")) % P)
    val minCols = (0 until NumHashes).map { i =>
      min((lit(2 * i + 1) * col("h") + lit(i * i + 7)) % P).as(s"mh$i")
    }
    hashed.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"), array((0 until NumHashes).map(i => col(s"mh$i")): _*).as("sig"))
  }

  /** Signature table for an arbitrary documents frame (doc_id, text) —
    * the entry point for batch-shaped callers like the curation
    * pipeline's per-micro-batch near-dup gate. */
  def minhashSigs(docs: DataFrame): DataFrame =
    sigTable(TextHashing.docShingles(docs))

  /** (doc_id, band, band_key) from a signature table: bands of 4
    * consecutive minima, keyed by their concatenation. One row per
    * (doc, band); candidate pairs come from EQUALITY joins on
    * (band, band_key) — shuffle-partitionable, never a cross join. */
  def bandsOf(sigs: DataFrame): DataFrame = {
    val bandStructs = (0 until NumHashes / BandRows).map { b =>
      struct(
        lit(b).as("band"),
        concat_ws(",", (0 until BandRows).map(r =>
          concat(lit(s"$r:"), element_at(col("sig"), b * BandRows + r + 1))): _*).as("band_key"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.band_key").as("band_key"))
  }

  /** Estimated Jaccard from two 32-minima signatures: the fraction of
    * agreeing components — the standard MinHash estimator, one codegen'd
    * zip_with+aggregate fold per pair. n/32 is exact in binary, so the
    * value is bit-portable to the DuckDB oracle. */
  def estJaccard(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), _ + _).cast("double") / NumHashes

  /** MinHash-LSH near-dedup: candidates = pairs sharing any band key;
    * survivors = candidates whose exact Jaccard clears the threshold
    * (verification joins only the candidate docs' shingles, not the full
    * inverted index). */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashPairs(spark, dir).orderBy("doc_a", "doc_b")

  /** The verified pair list, session-cached: built once per (session,
    * dir), shared by the pair query and `minhashClusters` (which
    * references it three times — node union, edge symmetrization,
    * singleton anti join). */
  private[graft] def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    graft.core.SessionCache.getOrBuild(spark, "minhash_pairs", dir) {
      val sh = index(spark, dir).shingles
      val bt = bandsOf(cachedSigTable(spark, dir))
      val cands = bt.as("a")
        .join(bt.as("b"),
          col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      jaccardFor(sh, JaccardThreshold, restrictTo = Some(cands))
        .select("doc_a", "doc_b", "jaccard")
    }

  /** The corpus signature table, session-cached: shared by the banded
    * pair query (whose band self-join references it twice), the
    * estimator query, and decontamination — the 32-column min-aggregate
    * over the shingle index runs once per (session, dir). */
  private def cachedSigTable(spark: SparkSession, dir: String): DataFrame =
    graft.core.SessionCache.getOrBuild(spark, "minhash_sigtable", dir) {
      sigTable(index(spark, dir).shingles)
    }

  /** Banded candidates scored by the SIGNATURE estimator instead of exact
    * Jaccard — the batch form of the curation pipeline's cross-run
    * near-dup gate (CurationPipeline.incrementalNearDedup verifies
    * incoming docs against PERSISTED signatures with exactly this
    * predicate; this query is its oracle-checkable face). */
  def minhashEst(spark: SparkSession, dir: String): DataFrame = {
    val sigs = cachedSigTable(spark, dir)
    val bt = bandsOf(sigs)
    val cands = bt.as("a")
      .join(bt.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cands
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .filter(estJaccard(col("sig_a"), col("sig_b")) >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"),
        round(estJaccard(col("sig_a"), col("sig_b")), 6).as("est_jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Cross-corpus near-dup detection — DECONTAMINATION: flag training
    * docs that are near-duplicates of an evaluation/benchmark set (the
    * canonical pre-training hygiene step: held-out data leaking into the
    * training corpus inflates benchmark scores). Same banded shape as
    * within-corpus dedup, but the candidate join is corpus-bands vs
    * BENCH-bands — cost scales with band collisions, never
    * |corpus| x |bench|. At 100 TB the benchmark side is tiny, so its
    * band table broadcasts. Both sides are (doc_id, text) frames;
    * returns (doc_id, bench_id, est_jaccard) for flagged pairs. */
  def crossCorpusNearDups(
      corpus: DataFrame, bench: DataFrame,
      threshold: Double = JaccardThreshold): DataFrame =
    crossCorpusNearDupsFromSigs(minhashSigs(corpus), minhashSigs(bench), threshold)

  private def crossCorpusNearDupsFromSigs(
      cSigs: DataFrame, bSigsRaw: DataFrame, threshold: Double): DataFrame = {
    // the benchmark side is tiny by definition (a held-out eval set vs a
    // training corpus), so BOTH its band table and its signature table
    // are broadcast explicitly — at 100 TB the corpus side must never
    // shuffle for this join, and AQE's fixture-scale choice shouldn't
    // decide the production plan shape
    val bBands = broadcast(bandsOf(bSigsRaw)
      .select(col("doc_id").as("bench_id"), col("band"), col("band_key")))
    val bSigs = broadcast(
      bSigsRaw.select(col("doc_id").as("bench_id"), col("sig").as("bench_sig")))
    val cands = bandsOf(cSigs)
      .join(bBands, Seq("band", "band_key"))
      .select("doc_id", "bench_id").distinct()
    cands
      .join(cSigs, "doc_id")
      .join(bSigs, "bench_id")
      .filter(estJaccard(col("sig"), col("bench_sig")) >= threshold)
      .select(col("doc_id"), col("bench_id"),
        round(estJaccard(col("sig"), col("bench_sig")), 6).as("est_jaccard"))
      .orderBy("doc_id", "bench_id")
  }

  /** Decontamination as an oracle-checkable batch query: the corpus is
    * the documents table minus every 20th doc, the "benchmark" is those
    * held-out docs — flagged rows are training docs that would leak the
    * held-out set. Both splits come from the session-cached signature
    * table (a doc's signature is independent of the split), so the
    * corpus is shingled once per session, not once per side. */
  def decontamination(spark: SparkSession, dir: String): DataFrame = {
    val sigs = cachedSigTable(spark, dir)
    crossCorpusNearDupsFromSigs(
      sigs.filter(col("doc_id") % 20 =!= 0),
      sigs.filter(col("doc_id") % 20 === 0), JaccardThreshold)
  }

  /** Exact n-gram CONTAINMENT contamination — the published benchmark-
    * decontamination recipe (flag a training doc if any n-gram of a
    * benchmark doc appears in it verbatim; n = 13 words is the
    * convention): the complement of the banded-minhash flagger above,
    * which catches near-dups but can miss a verbatim quote embedded in
    * an otherwise-different doc.
    *
    * A benchmark doc shorter than n words contributes its whole text as
    * one gram (the shinglesOf convention — a short doc still
    * decontaminates). Returns (doc_id, bench_id, n_hits) with n_hits =
    * DISTINCT benchmark n-grams of bench_id found verbatim in doc_id.
    *
    * Plan shape: the benchmark side is tiny by definition, so its
    * exploded distinct gram table BROADCASTS (the explicit hint keeps
    * the shape scale-invariant); the corpus side streams its grams
    * through the broadcast hash join — cost is one corpus scan +
    * explode, never |corpus| x |bench|, and the only shuffle is the
    * per-pair count. Grams join as raw strings: genuinely exact (no
    * hash-collision caveat) and the 13-word keys only exist on the
    * match side of the broadcast join, never in a shuffle. */
  def exactNgramContamination(corpus: DataFrame, bench: DataFrame,
                              n: Int = 13): DataFrame =
    exactNgramContaminationAgainst(corpus, docGrams(bench, "bench_id", n), n)

  /** Same flagger against an ALREADY-MATERIALIZED benchmark gram table
    * — the streaming gate's shape: the bench side is static per stream,
    * so re-exploding it every micro-batch is pure waste
    * (`cachedBenchGrams` below materializes it once per session). */
  def exactNgramContaminationAgainst(corpus: DataFrame, benchGrams: DataFrame,
                                     n: Int = 13): DataFrame = {
    require(n >= 1, s"n=$n must be positive")
    docGrams(corpus, "doc_id", n)
      .join(broadcast(benchGrams), "gram")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id", "bench_id")
  }

  /** Bloom-PREFILTERED exact decontamination — the 100 TB plan shape
    * for `exactNgramContamination`, same rows out. The exact path is
    * already shuffle-free up to the broadcast join (docGrams dedups
    * per-doc with `array_distinct`, narrowly), but every corpus gram
    * still reaches the broadcast hash probe even though ~all grams
    * match nothing. Here the benchmark side (tiny by definition — an
    * eval suite doesn't grow with the training corpus) is folded into a
    * Bloom filter over xxhash64(gram) (Spark's own
    * `BloomFilterAggregate`, the runtime-filter machinery), shipped to
    * the corpus scan as a FOLDABLE binary literal, and every corpus
    * gram is tested by `BloomFilterMightContain` in the scan stage —
    * a bit-test per gram instead of a string hash + equality probe,
    * and only the ~fpp-sized candidate set reaches the join. False
    * positives die at the exact string-equality join that follows; the
    * result is provably identical to the unfiltered path
    * (BloomPrefilterSpec asserts both).
    *
    * Driver state is bounded: the collected bloom is one binary row of
    * `optimalNumOfBits(|bench grams|, fpp)` bits (~1.2 MB per million
    * benchmark grams at fpp=0.01) — bench-sized, never corpus-sized. */
  def bloomNgramContamination(corpus: DataFrame, bench: DataFrame,
                              n: Int = 13, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.{BinaryType, LongType}
    import org.apache.spark.util.sketch.BloomFilter

    require(n >= 1, s"n=$n must be positive")
    require(fpp > 0 && fpp < 1, s"fpp=$fpp must be in (0, 1)")
    val benchGrams = docGrams(bench, "bench_id", n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val m = benchGrams.count() // sizes the bit array; also the empty guard
      if (m == 0L) // nothing to decontaminate against; schema-stable empty
        return corpus.select(col("doc_id"), col("doc_id").as("bench_id"),
          lit(0L).as("n_hits")).limit(0)
      val numBits = math.max(64L, BloomFilter.optimalNumOfBits(m, fpp))
      val bfBytes = benchGrams
        .agg(Bridge.column(new BloomFilterAggregate(
          Bridge.expression(xxhash64(col("gram"))),
          Literal.create(m, LongType),
          Literal.create(numBits, LongType))).as("bf"))
        .head().getAs[Array[Byte]]("bf")
      val mightContain = Bridge.column(BloomFilterMightContain(
        Literal.create(bfBytes, BinaryType),
        Bridge.expression(xxhash64(col("gram")))))
      corpus
        .withColumn("ws", words(col("text")))
        .filter(size(col("ws")) > 0)
        .select(col("doc_id"),
          explode(array_distinct(ngramsOf(col("ws"), n))).as("gram"))
        .filter(mightContain) // candidates only reach the confirm join
        .join(broadcast(benchGrams), "gram") // exact confirm kills bloom FPs
        .groupBy("doc_id", "bench_id")
        .agg(count(lit(1)).as("n_hits"))
        .orderBy("doc_id", "bench_id")
    } finally benchGrams.unpersist(blocking = false)
  }

  /** Bloom decontamination as an oracle-checkable query: same split and
    * n as `decontaminationNgram`, so the DuckDB oracle is the same
    * exact-containment SQL — the bloom stage must be invisible in the
    * rows (the `dedup_ngram_ppjoin` precedent: a lossless plan variant
    * carries its own query face so the gate pins its losslessness). */
  def decontaminationBloom(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    bloomNgramContamination(
      d.filter(col("doc_id") % 20 =!= 0),
      d.filter(col("doc_id") % 20 === 0), n = 13)
  }

  /** Distinct (id, n-gram) pairs of a docs-shaped frame. Zero-word docs
    * are skipped: the short-doc branch would emit the empty-string
    * gram, making one empty benchmark doc "contaminate" every empty
    * training doc — spurious on both sides.
    *
    * Distinctness is per document, so it is the narrow
    * `array_distinct`-before-explode form (see docShingles) — no
    * corpus-wide (id, gram) exchange. */
  private def docGrams(d: DataFrame, idAs: String, n: Int): DataFrame = d
    .withColumn("ws", words(col("text")))
    .filter(size(col("ws")) > 0)
    .select(col("doc_id").as(idAs),
      explode(array_distinct(ngramsOf(col("ws"), n))).as("gram"))

  /** Cross-SOURCE duplication matrix — corpus governance over the
    * verified pair table: how much of each source duplicates each
    * other source (licensing leaks, scraper overlap, mirror sites all
    * show up here first). Sources are ordered within the pair so each
    * unordered source pair appears once; `share6` is each cell's
    * portable-round-6 share of all verified pairs (an integer ratio —
    * the guaranteed-tie class). Pair-table-sized throughout; the
    * doc->source map joins via broadcast-friendly narrow projections. */
  def crossSourceDups(spark: SparkSession, dir: String): DataFrame = {
    val src = docs(spark, dir).select(col("doc_id"), col("source"))
    val pairs = minhashPairs(spark, dir).select("doc_a", "doc_b")
    val total = pairs.agg(count(lit(1)).as("n_total"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(total))
      .withColumn("share6",
        floor(col("n_pairs").cast("double") / col("n_total") * lit(1.0e6)
          + lit(0.5)) / lit(1.0e6))
      .select(col("source_a"), col("source_b"), col("n_pairs"), col("share6"))
      .orderBy("source_a", "source_b")
  }

  /** CONTRASTIVE training pairs mined from the dedup structure — the
    * embedding-model data face of the near-dup graph: every verified
    * MinHash pair is an (anchor, positive); each pair draws a hard-ish
    * NEGATIVE from a fixed deterministic pool (the `poolSize` docs with
    * the smallest md5('neg:' id) — the distributed stand-in for
    * in-batch negatives), picking the pool member outside the anchor's
    * cluster with the smallest md5(anchor ':' candidate).
    *
    * Scale shape: pairs are dup-structure-sized (the cached verified
    * pair table); the pool is a poolSize-row TakeOrderedAndProject
    * broadcast; per pair the negative choice is a poolSize-row window —
    * bounded everywhere, no corpus x corpus anything. */
  def contrastivePairs(spark: SparkSession, dir: String,
                       poolSize: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = minhashPairs(spark, dir).select("doc_a", "doc_b")
    val clusters = minhashClusters(spark, dir).select("doc_id", "cluster_rep")
    val pool = docs(spark, dir)
      .select(col("doc_id").as("neg_id"))
      .withColumn("pk", md5Long(concat_ws(":", lit("neg"), col("neg_id"))))
      .orderBy("pk", "neg_id").limit(poolSize)
      .join(clusters.select(col("doc_id").as("neg_id"),
        col("cluster_rep").as("neg_rep")), "neg_id")
      .select("neg_id", "neg_rep")
    val w = Window.partitionBy("doc_a", "doc_b")
      .orderBy(col("nk").asc, col("neg_id").asc)
    pairs
      .join(clusters.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .crossJoin(broadcast(pool))
      .filter(col("neg_rep") =!= col("cluster_rep"))
      .withColumn("nk", md5Long(concat_ws(":", col("doc_a"), col("neg_id"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_a", "doc_b", "neg_id")
      .orderBy("doc_a", "doc_b")
  }

  /** ANN-mined HARD negatives for the contrastive pairs — the upgrade
    * every embedding-training recipe makes over random negatives: the
    * negative should be semantically CLOSE to the anchor yet verifiably
    * not a duplicate, so the model learns the boundary instead of the
    * obvious. For each verified (anchor, positive) MinHash pair, the
    * hard negative is the highest-cosine embedding neighbor of the
    * anchor among vectors OUTSIDE the anchor's near-dup cluster
    * (rounded-cosine order, id tie-break); the positive is in the
    * anchor's cluster by construction, so it can never be chosen.
    *
    * Plan shape: anchors are pair-table-sized; candidates come from the
    * SAME auto-sized sign-bucket equality join as the near-dup family
    * (per-anchor work ~bucket population, never corpus), then one
    * per-pair window. An anchor whose bucket holds only its own cluster
    * drops — no honest hard negative exists there and the oracle's
    * inner join agrees. */
  def contrastiveHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = minhashPairs(spark, dir).select("doc_a", "doc_b")
    val clusters = minhashClusters(spark, dir).select("doc_id", "cluster_rep")
    val e = Similarity.emb(spark, dir)
    val bits = Similarity.autoNBits(e.count())
    val eb = e.withColumn("bkt", Similarity.bucket(col("v"), bits))
    val anchors = pairs
      .join(clusters.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .join(eb.select(col("vec_id").as("doc_a"), col("v").as("av"),
        col("nrm").as("anrm"), col("bkt")), "doc_a")
    val w = Window.partitionBy("doc_a", "doc_b")
      .orderBy(col("neg_cos").desc, col("neg_id").asc)
    anchors
      .join(eb.select(col("vec_id").as("neg_id"), col("v").as("nv"),
        col("nrm").as("nnrm"), col("bkt")), Seq("bkt"))
      .join(clusters.select(col("doc_id").as("neg_id"),
        col("cluster_rep").as("neg_rep")), "neg_id")
      .filter(col("neg_rep") =!= col("cluster_rep"))
      .withColumn("neg_cos",
        round(Similarity.cosineWithNorms(col("av"), col("nv"),
          col("anrm"), col("nnrm")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_a", "doc_b", "neg_id", "neg_cos")
      .orderBy("doc_a", "doc_b")
  }

  /** Corpus-level n-gram duplication profile — the RefinedWeb-style
    * corpus-health panel: how much of the corpus's distinct n-gram mass
    * appears in more than one document. Distinct grams bucket by their
    * document frequency (1, 2–5, 6–10, 11+); each bucket reports its
    * gram count, total (doc, gram) occurrences, and share of distinct
    * grams. Rising 2+ shares across crawl snapshots are the standard
    * early-warning signal that drives dedup-threshold tuning.
    *
    * Plan shape: one corpus scan + explode → one groupBy(gram) count
    * (THE shuffle, map-side partial counts first) → a ≤4-row bucket
    * aggregate. Linear in corpus, nothing pairwise. At 100 TB the
    * gram-count shuffle is the cost; keying on xxhash64(gram) would cut
    * shuffle bytes ~6× at the price of collided grams counting
    * together — kept as raw strings so the profile is exact and the
    * oracle compares string-for-string. */
  def ngramDuplicationProfile(spark: SparkSession, dir: String,
                              n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docGrams(docs(spark, dir), "doc_id", n)
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .withColumn("dup_bucket",
        when(col("df") === 1, "1_unique")
          .when(col("df") <= 5, "2_2-5")
          .when(col("df") <= 10, "3_6-10")
          .otherwise("4_11plus"))
      .groupBy("dup_bucket")
      .agg(count(lit(1)).as("n_grams"), sum("df").as("n_occurrences"))
      .withColumn("share",
        round(col("n_grams") / sum("n_grams").over(Window.partitionBy()), 6))
      .orderBy("dup_bucket")
  }

  /** Per-document memorization-risk panel — the doc-level face of the
    * duplication profile: the share of a doc's distinct n-grams that
    * appear in NO other document (df = 1). A high-unique-share doc is
    * idiosyncratic content a model can only reproduce by memorizing it
    * — the standard extraction-risk screen (and, dually, the docs
    * dedup can never catch). Same gram-count shuffle as the profile
    * plus one gram-keyed equality join back — postings class, nothing
    * pairwise; share is portable-round-6 (integer ratio). */
  def memorizationRisk(spark: SparkSession, dir: String,
                       n: Int = 3): DataFrame = {
    val grams = docGrams(docs(spark, dir), "doc_id", n)
    // A df=1 gram has exactly ONE (doc, gram) row, so min(doc_id) on
    // the count aggregation IS the owning document — carrying it as an
    // aggregate rider replaces the old gram-keyed join of the FULL gram
    // stream back onto the count table (guide §2.4: remove the shuffle
    // outright; the join shuffled every (doc_id, gram) row a second
    // time). Per-doc totals come from the per-doc DISTINCT gram-array
    // size — no explode, no exchange. Docs join doc-keyed (doc-count
    // sized), never gram-keyed.
    val gramAgg = grams.groupBy("gram")
      .agg(count(lit(1)).as("df"), min("doc_id").as("d1"))
    val uniq = gramAgg.filter(col("df") === 1)
      .groupBy(col("d1").as("doc_id")).agg(count(lit(1)).as("n_unique"))
    val totals = docs(spark, dir)
      .withColumn("ws", TextHashing.words(col("text")))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"),
        size(array_distinct(ngramsOf(col("ws"), n))).cast("long").as("n_grams"))
    totals.join(uniq, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"))
      .withColumn("unique_share6",
        floor(col("n_unique").cast("double") / col("n_grams") * lit(1.0e6)
          + lit(0.5)) / lit(1.0e6))
      .orderBy("doc_id")
  }

  /** `benchDir`'s distinct benchmark gram table, materialized ONCE per
    * (session, dir) — every micro-batch of the streaming
    * decontamination gate joins against it instead of re-scanning and
    * re-exploding the (static) benchmark per batch. */
  def cachedBenchGrams(spark: SparkSession, benchDir: String,
                       n: Int = 13): DataFrame =
    graft.core.SessionCache.getOrBuild(spark, s"bench_grams_$n", benchDir) {
      docGrams(spark.read.parquet(benchDir).select("doc_id", "text"),
        "bench_id", n)
    }

  /** Word n-grams of an already-materialized words column (generalizes
    * TextHashing.shinglesOf beyond n = 3, same short-doc convention). */
  private[graft] def ngramsOf(ws: Column, n: Int): Column =
    when(size(ws) < n, array(concat_ws(" ", ws)))
      .otherwise(transform(
        sequence(lit(1), size(ws) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(ws, i + j)): _*)))

  /** Exact-containment decontamination as an oracle-checkable query:
    * same corpus/benchmark split as `decontamination`, n = 13. */
  def decontaminationNgram(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    exactNgramContamination(
      d.filter(col("doc_id") % 20 =!= 0),
      d.filter(col("doc_id") % 20 === 0), n = 13)
  }

  /** 48-bit SimHash signatures over distinct words (md5-hashed): bit j is
    * the sign of the vote sum over words of (+1 / -1 on word-hash bit j).
    * 48 bits keeps the signature and band arithmetic inside Long; votes
    * are 48 sum-aggregate columns — no row explosion.
    *
    * Cached per (session, dir) via SessionCache: the `simhash` pair query
    * references the signature table FIVE times in one plan (unique sigs,
    * both sides of the cross-sig expansion, both sides of the same-sig
    * pairing) — the scan + explode + distinct + 48-column agg must not
    * run five times.
    *
    * Per-doc word dedup is `array_distinct` BEFORE the explode, not a
    * global `.distinct()` after it: the votes are per (doc_id, word),
    * so distinctness never needed a corpus-wide exchange. The old
    * global distinct shuffled every (doc_id, word) pair — at sf100
    * (5M docs) it spilled ~50 GB and was the single worst shuffle in
    * the suite; with the narrow form the exploded rows stay co-located
    * with their document, the 48-sum partial aggregation collapses
    * them map-side, and the only exchange left carries one 49-column
    * row per document. */
  def simhashSigs(spark: SparkSession, dir: String): DataFrame =
    graft.core.SessionCache.getOrBuild(spark, "simhash_sigs", dir) {
      val dw = docs(spark, dir)
        .withColumn("ws", words(col("text")))
        .select(col("doc_id"), explode(array_distinct(col("ws"))).as("w"))
        .withColumn("wh", md5Long(col("w")))
      val voteCols = (0 until SimHashBits).map { j =>
        sum(when(expr(s"shiftright(wh, $j)") % 2 === 1, 1).otherwise(-1)).as(s"v$j")
      }
      val sigExpr = (0 until SimHashBits).map { j =>
        when(col(s"v$j") >= 0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      dw.groupBy("doc_id")
        .agg(voteCols.head, voteCols.tail: _*)
        .select(col("doc_id"), sigExpr.as("sig"))
    }

  /** SimHash near-dup pairs: block-combination bands at the
    * population-chosen level ([[simhashLevel]]); candidates share a
    * band, survivors have
    * Hamming distance <= [[SimHashHammingMax]] over the 48-bit
    * signatures.
    *
    * The pairwise stage runs over UNIQUE signatures (similar docs often
    * share a sig exactly), then expands back to doc pairs — the
    * dedup-before-pairwise pattern that pays off whenever the corpus has
    * heavy value repetition. Hamming filters run BEFORE the distinct so
    * the dedup shuffle only carries survivors. */
  /** Near-dup graph over UNIQUE signatures: one node per distinct 48-bit
    * sig, one edge per banded candidate pair within Hamming <= 6. Shared
    * by the all-pairs query (`simhash`) and the cluster-representative
    * output (`simhashClusters`) — cached per (session, dir) like the
    * signature table, so the banded self-join runs once per session, not
    * once per query. Tiny by construction: nodes are unique sigs, edges
    * only exist between near-identical signatures. */
  private[graft] def sigPairs(spark: SparkSession, dir: String): DataFrame =
    graft.core.SessionCache.getOrBuild(spark, "simhash_sig_pairs", dir) {
      sigPairGraph(simhashSigs(spark, dir))
    }

  /** (sig, b, band_val) band table over the unique signatures, at the
    * population-chosen level — the shared candidate stage of the
    * all-pairs and forest paths. One count over the (session-cached)
    * signature frame picks the level; at 100 TB that count is a
    * footer-sized action. `levelOverride` exists so the correctness
    * gate can execute the level-1/2 band algebra end-to-end on a
    * small corpus (it is never set on the production path). */
  private def sigBands(usig: DataFrame,
                       levelOverride: Option[Int] = None): DataFrame = {
    val lvl = levelOverride.getOrElse(simhashLevel(usig.count()))
    val bandStructs = simhashBandSpecs(lvl).zipWithIndex.map { case (limbs, b) =>
      struct(lit(b).as("b"), simhashBandValCol(col("sig"), limbs).as("band_val"))
    }
    usig.select(col("sig"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("sig"), col("bb.b").as("b"), col("bb.band_val").as("band_val"))
  }

  private def sigPairGraph(sigs: DataFrame,
                           levelOverride: Option[Int] = None): DataFrame = {
    val bands = sigBands(sigs.select("sig").distinct(), levelOverride)
    bands.as("x")
      .join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.band_val") === col("y.band_val")
          && col("x.sig") < col("y.sig"))
      .withColumn("hamming", bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).cast("long"))
      .filter(col("hamming") <= SimHashHammingMax)
      .select(col("x.sig").as("sig_a"), col("y.sig").as("sig_b"), col("hamming"))
      .distinct()
  }

  /** Connectivity-preserving SPARSIFICATION of the verified simhash
    * near-dup graph — the round-15 fix for the sf100 contraction OOM.
    *
    * The all-pairs edge set is clique-shaped: a replicated dup family
    * of m near-identical signatures contributes ~m^2/2 verified pairs
    * (measured at sf100: 3.5M unique sigs but 316.8M verified pairs —
    * 634M directed edges of boxed (Long,Long) was the ~96 GB heap pin
    * that OOM'd `dedup_simhash_clusters`, docs/SCALING.md round-15).
    * Connected components never needed the cliques: within each
    * (band, band_val) candidate bucket this computes a SPANNING FOREST
    * of the bucket's verified subgraph (union-find over the bucket's
    * members, an edge emitted only when it merges two components).
    * Every verified edge of the full graph lives inside at least one
    * shared band bucket, and a spanning forest preserves per-bucket
    * connectivity, so the UNION of per-bucket forests has exactly the
    * original components — with at most (bucket population - 1) edges
    * per bucket instead of population^2/2: <= bands * uniqueSigs edges
    * total (~14M at sf100, a 22x reduction), linear in corpus no
    * matter how large the dup families grow.
    *
    * Work is unchanged (the bucket's pairwise hamming checks are the
    * same ones the verification join streamed; a popcount is ~1ns and
    * the largest sf100 bucket is ~4.8k sigs = 11M checks in one task)
    * — only the OUTPUT shrinks. Buckets sort their members first so
    * the emitted forest is a deterministic function of the data. The
    * all-pairs face (`simhash`) keeps `sigPairs`: its output contract
    * IS every verified pair. */
  private[graft] def sigForestEdges(sigs: DataFrame,
                                    levelOverride: Option[Int] = None): DataFrame = {
    val hammingMax = SimHashHammingMax // hoisted into the closure once
    val forest = udf { (ss: Seq[Long]) =>
      val arr = ss.toArray
      java.util.Arrays.sort(arr)
      val parent = Array.tabulate(arr.length)(identity)
      def find(i: Int): Int = {
        var r = i
        while (parent(r) != r) r = parent(r)
        var c = i
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var i = 0
      while (i < arr.length) {
        var j = i + 1
        while (j < arr.length) {
          val ri = find(i); val rj = find(j)
          if (ri != rj &&
              java.lang.Long.bitCount(arr(i) ^ arr(j)) <= hammingMax) {
            parent(rj) = ri
            out += ((arr(i), arr(j)))
          }
          j += 1
        }
        i += 1
      }
      out.toSeq
    }
    // auto-sized banding bounds each (b, band_val) bucket — the UDF's
    // single task — at ~SimHashTargetPop expected members, so the
    // per-bucket O(pop^2) loop stays ~flat per decade instead of
    // growing n/4096 under the old fixed width
    sigBands(sigs.select("sig").distinct(), levelOverride)
      .groupBy(col("b"), col("band_val"))
      .agg(collect_list("sig").as("ss"))
      .select(explode(forest(col("ss"))).as("e"))
      .select(col("e._1").as("sig_a"), col("e._2").as("sig_b"))
      .distinct()
  }

  /** Shared all-pairs face body: expand the unique-sig near-dup graph
    * back to doc pairs, plus the hamming-0 exact-sig pairs. */
  private def simhashPairsFace(sigs: DataFrame, pairs: DataFrame): DataFrame = {
    val crossSig = pairs
      .join(sigs.select(col("doc_id").as("da"), col("sig").as("sig_a")), "sig_a")
      .join(sigs.select(col("doc_id").as("db"), col("sig").as("sig_b")), "sig_b")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    val sameSig = sigs.as("p")
      .join(sigs.as("q"), col("p.sig") === col("q.sig") && col("p.doc_id") < col("q.doc_id"))
      .select(col("p.doc_id").as("doc_a"), col("q.doc_id").as("doc_b"), lit(0L).as("hamming"))
    crossSig.unionByName(sameSig)
      .orderBy("doc_a", "doc_b")
  }

  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val sigs = simhashSigs(spark, dir)
    simhashPairsFace(sigs, sigPairs(spark, dir))
  }

  /** Cluster-representative dedup: (doc_id, cluster_rep, cluster_size)
    * where clusters are the connected components of the near-dup
    * signature graph and cluster_rep = min doc_id in the cluster. This is
    * the scale-safe output contract a curation pipeline consumes: a
    * near-dup cluster of m docs emits m rows (keep rep, drop the rest),
    * where the all-pairs `simhash` output emits m(m-1)/2 — quadratic in
    * cluster size (a 10^6-doc boilerplate cluster at 100 TB would be
    * 5*10^11 pair rows but only 10^6 cluster rows).
    *
    * Components run over UNIQUE sigs (exact-sig duplicates collapse to
    * one node for free) via min-label propagation with pointer jumping:
    * each round takes the min label over the node's neighborhood, then
    * shortcuts label -> label(label), converging in O(log diameter)
    * rounds. The sig graph is tiny by construction (only near-identical
    * signatures are connected), so the driver-side fixpoint loop is a
    * handful of sub-second distributed rounds even at corpus scale.
    * Each round is lineage-truncated (localCheckpoint) so plans stay
    * flat no matter the iteration count. */
  def simhashClusters(spark: SparkSession, dir: String): DataFrame =
    graft.core.SessionCache.getOrBuild(spark, "simhash_clusters", dir) {
      val sigs = simhashSigs(spark, dir)
      // sigForestEdges, NOT sigPairs: identical components, but the
      // edge set is forest-sized (<= bands * uniqueSigs) instead of
      // clique-sized — the contraction input stays linear in the
      // corpus however large the dup families are (sf100: 14M edges
      // vs the 317M verified pairs that OOM'd a 96 GB heap)
      val comp = GraphOps.connectedComponents(
        sigs.select("sig"), sigForestEdges(sigs))
      val docComp = sigs.join(comp.withColumnRenamed("node", "sig"), Seq("sig"))
        .select(col("doc_id"), col("label").as("comp"))
      clusterOutput(docComp)
    }

  /** The cluster contract at a FORCED banding level (r16 verdict #1:
    * "the only code path whose correctness rests on a compatibility
    * argument instead of a hash-match"). Every natural corpus below
    * 4.2M unique sigs picks level 0, so without this handle the
    * level-1/2 band algebra (15x16-bit / 20x24-bit block-combination
    * keys) and its SQL mirror would never execute under the DuckDB
    * hash gate. Gate-only, not session-cached, never on the
    * production path — production always derives the level from the
    * unique-sig population. */
  private[graft] def simhashClustersAt(spark: SparkSession, dir: String,
                                       level: Int): DataFrame = {
    val sigs = simhashSigs(spark, dir)
    val comp = GraphOps.connectedComponents(
      sigs.select("sig"), sigForestEdges(sigs, Some(level)))
    val docComp = sigs.join(comp.withColumnRenamed("node", "sig"), Seq("sig"))
      .select(col("doc_id"), col("label").as("comp"))
    clusterOutput(docComp)
  }

  /** The all-pairs face at a FORCED banding level — see
    * [[simhashClustersAt]]; exercises the banded candidate join and
    * doc expansion at level 1/2 under the hash gate. */
  private[graft] def simhashAt(spark: SparkSession, dir: String,
                               level: Int): DataFrame = {
    val sigs = simhashSigs(spark, dir)
    simhashPairsFace(sigs, sigPairGraph(sigs, Some(level)))
  }

  /** Cluster-representative dedup over the MINHASH near-dup graph — the
    * same scale-safe contract as `simhashClusters`, for the banded
    * MinHash pipeline: components of the verified candidate-pair graph
    * (exact Jaccard >= threshold), every un-paired doc its own singleton
    * cluster. The component loop runs ONLY over docs that appear in a
    * near-dup pair (tiny by construction); singletons enter via one
    * anti join — at 100 TB the corpus is never shuffled through the
    * fixpoint rounds. */
  def minhashClusters(spark: SparkSession, dir: String): DataFrame =
    clustersFromPairs(spark, dir,
      minhashPairs(spark, dir).select("doc_a", "doc_b"), "minhash_clusters")

  /** Dedup with the PRODUCTION keep-rule: one survivor per MinHash
    * near-dup cluster, chosen by (quality_score desc, doc_id asc)
    * instead of min-id — real pipelines keep the best-written copy of a
    * duplicated document, not an arbitrary one. Quality is the same
    * heuristic the curation gate scores with (TextAnalysis.withQuality),
    * so the survivor set is consistent with the filtering stage.
    *
    * Cost = the cluster table (cached per session) + one quality
    * projection + one window over clusters — the window's partition
    * count is the CLUSTER count and its rows-per-partition the cluster
    * size, both bounded by the dedup structure, never the corpus.
    * Returns the survivors only: (doc_id, cluster_rep, cluster_size,
    * quality_score); singletons survive trivially. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.withQuality(docs(spark, dir))
      .select(col("doc_id"), col("quality_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_rep")
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    minhashClusters(spark, dir)
      .join(q, "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "cluster_rep", "cluster_size", "quality_score")
      .orderBy("cluster_rep")
  }

  /** Leakage-free train/val/test split: the unit of assignment is the
    * near-dup CLUSTER, not the document — a document and its
    * near-duplicates always land in the SAME split, so eval can never
    * score paraphrases of training data (the classic leakage failure a
    * doc-level hash split commits silently). The draw is the 60-bit md5
    * of "split:<cluster_rep>" scaled to [0,1): deterministic, engine-
    * portable, and independent of the documents' own hashes (a doc's
    * content influences WHICH cluster it joins, not where the cluster
    * goes). Default fractions are DYADIC (0.75/0.125/0.125) so the val
    * cut trainFrac + valFrac is exact in IEEE arithmetic — with 0.8/0.1
    * the sum is 0.9000000000000001, not the 0.9 another engine's
    * literal parses to, and a draw in that 2^-53 gap would split
    * differently across engines.
    *
    * Cost = the cluster table (session-cached) + one broadcast-sized
    * projection — no shuffle beyond what clustering already did.
    * Returns (doc_id, cluster_rep, split). */
  def leakageFreeSplit(spark: SparkSession, dir: String,
                       trainFrac: Double = 0.75,
                       valFrac: Double = 0.125): DataFrame = {
    require(trainFrac > 0 && valFrac >= 0 && trainFrac + valFrac < 1.0,
      s"fractions train=$trainFrac val=$valFrac must leave room for test")
    val u = md5Long(concat(lit("split:"), col("cluster_rep").cast("string"))) /
      lit(1152921504606846976.0) // 2^60, exact
    minhashClusters(spark, dir)
      .withColumn("split",
        when(u < trainFrac, "train")
          .when(u < trainFrac + valFrac, "val")
          .otherwise("test"))
      .select("doc_id", "cluster_rep", "split")
  }

  /** `leakageFreeSplit` as an oracle-checkable audit: per split, the doc
    * and cluster counts plus an id checksum — pins WHICH docs went
    * where, not just how many. */
  def leakageFreeSplitStats(spark: SparkSession, dir: String): DataFrame =
    leakageFreeSplit(spark, dir)
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("cluster_rep").as("n_clusters"),
        sum("doc_id").as("id_sum"))
      .orderBy("split")

  /** Cluster-size histogram over the MinHash near-dup clusters — the
    * dataset-card number ("how much of the corpus is duplicated, at
    * what multiplicity"): one row per distinct cluster size with the
    * number of clusters of that size. Derived from the cluster
    * contract, so it stays linear in docs no matter how dense the
    * duplication (the pair contract would be quadratic). */
  def minhashClusterHistogram(spark: SparkSession, dir: String): DataFrame =
    minhashClusters(spark, dir)
      .select("cluster_rep", "cluster_size").distinct()
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  /** Components over a doc-level near-dup pair graph, singletons kept:
    * the loop runs only over paired docs (tiny by construction); the
    * corpus enters once, through the singleton anti join. `pairs` must
    * be materialized (session cache / checkpoint) — it is referenced by
    * the node union, the edge symmetrization, and indirectly each
    * component round.
    *
    * The OUTPUT is session-cached under `cacheKind` like the pair lists
    * it derives from: the cluster table is a small deterministic derived
    * table (one row per doc), and both the cluster query and every
    * consumer built on it (histogram, curation joins) would otherwise
    * re-run the RDD fixpoint per reference. */
  /** SEMANTIC near-dup clusters: connected components over the
    * embedding-cosine near-dup pairs (`Similarity.embeddingNearDup` —
    * sign-bucket candidates, exact cosine verify), same cluster contract
    * as the text families (rep = min doc_id, singletons included). This
    * is the "semantic dedup" step of an LLM data pipeline: textually
    * distinct but embedding-identical docs collapse to one
    * representative. doc_id and vec_id are the same id space (the
    * corpus contract cross_modal relies on). */
  def semanticClusters(spark: SparkSession, dir: String,
                       threshold: Double = 0.35): DataFrame =
    clustersFromPairs(spark, dir,
      Similarity.embeddingNearDup(spark, dir, threshold)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")),
      s"semantic_clusters_$threshold")

  private def clustersFromPairs(
      spark: SparkSession, dir: String, pairs: DataFrame,
      cacheKind: String): DataFrame =
    graft.core.SessionCache.getOrBuild(spark, cacheKind, dir) {
      clustersFromPairsUncached(spark, dir, pairs)
    }

  private def clustersFromPairsUncached(
      spark: SparkSession, dir: String, pairs: DataFrame): DataFrame = {
    // no distinct here: connectedComponents distincts its node input,
    // and the anti join below only checks existence
    val paired = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id")))
    val comp = GraphOps.connectedComponents(paired, pairs)
      .select(col("node").as("doc_id"), col("label").as("comp"))
    val singles = docs(spark, dir).select("doc_id")
      .join(paired, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("comp"))
    clusterOutput(comp.unionByName(singles))
  }

  /** (doc_id, comp) -> (doc_id, cluster_rep, cluster_size), rep = min id. */
  private def clusterOutput(docComp: DataFrame): DataFrame = {
    val reps = docComp.groupBy("comp")
      .agg(min("doc_id").as("cluster_rep"), count(lit(1)).as("cluster_size"))
    docComp.join(reps, Seq("comp"))
      .select("doc_id", "cluster_rep", "cluster_size")
      .orderBy("doc_id")
  }
}
