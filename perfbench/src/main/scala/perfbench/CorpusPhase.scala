package perfbench

import graft.Graft
import graft.ops.{TextAnalysis, TextDedup}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable

/** A corpus written both as JSON-lines input files (for curation) and as
  * a `documents.parquet` directory (for the operators), with the answers
  * the benchmark expects, computed independently. */
final class CorpusInputs(val corpus: Corpus, dir: java.io.File, jsonFiles: Int) {
  val jsonl = new java.io.File(dir, "jsonl")
  val parquet = new java.io.File(dir, "documents.parquet")
  private val docs = corpus.docs
  val byId: Map[Long, Doc] = docs.map(d => d.id -> d).toMap

  def writeJsonl(): Unit = {
    jsonl.mkdirs()
    docs.grouped(math.ceil(docs.size.toDouble / jsonFiles).toInt).zipWithIndex.foreach { case (part, i) =>
      val w = new java.io.PrintWriter(new java.io.File(jsonl, f"docs-$i%03d.jsonl"), "UTF-8")
      try part.foreach(d => w.println(CorpusGen.json(d))) finally w.close()
    }
  }

  def writeParquet(spark: SparkSession): Unit = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.lang, s"src${d.id % 4}", CorpusGen.codePoints(d.text).toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(parquet.getAbsolutePath)
  }

  lazy val clusters02: Map[Long, (Long, Long)] = CorpusGen.clustersAt(docs, 0.2)
  lazy val clusters05: Map[Long, (Long, Long)] = CorpusGen.clustersAt(docs, 0.5)
  lazy val quality: Map[Long, (Long, Double)] = docs.map(d => d.id -> CorpusGen.quality(d.text)).toMap
}

/** The corpus phase of a round: curation, the operator set cold then warm
  * on a fresh directory, and the refresh of that directory. */
final class CorpusPhase(spark: SparkSession, a: CorpusInputs, b: CorpusInputs, ops: Ops, spans: Spans) {
  import CorpusPhase._
  import spark.implicits._

  final class RoundOut {
    var curateS = 0.0; var curateQueryId: java.util.UUID = _; var curatedBytes = 0L; var curatedDocs = 0L
    var coldS = 0.0; var warmS = 0.0; var refreshS = 0.0
  }

  /** One round; `curateOnly` stops after curation (the warm-up). */
  def round(dir: java.io.File, r: Int, curateOnly: Boolean = false): RoundOut = {
    val out = new RoundOut
    val curated = new java.io.File(dir, "curated").getAbsolutePath
    ops.run("ops.curate", spans, r) {
      val t = System.nanoTime()
      val q = Graft.curateCorpus(spark, new java.io.File(a.jsonl, "*.jsonl").getAbsolutePath,
        curated, new java.io.File(dir, "fp-index").getAbsolutePath,
        new java.io.File(dir, "ckpt-curate").getAbsolutePath,
        nearDupDir = Some(new java.io.File(dir, "near-index").getAbsolutePath))
      q.awaitTermination()
      out.curateS = (System.nanoTime() - t) / 1e9
      out.curateQueryId = q.id
    } { _ =>
      val kept = spark.read.parquet(curated).select("doc_id").as[Long].collect()
      out.curatedDocs = kept.length
      checkCurated(kept.toSet)
    }
    out.curatedBytes = TickPhases.parquetFiles(curated).map(_.length).sum
    if (curateOnly) return out

    // the operator set on a fresh directory: cache-cold, then cache-warm
    val corpusDir = new java.io.File(dir, "corpus")
    copyTree(a.parquet, new java.io.File(corpusDir, "documents.parquet"))
    val d = corpusDir.getAbsolutePath
    for (pass <- Seq("cold", "warm")) {
      val t = System.nanoTime()
      operators.foreach { case (name, call) =>
        ops.run(s"ops.${name}_$pass", spans, r)(call(spark, d).collect())(checkOperator(name, _, a))
      }
      val s = (System.nanoTime() - t) / 1e9
      if (pass == "cold") out.coldS = s else out.warmS = s
    }

    // refresh: the same directory rewritten with a re-planted corpus whose
    // families sit on new doc ids, then the cached families again
    val t = System.nanoTime()
    spans("core.refresh", r) {
      deleteTree(new java.io.File(corpusDir, "documents.parquet"))
      copyTree(b.parquet, new java.io.File(corpusDir, "documents.parquet"))
      TextDedup.invalidate(spark, d)
      refreshed.foreach { case (name, call) =>
        ops.run(s"refresh.$name", spans, r)(call(spark, d).collect())(checkOperator(name, _, b))
      }
    }
    out.refreshS = (System.nanoTime() - t) / 1e9
    out
  }

  private def checkCurated(kept: Set[Long]): Seq[String] = {
    val c = a.corpus
    val p = mutable.ArrayBuffer[String]()
    p ++= Check.eq("survivors outside the input", (kept -- c.ids).size, 0)
    p ++= Check.eq("gate failers kept", c.docs.count(d => d.failer && kept(d.id)), 0)
    p ++= familySurvivors(c, kept)
    p ++= Check.eq("unrelated documents dropped",
      c.docs.count(d => d.family == -1 && !d.failer && !kept(d.id)), 0)
    p.toSeq
  }

  private def checkOperator(name: String, rs: Array[Row], in: CorpusInputs): Seq[String] = {
    val c = in.corpus
    def famTogether(rep: Map[Long, Long]): Seq[String] =
      c.families.toSeq.flatMap { case (f, ids) =>
        if (ids.map(rep.get).distinct.size == 1 && rep.contains(ids.head)) Nil
        else Seq(s"${c.familyKinds(f)} family $f split: ${ids.map(i => i -> rep.get(i))}")
      }.take(3)
    def clusterRows: Map[Long, (Long, Long)] =
      rs.map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("cluster_rep"), r.getAs[Long]("cluster_size"))).toMap
    name match {
      case "quality" =>
        Check.eq("docs", rs.length, c.docs.size) ++ rs.toSeq.flatMap { r =>
          val id = r.getAs[Long]("doc_id")
          val (n, q) = in.quality(id)
          Check.eq(s"doc $id n_words", r.getAs[Long]("n_words"), n) ++
            Check.near(s"doc $id quality", r.getAs[Double]("quality_score"), q, 1.5e-4) ++
            Check.eq(s"doc $id n_chars", r.getAs[Long]("n_chars_actual"), CorpusGen.codePoints(in.byId(id).text).toLong)
        }.take(5)
      case "lang_stats" =>
        val want = c.docs.groupBy(_.lang).toSeq.sortBy(_._1).map { case (l, ds) =>
          val n = ds.map(d => CorpusGen.codePoints(d.text).toLong)
          (l, ds.size.toLong, n.min, n.max)
        }
        Check.eq("rows", rs.map(r => (r.getString(0), r.getAs[Long]("n_docs"), r.getAs[Long]("min_chars"),
          r.getAs[Long]("max_chars"))).toSeq, want)
      case "token_counts" =>
        Check.eq("docs", rs.length, c.docs.size) ++ rs.toSeq.flatMap { r =>
          val id = r.getAs[Long]("doc_id")
          val text = in.byId(id).text
          val bpe = BpeIsh.findAllIn(text.toLowerCase(java.util.Locale.ROOT)).size.toLong
          Check.eq(s"doc $id ws_tokens", r.getAs[Long]("ws_tokens"), in.quality(id)._1) ++
            Check.eq(s"doc $id bpe_ish_tokens", r.getAs[Long]("bpe_ish_tokens"), bpe)
        }.take(5)
      case "repetition" =>
        Check.eq("docs", rs.length, c.docs.size) ++ rs.toSeq.flatMap { r =>
          val id = r.getAs[Long]("doc_id")
          val (nb, frac) = CorpusGen.repetition(in.byId(id).text)
          Check.eq(s"doc $id n_bigrams", r.getAs[Long]("n_bigrams"), nb) ++
            Check.near(s"doc $id top_bigram_frac", r.getAs[Double]("top_bigram_frac"), frac, 1.5e-4)
        }.take(5)
      case "exact" =>
        val want = c.docs.groupBy(_.text.toLowerCase(java.util.Locale.ROOT)).values
          .map(ds => (ds.map(_.id).min, ds.size.toLong)).toSet
        Check.eq("groups", rs.map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_dups"))).toSet, want)
      case "exact_normalized" =>
        val want = c.docs.groupBy(d => CorpusGen.normalized(d.text)).values
          .map(ds => (ds.map(_.id).min, ds.size.toLong, ds.map(_.text.toLowerCase(java.util.Locale.ROOT)).distinct.size.toLong)).toSet
        Check.eq("groups", rs.map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_dups"),
          r.getAs[Long]("n_raw_variants"))).toSet, want)
      case "ngram_clusters" => Check.eq("clusters", clusterRows, in.clusters02)
      case "ngram_clusters_t50" => Check.eq("clusters", clusterRows, in.clusters05)
      case "minhash_clusters" | "simhash_clusters" =>
        val got = clusterRows
        Check.eq("doc ids", got.keySet, c.ids) ++ Check.eq("rows", rs.length, c.docs.size) ++
          famTogether(got.map { case (k, v) => k -> v._1 })
      case "keep_best" =>
        val ids = rs.map(_.getAs[Long]("doc_id"))
        val reps = rs.map(_.getAs[Long]("cluster_rep"))
        Check.eq("survivors outside the corpus", ids.count(i => !c.ids(i)), 0) ++
          Check.eq("one survivor per cluster", reps.distinct.length, reps.length) ++
          familySurvivors(c, ids.toSet)
    }
  }
}

object CorpusPhase {
  /** Exactly one survivor per planted family. */
  def familySurvivors(c: Corpus, kept: Long => Boolean): Seq[String] =
    c.families.toSeq.flatMap { case (f, ids) =>
      val n = ids.count(kept)
      if (n == 1) Nil else Seq(s"${c.familyKinds(f)} family $f survivors: $n")
    }.take(3)

  private val BpeIsh = "[a-z]+|[0-9]+|[^a-z0-9\\s]".r

  /** The operator set, in call order: (metric name, call). */
  val operators: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "quality" -> TextAnalysis.qualityScore _,
    "lang_stats" -> TextAnalysis.langStats _,
    "token_counts" -> TextAnalysis.tokenCounts _,
    "repetition" -> TextAnalysis.repetition _,
    "exact" -> TextDedup.exact _,
    "exact_normalized" -> TextDedup.exactNormalized _,
    "ngram_clusters" -> TextDedup.ngramClusters _,
    "ngram_clusters_t50" -> ((s: SparkSession, d: String) => TextDedup.ngramClustersAt(s, d, 0.5)),
    "minhash_clusters" -> TextDedup.minhashClusters _,
    "simhash_clusters" -> TextDedup.simhashClusters _,
    "keep_best" -> TextDedup.dedupKeepBest _)

  /** The four session-cached dedup families the refresh calls again. */
  val cached: Seq[String] = Seq("ngram_clusters", "ngram_clusters_t50", "minhash_clusters", "simhash_clusters")
  val refreshed: Seq[(String, (SparkSession, String) => DataFrame)] = operators.filter(o => cached.contains(o._1))

  def copyTree(from: java.io.File, to: java.io.File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).foreach(_.foreach(f => copyTree(f, new java.io.File(to, f.getName))))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }
}
