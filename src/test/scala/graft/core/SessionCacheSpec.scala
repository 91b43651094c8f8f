package graft.core

import graft.SparkSpec

/** Session-cache lifecycle: entries must not outlive their session
  * (ADVICE r4: stopped sessions' cached plans were pinned for the JVM
  * lifetime). The eviction entry point `sessionEnded` is what the
  * registered onApplicationEnd listener calls — driven directly here so
  * the shared spec context doesn't have to be stopped. */
class SessionCacheSpec extends SparkSpec {

  test("sessionEnded evicts cached tables and fires registered cleanups") {
    import spark.implicits._
    var builds = 0
    def get() = SessionCache.getOrBuild(spark, "spec_kind", "/spec/dir") {
      builds += 1
      Seq(1, 2, 3).toDF("v")
    }
    get(); get()
    assert(builds === 1, "second access must hit the cache")

    @volatile var cleanedFor: Option[Boolean] = None
    SessionCache.onSessionEnd(s => cleanedFor = Some(s eq spark))
    SessionCache.sessionEnded(spark)
    assert(cleanedFor === Some(true), "cleanup hook must fire with the ending session")

    get()
    assert(builds === 2, "entry must be GONE after session end, not reused")
    SessionCache.invalidate(spark, "spec_kind", "/spec/dir")
  }

  test("nested getOrBuild is supported: builders may materialize their own dependencies") {
    // minhashPairs -> cachedSigTable nests getOrBuild calls; the old
    // computeIfAbsent shape threw "Recursive update" whenever the two
    // keys landed in the same hash bin (a lottery on the dir string)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    var innerBuilds = 0
    val outer = SessionCache.getOrBuild(spark, "spec_outer", "/spec/nested") {
      val inner = SessionCache.getOrBuild(spark, "spec_inner", "/spec/nested") {
        innerBuilds += 1
        Seq(1, 2, 3).toDF("a")
      }
      inner.select((col("a") + 1).as("a"))
    }
    assert(outer.collect().map(_.getInt(0)).sorted.toSeq === Seq(2, 3, 4))
    SessionCache.getOrBuild(spark, "spec_inner", "/spec/nested") {
      innerBuilds += 1; Seq(9).toDF("a")
    }
    assert(innerBuilds === 1, "the nested build must have cached its entry")
    SessionCache.invalidate(spark, "spec_outer", "/spec/nested")
    SessionCache.invalidate(spark, "spec_inner", "/spec/nested")
  }

  test("an invalidate landing during a build discards the stale frame and rebuilds") {
    // simulates "files rewritten while the first build was in flight":
    // the builder itself fires the invalidate mid-build, so the result
    // it returns is stale by definition and must not be installed
    import spark.implicits._
    var builds = 0
    val df = SessionCache.getOrBuild(spark, "spec_race", "/spec/race") {
      builds += 1
      if (builds == 1) SessionCache.invalidate(spark, "spec_race", "/spec/race")
      Seq(builds).toDF("b")
    }
    assert(builds === 2, "the stale first build must be discarded and retried")
    assert(df.collect()(0).getInt(0) === 2, "the caller gets the post-invalidation build")
    SessionCache.getOrBuild(spark, "spec_race", "/spec/race") {
      builds += 1; Seq(9).toDF("b")
    }
    assert(builds === 2, "the retried build must have been installed in the cache")
    SessionCache.invalidate(spark, "spec_race", "/spec/race")
  }

  test("an invalidate storm yields a correct, uncached, unpersisted frame (no block leak)") {
    // every build attempt is raced by an invalidate: getOrBuild must
    // give up after its bounded retries and hand back a frame that is
    // (a) correct, (b) NOT installed, and (c) NOT persisted — the
    // caller can't know it would have to unpersist (ADVICE r7 low)
    import spark.implicits._
    var builds = 0
    val df = SessionCache.getOrBuild(spark, "spec_storm", "/spec/storm") {
      builds += 1
      SessionCache.invalidate(spark, "spec_storm", "/spec/storm")
      Seq(builds).toDF("b")
    }
    assert(builds === 4, "three persisted attempts + one final unpersisted build")
    assert(df.storageLevel === org.apache.spark.storage.StorageLevel.NONE,
      "the storm-path frame must not be persisted (leak)")
    assert(df.collect()(0).getInt(0) === 4, "the caller still gets a correct frame")
    val installed = SessionCache.getOrBuild(spark, "spec_storm", "/spec/storm") {
      builds += 1; Seq(builds).toDF("b")
    }
    assert(builds === 5, "the storm result must not have been installed")
    assert(installed.collect()(0).getInt(0) === 5)
    SessionCache.invalidate(spark, "spec_storm", "/spec/storm")
  }

  test("TextDedup shingle index is evicted with the session") {
    val dir = "/root/testdata/sf0.001"
    val first = graft.ops.TextDedup.index(spark, dir)
    assert(graft.ops.TextDedup.index(spark, dir) eq first, "same session reuses the index")
    SessionCache.sessionEnded(spark)
    val rebuilt = graft.ops.TextDedup.index(spark, dir)
    assert(!(rebuilt eq first), "stopped session's index must not be pinned")
  }

  test("TextDedup.invalidate drops every threshold variant of a rewritten dir") {
    import spark.implicits._
    import graft.ops.TextDedup
    val dir = java.nio.file.Files.createTempDirectory("dedupinv").toString
    def write(base: Long, words: Seq[String]): Unit =
      Seq(0L, 1L, 2L).map(i => (base + i, (words ++ words.drop(i.toInt)).mkString(" ")))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def ids(t: Double) =
      TextDedup.ngramClustersAt(spark, dir, t).select("doc_id").as[Long].collect().toSet
    write(0L, Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta"))
    assert(ids(0.5) === Set(0L, 1L, 2L))
    assert(ids(0.2) === Set(0L, 1L, 2L))
    write(10L, Seq("one", "two", "three", "four", "five", "six"))
    TextDedup.invalidate(spark, dir)
    assert(ids(0.5) === Set(10L, 11L, 12L), "ngram_clusters@0.5 must not serve the old corpus")
    assert(ids(0.2) === Set(10L, 11L, 12L), "ngram_clusters@0.2 must not serve the old corpus")
    TextDedup.invalidate(spark, dir)
  }
}
