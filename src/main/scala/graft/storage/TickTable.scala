package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tick-table storage layout (SURVEY §2.2 K1 + §2.6 O5): the Spark
  * equivalent of the reference's MergeTree table with ORDER BY timestamp
  * (/root/reference/db/clickhouse.go:16-28).
  *
  *  - date-partitioned parquet: time-range predicates prune whole
  *    partitions before any I/O;
  *  - sortWithinPartitions(exchange_timestamp) before write: parquet
  *    row-group min/max stats are tight, so within a day, range scans
  *    skip row groups — the same effect as the MergeTree sort key;
  *  - a streaming micro-batch commits in ONE narrow stage: each input
  *    partition writes one time-sorted file per (trade_date, batch_id),
  *    with no writer shuffle. Parallelism comes from the source, which
  *    splits a large batch into slices of at most 10,000 frames
  *    (sources.FrameReplayStream.MaxFramesPerSlice), so a live stream's
  *    single hot date still gets several writer tasks on a big batch,
  *    while a 1,000-row batch writes one file instead of being shuffled
  *    into eight tiny ones. Several time-sorted files per date partition
  *    is exactly the MergeTree model the reference delegates to — each
  *    INSERT there is its own sorted part — and compaction collapses
  *    history;
  *  - the batch face (`append`, loads and backfills) still repartitions
  *    by (trade_date, token bucket) into a bounded writer count per date.
  */
object TickTable {

  val PartitionCol = "trade_date"

  /** Writer tasks per date partition of a batch load (`append`), and the
    * cap on files per (trade_date, batch_id) of a streaming micro-batch
    * (`appendBatch`) — the parts-per-insert analog. The default 8
    * balances parallel write against files-per-batch; a 1000-executor
    * deployment with much larger batches raises it toward
    * cores-per-date-of-data via the GRAFT_WRITERS_PER_DATE conf key. */
  val WritersPerDate: Int =
    sys.env.get("GRAFT_WRITERS_PER_DATE").flatMap(_.trim.toIntOption).filter(_ > 0)
      .getOrElse {
        // toIntOption, not toInt: a typo'd value must not surface as an
        // ExceptionInInitializerError on first TickTable touch
        if (sys.env.get("GRAFT_WRITERS_PER_DATE").exists(_.trim.toIntOption.isEmpty))
          System.err.println("[graft] GRAFT_WRITERS_PER_DATE is not a number; using 8")
        8
      }

  private def dateSpread = pmod(hash(col("token")), lit(WritersPerDate))

  /** Append a batch of ticks (tick schema, graft.core.Schemas.tickSchema).
    *
    * This is the BATCH face (loads, backfills): the explicit writer
    * count scales with the batch's distinct dates so a multi-date
    * backfill keeps ~WritersPerDate parallel writers per date — one
    * cheap distinct-count action per batch load. The streaming face
    * (appendBatch) pays neither that action nor a shuffle: its writers
    * follow the source's slices. */
  def append(ticks: DataFrame, path: String): Unit = {
    val dated = ticks.withColumn(PartitionCol, to_date(col("exchange_timestamp")))
    val nDates = math.max(1L, dated.select(PartitionCol).distinct().count())
    // EXPLICIT partition count (r15 verdict #1): a column-only
    // repartition here is eligible for AQE partition coalescing, which
    // merges the small (date, bucket) shuffle outputs straight back
    // into one writer task — exactly the serialization the spread
    // exists to prevent. Capped so a year-long backfill
    // cannot demand an unbounded shuffle-partition count.
    val writers = math.min(nDates * WritersPerDate, 8192L).toInt
    dated
      .repartition(writers, col(PartitionCol), dateSpread)
      // partition cols LEAD the sort: the partitioned-file writer
      // requires rows ordered by partition expressions and re-sorts if
      // they are not — a bare time sort here is silently destroyed by
      // that writer sort (caught by StorageSpec); leading with the
      // partition cols satisfies the requirement so the time order
      // survives into each file
      .sortWithinPartitions(col(PartitionCol), col("exchange_timestamp"))
      .write.mode("append")
      .partitionBy(PartitionCol)
      .parquet(path)
  }

  /** Idempotent micro-batch append: the layout adds a batch_id partition
    * level and the write DYNAMICALLY OVERWRITES exactly the
    * (trade_date, batch_id) partitions this batch produces — a replayed
    * batch (crash between sink write and offset commit) replaces its own
    * output instead of duplicating it (several files per partition is
    * fine: the overwrite replaces the whole partition DIRECTORY).
    * Compaction later collapses the batch_id level.
    *
    * One narrow stage, no shuffle: each input partition writes one
    * time-sorted file per (trade_date, batch_id), and a narrow
    * `coalesce(WritersPerDate)` caps the files when the batch arrives in
    * more partitions. The source's slicing sets the writer parallelism
    * (see the object doc); a shuffle here would only spread the few rows
    * of a small batch over more tiny files. */
  def appendBatch(ticks: DataFrame, path: String, batchId: Long): Unit =
    ticks
      .withColumn(PartitionCol, to_date(col("exchange_timestamp")))
      .withColumn("batch_id", lit(batchId))
      .coalesce(WritersPerDate)
      // partition cols lead the sort — see append()
      .sortWithinPartitions(col(PartitionCol), col("batch_id"), col("exchange_timestamp"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(PartitionCol, "batch_id")
      .parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Compacted rows carry this batch_id in a (trade_date, batch_id)
    * layout, so re-compaction and idempotent appends coexist. */
  val CompactedBatchId = -1L

  /** Compact a date partition: micro-batch appends leave one file per
    * trigger; periodic compaction rewrites the partition into `numFiles`
    * time-sorted files. Layout-preserving: a (trade_date, batch_id) sink
    * compacts into a fresh NEGATIVE batch_id under the same structure (a
    * mixed layout would break partition discovery). At 100 TB this runs
    * as a nightly job over yesterday's partition only — never the whole
    * table.
    *
    * Crash safety is `Compaction`'s manifest protocol: staged copy ->
    * journal -> publish renames (each boolean result checked; a false
    * aborts with the originals untouched) -> deletes. Any crash window
    * shows at worst transient duplication, which `Compaction.recover`
    * (run on entry) rolls forward and removes; no window loses data. */
  def compactPartition(spark: SparkSession, path: String, date: String, numFiles: Int = 1): Unit = {
    val fs = Compaction.fsFor(spark, path)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val partDir = s"$path/$PartitionCol=$date"
    // legacy backup dir from the pre-manifest protocol: a crash could
    // leave the partition hidden in it — restore before anything else
    val legacyOld = s"$path/.compact_old_$date"
    if (fs.exists(p(legacyOld))) {
      if (!fs.exists(p(partDir))) {
        if (!fs.rename(p(legacyOld), p(partDir)))
          throw new java.io.IOException(
            s"restore of interrupted compaction failed: $legacyOld -> $partDir")
      } else fs.delete(p(legacyOld), true) // publish completed; drop backup
    }
    Compaction.recover(spark, partDir)
    if (!fs.exists(p(partDir))) return
    val hasBatchId = fs.listStatus(p(partDir))
      .exists(_.getPath.getName.startsWith("batch_id="))
    if (hasBatchId) {
      Compaction.compactBatchDirs(spark, partDir, keepRecent = 0,
        numFiles = numFiles, sortCol = Some("exchange_timestamp"))
    } else {
      // no batch_id level: publish-then-delete at FILE granularity under
      // the same journal (staged part files carry fresh UUID names, so
      // they never collide with the files they replace)
      val part = read(spark, path)
        .filter(col(PartitionCol) === to_date(lit(date)))
        .drop(PartitionCol)
      val staging = Compaction.stagingOf(partDir).toString
      part.repartition(numFiles)
        .sortWithinPartitions("exchange_timestamp")
        .write.mode("overwrite").parquet(staging)
      val oldFiles = fs.listStatus(p(partDir)).map(_.getPath)
        .filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      val staged = fs.listStatus(p(staging)).map(_.getPath)
        .filter(_.getName.startsWith("part-"))
      Compaction.publishAndClean(fs, partDir,
        staged.map(f => f.toString -> s"$partDir/${f.getName}").toSeq,
        oldFiles.map(_.toString).toSeq :+ staging)
    }
  }

  /** Time-range scan helper — the predicate shape that gets both
    * partition pruning (on trade_date) and row-group skipping (on the
    * sorted timestamp). */
  def timeRange(spark: SparkSession, path: String, fromTs: String, toTs: String): DataFrame =
    read(spark, path)
      .filter(col(PartitionCol) >= to_date(lit(fromTs)) && col(PartitionCol) <= to_date(lit(toTs)))
      .filter(col("exchange_timestamp") >= to_timestamp(lit(fromTs))
        && col("exchange_timestamp") < to_timestamp(lit(toTs)))

  /** 32-bit Morton (Z-order) interleave of two 16-bit dimensions — the
    * multi-dimensional layout key: sorting by the interleaved bits
    * clusters BOTH dimensions at once, so a scan filtered on either
    * one (token OR time) skips most row groups, where a single-column
    * sort serves only its own column. Pure shift/mask arithmetic (16
    * unrolled terms), identical bit-for-bit in any engine. */
  def morton16(x: org.apache.spark.sql.Column,
               y: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val xb = x.bitwiseAND(lit(65535L))
    val yb = y.bitwiseAND(lit(65535L))
    (0 until 16).map { i =>
      shiftleft(shiftright(xb, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(yb, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** Write a frame Z-ORDERED on two dimensions: range-partition by the
    * morton key, sort within partitions by it, write parquet. Each
    * output file then covers a compact rectangle in (x, y) space —
    * min/max footer stats prune on BOTH dimensions (StorageSpec
    * measures per-file spans against a time-sorted layout). The write
    * shuffle is the one-time layout cost, exactly like bucketing. */
  def saveZOrdered(df: DataFrame, path: String,
                   x: org.apache.spark.sql.Column,
                   y: org.apache.spark.sql.Column,
                   numFiles: Int = 8): Unit =
    df.withColumn("z_key", morton16(x, y))
      .repartitionByRange(numFiles, col("z_key"))
      .sortWithinPartitions("z_key")
      .drop("z_key")
      .write.mode("overwrite").parquet(path)

  /** Save as a BUCKETED catalog table: hash-bucketed and sorted by `key`.
    * Two tables bucketed the same way join WITHOUT a shuffle — the
    * co-located fact-to-fact join (SURVEY §7.4.6; GraftConf clusterNotes:
    * "bucket very hot fact-to-fact joins by token"). At 100 TB a
    * tick-to-tick join on token shuffles the whole table every query
    * unless the layout pre-partitions it; bucketing pays that shuffle
    * once at write. StorageSpec asserts the shuffle-free join plan. */
  def saveBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
}
