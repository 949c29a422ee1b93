package graft.maintain

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.Cdc
import graft.model.Schemas
import graft.stream.{IngestLock, StateStore}

/**
 * Housekeeping jobs — the reference's post-run maintenance surface:
 *  - S10 change-log retention: purge fully-applied change-log files older
 *    than the retention window, guarded by checkpoint progress
 *    (reference: matomo2clickhouse.py:382-398, guard 734-738,
 *    _settings.py:87-90 — PURGE BINARY LOGS BEFORE now()-interval, but never
 *    past the last applied position);
 *  - S11 source-row retention: delete rows older than a bounded id watermark
 *    (reference: matomo2clickhouse.py:401-443, _settings.py:140-223);
 *  - ST8 dedup compaction: rewrite a versioned state keeping only the
 *    max-version row per key inside the window
 *    (reference: matomo2clickhouse.py:755-769, _settings.py:230-287).
 */
object Maintain {

  /**
   * Layout optimization — write `df` Z-ORDERED on two integer dimensions:
   * rows range-partition by their Morton value into `numFiles` contiguous
   * z-ranges (one parquet file each) and sort within each file. Because any
   * aligned 2^k block is a contiguous z-range (PrepSpec property), each
   * file's footer min/max statistics cover a tight bounding box in BOTH
   * dimensions — a scan filtered on either column prunes most files, which
   * at 100 TB is the difference between touching every file and touching
   * the overlap. The rewrite itself is one range-exchange + local sort.
   */
  def writeZOrdered(df: DataFrame, dir: String, xCol: String, yCol: String,
      numFiles: Int, bits: Int = 16): Unit = {
    require(numFiles > 0, s"numFiles must be positive: $numFiles")
    df.withColumn("__z", graft.text.Prep.zorderValue(col(xCol), col(yCol), bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(dir)
  }


  /**
   * S10 — delete change-log files that are (a) fully covered by the applied
   * watermark version and (b) whose newest event is older than `retainDays`
   * before `now`. Returns the deleted file paths. One pass over the file
   * footers' worth of data (group by input file, two aggregates) — at scale
   * this reads only the scanned columns, not payloads.
   *
   * Takes the [[IngestLock]] on `lockRoot` — the STATE ROOT the owning
   * [[graft.stream.ChangeStream]] heartbeats while applying (its
   * `cfg.stateDir`) — so a purge racing a live stream refuses instead of
   * deleting files out from under an in-flight batch. The reference runs
   * its PURGE under the same whole-run lock (matomo2clickhouse.py:382-398,
   * 851-868).
   */
  def purgeChangeLog(spark: SparkSession, changeLogDir: String,
      appliedWatermark: Long, retainDays: Int, now: Column,
      lockRoot: String,
      lockStaleMs: Long = IngestLock.DefaultStaleMs): Seq[String] =
    IngestLock.withLock(spark, lockRoot,
        s"purge-changelog-${java.util.UUID.randomUUID()}", lockStaleMs) { _ =>
    val p = new Path(changeLogDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else {
      val perFile = spark.read.schema(Schemas.changeEventSchema).parquet(changeLogDir)
        .select(input_file_name().as("file"), Cdc.versionExpr.as("v"), col("ts"))
        .groupBy(col("file"))
        .agg(max(col("v")).as("max_v"), max(col("ts")).as("max_ts"))
        .filter(col("max_v") <= appliedWatermark &&
          col("max_ts") < now - expr(s"INTERVAL $retainDays DAYS"))
      val doomed = perFile.select(col("file")).collect().map(_.getString(0)).toSeq
      doomed.foreach(f => fs.delete(new Path(new java.net.URI(f).getPath), false))
      doomed
    }
  }

  /**
   * S11 — the bounded retention delete: compute the SRT1 watermark (largest
   * id among the oldest `probeLimit` rows older than `minAgeDays` before the
   * data head) and return the surviving table (rows above the watermark).
   * The probe is a TakeOrdered top-k, never a full sort; the delete is one
   * pushdown-able range predicate.
   */
  def retentionDelete(df: DataFrame, idCol: String, tsCol: String,
      minAgeDays: Int = 21, probeLimit: Int = 10001): DataFrame = {
    val anchor = df.agg(max(col(tsCol)).as("__max_ts"))
    val watermark = df.select(col(idCol), col(tsCol))
      .orderBy(col(idCol).asc).limit(probeLimit)
      .crossJoin(broadcast(anchor))
      .filter(col(tsCol) < col("__max_ts") - expr(s"INTERVAL $minAgeDays DAYS"))
      .agg(max(col(idCol)).as("__wm"))
    df.crossJoin(broadcast(watermark))
      .filter(col("__wm").isNull || col(idCol) > col("__wm"))
      .drop("__wm")
  }

  /** ST8 — compact a versioned state dir in place: keep only the max-version
    * row per key among rows matching `windowPred` (rows outside pass through).
    * Returns (rowsBefore, rowsAfter). A month-partitioned state stays
    * month-partitioned ([[StateStore.replace]] keeps the dir's layout).
    *
    * Takes the [[IngestLock]] on the STATE ROOT — by default the parent of
    * `dir`, which is the `cfg.stateDir` every [[graft.stream.ChangeStream]]
    * batch locks while applying — so compacting a table whose stream is
    * mid-batch refuses instead of racing the state swap. Pass `lockRoot`
    * explicitly when the dir layout differs. */
  def compactState(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType, keyCols: Seq[String],
      windowPred: Option[Column] = None, lockRoot: Option[String] = None,
      lockStaleMs: Long = IngestLock.DefaultStaleMs): (Long, Long) = {
    val root = lockRoot.getOrElse(new Path(dir).getParent.toString)
    IngestLock.withLock(spark, root,
        s"compact-state-${java.util.UUID.randomUUID()}", lockStaleMs) { _ =>
      val state = StateStore.read(spark, dir, schema)
      val before = state.count()
      val next = Cdc.dedupPurge(state, keyCols, Schemas.VersionCol, windowPred)
        .localCheckpoint(true)
      val after = next.count()
      StateStore.replace(next, dir)
      (before, after)
    }
  }
}
