package graft.stream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.cdc.Cdc

/**
 * Month-partitioned table state with partition-pruned apply — the 100 TB
 * answer to "full-outer-join the entire state with every micro-batch".
 *
 * The reference's own DDL points the way: every hot table is
 * `PARTITION BY toYYYYMM(<time col>)` (reference:
 * script_create_clickhouse_table.sql:97, 154, 173) and its purge/delete
 * queries carry date-range predicates so ClickHouse touches only the
 * partitions involved (reference: _settings.py:234-236). Here:
 *
 *  - state lives as parquet partitioned by `yyyymm` derived from the table's
 *    partition column (Schemas.tableMeta.partitionCol);
 *  - the caller passes the batch's TOUCHED month set (from the row images —
 *    the union of before- and after-image months, so a row migrating across
 *    months invalidates both sides). The stream takes it off the batch
 *    summary it already runs ([[graft.cdc.Cdc.batchSummary]]);
 *    [[touchedMonths]] is the reference those months are tested against;
 *  - only those partitions are read (Catalyst prunes the scan: the month
 *    filter is a partition predicate, so untouched months cost zero I/O)
 *    and handed to the caller's `next` — the versioned or the mutable apply
 *    ([[rewrite]]);
 *  - the applied result is written back with dynamic partition overwrite —
 *    untouched month directories are never rewritten. The write reads the
 *    very months it replaces, straight from the lazy plan: a dynamic
 *    overwrite stages every file and swaps the partition directories in
 *    only at job commit, after every task has read its input (a STATIC
 *    overwrite deletes the directory before the job runs, so it could not).
 *
 * At a 1000-executor / 100 TB scale this turns per-batch cost from
 * O(total state) into O(state of months with changes) — for CDC traffic that
 * is concentrated in the current month, effectively O(one partition).
 *
 * Crash semantics: partition overwrites are NOT atomic across months — a
 * crash mid-write leaves some touched months new and some old. That is safe
 * by the same contract the reference leans on (ReplacingMergeTree +
 * at-least-once, reference: README.md:358-362): the streaming checkpoint
 * has not committed the batch, so the whole batch re-applies on restart,
 * and the apply is convergent — INSERT/UPDATE land absolute after-images
 * (idempotent on the mutable path; duplicate same-version physical rows on
 * the versioned path, which latest-wins ignores and ST8 compaction removes),
 * DELETEs are naturally idempotent. Pinned by the replay test in
 * PartitionedStateSpec.
 */
object PartitionedState {

  val PartCol = "yyyymm"

  /** Initialize (or fully rewrite) partitioned state from a frame. */
  def init(df: DataFrame, dir: String, dateCol: String): Unit =
    df.withColumn(PartCol, Cdc.monthOf(col(dateCol)))
      .write.partitionBy(PartCol).mode("overwrite").parquet(dir)

  /** Read only the given months of state (partition-pruned scan) through
    * [[StateStore.read]]. A dir holding no month (absent, or every month
    * emptied by deletes) reads without the `yyyymm` column, and empty. */
  def readMonths(spark: SparkSession, dir: String, schema: StructType,
      months: Seq[String]): DataFrame = {
    val state = StateStore.read(spark, dir, schema)
    if (!state.columns.contains(PartCol)) state
    else state.filter(col(PartCol).isin(months: _*)).drop(PartCol)
  }

  /** The months a change batch touches: the UNION of before- and after-image
    * months — an UPDATE that moves a row's partition column must invalidate
    * both the partition it leaves and the one it enters. */
  def touchedMonths(changes: DataFrame, dateCol: String): Seq[String] =
    changes.select(explode(array(
        Cdc.monthOf(col("after").getField(dateCol)),
        Cdc.monthOf(col("before").getField(dateCol)))).as(PartCol))
      .where(col(PartCol).isNotNull)
      .distinct().collect().map(_.getString(0)).toSeq.sorted

  /** Partition-pruned apply: read only the `touched` months of state, run
    * `next` over them and rewrite only those months (dynamic partition
    * overwrite). `touched` must hold every month the batch touches (a
    * superset is safe: an extra month is rewritten unchanged). */
  def rewrite(spark: SparkSession, dir: String, schema: StructType, dateCol: String,
      touched: Seq[String])(next: DataFrame => DataFrame): Unit =
    if (touched.nonEmpty)
      writeTouched(spark, next(readMonths(spark, dir, schema, touched)), dir, dateCol, touched)

  /** How long a write's observed month set may lag the write itself. */
  private val ObservedMonthsWait = scala.concurrent.duration.Duration(60, "s")

  /** Dynamic-overwrite the partitions `next` lands in; a touched month that
    * ends up with ZERO rows is not in `next` at all, so its stale partition
    * directory is deleted explicitly. The months `next` lands in are
    * observed on the write itself (no separate job; `collect_set` is
    * idempotent under task retry). A missing observation fails the batch,
    * which the stream then replays: the stale-month delete is never
    * skipped. */
  private def writeTouched(spark: SparkSession, next: DataFrame, dir: String,
      dateCol: String, touched: Seq[String]): Unit = {
    val landed = Observation()
    // per-write dynamic overwrite (the option beats the session conf,
    // SPARK-20236) — a session-conf toggle is not safe under concurrent
    // writers sharing the session (ADVICE round 9)
    next.withColumn(PartCol, Cdc.monthOf(col(dateCol)))
      .observe(landed, collect_set(col(PartCol)).as("months"))
      .write.partitionBy(PartCol).mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(dir)
    val remaining =
      try scala.concurrent.Await.result(landed.future, ObservedMonthsWait)
        .getSeq[String](0).toSet
      catch {
        case e: java.util.concurrent.TimeoutException =>
          throw new IllegalStateException(s"the months written to $dir were " +
            s"not observed within $ObservedMonthsWait; failing the batch " +
            "so its replay rewrites them and deletes emptied months", e)
      }
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    touched.filterNot(remaining).foreach { m =>
      fs.delete(new Path(s"$dir/$PartCol=$m"), true)
    }
  }

}
