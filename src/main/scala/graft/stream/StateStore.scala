package graft.stream

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructType}

import graft.Frames

/**
 * The on-disk state format of every stateful root — the CDC state dir, the
 * corpus and embedding roots, and both cluster registries. This module
 * alone decides:
 *
 *  - the atomic swap ([[swap]]): a plan cannot overwrite a path it still
 *    reads lazily, so the next state is written to `<dir>.__next`, the live
 *    dir is renamed to `<dir>.__old`, `.__next` is renamed in, and `.__old`
 *    is deleted. The previous state is intact until the new one is fully
 *    written, so a crash leaves a table fully old or fully new, never
 *    doubled — the read-new/swap discipline a 100 TB deployment uses per
 *    partition (see [[PartitionedState]]);
 *  - stranded-table rollback ([[rollbackIfStranded]]): a swap that died
 *    between its two renames leaves the data at `<dir>.__old`; locked
 *    mutators rename it back, lock-free readers read through it
 *    ([[readOrEmptyRO]]) — reporting empty instead would let the next
 *    write persist empty state as truth;
 *  - read-or-empty ([[read]], [[readOrEmpty]], [[readOrEmptyRO]]): an absent
 *    dir, or one holding no data files, reads as an empty frame;
 *  - the per-batch partition fold ([[foldBatchPartitions]]);
 *  - the bounded-pool overlap of independent per-directory writes
 *    ([[parallelUnits]], [[parallelAppends]]) and the cap on ids pushed
 *    into an index scan ([[MaxProbePushIds]]);
 *  - the `_compact_hwm` replay fence ([[markCompactionHwm]],
 *    [[requireAboveCompactionHwm]]);
 *  - how a stateful pipeline starts ([[start]]) and how each of its locked
 *    batches begins ([[lockedBatch]]).
 */
object StateStore {

  private[graft] def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Does `dir` hold month partitions ([[PartitionedState]]'s layout)? */
  private def monthPartitioned(fs: FileSystem, dir: String): Boolean = {
    val p = new Path(dir)
    fs.exists(p) && fs.listStatus(p)
      .exists(_.getPath.getName.startsWith(PartitionedState.PartCol + "="))
  }

  /** Read the state at `dir`, or an empty frame of `schema` if absent. A
    * month-partitioned dir reads its `yyyymm` partition column as the
    * STRING [[PartitionedState]] writes, so [[replace]] can write it back
    * in the same layout. */
  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val fs = fsOf(spark, dir)
    rollbackIfStranded(fs, dir)
    if (!fs.exists(new Path(dir)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else if (monthPartitioned(fs, dir))
      spark.read.schema(schema.add(PartitionedState.PartCol, StringType)).parquet(dir)
    else spark.read.schema(schema).parquet(dir)
  }

  /** Replace the state at `dir` with `df`, keeping the dir's layout: a
    * month-partitioned dir is rewritten month-partitioned. */
  def replace(df: DataFrame, dir: String): Unit = {
    val fs = fsOf(df.sparkSession, dir)
    swap(fs, dir, df,
      if (monthPartitioned(fs, dir)) Seq(PartitionedState.PartCol) else Nil)
  }

  /** Atomically replace `dir` with `df`: write `.__next`, swap it in. The
    * caller guarantees `df` no longer READS `dir` (a `localCheckpoint`, or
    * a plan over other dirs) — the swap deletes what such a plan would
    * re-scan. */
  def swap(fs: FileSystem, dir: String, df: DataFrame,
      partitionCols: Seq[String] = Nil): Unit = {
    val path = new Path(dir)
    val next = new Path(dir + ".__next")
    val old = new Path(dir + ".__old")
    if (fs.exists(next)) fs.delete(next, true)
    val w = df.write
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(next.toString)
    if (fs.exists(old)) fs.delete(old, true)
    // Hadoop rename reports failure by RETURNING false
    if (fs.exists(path)) require(fs.rename(path, old), s"swap-out failed: $path -> $old")
    require(fs.rename(next, path), s"swap-in failed: $next -> $path")
    fs.delete(old, true)
  }

  /** A swap that died between its two renames leaves the table stranded at
    * `<dir>.__old` — roll it back. Locked mutators only: proceeding as if
    * empty would silently reset an index or orphan accepted rows. */
  def rollbackIfStranded(fs: FileSystem, dir: String): Unit = {
    val p = new Path(dir)
    val old = new Path(dir + ".__old")
    if (!fs.exists(p) && fs.exists(old))
      require(fs.rename(old, p), s"state rollback failed: $old -> $p")
  }

  /** `dir` as parquet, or None when it holds no data files: an all-rejected
    * batch or an empty fold leaves a partition-less dir (`_SUCCESS` only).
    * ONLY that schema-inference failure means empty — any other analysis
    * error (corrupt footer, conflicting schema) must surface, not silently
    * disable deduplication or no-op a compaction. */
  private def readData(spark: SparkSession, dir: String): Option[DataFrame] =
    try Some(spark.read.parquet(dir))
    catch {
      case e: AnalysisException if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") => None
    }

  /** Forward-compat shim for table layouts that GAIN columns across
    * versions (e.g. the PQ code table's epoch/bucket annotations): a root
    * persisted before the column existed reads back with the new columns
    * as typed NULLs instead of crashing every downstream select with an
    * AnalysisException the operator can't act on. Null semantics are the
    * per-column contract (stale annotation → pruning disabled; missing
    * epoch stamp → coherence gate refuses with the repair named). Only
    * ADDS columns — extra on-disk columns and type conflicts still
    * surface. */
  private def conformToDdl(df: DataFrame, ddl: String): DataFrame = {
    val have = df.columns.toSet
    StructType.fromDDL(ddl).fields.filter(f => !have.contains(f.name))
      .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
  }

  /** The locked mutators' read: roll back a stranded table, then read it
    * (or an empty frame of `ddl`). */
  private[stream] def readOrEmpty(spark: SparkSession, path: String,
      ddl: String): DataFrame = {
    val fs = fsOf(spark, path)
    rollbackIfStranded(fs, path)
    (if (fs.exists(new Path(path))) readData(spark, path) else None)
      .fold(Frames.empty(spark, ddl))(conformToDdl(_, ddl))
  }

  /** Read-only twin of [[readOrEmpty]] for the lock-less serving faces:
    * NEVER mutates. A table stranded at `<dir>.__old` by a crashed swap is
    * READ from there instead of being rolled back — a reader racing a live
    * swap's two-rename window must not rename directories out from under
    * it (the rollback would make the swap-in fail). */
  private[stream] def readOrEmptyRO(spark: SparkSession, path: String,
      ddl: String): DataFrame = {
    val fs = fsOf(spark, path)
    Seq(path, path + ".__old").find(d => fs.exists(new Path(d)))
      .flatMap(readData(spark, _))
      .fold(Frames.empty(spark, ddl))(conformToDdl(_, ddl))
  }

  /** Fold one table's per-batch partitions into `ingest_batch = -1` and
    * swap the result in — the per-dir step of every compaction. `layout`
    * shapes the folded rows: a probe-key sort (so pushed IN predicates
    * skip row groups) or, for an additive table, its aggregate (which must
    * not read `ingest_batch`: the fold re-stamps it). An absent or
    * data-less dir has nothing to fold. */
  private[stream] def foldBatchPartitions(spark: SparkSession, fs: FileSystem,
      dir: String, layout: DataFrame => DataFrame = identity): Unit = {
    rollbackIfStranded(fs, dir)
    if (fs.exists(new Path(dir))) readData(spark, dir).foreach { df =>
      // no unpersist: localCheckpoint blocks live outside the CacheManager
      // and are reclaimed by the ContextCleaner once unreferenced
      swap(fs, dir, layout(df).withColumn("ingest_batch", lit(-1L))
        .localCheckpoint(), Seq("ingest_batch"))
    }
  }

  /** Cap on driver-collected ids/hashes pushed into an index scan as an
    * IN filter (the [[UnionFind]] MaxLabelFetchIds pattern) — at or below
    * [[graft.Sessions]]'s parquet IN-pushdown threshold, above which the
    * push degrades to a min/max range that prunes nothing for scattered
    * keys. Over the cap the probes fall back to the full join — correct
    * either way, the pushdown only prunes IO. */
  private[stream] val MaxProbePushIds = 1000

  /** Append independent per-layer partitions CONCURRENTLY (bounded pool):
    * each job writes a DIFFERENT directory and reads only frames the
    * caller has already materialized, so the fixed per-commit latency
    * (task scheduling, footer writes, directory renames) overlaps instead
    * of serializing — on an 8-layer ingest batch the commits are the
    * dominant wall-clock. `invokeAll` BLOCKS until every write settles
    * (success or failure) before rethrowing the first failure: a straggler
    * writer must never outlive the batch's ingest lock, and a failed batch
    * replays with every layer rewritten idempotently (per-partition
    * dynamic overwrite), so partial completion in any order is safe. */
  private[stream] def parallelAppends(jobs: Seq[(String, DataFrame)]): Unit =
    parallelUnits(jobs.map { case (path, df) =>
      () => df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch").parquet(path)
    })

  /** The bounded-pool runner behind [[parallelAppends]] (and the
    * compaction folds): every unit must touch a DIFFERENT directory.
    * `invokeAll` blocks until every unit settles before the first failure
    * rethrows — no straggler outlives the caller's lock. */
  private[stream] def parallelUnits(jobs: Seq[() => Unit]): Unit = {
    if (jobs.sizeIs <= 1) jobs.foreach(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(jobs.size, 8))
      try {
        import scala.jdk.CollectionConverters._
        val tasks: Seq[java.util.concurrent.Callable[Option[Throwable]]] =
          jobs.map { job =>
            () => try { job(); None }
                  catch { case e: Throwable => Some(e) }
          }
        val failures = pool.invokeAll(tasks.asJava).asScala.flatMap(_.get())
        failures.headOption.foreach { e =>
          // keep the co-failures: three writers dying of three causes must
          // not collapse to one arbitrary stack trace
          failures.drop(1).foreach(e.addSuppressed)
          throw e
        }
      } finally pool.shutdown()
    }
  }

  // ---- compaction high-water mark ---------------------------------------
  // After a compaction folds per-batch partitions into `-1`, an
  // at-least-once replay of a PRE-compaction batch id (a stream restarted
  // from an older checkpoint) would re-append rows that already live in
  // the folded partition — silent duplication that double-counts every
  // downstream aggregate. The fold records the highest batch id it
  // subsumes as an empty marker file `_compact_hwm/<id>` (create-only and
  // monotone: no rename/delete window can lose the mark), and every
  // ingest refuses batch ids at or below it.

  private def hwmDir(root: String) = new Path(s"$root/_compact_hwm")

  /** Highest batch id any compaction of `root` has folded;
    * Long.MinValue when none ran. */
  private[stream] def compactionHwm(fs: FileSystem, root: String): Long = {
    val d = hwmDir(root)
    if (!fs.exists(d)) Long.MinValue
    else fs.listStatus(d).map(_.getPath.getName)
      .flatMap(n => scala.util.Try(n.toLong).toOption)
      .foldLeft(Long.MinValue)(math.max)
  }

  /** Record the mark BEFORE folding (callers pass the ledger's max batch
    * id): a crash between marker and fold merely refuses replays of
    * batches whose partitions are still intact — safe, their rows are
    * present either way. The reverse order would leave a fold-then-crash
    * window where the silent re-append is back. */
  private[stream] def markCompactionHwm(fs: FileSystem, root: String,
      hwm: Long): Unit =
    if (hwm > compactionHwm(fs, root)) {
      val d = hwmDir(root)
      if (!fs.exists(d)) fs.mkdirs(d)
      fs.create(new Path(d, hwm.toString), true).close()
    }

  /** Max batch id the ledger has recorded — what a compaction is about to
    * subsume. The ledgers stay per-batch through every fold, so this is
    * the root's full ingest history. */
  private[stream] def ledgerMaxBatch(spark: SparkSession,
      ledgerPath: String): Long = {
    // cast: partition-column type inference reads small batch ids as INT
    val r = readOrEmpty(spark, ledgerPath, "ingest_batch BIGINT")
      .agg(max(col("ingest_batch").cast("long"))).first()
    if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
  }

  /** The loud refusal: a batch at or below the high-water mark must not
    * re-ingest (its own partition was deleted by the fold; a dynamic
    * overwrite would duplicate its rows next to the compacted copy).
    * The repair is advancing the stream checkpoint past the mark. */
  private[stream] def requireAboveCompactionHwm(fs: FileSystem, root: String,
      batchId: Long): Unit = {
    val hwm = compactionHwm(fs, root)
    require(batchId > hwm,
      s"batch $batchId is at or below the compaction high-water mark $hwm " +
        "— its rows were folded into the compacted state and a replay " +
        "would duplicate them; advance the stream checkpoint past the mark")
  }

  /** The prologue of every locked ingest batch: hold `root`'s
    * [[IngestLock]] under the batch's stable `owner` for the body's
    * duration, then roll back every table in `tables` a crashed swap
    * stranded. `body` gets the lock (to heartbeat before state writes) and
    * the root's filesystem. */
  private[stream] def lockedBatch[A](spark: SparkSession, root: String,
      owner: String, staleMs: Long, tables: Seq[String])(
      body: (IngestLock.Handle, FileSystem) => A): A =
    IngestLock.withLock(spark, root, owner, staleMs) { lock =>
      val fs = fsOf(spark, root)
      tables.foreach(rollbackIfStranded(fs, _))
      body(lock, fs)
    }

  /** Start one bounded run of a stateful pipeline (AvailableNow: process
    * every file present in `srcDir` in micro-batches of at most
    * `maxFilesPerTrigger`, then stop — the reference's budgeted cron run).
    * Re-invoking with the same `checkpointDir` resumes where the last run
    * ended. */
  def start(spark: SparkSession, schema: StructType, srcDir: String,
      maxFilesPerTrigger: Int, checkpointDir: String)(
      batchFn: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(batchFn)
      .start()
}
