package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.cdc.Cdc
import graft.model.Schemas

/**
 * The incremental, resumable CDC pipeline — the Spark-native re-expression of
 * the reference's event loop + checkpoint/resume machinery
 * (reference: matomo2clickhouse.py:490-533 loop, 632-720 checkpoint/flush,
 * 786-812 resume):
 *
 *  - S1: `readStream` over a change-log directory of parquet files (the
 *    offline stand-in for a binlog/Debezium feed);
 *  - S3/O11: `maxFilesPerTrigger` bounds each micro-batch exactly like the
 *    reference's 20-binlog-files-per-run clamp (reference: _settings.py:79-80);
 *  - S4: with no checkpoint, the file source starts from the earliest file —
 *    the reference's default-start behavior (matomo2clickhouse.py:310-319);
 *  - ST1: `Trigger.AvailableNow` = "process everything present, then stop" —
 *    the reference's run-until-EOF-then-exit cron contract;
 *  - ST2: `checkpointLocation` holds the source offsets — the engine-level
 *    equivalent of resuming from max(dateid) in `log_replication`; the ledger
 *    table is still appended per batch (S8) as the auditable replica of that
 *    checkpoint, exactly like the reference keeps both;
 *  - ST3: the apply functions are idempotent on replay (latest-wins), so
 *    at-least-once delivery after a crash converges — property-tested in
 *    CdcPropertySpec and exercised end-to-end in ChangeStreamSpec;
 *  - ST7: ordering inside a batch is recovered per key by the version
 *    reduction in applyMutable/applyVersioned;
 *  - S9: `dryRun` logs per-table counts instead of writing — the reference's
 *    EXECUTE_CLICKHOUSE=False inspection mode (reference: _settings.py:53-55).
 */
object ChangeStream {

  final case class StreamConfig(
      changeLogDir: String,
      checkpointDir: String,
      stateDir: String,
      ledgerDir: String,
      maxFilesPerTrigger: Int = 20,
      onlyTables: Seq[String] = Nil,
      onlySchemas: Seq[String] = Nil,
      deleteMaxAgeDays: Int = 31,
      /** Deterministic "now" for the delete-age guard (tests); wall clock if None. */
      nowOverride: Option[java.sql.Timestamp] = None,
      dryRun: Boolean = false,
      /** When set, VERSIONED tables apply to this JDBC target (batched
        * INSERTs + version-qualified DELETE mutations — the reference's
        * ClickHouse write path, S6) and the ledger is mirrored there;
        * mutable tables and the parquet ledger keep their normal paths. */
      jdbcSink: Option[JdbcState.SinkConfig] = None,
      /** Streaming materialized views: per-group (count, Σvalue-micro)
        * aggregates maintained from each micro-batch's change deltas
        * (`Cdc.incrementalAgg`) — a view refresh costs the batch, never a
        * state scan. State lives at `<stateDir>/__agg_<table>__<group>`. */
      maintainedAggs: Seq[MaintainedAgg] = Nil,
      /** [[IngestLock]] staleness window for the state-root single-writer
        * lock every applying batch holds (one heartbeat per table write). */
      lockStaleMs: Long = IngestLock.DefaultStaleMs)

  /** One maintained view: per-`groupCol` count + micro-unit sum of
    * `valueCol` over the logical rows of `table`. Assumes a CONSISTENT
    * change log (the binlog contract: INSERT only for new keys, UPDATE/
    * DELETE before-images match the current row) — the delta model cannot
    * see a collision-INSERT replacing an existing row, so degenerate logs
    * that `applyMutable` absorbs defensively would drift the view. */
  final case class MaintainedAgg(table: String, groupCol: String, valueCol: String) {
    def dir(stateDir: String): String =
      s"$stateDir/__agg_${table}__${groupCol}__$valueCol"
  }

  /** History schema of a versioned table / state schema of a mutable one. */
  def stateSchema(table: String): StructType = {
    val payload = StructType(Schemas.tableSchemas(table).fields
      .filterNot(_.name == Schemas.VersionCol))
    if (Schemas.tableMeta(table).versioned)
      StructType(payload.fields :+ StructField(Schemas.VersionCol, LongType, nullable = false))
    else payload
  }

  private val LockTag = "cdc"

  /** An applying batch's stable lock owner ([[StateStore.batchOwner]]). */
  def batchLockOwner(cfg: StreamConfig, batchId: Long): String =
    StateStore.batchOwner(LockTag, cfg.checkpointDir, batchId)

  /** Apply one micro-batch: filter → per-table typed apply → ledger append.
    *
    * Holds the [[IngestLock]] on the STATE ROOT for the batch's duration
    * (heartbeating before each table's state write), the same single-writer
    * discipline the reference enforces over its whole run
    * (matomo2clickhouse.py:851-868) and [[CorpusIngest.ingestBatch]] enforces
    * on the corpus root — so [[graft.maintain.Maintain.compactState]] /
    * [[graft.maintain.Maintain.purgeChangeLog]] racing a live stream REFUSE
    * instead of interleaving with the per-table state rewrites. Dry-run mode
    * mutates nothing and takes no lock, so it can inspect alongside a live
    * run. */
  def applyBatch(spark: SparkSession, cfg: StreamConfig)(
      batch: DataFrame, batchId: Long): Unit =
    if (cfg.dryRun) applyBatchBody(spark, cfg, None)(batch, batchId)
    else StateStore.lockedBatch(spark, cfg.stateDir, LockTag, cfg.checkpointDir,
        batchId, cfg.lockStaleMs, Nil) { h =>
      applyBatchBody(spark, cfg, Some(h))(batch, batchId)
    }

  /** `lock` is None exactly in dry-run mode. */
  private def applyBatchBody(spark: SparkSession, cfg: StreamConfig,
      lock: Option[StateStore.LockedBatch])(batch: DataFrame, batchId: Long): Unit = {
    val filtered = Cdc.filterEvents(batch,
      onlyTables = cfg.onlyTables, onlySchemas = cfg.onlySchemas)
      .persist()
    try {
      // one action answers which tables the batch touches, folds every
      // ledger input and finds each month-partitioned table's touched
      // months; it also raises on an overflowing version or a malformed
      // month-partitioned payload before any state write
      val partials = Cdc.batchSummary(filtered)
      val present = partials.map(_.table)
      // schema drift is a hard error, exactly like the reference
      // (reference: README.md:196-206) — a silently skipped table would also
      // poison the ledger, which must record only applied events
      val unknown = present.filterNot(Schemas.tableMeta.contains)
      require(unknown.isEmpty,
        s"change events for unregistered tables: ${unknown.mkString(", ")}")
      partials.sortBy(_.table).foreach { partial =>
        val table = partial.table
        val meta = Schemas.tableMeta(table)
        val now = cfg.nowOverride.map(lit(_)).getOrElse(current_timestamp())
        // strict: corrupt payloads fail the batch loudly, like unregistered
        // tables — a nulled payload would read as data loss downstream
        val raw = Cdc.typedChanges(filtered, table, strict = true)
        // F7 applies to every table in CONST_TBL_NOT_DELETE_OLD regardless of
        // path (reference: matomo2clickhouse.py:583-606): every apply, the
        // maintained views and the dry-run count take this one guarded frame
        val typed = meta.deleteDateCol.fold(raw)(
          Cdc.suppressOldDeletes(raw, _, now, cfg.deleteMaxAgeDays))
        // the one versioned-or-mutable choice, in Spark and on the JDBC
        // sink; the layout below only decides where it runs
        val (next, sinkApply): (DataFrame => DataFrame, JdbcState.SinkConfig => Unit) =
          if (meta.versioned) (Cdc.applyVersioned(_, typed, meta.keyCols),
            JdbcState.applyVersioned(typed, _, table, meta.keyCols))
          else (Cdc.applyMutable(_, typed, meta.keyCols),
            JdbcState.applyMutable(typed, _, table, meta.keyCols))
        val dir = s"${cfg.stateDir}/$table"
        lock match {
          case None =>
            // S9: inspect, don't apply — counts force the plan like the real write
            val nextState = next(readState(spark, cfg, table))
            Console.err.println(s"[dry-run] batch=$batchId table=$table " +
              s"changes=${typed.count()} next_state_rows=${nextState.count()}")
          // a long per-table apply must not outlive the staleness window:
          // the handle refreshes (and fails loudly on a stolen lock) BEFORE
          // each table's state write
          case Some(h) => h.write {
            // sink mode: every table applies to the JDBC target, like the
            // reference; otherwise a month-partitioned table rewrites only
            // the months the batch summary found in its raw images, a
            // superset of the guarded frame's
            (cfg.jdbcSink, meta.partitionCol) match {
              case (Some(sink), _) => sinkApply(sink)
              case (None, Some(pc)) =>
                PartitionedState.rewrite(spark, dir, stateSchema(table), pc,
                  partial.months)(next)
              case (None, None) => StateStore.replace(next(readState(spark, cfg, table)), dir)
            }
            // maintained views see the same F7-guarded deltas as the table apply
            cfg.maintainedAggs.filter(_.table == table).foreach { ma =>
              val gField = Schemas.tableSchemas(table)(ma.groupCol)
              val aggSchema = StructType(Seq(
                gField.copy(name = ma.groupCol),
                StructField("cnt", LongType, nullable = false),
                StructField("sum_micro", LongType, nullable = false),
                StructField("__batch_id", LongType, nullable = false)))
              val aggDir = ma.dir(cfg.stateDir)
              val state = StateStore.read(spark, aggDir, aggSchema)
              // replay guard: foreachBatch is at-least-once — a crash between
              // this replace and the checkpoint commit replays the batch, and
              // deltas (unlike the idempotent table applies) would double-apply.
              // The state records the last applied batch id; a replayed batch is
              // a no-op. batchIds are monotone per checkpoint, so one max row
              // decides (tiny state: one row per group)
              val applied = state.agg(max(col("__batch_id"))).collect().head
              val alreadyApplied = !applied.isNullAt(0) && applied.getLong(0) >= batchId
              if (!alreadyApplied) StateStore.replace(
                Cdc.incrementalAgg(state.drop("__batch_id"), typed,
                    ma.groupCol, ma.valueCol)
                  .withColumn("__batch_id", lit(batchId)),
                aggDir)
            }
          }
        }
      }
      for (h <- lock if partials.nonEmpty) h.write {
        // a driver-built row: the parquet ledger and the JDBC mirror hold
        // the same values, `created_at` included
        val ledger = Cdc.ledgerRow(filtered, partials, batchId)
        ledger.write.mode("append").parquet(cfg.ledgerDir)
        cfg.jdbcSink.foreach(JdbcState.appendLedger(ledger, _))
      }
    } finally filtered.unpersist()
  }

  /** Start one bounded run (AvailableNow): processes all files currently in
    * the change-log dir in micro-batches of `maxFilesPerTrigger`, then stops.
    * Re-invoking with the same checkpoint resumes where the last run ended. */
  def run(spark: SparkSession, cfg: StreamConfig): StreamingQuery =
    StateStore.start(spark, Schemas.changeEventSchema, cfg.changeLogDir,
      cfg.maxFilesPerTrigger, cfg.checkpointDir)(applyBatch(spark, cfg))

  /** Read a table's current state regardless of layout (flat StateStore dir
    * for unpartitioned tables, month-partitioned parquet otherwise). */
  def readState(spark: SparkSession, cfg: StreamConfig, table: String): DataFrame =
    StateStore.read(spark, s"${cfg.stateDir}/$table", stateSchema(table))
      .drop(PartitionedState.PartCol)

  /** S2 — resume coordinates from the audit ledger (the reference's
    * get_ch_param_for_next, matomo2clickhouse.py:786-812). */
  def resumeFromLedger(spark: SparkSession, cfg: StreamConfig): Option[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(cfg.ledgerDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Cdc.resumePosition(spark.read.parquet(cfg.ledgerDir))
  }
}
