package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.model.Schemas

/**
 * The batch CDC core: pure DataFrame → DataFrame functions reproducing the
 * reference's change-data-capture semantics (SURVEY.md §2.1-§2.4, §3.2-§3.3)
 * in Spark operator space.
 *
 * Where the reference relies on a single-threaded loop for ordering
 * (reference: matomo2clickhouse.py:508, 648-653), we recover order per key:
 * within a batch, each key is reduced to its LAST event by the deterministic
 * position-derived version (SURVEY.md §7.4), which makes the apply
 * order-insensitive — and therefore safe to distribute across executors and
 * to replay (idempotence, reference: README.md:358-362).
 */
object Cdc {

  /** Envelope filters F1-F3, F5, F6 (reference: matomo2clickhouse.py:492-533,
    * binlog2sql_util.py:130-139). All are plain pushdown-able predicates.
    * F6 takes real binlog coordinates `(endFile, endPos)` — "stop at the EOF
    * captured at startup" (reference: matomo2clickhouse.py:345-350, 518-533) —
    * and compares on the composite version, so an event is kept iff it lies at
    * or before that coordinate in total binlog order. */
  def filterEvents(
      events: DataFrame,
      onlyTables: Seq[String] = Nil,
      onlySchemas: Seq[String] = Nil,
      opTypes: Seq[String] = Seq("INSERT", "UPDATE", "DELETE"),
      startTs: Option[java.sql.Timestamp] = None,
      stopTs: Option[java.sql.Timestamp] = None,
      endCoord: Option[(String, Long)] = None): DataFrame = {
    var df = events.filter(col("op").isin(opTypes: _*))
    if (onlyTables.nonEmpty) df = df.filter(col("table").isin(onlyTables: _*))
    if (onlySchemas.nonEmpty) df = df.filter(col("schema").isin(onlySchemas: _*))
    startTs.foreach(t => df = df.filter(col("ts") >= lit(t)))
    stopTs.foreach(t => df = df.filter(col("ts") < lit(t)))
    endCoord.foreach { case (f, p) =>
      df = df.filter(versionExpr <= lit(versionOf(f, p, MaxRowIndex)))
    }
    df
  }

  /** Version layout (Q5): fileIdx ≪ 46 | log_pos ≪ 14 | row_index.
    * 17 bits of binlog file index (131k files), 32 bits of position (binlogs
    * cap at 1 GiB, reference runbook README.md:153-156), 14 bits of row index
    * (16,384 rows/event — the reference batches 2,000/statement,
    * reference: _settings.py:75-77, so 8 bits would overflow in practice). */
  val FileShift = 46
  val PosShift = 14
  val MaxRowIndex: Int = (1 << PosShift) - 1
  private val MaxPos: Long = (1L << (FileShift - PosShift)) - 1
  /** 17 bits of file index (max 131071): the full composite then tops out at
    * exactly Long.MaxValue, never touching the sign bit. */
  private val MaxFileIdx: Long = (1L << (63 - FileShift)) - 1

  /** Driver-side version encode for a concrete binlog coordinate. */
  def versionOf(logFile: String, logPos: Long, rowIndex: Int = 0): Long = {
    val fileIdx = logFile.substring(logFile.lastIndexOf('.') + 1).toLong
    require(fileIdx >= 0 && fileIdx <= MaxFileIdx, s"binlog file index out of range: $fileIdx")
    require(logPos >= 0 && logPos <= MaxPos, s"log_pos out of range: $logPos")
    require(rowIndex >= 0 && rowIndex <= MaxRowIndex, s"row_index out of range: $rowIndex")
    (fileIdx << FileShift) | (logPos << PosShift) | rowIndex.toLong
  }

  /**
   * Q5 — deterministic, position-derived version id.
   *
   * The reference derives `dateid` from the wall clock
   * (`int(round(time.time(),7)*1e7)`, reference: binlog2sql_util.py:52-62),
   * which collided at sub-second resolution (bug fixed in its ver. 230719.01,
   * reference: matomo2clickhouse.py:36). We instead derive from binlog
   * coordinates, which are unique and monotone in apply order by construction.
   * Out-of-range coordinates fail loudly rather than silently corrupting the
   * total order latest-wins depends on.
   */
  def versionExpr: Column = {
    val fileIdx = element_at(split(col("log_file"), "\\."), -1).cast("long")
    val guarded = when(
      fileIdx.isNull || fileIdx > lit(MaxFileIdx) || fileIdx < 0 ||
        col("row_index") > lit(MaxRowIndex) || col("row_index") < 0 ||
        col("log_pos") > lit(MaxPos) || col("log_pos") < 0,
      raise_error(concat(lit("version field overflow: log_file="), col("log_file"),
        lit(" log_pos="), col("log_pos"),
        lit(" row_index="), col("row_index"))).cast("long"))
      .otherwise(shiftleft(fileIdx, FileShift) +
        shiftleft(col("log_pos"), PosShift) + col("row_index"))
    guarded
  }

  /** Adds the version column to an envelope frame. */
  def withVersion(events: DataFrame): DataFrame =
    events.withColumn(Schemas.VersionCol, versionExpr)

  /**
   * Envelope → typed per-table change frame. Payload JSON is parsed against
   * the registry schema (SURVEY.md §7.4 hard part 5 — registry-driven fan-out,
   * no hand-written per-table code). Output columns:
   * op, ts, dateid, before:Struct, after:Struct.
   *
   * `strict = true` turns payload corruption into a loud failure via the
   * parser's FAILFAST mode — the reference's fail-fast schema-drift contract
   * (reference: README.md:196-206) extended to the payload itself. The
   * default PERMISSIVE parse turns a malformed payload into an all-null
   * struct, which a latest-wins apply would then treat as real data.
   */
  def typedChanges(events: DataFrame, table: String,
      schema: Option[StructType] = None, strict: Boolean = false): DataFrame = {
    val s = schema.getOrElse(payloadSchemaOf(table))
    val opts = if (strict) Map("mode" -> "FAILFAST") else Map.empty[String, String]
    withVersion(events)
      .filter(col("table") === table)
      .select(col("op"), col("ts"), col(Schemas.VersionCol),
        from_json(col("before"), s, opts).as("before"),
        from_json(col("after"), s, opts).as("after"))
  }

  private def payloadSchemaOf(table: String): StructType = {
    val s = Schemas.tableSchemas(table)
    // the engine injects dateid itself (Q5); payload JSON never carries it
    StructType(s.fields.filterNot(_.name == Schemas.VersionCol))
  }

  /**
   * F7 — old-DELETE suppression: drop DELETE events whose row date is more
   * than `maxAgeDays` old (reference: matomo2clickhouse.py:583-606,
   * _settings.py:132-138). `now` is injected, never wall clock, so the
   * operator is deterministic and testable.
   */
  def suppressOldDeletes(changes: DataFrame, dateCol: String,
      now: Column, maxAgeDays: Int = 31): DataFrame =
    changes.filter(!oldDelete(dateCol, now, maxAgeDays))

  /** Count of the DELETEs F7 would reject, per reporting counter A6
    * (reference: matomo2clickhouse.py:598-601, 728-731). */
  def rejectedDeleteCount(changes: DataFrame, dateCol: String,
      now: Column, maxAgeDays: Int = 31): Long =
    changes.filter(oldDelete(dateCol, now, maxAgeDays)).count()

  /** The F7 predicate, shared by the guard and its A6 counter. */
  private def oldDelete(dateCol: String, now: Column, maxAgeDays: Int): Column =
    col("op") === "DELETE" &&
      datediff(to_date(now),
        // a missing/unparseable row date defaults to NOW — the DELETE is then
        // APPLIED, exactly like the reference's .get(col_date, datetime.now())
        // fallback (matomo2clickhouse.py:592); a bare null comparison would
        // silently suppress instead
        coalesce(to_date(col("before").getField(dateCol)), to_date(now))) > maxAgeDays

  /** Shared key derivation for the apply reductions: the change frame with
    * `__key_<k>` columns (null-safe, from whichever image carries the key)
    * plus the per-key window specs over them. */
  private def keyed(changes: DataFrame, keyCols: Seq[String]):
      (DataFrame, org.apache.spark.sql.expressions.WindowSpec,
        org.apache.spark.sql.expressions.WindowSpec) = {
    val keyExprs = keyCols.map(k =>
      coalesce(col("after").getField(k), col("before").getField(k)).as(s"__key_$k"))
    val keyRefs = keyCols.map(k => col(s"__key_$k"))
    val wAll = Window.partitionBy(keyRefs: _*)
    val wOrd = wAll.orderBy(col(Schemas.VersionCol).desc)
    (changes.select(col("*") +: keyExprs: _*), wAll, wOrd)
  }

  /** Reduce a typed change frame to the LAST event per key (by version).
    * This is the ordering barrier ST7/SRT4 re-expressed order-insensitively.
    * Alongside the last event the reduction keeps `__had_insert` — whether ANY
    * event in the batch for this key was an INSERT — because a final UPDATE
    * whose key was INSERTed earlier in the same batch must materialize the row
    * (the reference applies sequentially, matomo2clickhouse.py:648-653: the
    * INSERT lands first, then the UPDATE mutates it). */
  def lastEventPerKey(changes: DataFrame, keyCols: Seq[String]): DataFrame =
    mutableLast(changes, keyCols, Nil)

  /**
   * Apply a change batch to a MUTABLE table (plain UPDATE path,
   * reference: binlog2sql_util.py:294-341). Semantics preserved:
   *  - DELETE removes the matching state row (J4, anti-join; key-based —
   *    every registry table declares its business key, so the reference's
   *    full-before-image predicate reduces to the key with null-safe equality F13);
   *  - UPDATE applies only CHANGED columns onto the existing state row
   *    (F8 elision incl. null↔null, reference: binlog2sql_util.py:329-335);
   *    an UPDATE with no matching state row is a no-op (ClickHouse ALTER
   *    UPDATE semantics);
   *  - INSERT appends; on key collision the new version wins (latest-wins,
   *    the ReplacingMergeTree contract).
   */
  /* Cost model (measured, round 7): the bench entry's reproducible isolated
   * cost at sf0.1/local[32] is ~0.9-1.1 s — three key shuffles (state
   * distinct, window flags, full-outer merge) over the events derivation.
   * Round 5's ledger read 0.50 s and round 6's 1.13 s looked like a 2×
   * regression; benching the round-5 COMMIT in isolation reproduces
   * 0.88-1.02 s, so the 0.50 was a favorable full-run outlier (warm page
   * cache + JIT from the alphabetically-adjacent registry entries), not a
   * plan change — same resolution discipline as srpNearDupPairs round 6. */
  def applyMutable(state: DataFrame, changes: DataFrame, keyCols: Seq[String]): DataFrame = {
    val dataCols = state.columns.toSeq

    // Per-key reduction that the sequential reference loop implies
    // (matomo2clickhouse.py:648-653), recovered order-insensitively:
    //  - the LAST event (by version) decides the row's fate;
    //  - `__had_insert`: any INSERT in the batch materializes the key, so a
    //    trailing UPDATE must produce the row even if `state` lacks it
    //    (row images are full — the final after-image is the complete row);
    //  - `__chg_<c>`: column c changed in ANY update of the batch chain. A
    //    two-update chain a→b, b→b must land b: eliding against only the LAST
    //    event's (before,after) pair would silently drop v1's change (F8 over
    //    the whole chain, reference: binlog2sql_util.py:329-335 per event).
    val last = mutableLast(changes, keyCols, dataCols)

    val joinCond = keyCols.map(k => col(s"s.${k}") <=> col(s"c.__key_$k")).reduce(_ && _)
    val joined = state.alias("s").join(last.alias("c"), joinCond, "full_outer")

    val hasChange = col("c.op").isNotNull
    val hasState = keyCols.map(k => col(s"s.$k").isNotNull).reduce(_ || _)

    // per-column result under each (state, change-op) combination
    val outCols = dataCols.map { c =>
      val stateV = col(s"s.$c")
      val afterV = col("c.after").getField(c)
      when(!hasChange, stateV)
        .when(col("c.op") === "INSERT", afterV)
        .when(col("c.op") === "UPDATE" && hasState && !col("c.__had_insert"),
          when(col(s"c.__chg_$c"), afterV).otherwise(stateV))
        // key born in this batch: the UPDATE's after-image IS the row
        .when(col("c.op") === "UPDATE" && col("c.__had_insert"), afterV)
        .otherwise(lit(null)) // unmatched UPDATE no-op / DELETE → dropped below
        .as(c)
    }

    val keep =
      (!hasChange && hasState) ||                            // untouched state
      (col("c.op") === "INSERT") ||                          // insert (replaces on collision)
      (col("c.op") === "UPDATE" &&
        (hasState || col("c.__had_insert")))                 // matched or batch-born update
    joined.filter(keep).select(outCols: _*)
  }

  /** The mutable apply's per-key reduction, shared with the JDBC sink twin
    * ([[graft.stream.JdbcState.applyMutable]]): the LAST event per key plus
    * `__had_insert` (any INSERT in the batch materializes the key) and the
    * chain-merged `__chg_<c>` flags (column c changed in ANY update of the
    * batch — eliding against only the last event's images would drop an
    * earlier update's change, F8 over the whole chain). */
  private[graft] def mutableLast(changes: DataFrame, keyCols: Seq[String],
      dataCols: Seq[String]): DataFrame = {
    val (kd, wAll, wOrd) = keyed(changes, keyCols)
    // all same-spec window flags in ONE select so they collapse into a single
    // Window node (a withColumn chain leaves one Window operator per column)
    val flagCols =
      (max(when(col("op") === "INSERT", 1).otherwise(0)).over(wAll) === 1)
        .as("__had_insert") +:
      dataCols.map { c =>
        (max(when(col("op") === "UPDATE" &&
          !(col("after").getField(c) <=> col("before").getField(c)), 1)
          .otherwise(0)).over(wAll) === 1).as(s"__chg_$c")
      }
    val flagged = kd.select(col("*") +: flagCols: _*)
    flagged.withColumn("__rn", row_number().over(wOrd))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /**
   * Apply a change batch to a VERSIONED table (`tables_not_updated`):
   * INSERT and UPDATE both append the after-image with the engine version
   * (`INS-UPD` rewrite, reference: binlog2sql_util.py:305-327); DELETEs
   * remove all versions of the key. Old DELETEs are the caller's to
   * suppress first (F7, [[suppressOldDeletes]]), as for every other apply.
   * The physical result is an append-only history; the logical table is
   * `latestWins` over it (J1).
   */
  def applyVersioned(history: DataFrame, changes: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val deleteMax = deleteFrontier(changes, keyCols)
    val afterDeletes = history.alias("h")
      .join(deleteMax.alias("d"), frontierKeyEq("h", keyCols), "left_anti")
    val keptAppends = survivingAppends(changes, keyCols, deleteMax)
    afterDeletes.unionByName(keptAppends.select(afterDeletes.columns.map(col): _*))
  }

  /** Per-key max DELETE version of a batch — the batch's delete frontier.
    * A DELETE removes every version that existed BEFORE it in binlog order:
    * all prior history (whose versions predate the batch) and any same-batch
    * append with a smaller version (the reference applies sequentially,
    * matomo2clickhouse.py:648-653 — an INSERT(v1)→DELETE(v2) pair must NOT
    * resurrect v1). Columns: keyCols..., `__del_v`. */
  def deleteFrontier(changes: DataFrame, keyCols: Seq[String]): DataFrame =
    changes.filter(col("op") === "DELETE")
      .select(keyCols.map(k => col("before").getField(k).as(k)) :+
        col(Schemas.VersionCol).as("__del_v"): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(max(col("__del_v")).as("__del_v"))

  /** Null-safe (F13) equality of the key columns of the `side` alias and
    * the delete frontier, aliased `d`. */
  private def frontierKeyEq(side: String, keyCols: Seq[String]): Column =
    keyCols.map(k => col(s"$side.$k") <=> col(s"d.$k")).reduce(_ && _)

  /** The batch's INS-UPD appends surviving its own delete frontier
    * `deleteMax` ([[deleteFrontier]]) — the after-images (+ version) whose
    * version lies beyond the key's max same-batch DELETE. */
  def survivingAppends(changes: DataFrame, keyCols: Seq[String],
      deleteMax: DataFrame): DataFrame = {
    val appends = changes.filter(col("op") =!= "DELETE")
      .select(col("after.*"), col(Schemas.VersionCol))
    appends.alias("a")
      .join(deleteMax.alias("d"), frontierKeyEq("a", keyCols), "left")
      .filter(col("d.__del_v").isNull || col(s"a.${Schemas.VersionCol}") > col("d.__del_v"))
      .select(appends.columns.map(c => col(s"a.$c")): _*)
  }

  /**
   * Incremental aggregate maintenance — the materialized-view delta path: a
   * per-group (count, sum) aggregate is updated from a typed change batch
   * WITHOUT recomputing from the table. Each change contributes row-level
   * deltas (INSERT: +after; DELETE: −before; UPDATE: −before +after), the
   * deltas reduce per group (map-side partial aggregation), and one
   * full-outer join merges them into the existing aggregate — untouched
   * groups never shuffle. At 100 TB this is the difference between a
   * seconds-per-batch view refresh and a full-table scan per refresh.
   *
   * The sum is maintained in exact floor(value·1e6) integer micro-units:
   * integer deltas commute and associate, so the maintained aggregate is
   * EXACTLY the recomputed one regardless of batch boundaries — pinned by
   * the batched ≡ whole-log property spec and the DuckDB oracle (float sums
   * would drift by reassociation under replay).
   */
  def incrementalAgg(aggState: DataFrame, changes: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    def micro(side: String) =
      floor(col(s"$side.$valueCol") * lit(1e6)).cast("long")
    val minus = changes.filter(col("op").isin("DELETE", "UPDATE"))
      .select(col(s"before.$groupCol").as(groupCol),
        lit(-1L).as("dc"), (-micro("before")).as("dv"))
    val plus = changes.filter(col("op").isin("INSERT", "UPDATE"))
      .select(col(s"after.$groupCol").as(groupCol),
        lit(1L).as("dc"), micro("after").as("dv"))
    val delta = minus.unionByName(plus)
      .groupBy(col(groupCol))
      .agg(sum(col("dc")).as("dc"), sum(col("dv")).as("dv"))
    aggState.alias("s")
      .join(delta.alias("d"), col(s"s.$groupCol") <=> col(s"d.$groupCol"), "full_outer")
      .select(
        coalesce(col(s"s.$groupCol"), col(s"d.$groupCol")).as(groupCol),
        (coalesce(col("s.cnt"), lit(0L)) + coalesce(col("d.dc"), lit(0L))).as("cnt"),
        (coalesce(col("s.sum_micro"), lit(0L)) + coalesce(col("d.dv"), lit(0L)))
          .as("sum_micro"))
  }

  /**
   * J1 — the latest-record-wins view: newest version of each business key
   * (reference: script_create_clickhouse_table.sql:484-494, 553-563).
   * Window formulation (single shuffle on the key); the reference's
   * GROUP-BY-max + self-join formulation is kept as the oracle cross-check.
   */
  def latestWins(history: DataFrame, keyCols: Seq[String],
      versionCol: String = Schemas.VersionCol): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(versionCol).desc)
    history.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /**
   * Transactionally consistent cross-table cut. The reference's
   * single-threaded loop gets cross-table consistency for free — every
   * table is applied up to the same binlog position when a run ends
   * (reference: matomo2clickhouse.py:648-653 applies events in global
   * binlog order). A distributed apply loses that: per-table sinks commit
   * at different heads. This operator restores it for readers: given each
   * table's applied head (ledger metadata, one number per table), the
   * consistent watermark is the MINIMUM head — every table has applied
   * everything at or below it — and each table's consistent view is its
   * history filtered to `version <= watermark` before latest-wins.
   *
   * Pure plan surgery: one `lit` filter per table (partition/file pruning
   * applies when history is version- or month-partitioned) + the same
   * latest-wins window the sink already uses. No cross-table join, no
   * coordination beyond the ledger numbers.
   */
  def consistentCut(heads: Map[String, Long]): Long = {
    require(heads.nonEmpty, "consistent cut of zero tables")
    heads.values.min
  }

  /** A table's read view at the consistent cut: history filtered to the
    * watermark, then latest-wins (DELETE rows excluded by the caller's
    * usual op filter if the history carries ops). */
  def cutView(history: DataFrame, keyCols: Seq[String], watermark: Long,
      versionCol: String = Schemas.VersionCol): DataFrame =
    latestWins(history.filter(col(versionCol) <= watermark), keyCols, versionCol)

  /**
   * Replication-lag report — the monitoring query a replication operator
   * runs between cron windows (the reference budgets 50 of every 60
   * minutes and resumes from the ledger head; "how far behind is the sink"
   * is the question its runbook answers from log_replication). Given the
   * pending slice of the change log (version > the sink's applied head),
   * report per op type: pending row count and the min/max pending version —
   * plus the log head and applied head on every row for a one-glance read.
   *
   * One filter + one tiny groupBy; the applied head comes from the ledger
   * (a 1-row frame), so the report never scans sink state.
   */
  def lagReport(changes: DataFrame, appliedMax: Long, opCol: String = "op",
      versionCol: String = Schemas.VersionCol): DataFrame = {
    val pending = changes.filter(col(versionCol) > appliedMax)
    pending.groupBy(col(opCol))
      .agg(count(lit(1)).as("n_pending"),
        min(col(versionCol)).as("min_pending"),
        max(col(versionCol)).as("max_pending"))
      .withColumn("applied_head", lit(appliedMax))
  }

  /**
   * J2/A2 — duplicate finder: the STALE versions (every physical row that is
   * not its key's max-version row) within an optional trailing time window
   * (reference: _settings.py:237-256, doc_old_duplicates.md:32-70).
   */
  def staleVersions(history: DataFrame, keyCols: Seq[String],
      versionCol: String = Schemas.VersionCol,
      windowPred: Option[Column] = None): DataFrame = {
    val base = windowPred.map(history.filter).getOrElse(history)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(versionCol).desc)
    base.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .drop("__rn")
  }

  /**
   * J3/ST8 — duplicate purge: rewrite keeping exactly the max-version row per
   * key inside the window; rows outside the window pass through untouched
   * (reference: _settings.py:230-287 — ALTER DELETE WHERE dateid IN (stale set),
   * re-expressed as anti-join, the functional equivalent of the mutation).
   */
  def dedupPurge(history: DataFrame, keyCols: Seq[String],
      versionCol: String = Schemas.VersionCol,
      windowPred: Option[Column] = None): DataFrame = {
    val stale = staleVersions(history, keyCols, versionCol, windowPred)
      .select(col(versionCol))
    history.join(stale, Seq(versionCol), "left_anti")
  }

  /**
   * S8 — checkpoint-ledger rows for a change batch: one row per applied batch
   * carrying max position + counts (reference: matomo2clickhouse.py:632-636,
   * 712-720). Returned as a one-row DataFrame to append to `log_replication`.
   * The stream builds the same row on the driver ([[ledgerRow]]); this one
   * aggregate is the reference it is tested against.
   */
  def ledgerEntry(events: DataFrame): DataFrame = {
    withVersion(events).agg(
      max(col(Schemas.VersionCol)).as(Schemas.VersionCol),
      current_timestamp().as("created_at"),
      lit("BATCH").as("sql_type"),
      max(col("ts")).as("log_time"),
      max_by(col("log_file"), col(Schemas.VersionCol)).as("log_file"),
      min(col("log_pos")).as("log_pos_start"),
      max(col("log_pos")).as("log_pos_end"),
      count(lit(1)).as("rows_applied"))
  }

  /** One table's share of a micro-batch: the [[ledgerEntry]] aggregates over
    * that table's events alone, plus the sorted months its row images
    * touch (empty unless the table is month-partitioned). `None` is SQL
    * NULL — the aggregate saw no non-null input. */
  final case class TablePartial(table: String, rows: Long,
      dateid: Option[Long], logTime: Option[java.sql.Timestamp],
      logFile: Option[String], logPosStart: Option[Long],
      logPosEnd: Option[Long], months: Seq[String])

  /** The `yyyyMM` month key of a date or timestamp: the partition value of
    * month-partitioned state. */
  def monthOf(c: Column): Column = date_format(c, "yyyyMM")

  /** Each month-partitioned registry table's partition field, as its
    * payload carries it. */
  val partitionFields: Map[String, StructField] = Schemas.tableMeta.collect {
    case (t, m) if m.partitionCol.isDefined => t -> Schemas.tableSchemas(t)(m.partitionCol.get)
  }

  /** Per-table summary of a micro-batch in ONE action: which tables it
    * touches, every input of its ledger row, and the months the row images
    * of each table in `partitioned` touch. Evaluating the version here
    * makes an overflowing coordinate `raise_error` before any state write;
    * the months are parsed strictly, so a malformed payload of a
    * month-partitioned table raises here too.
    *
    * The months are those of the RAW before- and after-images, the set
    * [[graft.stream.PartitionedState.touchedMonths]] returns over the
    * strict `typedChanges`: a superset of the months of any filtered frame
    * (F7 drops whole events), which is all a partition-pruned apply needs
    * (an extra month is read and rewritten unchanged). */
  def batchSummary(events: DataFrame,
      partitioned: Map[String, StructField] = partitionFields): Seq[TablePartial] = {
    def opt[T](r: org.apache.spark.sql.Row, i: Int)(get: Int => T): Option[T] =
      if (r.isNullAt(i)) None else Some(get(i))
    // only the matching table's branch is evaluated, so each payload is
    // parsed once, against its own table's one-field schema
    def imageMonth(side: String): Column =
      partitioned.foldLeft(lit(null).cast("string")) { case (other, (t, f)) =>
        when(col("table") === t, monthOf(from_json(col(side), StructType(Seq(f)),
          Map("mode" -> "FAILFAST")).getField(f.name))).otherwise(other)
      }
    withVersion(events).groupBy(col("table")).agg(
        count(lit(1)),
        max(col(Schemas.VersionCol)),
        max(col("ts")),
        max_by(col("log_file"), col(Schemas.VersionCol)),
        min(col("log_pos")),
        max(col("log_pos")),
        // sets, not lists: a catch-up batch buffers each month once
        array_union(collect_set(imageMonth("after")), collect_set(imageMonth("before"))))
      .collect().toSeq.map { r =>
        TablePartial(r.getString(0), r.getLong(1), opt(r, 2)(r.getLong),
          opt(r, 3)(r.getTimestamp), opt(r, 4)(r.getString),
          opt(r, 5)(r.getLong), opt(r, 6)(r.getLong), r.getSeq[String](7).sorted)
      }
  }

  /** The [[ledgerEntry]] row (plus `batch_id`) folded on the driver from a
    * [[batchSummary]], as a one-row local frame: max/min/count combine
    * across tables, and `max_by` takes the file of the partial holding
    * the greatest version. Nulls are skipped, as Spark's aggregates skip
    * them. The schema is `ledgerEntry`'s, read off its analyzed plan (no
    * job runs), so parquet and JDBC ledgers see the same columns. Every
    * value equals `ledgerEntry`'s except `created_at`, which is the
    * driver's clock when the row is built. */
  def ledgerRow(events: DataFrame, partials: Seq[TablePartial],
      batchId: Long): DataFrame = {
    val spark = events.sparkSession
    val schema = ledgerEntry(events).withColumn("batch_id", lit(batchId)).schema
    implicit val tsOrder: Ordering[java.sql.Timestamp] =
      Ordering.fromLessThan(_ before _)
    val head = partials.filter(_.dateid.isDefined).maxByOption(_.dateid.get)
    val values = Map[String, Any](
      Schemas.VersionCol -> head.flatMap(_.dateid).getOrElse(null),
      "created_at" -> java.sql.Timestamp.from(java.time.Instant.now()),
      "sql_type" -> "BATCH",
      "log_time" -> partials.flatMap(_.logTime).maxOption.getOrElse(null),
      "log_file" -> head.flatMap(_.logFile).getOrElse(null),
      "log_pos_start" -> partials.flatMap(_.logPosStart).minOption.getOrElse(null),
      "log_pos_end" -> partials.flatMap(_.logPosEnd).maxOption.getOrElse(null),
      "rows_applied" -> partials.map(_.rows).sum,
      "batch_id" -> batchId)
    spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row.fromSeq(schema.fieldNames.toSeq.map(values))),
      schema)
  }

  /** S2 — resume-position resolution: the ledger head (reference:
    * matomo2clickhouse.py:786-812). Returns (log_file, log_pos_end) of
    * max(dateid), the coordinates the next run starts from. */
  def resumePosition(ledger: DataFrame): Option[(String, Long)] = {
    val head = ledger.orderBy(col(Schemas.VersionCol).desc).limit(1)
      .select(col("log_file"), col("log_pos_end")).collect()
    head.headOption.map(r => (r.getString(0), r.getLong(1)))
  }
}
