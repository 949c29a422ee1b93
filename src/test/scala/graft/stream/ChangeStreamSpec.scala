package graft.stream

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkCounts, SparkSpec}
import graft.cdc.Cdc
import graft.model.Schemas
import ChangeStream._

/** End-to-end streaming pipeline: staged micro-batches, checkpoint resume,
  * maxFilesPerTrigger batching, dry-run, and batch/stream equivalence. */
class ChangeStreamSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-stream").toString

  /** One envelope row; payloads are JSON strings (the heterogeneous-table
    * carrier per SURVEY.md §1.3). */
  private def env(op: String, table: String, pos: Long,
      before: String, after: String, ts: String = "2024-01-05T10:00:00"): (
      String, String, String, String, String, Long, Int, String, String) =
    (op, "db", table, ts, "mysql-bin.000001", pos, 0, before, after)

  /** Envelope rows as a change-event frame. */
  private def envFrame(rows: Seq[(
      String, String, String, String, String, Long, Int, String, String)]): DataFrame =
    rows.toDF("op", "schema", "table", "ts", "log_file", "log_pos", "row_index",
        "before", "after")
      .select(col("op"), col("schema"), col("table"),
        col("ts").cast("timestamp").as("ts"),
        col("log_file"), col("log_pos"), col("row_index"), col("before"), col("after"))

  /** Writes one flat parquet file `dir/name.parquet` (the file stream source
    * lists files at the top level; a per-write subdirectory would be invisible). */
  private def writeLog(dir: String, name: String, rows: Seq[(
      String, String, String, String, String, Long, Int, String, String)]): Unit = {
    val staging = tmpDir()
    envFrame(rows).coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.createDirectories(java.nio.file.Paths.get(dir))
    Files.move(part.toPath, java.nio.file.Paths.get(dir, s"$name.parquet"))
  }

  private def siteState(cfg: StreamConfig): Set[(Long, String)] =
    StateStore.read(spark, s"${cfg.stateDir}/matomo_site", stateSchema("matomo_site"))
      .select("idsite", "name").as[(Long, String)].collect().toSet

  private def visitLatest(cfg: StreamConfig): Set[(Long, String)] = {
    val h = ChangeStream.readState(spark, cfg, "matomo_log_visit")
    Cdc.latestWins(h, Seq("idvisit"))
      .select("idvisit", "location_country").as[(Long, String)].collect().toSet
  }

  private val batch1 = Seq(
    env("INSERT", "matomo_site", 100, null,
      """{"idsite":1,"name":"alpha","main_url":"http://a"}"""),
    env("INSERT", "matomo_site", 200, null,
      """{"idsite":2,"name":"beta","main_url":"http://b"}"""),
    env("INSERT", "matomo_log_visit", 300, null,
      """{"idvisit":10,"idsite":1,"location_country":"de","visit_first_action_time":"2024-01-05T09:00:00"}"""))

  private val batch2 = Seq(
    env("UPDATE", "matomo_site", 400,
      """{"idsite":1,"name":"alpha","main_url":"http://a"}""",
      """{"idsite":1,"name":"alpha2","main_url":"http://a"}"""),
    env("DELETE", "matomo_site", 500,
      """{"idsite":2,"name":"beta","main_url":"http://b"}""", null),
    env("UPDATE", "matomo_log_visit", 600,
      """{"idvisit":10,"idsite":1,"location_country":"de","visit_first_action_time":"2024-01-05T09:00:00"}""",
      """{"idvisit":10,"idsite":1,"location_country":"fr","visit_first_action_time":"2024-01-05T09:00:00"}"""))

  private def freshCfg(logDir: String, maxFiles: Int = 20, dry: Boolean = false) = {
    val base = tmpDir()
    StreamConfig(changeLogDir = logDir, checkpointDir = s"$base/ckpt",
      stateDir = s"$base/state", ledgerDir = s"$base/ledger",
      maxFilesPerTrigger = maxFiles,
      nowOverride = Some(java.sql.Timestamp.valueOf("2024-01-06 00:00:00")),
      dryRun = dry)
  }

  test("stream applies staged batches and resumes from checkpoint") {
    val logDir = tmpDir()
    writeLog(logDir, "f1", batch1)
    val cfg = freshCfg(logDir)

    ChangeStream.run(spark, cfg).awaitTermination()
    assert(siteState(cfg) == Set((1L, "alpha"), (2L, "beta")))
    assert(visitLatest(cfg) == Set((10L, "de")))
    val ledger1 = spark.read.parquet(cfg.ledgerDir)
    assert(ledger1.count() == 1)

    // second run with NEW file: resumes, does not reprocess f1
    writeLog(logDir, "f2", batch2)
    ChangeStream.run(spark, cfg).awaitTermination()
    assert(siteState(cfg) == Set((1L, "alpha2")))
    assert(visitLatest(cfg) == Set((10L, "fr")))
    val ledger2 = spark.read.parquet(cfg.ledgerDir)
    assert(ledger2.count() == 2)
    // ledger positions advance strictly (batch 2 starts after batch 1 ends)
    val heads = ledger2.select("log_pos_end").as[Long].collect().sorted
    assert(heads.last == 600L && heads.head == 300L)

    // S2: resume coordinates from the audit ledger
    assert(ChangeStream.resumeFromLedger(spark, cfg)
      .contains(("mysql-bin.000001", 600L)))

    // third run with nothing new: no-op, no extra ledger rows
    ChangeStream.run(spark, cfg).awaitTermination()
    assert(spark.read.parquet(cfg.ledgerDir).count() == 2)

    // the versioned hot table landed month-partitioned (the scale path is
    // the default path, not a separate API)
    val visitDir = new java.io.File(s"${cfg.stateDir}/matomo_log_visit")
    assert(visitDir.listFiles().exists(_.getName.startsWith("yyyymm=")),
      visitDir.listFiles().map(_.getName).mkString(","))

    // ST3 crash replay: wiping the checkpoint re-processes everything; the
    // latest-wins views converge to the same state (at-least-once +
    // idempotent apply)
    val (site0, visit0) = (siteState(cfg), visitLatest(cfg))
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete()
    }
    rmrf(new java.io.File(cfg.checkpointDir))
    ChangeStream.run(spark, cfg).awaitTermination()
    assert(siteState(cfg) == site0)
    assert(visitLatest(cfg) == visit0)
  }

  test("a steady micro-batch runs within its Spark job budget") {
    val logDir = tmpDir()
    writeLog(logDir, "f1", batch1)
    val cfg = freshCfg(logDir)
    ChangeStream.run(spark, cfg).awaitTermination()
    // the second staged run is the steady cron cycle: it resumes, applies
    // one micro-batch to existing state (one flat, one month-partitioned
    // table) and appends one ledger row
    writeLog(logDir, "f2", batch2)
    val (_, counts) = SparkCounts.measure(spark) {
      ChangeStream.run(spark, cfg).awaitTermination()
    }
    assert(siteState(cfg) == Set((1L, "alpha2")))
    assert(visitLatest(cfg) == Set((10L, "fr")))
    // 11 jobs: 3 for the batch summary (tables, ledger inputs and touched
    // months in one action), 3 for the visit table's partition-pruned
    // write (its read and reduce run inside the write), 4 for the site
    // table's flat swap, 1 for the ledger row
    assert(counts.jobs <= 11L, s"a steady micro-batch ran ${counts.jobs} Spark jobs")
  }

  test("a malformed month-partitioned payload fails the batch before any state write") {
    val cfg = freshCfg(tmpDir())
    // the flat action table sorts first and is valid; the visit-action
    // payload is not JSON. The summary parses the partition field of every
    // month-partitioned image, so the batch fails before the action table
    // is swapped
    val batch = envFrame(Seq(
      env("INSERT", "matomo_log_action", 100, null,
        """{"idaction":1,"name":"a","hash":7,"type":1}"""),
      env("INSERT", "matomo_log_link_visit_action", 200, null,
        """{"idlink_va":1,"server_time":"2024-01-05T09:00:00"""")))
    intercept[Exception](ChangeStream.applyBatch(spark, cfg)(batch, 0L))
    assert(!Files.exists(java.nio.file.Paths.get(cfg.stateDir, "matomo_log_action")))
    assert(!Files.exists(java.nio.file.Paths.get(cfg.stateDir, "matomo_log_link_visit_action")))
    assert(!Files.exists(java.nio.file.Paths.get(cfg.ledgerDir)))
  }

  test("an UPDATE that moves a row across months rewrites both months (end to end)") {
    val logDir = tmpDir()
    def va(id: Long, serverTime: String) =
      s"""{"idlink_va":$id,"idsite":1,"idvisitor":"v","idvisit":10,"server_time":"$serverTime"}"""
    def conv(buster: Long, serverTime: String) =
      s"""{"idvisit":1,"idsite":1,"idgoal":2,"buster":$buster,"server_time":"$serverTime","url":"u"}"""
    // each table holds one row in December and a bystander in January
    writeLog(logDir, "f1", Seq(
      env("INSERT", "matomo_log_link_visit_action", 100, null, va(1, "2023-12-20T09:00:00")),
      env("INSERT", "matomo_log_link_visit_action", 110, null, va(2, "2024-01-02T09:00:00")),
      env("INSERT", "matomo_log_conversion", 120, null, conv(1, "2023-12-20T09:00:00")),
      env("INSERT", "matomo_log_conversion", 130, null, conv(2, "2024-01-02T09:00:00"))))
    val cfg = freshCfg(logDir)
    ChangeStream.run(spark, cfg).awaitTermination()
    def months(table: String): Set[String] =
      new java.io.File(s"${cfg.stateDir}/$table").listFiles()
        .map(_.getName).filter(_.startsWith("yyyymm=")).toSet
    assert(months("matomo_log_conversion") == Set("yyyymm=202312", "yyyymm=202401"))
    // the moves: both December rows are updated into January. Missing the
    // before-month would leave the old mutable row behind; missing the
    // after-month would overwrite January without reading its bystander
    writeLog(logDir, "f2", Seq(
      env("UPDATE", "matomo_log_link_visit_action", 200,
        va(1, "2023-12-20T09:00:00"), va(1, "2024-01-03T09:00:00")),
      env("UPDATE", "matomo_log_conversion", 210,
        conv(1, "2023-12-20T09:00:00"), conv(1, "2024-01-03T09:00:00"))))
    ChangeStream.run(spark, cfg).awaitTermination()
    // mutable: the row left December, whose directory is gone
    assert(months("matomo_log_conversion") == Set("yyyymm=202401"))
    val convRows = ChangeStream.readState(spark, cfg, "matomo_log_conversion")
      .select($"buster", date_format($"server_time", "yyyyMM"))
      .as[(Long, String)].collect().toSet
    assert(convRows == Set((1L, "202401"), (2L, "202401")))
    // versioned: the fresh version lands in January next to the bystander;
    // December keeps the superseded version the latest-wins view hides
    assert(months("matomo_log_link_visit_action") == Set("yyyymm=202312", "yyyymm=202401"))
    val vaLatest = Cdc.latestWins(
        ChangeStream.readState(spark, cfg, "matomo_log_link_visit_action"), Seq("idlink_va"))
      .select($"idlink_va", date_format($"server_time", "yyyyMM"))
      .as[(Long, String)].collect().toSet
    assert(vaLatest == Set((1L, "202401"), (2L, "202401")))
  }

  test("a flat table stranded at .__old by a died swap rolls back on the next cycle") {
    val logDir = tmpDir()
    writeLog(logDir, "f1", batch1)
    val cfg = freshCfg(logDir)
    ChangeStream.run(spark, cfg).awaitTermination()
    assert(siteState(cfg) == Set((1L, "alpha"), (2L, "beta")))
    // a state swap that died between its two renames: the live dir is gone
    // and its rows sit at `<dir>.__old`
    val dir = new java.io.File(s"${cfg.stateDir}/matomo_site")
    val old = new java.io.File(dir.getPath + ".__old")
    assert(dir.renameTo(old))
    writeLog(logDir, "f2", Seq(env("INSERT", "matomo_site", 700, null,
      """{"idsite":3,"name":"gamma","main_url":"http://c"}""")))
    ChangeStream.run(spark, cfg).awaitTermination()
    // the rolled-back rows plus the new batch — not empty-plus-batch
    assert(!old.exists())
    assert(siteState(cfg) == Set((1L, "alpha"), (2L, "beta"), (3L, "gamma")))
  }

  test("streamed result equals one-shot batch apply (stream/batch equivalence)") {
    val logDir = tmpDir()
    writeLog(logDir, "f1", batch1)
    writeLog(logDir, "f2", batch2)
    val cfg = freshCfg(logDir)
    ChangeStream.run(spark, cfg).awaitTermination()

    // one-shot batch apply of the full log against empty state
    val all = spark.read.schema(Schemas.changeEventSchema).parquet(logDir)
    val site = Cdc.applyMutable(
      StateStore.read(spark, "/nonexistent-site", stateSchema("matomo_site")),
      Cdc.typedChanges(all, "matomo_site"), Seq("idsite"))
      .select("idsite", "name").as[(Long, String)].collect().toSet
    val visit = Cdc.latestWins(Cdc.applyVersioned(
      StateStore.read(spark, "/nonexistent-visit", stateSchema("matomo_log_visit")),
      Cdc.suppressOldDeletes(Cdc.typedChanges(all, "matomo_log_visit"),
        "visit_first_action_time", lit("2024-01-06 00:00:00").cast("timestamp")),
      Seq("idvisit")), Seq("idvisit"))
      .select("idvisit", "location_country").as[(Long, String)].collect().toSet

    assert(siteState(cfg) == site)
    assert(visitLatest(cfg) == visit)
  }

  test("maxFilesPerTrigger=1 splits one run into one micro-batch per file (S3/O11)") {
    val logDir = tmpDir()
    writeLog(logDir, "f1", batch1)
    writeLog(logDir, "f2", batch2)
    val cfg = freshCfg(logDir, maxFiles = 1)
    ChangeStream.run(spark, cfg).awaitTermination()
    val ledger = spark.read.parquet(cfg.ledgerDir)
    assert(ledger.count() == 2)
    assert(ledger.select("batch_id").as[Long].collect().toSet == Set(0L, 1L))
    assert(siteState(cfg) == Set((1L, "alpha2")))
  }

  test("events for an unregistered table fail the batch loudly (strict schema)") {
    val cfg = freshCfg(tmpDir())
    val batch = envFrame(Seq(env("INSERT", "not_in_registry", 1, null, """{"x":1}""")))
    val e = intercept[IllegalArgumentException] {
      ChangeStream.applyBatch(spark, cfg)(batch, 0L)
    }
    assert(e.getMessage.contains("not_in_registry"))
  }

  test("a ledger of aggregate-built and driver-built rows reads back as one frame") {
    val cfg = freshCfg(tmpDir())
    // a row as earlier versions appended it (the one-aggregate ledgerEntry)
    // next to one folded on the driver from the per-table summary
    val older = Cdc.ledgerEntry(envFrame(batch1)).withColumn("batch_id", lit(0L))
    val newer = envFrame(batch2)
    older.write.mode("append").parquet(cfg.ledgerDir)
    Cdc.ledgerRow(newer, Cdc.batchSummary(newer), 1L)
      .write.mode("append").parquet(cfg.ledgerDir)
    val ledger = spark.read.parquet(cfg.ledgerDir)
    assert(ledger.schema.map(f => (f.name, f.dataType)) ==
      older.schema.map(f => (f.name, f.dataType)))
    assert(ledger.select("batch_id", "log_pos_start", "log_pos_end", "rows_applied")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq ==
      Seq((0L, 100L, 300L, 3L), (1L, 400L, 600L, 3L)))
    assert(ChangeStream.resumeFromLedger(spark, cfg)
      .contains(("mysql-bin.000001", 600L)))
  }

  test("an overflowing version fails the batch before any state write") {
    val cfg = freshCfg(tmpDir())
    // the visit table sorts first and is valid; one more site row carries
    // a row_index past the version's 14 bits
    val batch = envFrame(batch1 :+
      env("INSERT", "matomo_site", 900, null,
        """{"idsite":3,"name":"gamma","main_url":"http://c"}""")
        .copy(_7 = Cdc.MaxRowIndex + 1))
    val e = intercept[Exception](ChangeStream.applyBatch(spark, cfg)(batch, 0L))
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => Option(c.getMessage).exists(
      _.contains("version field overflow"))), e.toString)
    assert(!Files.exists(java.nio.file.Paths.get(cfg.stateDir, "matomo_log_visit")))
    assert(!Files.exists(java.nio.file.Paths.get(cfg.ledgerDir)))
  }

  test("old DELETEs are suppressed on the mutable conversion table too (F7)") {
    val logDir = tmpDir()
    // conversion key: (idvisit, idsite, idgoal, buster); server_time is both
    // the delete-age guard and the partition column
    val conv =
      """{"idvisit":1,"idsite":1,"idgoal":2,"buster":3,"server_time":"2023-11-01T00:00:00","url":"u"}"""
    writeLog(logDir, "f1", Seq(
      env("INSERT", "matomo_log_conversion", 10, null, conv),
      // DELETE of a >31-day-old row (now = 2024-01-06): must be suppressed
      env("DELETE", "matomo_log_conversion", 20, conv, null)))
    val cfg = freshCfg(logDir)
    ChangeStream.run(spark, cfg).awaitTermination()
    val state = ChangeStream.readState(spark, cfg, "matomo_log_conversion")
    assert(state.count() == 1, "old DELETE must not remove the conversion row")
  }

  test("the apply loop holds the state-root lock: a foreign holder fails the batch") {
    val logDir = tmpDir()
    writeLog(logDir, "f1", batch1)
    val cfg = freshCfg(logDir)
    // a concurrent maintainer (compactState/purgeChangeLog) holds the state
    // root: the stream's batch must REFUSE — fail the run — rather than
    // interleave its per-table state rewrites with the maintenance swap
    val held = IngestLock.acquire(spark, cfg.stateDir, "maintenance-run",
      cfg.lockStaleMs)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      ChangeStream.run(spark, cfg).awaitTermination()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.isInstanceOf[IngestLock.LockHeldException]),
      causes(e).map(_.getClass.getName).mkString(" <- "))
    // nothing applied while refused
    assert(!Files.exists(java.nio.file.Paths.get(cfg.stateDir, "matomo_site")))
    IngestLock.release(spark, held)
    // released: the retried run applies the batch the checkpoint never committed
    ChangeStream.run(spark, cfg).awaitTermination()
    assert(siteState(cfg) == Set((1L, "alpha"), (2L, "beta")))
    // and the lock is released after the run, so maintenance can now acquire
    IngestLock.release(spark,
      IngestLock.acquire(spark, cfg.stateDir, "maintenance-run", cfg.lockStaleMs))
  }

  test("dry-run processes but writes neither state nor ledger (S9)") {
    val logDir = tmpDir()
    writeLog(logDir, "f1", batch1)
    val cfg = freshCfg(logDir, dry = true)
    ChangeStream.run(spark, cfg).awaitTermination()
    assert(!Files.exists(java.nio.file.Paths.get(cfg.stateDir, "matomo_site")))
    assert(!Files.exists(java.nio.file.Paths.get(cfg.ledgerDir)))
  }

  test("the dry-run changes= count excludes an F7-old DELETE of a versioned table") {
    val cfg = freshCfg(tmpDir(), dry = true)
    val old =
      """{"idvisit":7,"idsite":1,"location_country":"de","visit_first_action_time":"2023-11-01T00:00:00"}"""
    // now = 2024-01-06: the DELETE of a >31-day-old visit is suppressed
    val batch = envFrame(Seq(
      env("INSERT", "matomo_log_visit", 100, null,
        """{"idvisit":8,"idsite":1,"location_country":"fr","visit_first_action_time":"2024-01-05T09:00:00"}"""),
      env("DELETE", "matomo_log_visit", 200, old, null)))
    val err = new java.io.ByteArrayOutputStream()
    Console.withErr(err)(ChangeStream.applyBatch(spark, cfg)(batch, 0L))
    val line = err.toString.linesIterator.find(_.startsWith("[dry-run]")).getOrElse("")
    assert(line.contains("table=matomo_log_visit") && line.contains(" changes=1 "), line)
  }

  test("maintained aggregate view tracks the logical table across staged runs") {
    val logDir = tmpDir()
    writeLog(logDir, "f1", batch1)
    val cfg = freshCfg(logDir).copy(maintainedAggs = Seq(
      ChangeStream.MaintainedAgg("matomo_log_visit", "location_country", "idsite")))
    def aggState(): Set[(String, Long, Long)] = {
      val ma = cfg.maintainedAggs.head
      StateStore.read(spark, ma.dir(cfg.stateDir),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("location_country",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("cnt",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("sum_micro",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("__batch_id",
            org.apache.spark.sql.types.LongType, nullable = false))))
        .drop("__batch_id")
        .as[(String, Long, Long)].collect().toSet
    }
    ChangeStream.run(spark, cfg).awaitTermination()
    // batch1: INSERT visit 10 (de, idsite 1)
    assert(aggState() == Set(("de", 1L, 1000000L)))

    // batch2 updates de->fr; a third batch deletes visit 10 and inserts 11 (us)
    writeLog(logDir, "f2", batch2)
    writeLog(logDir, "f3", Seq(
      env("DELETE", "matomo_log_visit", 700,
        """{"idvisit":10,"idsite":1,"location_country":"fr","visit_first_action_time":"2024-01-05T09:00:00"}""",
        null),
      env("INSERT", "matomo_log_visit", 800, null,
        """{"idvisit":11,"idsite":2,"location_country":"us","visit_first_action_time":"2024-01-05T11:00:00"}""")))
    ChangeStream.run(spark, cfg).awaitTermination()
    val finalAgg = aggState().filter(_._2 != 0)
    assert(finalAgg == Set(("us", 1L, 2000000L)))
    // the maintained view equals a recompute over the applied logical table
    val recomputed = Cdc.latestWins(
      ChangeStream.readState(spark, cfg, "matomo_log_visit"), Seq("idvisit"))
      .groupBy($"location_country")
      .agg(count(lit(1)).as("cnt"),
        sum(expr("CAST(floor(idsite * 1e6) AS BIGINT)")).as("sum_micro"))
      .as[(String, Long, Long)].collect().toSet
    assert(finalAgg == recomputed)

    // at-least-once replay: wiping the checkpoint replays every batch; the
    // batch-id guard must keep the maintained view fixed (deltas, unlike
    // the idempotent table applies, would otherwise double-apply)
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete()
    }
    rmrf(new java.io.File(cfg.checkpointDir))
    ChangeStream.run(spark, cfg).awaitTermination()
    assert(aggState().filter(_._2 != 0) == finalAgg)
  }

  test("maintained aggregate view tracks a MUTABLE table, including group moves") {
    val logDir = tmpDir()
    writeLog(logDir, "f1", batch1)
    writeLog(logDir, "f2", batch2)   // UPDATE moves site 1 name alpha->alpha2; DELETE site 2
    val cfg = freshCfg(logDir).copy(maintainedAggs = Seq(
      ChangeStream.MaintainedAgg("matomo_site", "name", "idsite")))
    ChangeStream.run(spark, cfg).awaitTermination()
    val ma = cfg.maintainedAggs.head
    val agg = StateStore.read(spark, ma.dir(cfg.stateDir),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("cnt",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("sum_micro",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("__batch_id",
          org.apache.spark.sql.types.LongType, nullable = false))))
      .drop("__batch_id")
      .as[(String, Long, Long)].collect().toSet
    // alpha: +1 then moved away (-1); beta: +1 then deleted (-1); alpha2: +1
    assert(agg.filter(_._2 != 0) == Set(("alpha2", 1L, 1000000L)))
    assert(agg == Set(("alpha", 0L, 0L), ("beta", 0L, 0L), ("alpha2", 1L, 1000000L)))
  }

  test("jdbc sink applyVersioned replay converges on the RAW history (at-least-once)") {
    val derby = Some("org.apache.derby.jdbc.EmbeddedDriver")
    val url = s"jdbc:derby:${tmpDir()}/db;create=true"
    val logDir = tmpDir()
    // an INSERT→DELETE→INSERT chain on one key plus a plain insert: both the
    // append path and the delete mutation replay
    writeLog(logDir, "f1", Seq(
      env("INSERT", "matomo_log_visit", 100, null,
        """{"idvisit":1,"idsite":1,"location_country":"de","visit_first_action_time":"2024-01-05T09:00:00"}"""),
      env("DELETE", "matomo_log_visit", 200,
        """{"idvisit":1,"idsite":1,"location_country":"de","visit_first_action_time":"2024-01-05T09:00:00"}""",
        null),
      env("INSERT", "matomo_log_visit", 300, null,
        """{"idvisit":1,"idsite":1,"location_country":"fr","visit_first_action_time":"2024-01-05T09:30:00"}"""),
      env("INSERT", "matomo_log_visit", 400, null,
        """{"idvisit":2,"idsite":1,"location_country":"us","visit_first_action_time":"2024-01-05T10:00:00"}""")))
    val typed = Cdc.typedChanges(
      spark.read.schema(Schemas.changeEventSchema).parquet(logDir), "matomo_log_visit")
    val cfg = JdbcState.SinkConfig(url, derby)
    def rawHistory(): Seq[(Long, String, Long)] =
      graft.sources.Jdbc.readTable(spark, url, "state_matomo_log_visit", derby)
        .select($"idvisit", $"location_country", col(Schemas.VersionCol))
        .as[(Long, String, Long)].collect().toSeq.sorted

    JdbcState.applyVersioned(typed, cfg, "matomo_log_visit", Seq("idvisit"))
    val once = rawHistory()
    assert(once.map(r => (r._1, r._2)) == Seq((1L, "fr"), (2L, "us")))
    // a crash after the append but before the checkpoint commit replays the
    // whole batch: raw history must be identical, not doubled
    JdbcState.applyVersioned(typed, cfg, "matomo_log_visit", Seq("idvisit"))
    assert(rawHistory() == once)
  }

  test("jdbc sink mode: two staged runs against Derby equal the batch apply") {
    val derby = Some("org.apache.derby.jdbc.EmbeddedDriver")
    val url = s"jdbc:derby:${tmpDir()}/db;create=true"
    val logDir = tmpDir()
    // batch3 exercises the DELETE mutation on the versioned table, plus an
    // append AFTER the delete in the same file (must survive — no resurrect,
    // no over-delete)
    val batch3 = Seq(
      env("DELETE", "matomo_log_visit", 700,
        """{"idvisit":10,"idsite":1,"location_country":"fr","visit_first_action_time":"2024-01-05T09:00:00"}""",
        null),
      env("INSERT", "matomo_log_visit", 800, null,
        """{"idvisit":11,"idsite":1,"location_country":"us","visit_first_action_time":"2024-01-05T11:00:00"}"""))
    writeLog(logDir, "f1", batch1)
    val cfg = freshCfg(logDir).copy(
      jdbcSink = Some(JdbcState.SinkConfig(url, derby)))

    def derbyLatest(): Set[(Long, String)] =
      Cdc.latestWins(
        graft.sources.Jdbc.readTable(spark, url, "state_matomo_log_visit", derby),
        Seq("idvisit"))
        .select("idvisit", "location_country").as[(Long, String)].collect().toSet
    def derbySite(): Set[(Long, String)] =
      graft.sources.Jdbc.readTable(spark, url, "state_matomo_site", derby)
        .select($"idsite", $"name").as[(Long, String)].collect().toSet

    ChangeStream.run(spark, cfg).awaitTermination()
    assert(derbyLatest() == Set((10L, "de")))
    // mutable tables apply to the target too (update-in-place), not parquet
    assert(derbySite() == Set((1L, "alpha"), (2L, "beta")))
    assert(!Files.exists(java.nio.file.Paths.get(cfg.stateDir, "matomo_site")))

    // second run resumes from the checkpoint: only the new files apply.
    // batch2's site events drive the mutable sink's OTHER two paths: a
    // pure-update chain (alpha -> alpha2, name is the only changed column)
    // and a keyed DELETE (site 2)
    writeLog(logDir, "f2", batch2)
    writeLog(logDir, "f3", batch3)
    ChangeStream.run(spark, cfg).awaitTermination()
    assert(derbyLatest() == Set((11L, "us")))
    assert(derbySite() == Set((1L, "alpha2")))

    // delete mutation removed every version of idvisit 10 from the history
    val hist = graft.sources.Jdbc.readTable(spark, url, "state_matomo_log_visit", derby)
    assert(hist.filter($"idvisit" === 10L).count() == 0)

    // equals the one-shot batch apply of the full log against empty state
    val all = spark.read.schema(Schemas.changeEventSchema).parquet(logDir)
    val expected = Cdc.latestWins(Cdc.applyVersioned(
      StateStore.read(spark, "/nonexistent-visit", stateSchema("matomo_log_visit")),
      Cdc.suppressOldDeletes(Cdc.typedChanges(all, "matomo_log_visit"),
        "visit_first_action_time", lit("2024-01-06 00:00:00").cast("timestamp")),
      Seq("idvisit")), Seq("idvisit"))
      .select("idvisit", "location_country").as[(Long, String)].collect().toSet
    assert(derbyLatest() == expected)

    // the ledger is mirrored into the target database (S8 target-side audit)
    // run 1 = one batch (f1); run 2 = one batch (f2+f3 fit in one trigger)
    val ledger = graft.sources.Jdbc.readTable(spark, url, "state_log_replication", derby)
    assert(ledger.count() == 2)
    assert(graft.sources.Jdbc.maxId(spark, url, "state_log_replication",
      "log_pos_end", derby).contains(800L))
  }
}
