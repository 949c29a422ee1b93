package graft.maintain

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.{Cdc, CdcFixtures}
import graft.model.Schemas
import graft.stream.{ChangeStream, PartitionedState, StateStore}

class MaintainSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("maintain").toString

  private def writeEnvFile(dir: String, name: String,
      rows: Seq[(String, Long, String)]): Unit = { // (log_file, log_pos, ts)
    val staging = tmp()
    rows.toDF("log_file", "log_pos", "ts")
      .select(lit("INSERT").as("op"), lit("db").as("schema"), lit("t").as("table"),
        col("ts").cast("timestamp").as("ts"), col("log_file"), col("log_pos"),
        lit(0).as("row_index"),
        lit(null).cast("string").as("before"), lit(null).cast("string").as("after"))
      .coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.createDirectories(java.nio.file.Paths.get(dir))
    Files.move(part.toPath, java.nio.file.Paths.get(dir, s"$name.parquet"))
  }

  test("S10: purge deletes only fully-applied, expired change-log files") {
    val dir = tmp() + "/log"
    writeEnvFile(dir, "old", Seq(("mysql-bin.000001", 100L, "2024-01-01T00:00:00")))
    writeEnvFile(dir, "newer", Seq(("mysql-bin.000002", 50L, "2024-01-20T00:00:00")))
    val watermark = Cdc.versionOf("mysql-bin.000001", 100L, Cdc.MaxRowIndex)
    val now = lit("2024-02-01 00:00:00").cast("timestamp")
    val deleted = Maintain.purgeChangeLog(spark, dir, watermark, retainDays = 7,
      now = now, lockRoot = tmp())
    assert(deleted.size == 1 && deleted.head.contains("old.parquet"))
    val left = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(left == Set("newer.parquet"))
  }

  test("S10: a file inside the retention window survives even if applied") {
    val dir = tmp() + "/log"
    writeEnvFile(dir, "recent", Seq(("mysql-bin.000001", 100L, "2024-01-30T00:00:00")))
    val watermark = Cdc.versionOf("mysql-bin.000009", 1L)
    val now = lit("2024-02-01 00:00:00").cast("timestamp")
    assert(Maintain.purgeChangeLog(spark, dir, watermark, 7, now,
      lockRoot = tmp()).isEmpty)
  }

  test("S11: retention delete keeps rows above the bounded watermark") {
    val df = (1L to 20L).map(i =>
      (i, java.sql.Timestamp.valueOf(f"2024-01-${i}%02d 00:00:00")))
      .toDF("id", "t")
    // head ts = 2024-01-20; rows older than 10 days: ids 1..9; watermark = 9
    val out = Maintain.retentionDelete(df, "id", "t", minAgeDays = 10, probeLimit = 10001)
      .select("id").as[Long].collect().toSet
    assert(out == (10L to 20L).toSet)
  }

  test("S11: with nothing old enough, everything survives (null watermark)") {
    val df = Seq((1L, "2024-01-19 00:00:00"), (2L, "2024-01-20 00:00:00"))
      .toDF("id", "t").select(col("id"), col("t").cast("timestamp").as("t"))
    val out = Maintain.retentionDelete(df, "id", "t", minAgeDays = 10)
      .select("id").as[Long].collect().toSet
    assert(out == Set(1L, 2L))
  }

  test("ST8: compactState keeps only the max version per key in place") {
    val dir = tmp() + "/state"
    val h = CdcFixtures.history(spark, Seq(
      (1L, "v0", null, 1L), (1L, "v1", null, 2L), (2L, "w0", null, 5L)))
    StateStore.replace(h, dir)
    val (before, after) = Maintain.compactState(spark, dir, h.schema, Seq("id"))
    assert(before == 3 && after == 2)
    val left = StateStore.read(spark, dir, h.schema)
      .select("id", "name").as[(Long, String)].collect().toSet
    assert(left == Set((1L, "v1"), (2L, "w0")))
  }

  test("ST8: compactState keeps a month-partitioned state month-partitioned") {
    val t = "matomo_log_visit"
    val meta = Schemas.tableMeta(t)
    val schema = ChangeStream.stateSchema(t)
    val cfg = ChangeStream.StreamConfig(changeLogDir = tmp(),
      checkpointDir = tmp(), stateDir = tmp(), ledgerDir = tmp())
    val dir = s"${cfg.stateDir}/$t"
    def visit(id: Long, country: String, first: String) =
      s"""{"idvisit":$id,"idsite":1,"location_country":"$country",""" +
        s""""visit_first_action_time":"$first"}"""
    // one change batch of (op, log_pos, before, after), applied
    // partition-pruned exactly as ChangeStream applies the table
    def applyBatch(rows: (String, Long, String, String)*): Unit = {
      val events = rows.toDF("op", "log_pos", "before", "after")
        .select(col("op"), lit("db").as("schema"), lit(t).as("table"),
          lit("2024-02-06 10:00:00").cast("timestamp").as("ts"),
          lit("mysql-bin.000001").as("log_file"), col("log_pos"),
          lit(0).as("row_index"), col("before"), col("after"))
      val typed = Cdc.typedChanges(events, t)
      val pc = meta.partitionCol.get
      PartitionedState.rewrite(spark, dir, schema, pc, PartitionedState.touchedMonths(typed, pc))(
        Cdc.applyVersioned(_, typed, meta.keyCols))
    }
    def physical() = ChangeStream.readState(spark, cfg, t)
      .select("idvisit", "location_country").as[(Long, String)].collect().toSet
    val (jan, feb) = ("2024-01-05T09:00:00", "2024-02-05T09:00:00")
    applyBatch(("INSERT", 100L, null, visit(1, "de", jan)),
      ("INSERT", 110L, null, visit(2, "us", feb)))
    applyBatch(("UPDATE", 200L, visit(1, "de", jan), visit(1, "fr", jan)))
    assert(physical() == Set((1L, "de"), (1L, "fr"), (2L, "us")))

    val (before, after) = Maintain.compactState(spark, dir, schema, meta.keyCols)
    assert(before == 3 && after == 2)
    assert(new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith(s"${PartitionedState.PartCol}=")).toSet ==
      Set("yyyymm=202401", "yyyymm=202402"))
    // a compaction swap that died between its renames strands the state at
    // `.__old`; the next batch's pruned apply rolls it back and reads the
    // compacted months, and the stream's state read sees the deduplicated
    // rows plus that batch
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + ".__old")))
    applyBatch(("UPDATE", 300L, visit(2, "us", feb), visit(2, "ca", feb)))
    assert(physical() == Set((1L, "fr"), (2L, "us"), (2L, "ca")))
    assert(Cdc.latestWins(ChangeStream.readState(spark, cfg, t), meta.keyCols)
      .select("idvisit", "location_country").as[(Long, String)].collect().toSet ==
      Set((1L, "fr"), (2L, "ca")))
  }

  test("state mutators refuse while a batch holds the state-root lock (ST4)") {
    val root = tmp()
    val dir = root + "/matomo_site"
    val h = CdcFixtures.history(spark, Seq(
      (1L, "v0", null, 1L), (1L, "v1", null, 2L)))
    StateStore.replace(h, dir)
    // simulate an in-flight ChangeStream batch holding the state-root lock
    // (the owner every applying batch takes and heartbeats): both mutators
    // must refuse, not interleave with the per-table state rewrites
    val held = graft.stream.IngestLock.acquire(spark, root,
      "cdc-batch-0@some-checkpoint", 60000L)
    intercept[graft.stream.IngestLock.LockHeldException] {
      Maintain.compactState(spark, dir, h.schema, Seq("id"))
    }
    intercept[graft.stream.IngestLock.LockHeldException] {
      Maintain.purgeChangeLog(spark, root + "/log", 0L, 7,
        lit("2024-02-01 00:00:00").cast("timestamp"), lockRoot = root)
    }
    // state untouched by the refused compaction
    assert(StateStore.read(spark, dir, h.schema).count() == 2)
    graft.stream.IngestLock.release(spark, held)
    // released: the same operations serialize cleanly
    val (before, after) = Maintain.compactState(spark, dir, h.schema, Seq("id"))
    assert(before == 2 && after == 1)
    assert(Maintain.purgeChangeLog(spark, root + "/log", 0L, 7,
      lit("2024-02-01 00:00:00").cast("timestamp"), lockRoot = root).isEmpty)
  }

  test("writeZOrdered: every file covers a tight bounding box in both dimensions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a full 64x64 grid: 16 contiguous z-ranges are 16 aligned 16x16 blocks,
    // so each file's (x, y) bounding box must cover ~1/16 of the area --
    // an unordered layout would give every file the full grid
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val grid = (0L until 4096L).map(i => (i % 64, i / 64)).toDF("x", "y")
    Maintain.writeZOrdered(grid, dir, "x", "y", numFiles = 16)
    val boxes = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(((max($"x") - min($"x") + 1) * (max($"y") - min($"y") + 1)).as("area"),
        count(lit(1)).as("n"))
      .collect()
    assert(boxes.length == 16)
    assert(boxes.map(_.getAs[Long]("n")).sum == 4096L)
    // every file's bounding box is exactly one aligned 16x16 block
    assert(boxes.forall(_.getAs[Long]("area") == 256L),
      boxes.map(r => r.getAs[Long]("area")).mkString(","))
  }
}
