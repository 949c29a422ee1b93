package graft.stream

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.cdc.Cdc
import graft.model.Schemas

/** Perf-weak fix: the apply must read and rewrite ONLY the partitions the
  * batch touches (VERDICT round 1, scale-killers section). */
class PartitionedStateSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("d", TimestampType), StructField(Schemas.VersionCol, LongType)))

  private def hist(rows: (Long, String, String, Long)*) =
    rows.toDF("id", "name", "d", Schemas.VersionCol)
      .select(col("id"), col("name"), col("d").cast("timestamp").as("d"),
        col(Schemas.VersionCol))

  /** change events with (op, version, id, name, month-date). */
  private def changes(rows: (String, Long, Long, String, String)*) =
    rows.toDF("op", Schemas.VersionCol, "id", "name", "d")
      .select(col("op"), col(Schemas.VersionCol),
        when(col("op") =!= "INSERT", struct(col("id"), col("name"),
          col("d").cast("timestamp").as("d"))).as("before"),
        when(col("op") =!= "DELETE", struct(col("id"), col("name"),
          col("d").cast("timestamp").as("d"))).as("after"))

  private def initState(dir: String): Unit = PartitionedState.init(
    hist(
      (1L, "jan", "2024-01-10 00:00:00", 1L),
      (2L, "feb", "2024-02-10 00:00:00", 2L),
      (3L, "mar", "2024-03-10 00:00:00", 3L)),
    dir, "d")

  /** The versioned apply over the batch's own touched months, as the
    * stream runs it. */
  private def applyVersioned(dir: String, batch: DataFrame): Unit =
    PartitionedState.rewrite(spark, dir, schema, "d", PartitionedState.touchedMonths(batch, "d"))(
      Cdc.applyVersioned(_, batch, Seq("id")))

  test("apply reads and rewrites only the touched month partitions") {
    val dir = Files.createTempDirectory("pstate").toString + "/t"
    initState(dir)
    val janFiles = new java.io.File(s"$dir/yyyymm=202401").listFiles().map(f =>
      f.getName -> f.lastModified()).toMap

    val batch = changes(("INSERT", 10L, 2L, "feb2", "2024-02-11 00:00:00"))
    // pruned-scan assertion: only the touched month is read
    val touched = PartitionedState.touchedMonths(batch, "d")
    assert(touched == Seq("202402"))
    val scan = PartitionedState.readMonths(spark, dir, schema, touched)
    // the month predicate must land in PartitionFilters (metadata pruning,
    // zero I/O for other months), not in the post-scan data filter
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("202402"), plan.take(800))
    // and the month equality is a partition (metadata) predicate on the scan
    val scanLeaf = scan.queryExecution.executedPlan.collectLeaves().map(_.toString)
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLeaf.contains("yyyymm") && scanLeaf.contains("= 202402"), scanLeaf.take(800))

    applyVersioned(dir, batch)

    // untouched partitions bitwise-untouched on disk
    val janAfter = new java.io.File(s"$dir/yyyymm=202401").listFiles().map(f =>
      f.getName -> f.lastModified()).toMap
    assert(janAfter == janFiles)

    // full state correct: feb has both versions, jan/mar unchanged
    val all = spark.read.schema(StructType(schema.fields :+
        StructField("yyyymm", StringType))).parquet(dir)
      .select("id", "name", Schemas.VersionCol).as[(Long, String, Long)].collect().toSet
    assert(all == Set((1L, "jan", 1L), (2L, "feb", 2L), (2L, "feb2", 10L), (3L, "mar", 3L)))
  }

  test("a month emptied by deletes loses its partition directory") {
    val dir = Files.createTempDirectory("pstate").toString + "/t"
    initState(dir)
    val batch = changes(("DELETE", 10L, 3L, "mar", "2024-03-10 00:00:00"))
    applyVersioned(dir, batch)
    assert(!new java.io.File(s"$dir/yyyymm=202403").exists())
    val ids = spark.read.parquet(dir).select("id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L))
  }

  test("a table whose every month was emptied by deletes takes the next batch") {
    val dir = Files.createTempDirectory("pstate").toString + "/t"
    initState(dir)
    applyVersioned(dir, changes(
      ("DELETE", 10L, 1L, "jan", "2024-01-10 00:00:00"),
      ("DELETE", 11L, 2L, "feb", "2024-02-10 00:00:00"),
      ("DELETE", 12L, 3L, "mar", "2024-03-10 00:00:00")))
    assert(!new java.io.File(dir).list().exists(_.startsWith("yyyymm=")))
    // no month left: the state reads empty, without its partition column
    val empty = PartitionedState.readMonths(spark, dir, schema, Seq("202401", "202402"))
    assert(!empty.columns.contains(PartitionedState.PartCol) && empty.isEmpty)
    applyVersioned(dir, changes(
      ("INSERT", 20L, 1L, "jan2", "2024-01-11 00:00:00"),
      ("INSERT", 21L, 4L, "feb4", "2024-02-11 00:00:00")))
    assert(new java.io.File(dir).list().filter(_.startsWith("yyyymm=")).toSet ==
      Set("yyyymm=202401", "yyyymm=202402"))
    val all = spark.read.parquet(dir).select("id", "name", Schemas.VersionCol)
      .as[(Long, String, Long)].collect().toSet
    assert(all == Set((1L, "jan2", 20L), (4L, "feb4", 21L)))
  }

  test("re-applying the same batch converges (crash-replay contract)") {
    // versioned: double apply duplicates physical rows but the latest-wins
    // view is identical, and compaction restores the physical state
    val dir = Files.createTempDirectory("pstate").toString + "/t"
    initState(dir)
    val batch = changes(("UPDATE", 10L, 2L, "feb", "2024-02-10 00:00:00"))
      .withColumn("after", struct(lit(2L).as("id"), lit("feb2").as("name"),
        lit("2024-02-10 00:00:00").cast("timestamp").as("d")))
    applyVersioned(dir, batch)
    val once = Cdc.latestWins(
      spark.read.parquet(dir).drop(PartitionedState.PartCol), Seq("id"))
      .select("id", "name", Schemas.VersionCol).as[(Long, String, Long)].collect().toSet
    applyVersioned(dir, batch)
    val twice = Cdc.latestWins(
      spark.read.parquet(dir).drop(PartitionedState.PartCol), Seq("id"))
      .select("id", "name", Schemas.VersionCol).as[(Long, String, Long)].collect().toSet
    assert(once == twice)
  }

  test("mutable pruned apply updates in place within the touched month") {
    val dir = Files.createTempDirectory("pstate").toString + "/t"
    PartitionedState.init(
      hist((1L, "jan", "2024-01-10 00:00:00", 1L),
           (2L, "feb", "2024-02-10 00:00:00", 2L))
        .drop(Schemas.VersionCol),
      dir, "d")
    val mutSchema = StructType(schema.fields.filterNot(_.name == Schemas.VersionCol))
    val batch = changes(("UPDATE", 10L, 2L, "feb", "2024-02-10 00:00:00"))
      // after-image with changed name
      .withColumn("after", struct(lit(2L).as("id"), lit("feb9").as("name"),
        lit("2024-02-10 00:00:00").cast("timestamp").as("d")))
    val touched = PartitionedState.touchedMonths(batch, "d")
    assert(touched == Seq("202402"))
    PartitionedState.rewrite(spark, dir, mutSchema, "d", touched)(
      Cdc.applyMutable(_, batch, Seq("id")))
    val all = spark.read.parquet(dir).select("id", "name").as[(Long, String)].collect().toSet
    assert(all == Set((1L, "jan"), (2L, "feb9")))
  }
}
