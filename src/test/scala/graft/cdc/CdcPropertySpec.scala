package graft.cdc

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{DateType, StructType}

import graft.SparkSpec
import graft.model.Schemas
import graft.stream.PartitionedState
import CdcFixtures._

/**
 * SURVEY.md §5 property tests (seeded-random model-based checks):
 *  (a) applying a random consistent change log ≡ replaying it into a per-key
 *      map one event at a time (the reference's sequential loop,
 *      matomo2clickhouse.py:648-653);
 *  (b) idempotent replay — re-applying a suffix of the log is a no-op on the
 *      latest-wins view (the ReplacingMergeTree contract,
 *      reference: README.md:358-362);
 *  (c) dedup purge never removes a key's max-version row
 *      (reference: _settings.py:230-287);
 *  (d) the ledger row the stream folds on the driver from per-table
 *      partials equals the one-aggregate [[Cdc.ledgerEntry]];
 *  (e) the months the batch summary folds per table equal
 *      [[PartitionedState.touchedMonths]] over the strict typed changes and
 *      cover those of the frame the apply receives.
 */
class CdcPropertySpec extends SparkSpec {

  type Row3 = (Option[Long], Option[String], Option[String])

  /** Generate a consistent change log: each UPDATE/DELETE's before-image is
    * the key's current model row, as a faithful row-binlog guarantees. */
  private def genLog(rnd: Random, nEvents: Int, nKeys: Int): (Seq[Ev], Map[Long, Row3]) = {
    val model = mutable.Map[Long, (String, Option[String])]()
    val evs = mutable.Buffer[Ev]()
    var v = 0L
    def freshName() = "n" + rnd.nextInt(1000)
    def freshNote() = if (rnd.nextBoolean()) Some("t" + rnd.nextInt(10)) else None
    (1 to nEvents).foreach { _ =>
      v += 1
      val key = 1L + rnd.nextInt(nKeys)
      model.get(key) match {
        case None =>
          val (n, t) = (freshName(), freshNote())
          evs += ins(v, key, n, t)
          model(key) = (n, t)
        case Some((curN, curT)) =>
          rnd.nextInt(10) match {
            case 0 | 1 =>
              evs += del(v, key, curN, curT)
              model.remove(key)
            case 2 =>
              // re-insert over existing key (latest-wins collision)
              val (n, t) = (freshName(), freshNote())
              evs += ins(v, key, n, t)
              model(key) = (n, t)
            case _ =>
              // update: mutate name and/or note (sometimes a no-op column)
              val n2 = if (rnd.nextBoolean()) freshName() else curN
              val t2 = if (rnd.nextBoolean()) freshNote() else curT
              evs += (("UPDATE", v,
                Some((Some(key), Some(curN), curT)),
                Some((Some(key), Some(n2), t2))): Ev)
              model(key) = (n2, t2)
          }
      }
    }
    (evs.toSeq, model.map { case (k, (n, t)) => k -> ((Some(k), Some(n), t): Row3) }.toMap)
  }

  test("property: batched applyMutable ≡ sequential per-key replay (3 seeds × random batch splits)") {
    Seq(1, 7, 42).foreach { seed =>
      val rnd = new Random(seed)
      val (log, expected) = genLog(rnd, nEvents = 40, nKeys = 6)
      // split the log into 1-4 sequential batches at random cut points
      val nBatches = 1 + rnd.nextInt(4)
      val cuts = (Seq(0, log.size) ++ Seq.fill(nBatches - 1)(rnd.nextInt(log.size + 1)))
        .sorted.distinct
      val batches = cuts.zip(cuts.tail).map { case (a, b) => log.slice(a, b) }
        .filter(_.nonEmpty)
      var st = state(spark, Nil)
      batches.foreach { b =>
        st = Cdc.applyMutable(st, changes(spark, b), Seq("id")).localCheckpoint()
      }
      val got = collectMutable(st).map { case (k, n, t) => k.get -> ((k, n, t): Row3) }.toMap
      assert(got == expected, s"seed=$seed batches=${batches.map(_.size)}")
    }
  }

  test("property: applyVersioned + latestWins ≡ sequential replay; purge never removes max") {
    Seq(3, 99).foreach { seed =>
      val rnd = new Random(seed)
      val (log, expected) = genLog(rnd, nEvents = 30, nKeys = 5)
      var h = history(spark, Nil)
      val mid = log.size / 2
      Seq(log.take(mid), log.drop(mid)).filter(_.nonEmpty).foreach { b =>
        h = Cdc.applyVersioned(h, changes(spark, b), Seq("id")).localCheckpoint()
      }
      val latest = collectVersioned(Cdc.latestWins(h, Seq("id")))
        .map { case (k, n, t, _) => k -> ((Some(k), n, t): Row3) }.toMap
      assert(latest == expected, s"seed=$seed")

      // (c) purge keeps exactly each key's max-version row among survivors
      val purged = collectVersioned(Cdc.dedupPurge(h, Seq("id")))
      val maxPerKey = collectVersioned(h).groupBy(_._1).map { case (k, rows) =>
        k -> rows.maxBy(_._4)
      }
      assert(purged == maxPerKey.values.toSet, s"seed=$seed purge")
    }
  }

  test("property: replaying a suffix twice is a no-op on the latest-wins view (ST3)") {
    Seq(5, 11).foreach { seed =>
      val rnd = new Random(seed)
      val (log, _) = genLog(rnd, nEvents = 30, nKeys = 5)
      val mid = log.size / 2
      val (prefix, suffix) = (log.take(mid), log.drop(mid))
      val base = Cdc.applyVersioned(history(spark, Nil), changes(spark, prefix), Seq("id"))
        .localCheckpoint()
      val once = Cdc.applyVersioned(base, changes(spark, suffix), Seq("id")).localCheckpoint()
      val twice = Cdc.applyVersioned(once, changes(spark, suffix), Seq("id")).localCheckpoint()
      val vOnce = collectVersioned(Cdc.latestWins(once, Seq("id")))
      val vTwice = collectVersioned(Cdc.latestWins(twice, Seq("id")))
      assert(vOnce == vTwice, s"seed=$seed")
    }
  }

  /** A random envelope batch over several registry tables and binlog files:
    * unique coordinates, a quarter of the `ts` values null, one table whose
    * every `ts` is null, and the batch's greatest `log_pos` planted in its
    * LOWEST file, so the ledger's `log_file` (taken at the greatest
    * version) and its `log_pos_end` come from different files. */
  private def genEnvelopes(rnd: Random): DataFrame = {
    val tables = Schemas.tableMeta.keys.toSeq.sorted.take(5)
    val nullTsTable = tables(rnd.nextInt(tables.size))
    val coords = Iterator.continually(
        (2 + rnd.nextInt(3), 4L + rnd.nextInt(5000), rnd.nextInt(3)))
      .distinct.take(20 + rnd.nextInt(30)).toSeq :+ ((1, 9999L, 0))
    val rows = coords.map { case (file, pos, rowIndex) =>
      val table = tables(rnd.nextInt(tables.size))
      val ts =
        if (table == nullTsTable || rnd.nextInt(4) == 0) null
        else java.sql.Timestamp.valueOf(f"2024-01-${1 + rnd.nextInt(28)}%02d 10:00:00")
      Row(Seq("INSERT", "UPDATE", "DELETE")(rnd.nextInt(3)), "db", table, ts,
        f"mysql-bin.$file%06d", pos, rowIndex, null, "{}")
    }
    val schema = StructType(Schemas.changeEventSchema.map(_.copy(nullable = true)))
    spark.createDataFrame(rows.asJava, schema)
  }

  test("property: the driver-folded ledger row ≡ ledgerEntry over the batch (3 seeds)") {
    Seq(2, 17, 64).foreach { seed =>
      val events = genEnvelopes(new Random(seed))
      val batchId = seed.toLong
      val folded = Cdc.ledgerRow(events, Cdc.batchSummary(events), batchId)
      val reference = Cdc.ledgerEntry(events).withColumn("batch_id", lit(batchId))
      assert(folded.schema == reference.schema, s"seed=$seed")
      val got = folded.drop("created_at").collect().toSeq
      assert(got == reference.drop("created_at").collect().toSeq, s"seed=$seed")
      // the planted coordinates cross files as intended
      assert(got.head.getAs[String]("log_file") != "mysql-bin.000001" &&
        got.head.getAs[Long]("log_pos_end") == 9999L, s"seed=$seed")
    }
    // no events: ledgerEntry's one all-null row with rows_applied 0
    val empty = genEnvelopes(new Random(1)).limit(0)
    assert(Cdc.ledgerRow(empty, Nil, 0L).drop("created_at").collect().toSeq ==
      Cdc.ledgerEntry(empty).withColumn("batch_id", lit(0L))
        .drop("created_at").collect().toSeq)
  }

  /** Envelopes over every month-partitioned registry table plus one flat
    * table: INSERTs (null before-image), DELETEs (null after-image),
    * UPDATEs whose images may lie in different months, partition fields
    * that are JSON null, an UPDATE across a year boundary and, on
    * `matomo_log_conversion`, a DELETE older than F7's window. The tables
    * in `dates` carry their partition field as a DATE, the rest as a
    * TIMESTAMP. */
  private def genMonthEnvelopes(rnd: Random, dates: Set[String]): DataFrame = {
    val tables = Cdc.partitionFields.keys.toSeq.sorted :+ "matomo_site"
    def stamp(table: String, day: String, hour: Int): String =
      if (dates(table)) s""""$day"""" else f""""${day}T$hour%02d:30:00""""
    def image(table: String, day: String = null, hour: Int = 0): String =
      Cdc.partitionFields.get(table).fold("""{"idsite":1,"name":"s"}""") { f =>
        val d = Option(day).getOrElse(
          f"${Seq("2023-11", "2023-12", "2024-01", "2024-02")(rnd.nextInt(4))}-${1 + rnd.nextInt(28)}%02d")
        val v = if (day == null && rnd.nextInt(8) == 0) "null" else stamp(table, d, hour)
        s"""{"idsite":1,"${f.name}":$v}"""
      }
    val random = tables.flatMap(t => Seq.fill(3 + rnd.nextInt(4))(t)).map { t =>
      rnd.nextInt(3) match {
        case 0 => ("INSERT", t, null, image(t, hour = rnd.nextInt(24)))
        case 1 => ("UPDATE", t, image(t, hour = rnd.nextInt(24)), image(t, hour = rnd.nextInt(24)))
        case _ => ("DELETE", t, image(t, hour = rnd.nextInt(24)), null)
      }
    }
    val planted = Seq(
      ("UPDATE", "matomo_log_link_visit_action",
        image("matomo_log_link_visit_action", "2023-12-31", 23),
        image("matomo_log_link_visit_action", "2024-01-01", 0)),
      ("DELETE", "matomo_log_conversion", image("matomo_log_conversion", "2023-06-15"), null))
    val rows = rnd.shuffle(random ++ planted).zipWithIndex.map { case ((op, t, b, a), i) =>
      Row(op, "db", t, java.sql.Timestamp.valueOf("2024-01-05 10:00:00"),
        "mysql-bin.000001", 4L + i, 0, b, a)
    }
    val schema = StructType(Schemas.changeEventSchema.map(_.copy(nullable = true)))
    spark.createDataFrame(rows.asJava, schema)
  }

  test("property: the summary's months ≡ touchedMonths of the strict typed changes, ⊇ the applied frame's (3 seeds)") {
    val now = lit(java.sql.Timestamp.valueOf("2024-01-06 00:00:00"))
    Seq(4, 23, 81).foreach { seed =>
      val rnd = new Random(seed)
      val tables = Cdc.partitionFields.keys.toSeq.sorted
      // a different pair of tables reads its partition field as a DATE per seed
      val dates = rnd.shuffle(tables).take(2).toSet
      val fields = Cdc.partitionFields.map { case (t, f) =>
        t -> (if (dates(t)) f.copy(dataType = DateType) else f)
      }
      val events = genMonthEnvelopes(rnd, dates)
      val folded = Cdc.batchSummary(events, fields).map(p => p.table -> p.months).toMap
      assert(folded("matomo_site").isEmpty, s"seed=$seed")
      tables.foreach { t =>
        val meta = Schemas.tableMeta(t)
        val pc = meta.partitionCol.get
        val schema = StructType(Schemas.tableSchemas(t).fields
          .filterNot(_.name == Schemas.VersionCol)
          .map(f => if (f.name == pc) fields(t) else f))
        val raw = Cdc.typedChanges(events, t, Some(schema), strict = true)
        assert(folded(t) == PartitionedState.touchedMonths(raw, pc), s"seed=$seed table=$t")
        // the frame ChangeStream hands the apply: raw on the versioned path
        // (it guards internally), F7-guarded on the mutable one
        val applied =
          if (meta.versioned) raw
          else meta.deleteDateCol.fold(raw)(Cdc.suppressOldDeletes(raw, _, now))
        val appliedMonths = PartitionedState.touchedMonths(applied, pc)
        assert(appliedMonths.toSet.subsetOf(folded(t).toSet), s"seed=$seed table=$t")
        if (t == "matomo_log_conversion")
          assert(folded(t).contains("202306") && !appliedMonths.contains("202306"),
            s"seed=$seed: the F7-old DELETE's month is folded but not applied")
      }
      assert(Seq("202312", "202401").forall(folded("matomo_log_link_visit_action").contains),
        s"seed=$seed")
    }
  }
}
