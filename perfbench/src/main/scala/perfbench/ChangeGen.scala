package perfbench

import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.time.temporal.ChronoUnit

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.cdc.Cdc
import graft.model.Schemas

/** One binlog row event as the generator emits it. */
final case class Event(op: String, table: String, tsSec: Long, fileIdx: Int,
    pos: Long, rowIndex: Int, before: String, after: String) {
  def logFile: String = f"mysql-bin.$fileIdx%06d"
  def version: Long = Cdc.versionOf(logFile, pos, rowIndex)
  def toRow: Row = Row(op, "matomo", table, new java.sql.Timestamp(tsSec * 1000L),
    logFile, pos, rowIndex, before, after)
}

object ChangeGen {
  // The traffic shape. The reference publishes no table mix, op mix or
  // event shape (only budgets: 1M rows and 20 binlog files per hourly run),
  // so these are assumptions of this benchmark, fixed for every seed.
  /** each table's ops cycle through this block, shuffled afresh per round:
    * insert-heavy */
  val OpBlock: Seq[String] = Seq.fill(6)("INSERT") ++ Seq.fill(3)("UPDATE") :+ "DELETE"
  /** every LateEvery-th insert of a table dates from April, so its DELETEs
    * meet the F7 guard */
  val LateEvery = 10
  /** exponent biasing UPDATE/DELETE towards recently inserted keys (1 is
    * uniform, larger is hotter) */
  val HotSkew = 3.0
  /** every MultiRowEvery-th event carries 3 rows */
  val MultiRowEvery = 8
  /** rows per binlog file before the index rolls over */
  val RolloverEvery = 250

  /** The pinned "now" of every CDC workload (F7's reference point). */
  val NowSec: Long = LocalDateTime.of(2024, 6, 28, 12, 0).toEpochSecond(ZoneOffset.UTC)
  val Now = new java.sql.Timestamp(NowSec * 1000L)
  val DeleteMaxAgeDays = 31
  private val Day = 86400L
  private val JuneStart = LocalDateTime.of(2024, 6, 1, 0, 0).toEpochSecond(ZoneOffset.UTC)
  private val AprilStart = LocalDateTime.of(2024, 4, 1, 0, 0).toEpochSecond(ZoneOffset.UTC)

  val Tables: Seq[String] = Schemas.tableMeta.keys.toSeq.sorted

  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  def isoTs(sec: Long): String = LocalDateTime.ofEpochSecond(sec, 0, ZoneOffset.UTC).format(TsFmt)

  /** A new row's date: the current month, or April for a late row. */
  def rowDate(r: Random, late: Boolean): Long =
    if (late) AprilStart + r.nextInt(29) * Day + r.nextInt(86400)
    else JuneStart + (r.nextDouble() * (NowSec - JuneStart)).toLong

  /** F7 as the program states it: datediff(to_date(now), to_date(row date)) > 31. */
  def deleteSuppressed(rowDateSec: Long): Boolean =
    ChronoUnit.DAYS.between(
      Instant.ofEpochSecond(rowDateSec).atZone(ZoneOffset.UTC).toLocalDate,
      Instant.ofEpochSecond(NowSec).atZone(ZoneOffset.UTC).toLocalDate) > DeleteMaxAgeDays

  /** Canonical form of one value of a payload field, shared by the model
    * and the replicated rows: integers as Long, timestamps as epoch s. */
  def canon(v: Any): Any = v match {
    case null => null
    case b: java.lang.Byte => b.longValue
    case s: java.lang.Short => s.longValue
    case i: java.lang.Integer => i.longValue
    case l: java.lang.Long => l.longValue
    case t: java.sql.Timestamp => Math.floorDiv(t.getTime, 1000L)
    case other => other
  }

  def rowKey(values: Iterable[Any]): String =
    values.iterator.map(v => if (v == null) "∅" else v.toString).mkString("\u0001")
}

/** The expected logical state of one table, in plain Scala. Rows are the
  * payload fields (registry order, without the engine version column) in
  * canonical form. */
final class TableModel(val table: String) {
  val meta: Schemas.TableMeta = Schemas.tableMeta(table)
  val fields: Array[StructField] =
    Schemas.tableSchemas(table).fields.filterNot(_.name == Schemas.VersionCol)
  private val index: Map[String, Int] = fields.map(_.name).zipWithIndex.toMap
  private val dateIdx: Option[Int] = meta.partitionCol.map(index)
  private val f7Idx: Option[Int] = meta.deleteDateCol.map(index)

  /** ops left in this table's current block, and inserts made so far */
  val ops = mutable.Queue.empty[String]
  var inserts = 0L

  /** generator id → current row */
  val live = mutable.LinkedHashMap.empty[Long, Array[Any]]
  /** insertion order of live ids (for the recency-biased key pick) */
  val order = mutable.ArrayBuffer.empty[Long]
  private val pos = mutable.HashMap.empty[Long, Int]
  var nextId = 1L

  /** Columns an UPDATE may change: not the key, not the partition or F7 date. */
  val updatable: IndexedSeq[Int] = {
    val frozen = (meta.keyCols ++ meta.partitionCol ++ meta.deleteDateCol).toSet
    fields.indices.filterNot(i => frozen(fields(i).name))
  }

  def dateOf(row: Array[Any]): Option[Long] = dateIdx.map(i => row(i).asInstanceOf[Long])

  def addLive(id: Long, row: Array[Any]): Unit = {
    live(id) = row; pos(id) = order.size; order += id
  }
  def removeLive(id: Long): Unit = {
    live.remove(id)
    val i = pos.remove(id).get
    val last = order.last
    order(i) = last; if (last != id) pos(last) = i
    order.remove(order.size - 1)
  }

  /** Apply one event to the model as the program's contract reads: the
    * latest image wins, and F7 keeps rows whose DELETE is too old. */
  def apply(op: String, id: Long, row: Array[Any]): Unit = op match {
    case "INSERT" => addLive(id, row)
    case "UPDATE" => live(id) = row
    case "DELETE" =>
      if (!f7Idx.exists(i => ChangeGen.deleteSuppressed(row(i).asInstanceOf[Long]))) removeLive(id)
  }

  def liveRows: Iterator[Array[Any]] = live.valuesIterator
}

/** Seeded, registry-driven binlog generator: rows shaped by each table's
  * registry schema, an insert-heavy op mix, UPDATE/DELETE before-images
  * equal to the current row, multi-row events and binlog rollover.
  * `weights` gives each table's events per round, dealt by smooth weighted
  * round robin; only the tables it names get events. The generator keeps
  * the expected state of each of those ([[TableModel]]) as it goes, so a
  * run can check the replica against it. Events are produced in binlog order and
  * can be drawn in several slices (the model always reflects all drawn
  * events). */
final class ChangeGen(seed: Long, weights: Map[String, Int]) {
  import ChangeGen._

  private val rnd = new Random(seed)
  /** the tables that get events */
  val dealt: Seq[String] = Tables.filter(t => weights.getOrElse(t, 0) > 0)
  val models: Map[String, TableModel] = dealt.map(t => t -> new TableModel(t)).toMap
  private val credit = mutable.Map(dealt.map(_ -> 0): _*)
  private var fileIdx = 1
  private var rowsInFile = 0
  private var logPos = 4L
  private var tsSec = NowSec - 3600
  var events = 0L
  private var eventNo = 0L

  /** Smooth weighted round robin over the dealt tables. */
  private def pickTable(): TableModel = {
    dealt.foreach(t => credit(t) += weights(t))
    val t = dealt.maxBy(credit)
    credit(t) -= dealt.map(weights).sum
    models(t)
  }

  private def pickOp(m: TableModel): String = {
    if (m.ops.isEmpty) m.ops ++= rnd.shuffle(OpBlock)
    m.ops.dequeue() match {
      case op if op != "INSERT" && m.order.isEmpty => "INSERT"
      case "UPDATE" if m.updatable.isEmpty => "DELETE" // an all-key table
      case op => op
    }
  }

  private def value(m: TableModel, f: StructField, keyId: Long, date: Long): Any = {
    val name = f.name
    if (m.meta.keyCols.headOption.contains(name)) f.dataType match {
      case StringType => s"k$keyId"
      case _ => keyId
    }
    else if (m.meta.partitionCol.contains(name)) date
    else if (f.nullable && rnd.nextInt(5) == 0) null
    else f.dataType match {
      case _ if name == "idsite" => (1 + rnd.nextInt(8)).toLong
      case LongType => rnd.nextInt(1000000).toLong
      case IntegerType => rnd.nextInt(100000).toLong
      case ShortType => rnd.nextInt(1000).toLong
      case ByteType => rnd.nextInt(100).toLong
      case TimestampType => date - rnd.nextInt(30 * 86400)
      case _ => s"s${rnd.nextInt(100000)}"
    }
  }

  private def newRow(m: TableModel, id: Long): Array[Any] = {
    m.inserts += 1
    val date = rowDate(rnd, late = m.inserts % LateEvery == 0)
    m.fields.map(f => value(m, f, id, date))
  }

  /** An UPDATE's after-image: 1-3 columns changed, never the key or the
    * partition / F7 date column. */
  private def updated(m: TableModel, row: Array[Any], id: Long): Array[Any] = {
    val next = row.clone()
    val date = m.dateOf(row).getOrElse(NowSec)
    (0 until 1 + rnd.nextInt(3)).foreach { _ =>
      val i = m.updatable(rnd.nextInt(m.updatable.size))
      next(i) = value(m, m.fields(i), id, date)
    }
    next
  }

  private def json(m: TableModel, row: Array[Any]): String = {
    val sb = new StringBuilder(row.length * 24)
    sb.append('{')
    var i = 0
    while (i < row.length) {
      if (i > 0) sb.append(',')
      val f = m.fields(i)
      sb.append('"').append(f.name).append("\":")
      row(i) match {
        case null => sb.append("null")
        case s: String => sb.append('"').append(s).append('"')
        case l: Long if f.dataType == TimestampType => sb.append('"').append(isoTs(l)).append('"')
        case l: Long => sb.append(l)
      }
      i += 1
    }
    sb.append('}').toString
  }

  /** Pick a live id, biased towards recent inserts by `HotSkew`. */
  private def pickLive(m: TableModel, taken: mutable.Set[Long]): Option[Long] = {
    val n = m.order.size
    if (n <= taken.size) None
    else {
      var id = -1L
      var tries = 0
      while (id < 0 && tries < 20) {
        val back = (math.pow(rnd.nextDouble(), HotSkew) * n).toInt
        val c = m.order(n - 1 - math.min(back, n - 1))
        if (!taken(c)) id = c
        tries += 1
      }
      if (id < 0) None else Some(id)
    }
  }

  /** Draw the next `n` row events in binlog order, applying each to the model. */
  def next(n: Int): Vector[Event] = {
    val out = Vector.newBuilder[Event]
    var made = 0
    while (made < n) {
      val m = pickTable()
      val op = pickOp(m)
      eventNo += 1
      val rows = math.min(n - made, if (eventNo % MultiRowEvery == 0) 3 else 1)
      if (rowsInFile >= RolloverEvery) { fileIdx += 1; rowsInFile = 0; logPos = 4L }
      logPos += 50 + rnd.nextInt(400)
      tsSec += rnd.nextInt(3)
      val taken = mutable.Set.empty[Long]
      var ri = 0
      var stop = false
      while (ri < rows && !stop) {
        op match {
          case "INSERT" =>
            val id = m.nextId; m.nextId += 1
            val row = newRow(m, id)
            out += Event(op, m.table, tsSec, fileIdx, logPos, ri, null, json(m, row))
            m.apply(op, id, row)
          case _ => pickLive(m, taken) match {
            case None => stop = true
            case Some(id) =>
              taken += id
              val before = m.live(id)
              if (op == "UPDATE") {
                val after = updated(m, before, id)
                out += Event(op, m.table, tsSec, fileIdx, logPos, ri, json(m, before), json(m, after))
                m.apply(op, id, after)
              } else {
                out += Event(op, m.table, tsSec, fileIdx, logPos, ri, json(m, before), null)
                m.apply(op, id, before)
              }
          }
        }
        if (!stop) ri += 1
      }
      made += ri
      rowsInFile += ri
    }
    events += made
    out.result()
  }
}

/** Lands generated events as change-log parquet files. */
object LogFiles {
  private val BaseMtimeMs = 1700000000000L

  /** Write `files` (each a slice of events in binlog order) into `dir` as
    * `f-NNNNNN.parquet`, numbered from `firstNo`, with strictly increasing
    * modification times so the file source replays them in binlog order.
    * One Spark job writes them all through a staging dir. Returns the paths. */
  def write(spark: SparkSession, files: Seq[Seq[Event]], dir: String, staging: String,
      firstNo: Int): Seq[java.io.File] = {
    // one element per slice: partition i (and so part file i) is file i
    val rdd = spark.sparkContext.parallelize(files.map(_.map(_.toRow)), files.size)
      .flatMap(identity)
    spark.createDataFrame(rdd, Schemas.changeEventSchema)
      .write.mode("overwrite").parquet(staging)
    val parts = new java.io.File(staging).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(f => f.getName.substring(5, 10).toInt -> f).toMap
    new java.io.File(dir).mkdirs()
    files.indices.map { i =>
      val target = new java.io.File(dir, f"f-${firstNo + i}%06d.parquet")
      val src = parts(i)
      require(src.renameTo(target), s"cannot move $src to $target")
      target.setLastModified(BaseMtimeMs + (firstNo + i) * 10L)
      target
    }
  }
}
