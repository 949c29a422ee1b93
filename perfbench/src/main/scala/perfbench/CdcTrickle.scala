package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.cdc.Cdc
import graft.model.Schemas
import graft.stream.ChangeStream
import graft.stream.ChangeStream.StreamConfig

/** `cdc_trickle`: the paper's steady cron over its CDC path, as a closed
  * loop. Each cycle lands the few change-log files written since the last
  * one, then `ChangeStream.run` resumes from the checkpoint, applies them
  * to the month-partitioned and flat state, and appends the ledger. */
object CdcTrickle {
  import ChangeGen._

  /** one timed cycle per this many seconds of `--seconds`: 4 at 20 s, so a
    * run with its set-up takes about a minute on the seed program */
  val SecondsPerCycle = 5.0
  val FilesPerCycle = 5
  val EventsPerFile = 20
  val WarmupEvents = 100
  /** resume cycles in set-up: cycle times fall for about this many while
    * the JIT compiles the resume path, and level off after */
  val WarmCycles = 3

  def config(base: String): StreamConfig = StreamConfig(
    changeLogDir = s"$base/log", checkpointDir = s"$base/ckpt",
    stateDir = s"$base/state", ledgerDir = s"$base/ledger",
    maxFilesPerTrigger = 20, deleteMaxAgeDays = DeleteMaxAgeDays, nowOverride = Some(Now))

  /** One cron cycle: `ChangeStream.run` until the backlog present at its
    * start is applied. Returns (start ms, end ms), or None if it failed. */
  def cycle(ctx: Ctx, cfg: StreamConfig): Option[(Long, Long)] = {
    val start = System.currentTimeMillis()
    ctx.out.op("ChangeStream.run cycle") {
      ctx.span("cycle")(ChangeStream.run(ctx.spark, cfg).awaitTermination())
    }.map(_ => (start, System.currentTimeMillis()))
  }

  /** Ledger rows as (created_at ms, head version, rows applied), by head. */
  def ledger(spark: SparkSession, cfg: StreamConfig): Seq[(Long, Long, Long)] =
    if (!new File(cfg.ledgerDir).exists) Nil
    else spark.read.parquet(cfg.ledgerDir)
      .select(col("created_at"), col(Schemas.VersionCol), col("rows_applied")).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2))).sortBy(_._2).toSeq

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  /** The replicated latest-wins view of each table the generator feeds must
    * equal its model, and the ledger must count every generated change. */
  def verifyReplica(ctx: Ctx, cfg: StreamConfig, gen: ChangeGen): Unit = {
    val spark = ctx.spark
    var physical = 0L
    var logical = 0L
    gen.dealt.foreach { t =>
      val m = gen.models(t)
      ctx.out.check(s"replica equals model: $t") {
        val state = ChangeStream.readState(spark, cfg, t)
        val view = if (m.meta.versioned) Cdc.latestWins(state, m.meta.keyCols) else state
        val got = view.select(m.fields.map(f => col(s"`${f.name}`")).toIndexedSeq: _*).collect()
          .map(r => rowKey((0 until r.length).map(i => canon(r.get(i))))).sorted
        val exp = m.liveRows.map(r => rowKey(r)).toArray.sorted
        if (ctx.trace.isDefined) { physical += state.count(); logical += got.length }
        val ok = got.sameElements(exp)
        if (!ok) System.err.println(s"[perfbench] $t: replica ${got.length} rows, model " +
          s"${exp.length}; first differences: " +
          got.diff(exp).take(2).mkString(" | ") + " vs " + exp.diff(got).take(2).mkString(" | "))
        ok
      }
    }
    val rows = ledger(spark, cfg)
    val changes = rows.map(_._3).sum
    ctx.out.check(s"ledger counts every change ($changes of ${gen.events})")(changes == gen.events)
    ctx.out.put("ledger.rows", rows.size.toDouble, "count")
    ctx.out.put("ledger.changes", changes.toDouble, "count")
    ctx.out.put("gen.changes", gen.events.toDouble, "count")
    ctx.out.info("replica_tables") = gen.dealt
    if (ctx.trace.isDefined) {
      val files = mutable.ArrayBuffer.empty[File]
      def walk(f: File): Unit =
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk)) else files += f
      walk(new File(cfg.stateDir))
      val parquet = files.filter(_.getName.endsWith(".parquet"))
      ctx.out.put("state.files", parquet.size.toDouble, "count")
      ctx.out.put("state.partitions",
        parquet.map(_.getParentFile).filter(_.getName.startsWith("yyyymm=")).distinct.size.toDouble,
        "count")
      ctx.out.put("state.rows_physical", physical.toDouble, "count")
      ctx.out.put("state.rows_logical", logical.toDouble, "count")
      ctx.out.put("state.amplification", physical.toDouble / math.max(1L, logical), "ratio")
    }
  }

  val run: Ctx => Unit = { ctx =>
    val out = ctx.out
    val cfg = config(ctx.dir("cdc"))
    val nCycles = math.max(2, math.round(ctx.seconds / SecondsPerCycle).toInt)
    // Two tables, an assumption of this benchmark (the reference publishes
    // no table mix): the hottest versioned, month-partitioned table and a
    // mutable flat one, 4:1. Each table a micro-batch touches costs the
    // seed program about 3 s, so all 16 would not fit a run.
    val weights = Map("matomo_log_link_visit_action" -> 4, "matomo_log_action" -> 1)

    // set-up: the same seeded log made Main.SetupReps times (the last is
    // kept): a warm-up backlog landed in the log dir, and each cycle's
    // files staged, the warm-up cycles' first
    val reps = (1 to Main.SetupReps).map(i => Stats.timed {
      val gen = new ChangeGen(ctx.seed, weights)
      val warm = gen.next(WarmupEvents)
      val files = (0 until (WarmCycles + nCycles) * FilesPerCycle).map(_ => gen.next(EventsPerFile))
      val last = i == Main.SetupReps
      val logDir = if (last) cfg.changeLogDir else ctx.dir(s"rep$i-log")
      val stageDir = ctx.dir(if (last) "staged" else s"rep$i-staged")
      LogFiles.write(ctx.spark, Seq(warm), logDir, ctx.dir(s"rep$i-w"), 0)
      val staged = LogFiles.write(ctx.spark, files, stageDir, ctx.dir(s"rep$i-t"), 1)
      if (!last) { rm(new File(logDir)); rm(new File(stageDir)) }
      (gen, staged.zip(files.map(_.map(_.version).max)).grouped(FilesPerCycle).toSeq)
    })
    val (gen, groups) = reps.last._1
    val (warmCycles, perCycle) = groups.splitAt(WarmCycles)
    // initial state: the replica has applied the warm-up backlog, then
    // WarmCycles cycles resumed from the checkpoint, so the timed cycles
    // find the resume path loaded and compiled
    def land(files: Seq[(File, Long)]): Seq[Long] = files.map { case (f, _) =>
      require(f.renameTo(new File(cfg.changeLogDir, f.getName)), s"cannot land $f")
      System.currentTimeMillis()
    }
    // The heap is read before the last warm-up cycle: the full GC it forces
    // lets Spark's cleaner drop every collected shuffle and broadcast, and
    // that clean-up then runs in an untimed cycle.
    val (_, initS) = Stats.timed {
      cycle(ctx, cfg)
      warmCycles.init.foreach { files => land(files); cycle(ctx, cfg) }
      ctx.sampleHeap()
      land(warmCycles.last)
      cycle(ctx, cfg)
    }
    out.info("setup_generation_s") = reps.map(_._2)
    out.info("setup_initial_state_s") = initS
    out.put("setup_s", Stats.median(reps.map(_._2)) + initS, "s", Main.SetupReps)

    // each cron cycle: land the files written since the last one, then run
    val cycles = mutable.ArrayBuffer.empty[(Long, Long, Seq[Long])]
    val (_, wall, fromMs, toMs) = ctx.timedPhase {
      perCycle.foreach { files =>
        val landed = land(files)
        cycle(ctx, cfg).foreach { case (start, end) => cycles += ((start, end, landed)) }
      }
    }
    ctx.putLayers(fromMs, toMs)
    ctx.sampleHeap()

    // freshness: from a file's landing to the end of its cycle, which must
    // leave a ledger head covering the file's max version
    val rows = ledger(ctx.spark, cfg)
    val fresh = perCycle.zip(cycles).flatMap { case (files, (_, end, landed)) =>
      val head = rows.filter(_._1 <= end).map(_._2).maxOption.getOrElse(-1L)
      out.check("the cycle's ledger head covers the files landed before it") {
        files.forall(_._2 <= head)
      }
      landed.map(l => (end - l) / 1000.0)
    }
    out.check(s"all $nCycles cycles ran")(cycles.size == nCycles)
    val changes = cycles.size * FilesPerCycle * EventsPerFile
    out.put("wall_s", wall, "s")
    out.put("throughput_per_s", changes / wall, "1/s", changes)
    out.put("changes_per_s", changes / wall, "changes/s", changes)
    out.putQuantiles("latency", fresh)
    out.putQuantiles("freshness", fresh)
    out.put("gen.files", (1 + (WarmCycles + nCycles) * FilesPerCycle).toDouble, "count")
    out.put("state_mb", (Main.dirBytes(cfg.stateDir) + Main.dirBytes(cfg.ledgerDir)) / 1048576.0,
      "MB")
    verifyReplica(ctx, cfg, gen)
  }
}
