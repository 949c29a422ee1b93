package graft.stream

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/**
 * Single-writer lock for a corpus root — the reference's run-lock
 * discipline (reference: matomo2clickhouse.py:851-868: a lock file whose
 * age gates a second runner; younger than the stale window → refuse,
 * older → treat the holder as dead and take over) transplanted to the
 * corpus-state directory tree.
 *
 * Why it exists: [[CorpusIngest.ingestBatch]] and [[CorpusIngest.compact]]
 * both rewrite the same append-only partition tables; their quiesced-
 * maintenance contract was documented but unenforced, and a compaction
 * racing a live micro-batch would interleave with the batch's multi-table
 * writes mid-swap. Every mutating operation now takes this lock for its
 * duration, so batch-vs-compact and compact-vs-compact serialize (or
 * refuse loudly) instead of corrupting state.
 *
 * Mechanics: one file at `<root>/__ingest.lock` holding `owner\nepochMs`.
 * Acquisition creates it exclusively (FileSystem.create overwrite=false —
 * atomic on local/HDFS semantics); an existing lock is honored unless its
 * timestamp is older than `staleMs` (a crashed holder — broken and taken
 * over, the reference's `replication_max_minutes * 2` rule) or its owner
 * matches (reentrant refresh). [[heartbeat]] refreshes the timestamp so a
 * long-running healthy stream never goes stale mid-run.
 *
 * Scope and caveats (also in README "Single-writer locks"): the lock guards
 * the registered MUTATORS of a root only — readers never take it — and on
 * local filesystems exclusive create is exists-then-create, so exclusion is
 * best-effort within a sub-write-latency race window.
 */
object IngestLock {

  /** Default staleness window — the reference's `replication_max_minutes*2`
    * rule (reference: _settings.py:84-86, matomo2clickhouse.py:851-868). */
  val DefaultStaleMs: Long = 30 * 60 * 1000L

  final case class Handle(root: String, owner: String)

  /** Thrown when the lock is held by a live (non-stale) other owner. */
  final class LockHeldException(msg: String) extends IllegalStateException(msg)

  private def lockPath(root: String) = new Path(root, "__ingest.lock")

  private def fsFor(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** What one look at the lock file established. `Unreadable` means the file
    * EXISTS but could not be parsed after bounded retries — which is NOT the
    * same as free: it may be a live holder's heartbeat mid-write. The file's
    * modification time rides along so the caller can age-gate takeover. */
  private sealed trait LockState
  private case object Absent extends LockState
  private final case class Unreadable(mtimeMs: Long) extends LockState
  private final case class Live(owner: String, ts: Long) extends LockState

  private val ReadAttempts = 3
  private val ReadBackoffMs = 40L

  private def readOnce(fs: FileSystem, p: Path): Option[(String, Long)] = {
    val in = fs.open(p)
    val bytes = try in.readAllBytes() finally in.close()
    new String(bytes, StandardCharsets.UTF_8).split("\n", 2) match {
      case Array(owner, ts) => Some((owner, ts.trim.toLong))
      case _ => None // torn mid-write (retry may see the full file)
    }
  }

  /** Read + parse with bounded retry: a torn or transiently unreadable file
    * is retried (a heartbeat's rewrite completes within a write latency —
    * one backoff usually resolves it) before being declared `Unreadable`.
    * Without the retry, a single transient IO failure against a LIVE
    * holder's lock looked like debris and triggered takeover. */
  private def readLock(fs: FileSystem, p: Path): LockState = {
    var attempt = 0
    while (attempt < ReadAttempts) {
      if (!fs.exists(p)) return Absent
      try readOnce(fs, p) match {
        case Some((owner, ts)) => return Live(owner, ts)
        case None => // malformed — fall through to retry
      } catch {
        case _: java.io.FileNotFoundException => return Absent
        case _: java.io.IOException | _: NumberFormatException => ()
      }
      attempt += 1
      if (attempt < ReadAttempts) Thread.sleep(ReadBackoffMs)
    }
    val mtime =
      try fs.getFileStatus(p).getModificationTime
      catch { case _: java.io.FileNotFoundException => return Absent }
    Unreadable(mtime)
  }

  private def write(fs: FileSystem, p: Path, owner: String,
      exclusive: Boolean): Unit = {
    val out = fs.create(p, !exclusive)
    try out.write(s"$owner\n${System.currentTimeMillis()}"
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Acquire the single-writer lock for `root`. Reentrant for the same
    * `owner` (refreshes the heartbeat); breaks a lock whose heartbeat is
    * older than `staleMs`; otherwise throws [[LockHeldException]]. */
  def acquire(spark: SparkSession, root: String, owner: String,
      staleMs: Long): Handle = {
    val fs = fsFor(spark, root)
    val p = lockPath(root)
    fs.mkdirs(new Path(root)) // first batch may precede any table dir
    def takeoverOrThrow(why: String): Unit = {
      // delete + exclusive create closes most of the race; a lost race
      // surfaces as the create failing
      fs.delete(p, false)
      try write(fs, p, owner, exclusive = true)
      catch { case _: java.io.IOException =>
        throw new LockHeldException(s"lost the takeover race for $why at $root")
      }
    }
    readLock(fs, p) match {
      case Live(held, _) if held == owner =>
        write(fs, p, owner, exclusive = false) // reentrant refresh
      case Live(held, ts) =>
        val age = System.currentTimeMillis() - ts
        if (age <= staleMs)
          throw new LockHeldException(
            s"corpus root $root is locked by '$held' (heartbeat ${age}ms ago, " +
              s"stale after ${staleMs}ms) — wait for it to finish or release")
        takeoverOrThrow("stale lock")
      case Unreadable(mtime) =>
        // present but unparseable. That is EITHER a crashed writer's torn
        // artifact (which would make the exclusive create refuse FOREVER —
        // the stale-break above only fires on readable locks) OR a live
        // holder's heartbeat caught mid-rewrite. The retries in readLock
        // resolve the second within a write latency; if the file is STILL
        // unreadable, its modification time decides: a live holder rewrites
        // the file every heartbeat, so unreadable + fresh mtime = refuse,
        // unreadable + mtime past the stale window = debris, take over.
        val age = System.currentTimeMillis() - mtime
        if (age <= staleMs)
          throw new LockHeldException(
            s"corpus root $root holds an unreadable lock modified ${age}ms " +
              s"ago (stale after ${staleMs}ms) — likely a live holder " +
              "mid-heartbeat; refusing to take over")
        takeoverOrThrow("unreadable stale lock")
      case Absent =>
        try write(fs, p, owner, exclusive = true)
        catch { case _: java.io.IOException =>
          throw new LockHeldException(
            s"corpus root $root was locked concurrently — retry later")
        }
    }
    // read-back verification: local filesystems implement exclusive create
    // as exists-then-create (a TOCTOU window the reference's lock shares) —
    // re-reading the file and requiring OUR owner collapses a double-create
    // race to a single winner in all but a sub-write-latency interleaving
    readLock(fs, p) match {
      case Live(held, _) if held == owner => Handle(root, owner)
      case other => throw new LockHeldException(
        s"lost the acquisition race for $root (now: $other)")
    }
  }

  /** Refresh the lock's heartbeat. Throws [[LockHeldException]] if the
    * lock is no longer this handle's (a stale-break stole it): the holder
    * must stop mutating state rather than write alongside the thief.
    *
    * Design note — why overwrite-in-place rather than write-temp-and-rename:
    * a rename-based refresh needs delete-then-rename on filesystems whose
    * rename refuses existing targets (Hadoop local FS), which opens an
    * ABSENT window where a concurrent acquirer's exclusive create wins
    * while the holder is alive — strictly worse than the torn-READ window
    * of an in-place truncate+write, because acquire's mtime age gate
    * already resolves torn reads in the holder's favor (fresh unreadable
    * lock → refuse) while an absent lock is indistinguishable from a free
    * one. The read-check-then-write TOCTOU that remains is inherent to
    * filesystem locks and bounded by one write latency. */
  def heartbeat(spark: SparkSession, h: Handle): Unit = {
    val fs = fsFor(spark, h.root)
    val p = lockPath(h.root)
    readLock(fs, p) match {
      case Live(held, _) if held == h.owner => write(fs, p, h.owner, exclusive = false)
      case other => throw new LockHeldException(
        s"lock at ${h.root} no longer held by '${h.owner}' (now: $other)")
    }
  }

  /** Release if still owned; a lock stolen after going stale is left to
    * its new owner (releasing it would unlock someone else's run). */
  def release(spark: SparkSession, h: Handle): Unit = {
    val fs = fsFor(spark, h.root)
    val p = lockPath(h.root)
    readLock(fs, p) match {
      case Live(held, _) if held == h.owner => fs.delete(p, false)
      case _ => ()
    }
  }

  /** Acquire → body(handle) → release. Mutators reach it only through
    * [[StateStore.lockedBatch]] and [[StateStore.maintenance]], whose
    * handle [[heartbeat]]s before every state write so a slow-but-alive
    * holder is never presumed dead. */
  def withLock[A](spark: SparkSession, root: String, owner: String,
      staleMs: Long)(body: Handle => A): A = {
    val h = acquire(spark, root, owner, staleMs)
    try body(h) finally release(spark, h)
  }
}
