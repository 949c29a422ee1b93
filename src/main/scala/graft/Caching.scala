package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/**
 * Ownership for pipeline-intermediate caches. The multi-pass operators
 * (LSH/Jaccard dedup, embedding near-dup) persist frames that feed several
 * joins of ONE logical pipeline; a bare `.persist` there pins executor
 * storage for the session lifetime and re-warns (`Asked to cache already
 * cached data`) on every repeated invocation. `scoped` centralizes both
 * concerns: it persists only plans not already cached, and records what it
 * persisted so the right OWNER can release it:
 *
 *  - inside a [[scope]] block, frames belong to that block and are
 *    unpersisted when it closes — a long-lived caller (the streaming
 *    corpus ingest's per-batch pipeline) releases exactly what it
 *    persisted, never a concurrently running query's caches;
 *  - outside any scope, frames land in the session-global registry that
 *    [[releaseAll]] drains — the query-runner contract (Bench, Verify, a
 *    user's job runner) of one release after each query's terminal action.
 */
object Caching {

  private val owned = mutable.ArrayBuffer.empty[DataFrame]

  /** Stack of open [[scope]] blocks on this thread (a pipeline's frames are
    * built and released on the thread that runs it; foreachBatch callbacks,
    * Bench, and Verify are all single-threaded per pipeline). */
  private val scopes =
    new ThreadLocal[List[mutable.ArrayBuffer[DataFrame]]] {
      override def initialValue: List[mutable.ArrayBuffer[DataFrame]] = Nil
    }

  /** Persist `df` for reuse across the joins of one pipeline invocation.
    * If the plan is already cached (the same pipeline invoked again in this
    * session), the existing cache is reused silently and ownership is NOT
    * taken. Ownership goes to the innermost open [[scope]] on this thread,
    * or to the [[releaseAll]] registry when none is open. */
  def scoped(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = synchronized {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist(level)
      scopes.get() match {
        case head :: _ => head += df
        case Nil => owned += df
      }
    }
    df
  }

  /** Run `body` with a private cache scope: every frame [[scoped]] on this
    * thread inside it is unpersisted when the block exits (success or
    * failure). Frames cached before the scope opened — another pipeline's,
    * or an enclosing scope's — are untouched, so a pipeline embedded in a
    * long-lived process (streaming ingest inside foreachBatch) cleans up
    * after itself without yanking caches out from under concurrent work. */
  def scope[A](body: => A): A = {
    val buf = mutable.ArrayBuffer.empty[DataFrame]
    scopes.set(buf :: scopes.get())
    try body
    finally {
      scopes.set(scopes.get().tail)
      // release in REVERSE insertion order (dependents before their
      // upstreams): a scope's frames are appended in dependency order, and
      // CacheManager re-compiles every still-cached entry whose plan embeds
      // a removed InMemoryRelation — upstream-first release forced that
      // recompile for every remaining dependent (measured quadratic:
      // 2-3.4 s of driver CPU per text-ingest batch, ~30% of the entry);
      // dependent-first release leaves nothing cached that references the
      // removed entry, so each removal is a plain map eviction
      buf.reverseIterator.foreach(_.unpersist(blocking = false))
    }
  }

  /** Unpersist every scope-less scoped frame. Call after the terminal
    * action of the pipeline whose intermediates were scoped; Bench and
    * Verify call it after every query so no cache outlives the query that
    * built it. Frames owned by a still-open [[scope]] are that scope's to
    * release and are not touched. */
  def releaseAll(): Unit = synchronized {
    // reverse order for the same reason as [[scope]]'s release: dependents
    // unpersist before the upstream frames their cached plans embed, so no
    // removal triggers a dependent-entry recompile
    owned.reverseIterator.foreach(_.unpersist(blocking = false))
    owned.clear()
  }
}
