package graft.stream

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.Caching
import graft.functions.ArgBest
import graft.ml.VectorOps
import graft.text.{TextOps, UnionFind}

/**
 * The signature-agnostic half of an incremental cluster registry: the
 * `labels` + `merges` union-find tables ([[UnionFind]]) every labeling
 * face ([[ClusterRegistry]] over MinHash text signatures,
 * [[EmbeddingClusterRegistry]] over SRP embedding signatures) maintains
 * identically — per-batch append of label rows and merge-log rows,
 * root-resolved serving, and the label-resolve + log-truncate compaction
 * (union-find path compression as a maintenance job).
 */
private[stream] object UnionFindTables {

  val labelsDdl = "doc_id BIGINT, label BIGINT, ingest_batch BIGINT"
  val mergesDdl = "child BIGINT, parent BIGINT, ingest_batch BIGINT"
  /** Materialized per-cluster sizes as of the fold stamped `upto_batch`
    * ([[compactLabels]]) — label-sorted so the delta serve's touched-label
    * IN push prunes to row groups. */
  val sizesDdl = "label BIGINT, sz BIGINT, upto_batch BIGINT"
  /** Materialized 1-row health stats as of the same fold. */
  val statsDdl =
    "n_clusters BIGINT, n_docs BIGINT, max_cluster BIGINT, upto_batch BIGINT"

  def labelsPath(root: String): String = s"$root/labels"
  def mergesPath(root: String): String = s"$root/merges"
  def sizesPath(root: String): String = s"$root/sizes"
  def statsPath(root: String): String = s"$root/stats"

  /** Run the union-find increment for batch `h.batchId` against the
    * pre-batch state (reads exclude the batch's own partitions —
    * at-least-once replay recomputes identical rows) and append the
    * resulting label + merge rows. Returns the appended merge-row count
    * for the ledger. */
  def incrementAndAppend(h: StateStore.LockedBatch, batchIds: DataFrame,
      batchPairs: DataFrame, crossPairs: DataFrame): Long = {
    val (newLabels, newMerges) = UnionFind.increment(
      h.index(labelsPath(h.root), labelsDdl), h.index(mergesPath(h.root), mergesDdl),
      batchIds, batchPairs, crossPairs)
    val stamp = lit(h.batchId).as("ingest_batch")
    // sorted by doc_id WITHIN the batch partition: the increment's pruned
    // label fetch (UnionFind.MaxLabelFetchIds) skips row groups by min/max
    // stats, so even not-yet-compacted appends carry useful stats
    h.appends(labelsPath(h.root) -> newLabels
      .select(col("doc_id"), col("label"), stamp)
      .sortWithinPartitions(col("doc_id")))
    val mergesOut = Caching.scoped(newMerges)
    h.appends(mergesPath(h.root) ->
      mergesOut.select(col("child"), col("parent"), stamp))
    mergesOut.count()
  }

  /** [[incrementAndAppend]] as its own locked batch of `root` (owner
    * `union-find-batch-<batchId>@<root>`), for a caller that drives the
    * increment outside a registry's ingest. */
  def incrementAndAppend(spark: SparkSession, root: String, batchId: Long,
      batchIds: DataFrame, batchPairs: DataFrame, crossPairs: DataFrame): Long =
    StateStore.lockedBatch(spark, root, "union-find", root, batchId,
        IngestLock.DefaultStaleMs, Nil)(
      incrementAndAppend(_, batchIds, batchPairs, crossPairs))

  /** Current resolved label of every registered id — lock-free, reads
    * through stranded compactions. */
  def resolvedLabels(spark: SparkSession, root: String): DataFrame =
    UnionFind.resolveLabels(
      StateStore.readOrEmptyRO(spark, labelsPath(root), labelsDdl),
      StateStore.readOrEmptyRO(spark, mergesPath(root), mergesDdl))

  /** Pairwise same-cluster probes (a, b) against the resolved labels.
    * POINT-LOOKUP pruned (the [[UnionFind.MaxLabelFetchIds]] discipline at
    * the serve face): the probes' ids — bounded, driver-safe metadata —
    * push into the labels scan as an IN predicate, so the doc_id
    * range-sorted compacted layout prunes to the touched row groups
    * instead of scanning the corpus-sized table twice per lookup; above
    * the cap the serve falls back to the full join. Filtering BEFORE the
    * merge-log resolution is exact: resolution is per-row. */
  def sameCluster(spark: SparkSession, root: String,
      probes: DataFrame): DataFrame = {
    val p = probes.select(col("a"), col("b"))
    val ids = p.select(explode(array(col("a"), col("b"))).as("doc_id"))
      .distinct().limit(UnionFind.MaxLabelFetchIds + 1)
      .collect().map(_.getLong(0)).toSeq
    val labels = StateStore.readOrEmptyRO(spark, labelsPath(root), labelsDdl)
    val src =
      if (ids.length <= UnionFind.MaxLabelFetchIds)
        labels.filter(col("doc_id").isInCollection(ids))
      else labels
    val lab = Caching.scoped(UnionFind.resolveLabels(src,
      StateStore.readOrEmptyRO(spark, mergesPath(root), mergesDdl)))
    p.join(lab.select(col("doc_id").as("a"), col("label").as("la")), Seq("a"), "left")
      .join(lab.select(col("doc_id").as("b"), col("label").as("lb")), Seq("b"), "left")
      .select(col("a"), col("b"),
        (col("la").isNotNull && col("la") === col("lb")).as("same_cluster"))
  }

  /** The coherent materialized-summary stamp, when one exists: the
    * persisted `upto_batch` iff it matches the root's compaction
    * high-water mark. A mismatch (compactLabels crashed before the
    * summary swaps, or a later compact died after marking) or an absent
    * table returns None — callers fall back to the full recompute, so a
    * stale summary is never served. */
  private def summaryStamp(spark: SparkSession, root: String,
      path: String, ddl: String): Option[Long] = {
    val fs = StateStore.fsOf(spark, root)
    // swap-written whole with one lit stamp — one row IS the table's stamp
    val row = StateStore.readOrEmptyRO(spark, path, ddl)
      .select(col("upto_batch")).limit(1).collect()
    row.map(_.getLong(0)).headOption
      .filter(u => u != Long.MinValue && u == StateStore.compactionHwm(fs, root))
  }

  /** Post-fold DELTA labels resolved through the CALLER's root-resolved
    * merge log (resolveMerges runs once per serve, not once per frame):
    * the label rows of batches above the summary stamp — partition-
    * pruned, delta-bounded. The `-1` fold partition is excluded
    * explicitly as well as by the comparison. */
  private def deltaLabels(spark: SparkSession, root: String,
      upto: Long, rootOf: DataFrame): DataFrame =
    StateStore.readOrEmptyRO(spark, labelsPath(root), labelsDdl)
      .filter(col("ingest_batch").cast("long") > upto &&
        col("ingest_batch").cast("long") =!= -1L)
      .select(col("doc_id"), col("label"))
      .join(rootOf, col("label") === col("child"), "left")
      .select(col("doc_id"), coalesce(col("root"), col("label")).as("label"))

  /** CURRENT per-cluster sizes from the materialized summary + the
    * post-fold delta: persisted roots remap through the (small) resolved
    * merge log, delta docs contribute their resolved labels, the union
    * sums — O(clusters + delta), no corpus-sized labels shuffle. None
    * when no coherent summary exists (caller recomputes). */
  private def currentSizes(spark: SparkSession, root: String): Option[DataFrame] =
    summaryStamp(spark, root, sizesPath(root), sizesDdl).map { upto =>
      val persisted = StateStore.readOrEmptyRO(spark, sizesPath(root), sizesDdl)
      val rootOf = UnionFind.resolveMerges(
        StateStore.readOrEmptyRO(spark, mergesPath(root), mergesDdl))
      persisted
        .join(rootOf, col("label") === col("child"), "left")
        .select(coalesce(col("root"), col("label")).as("label"), col("sz"))
        .unionByName(deltaLabels(spark, root, upto, rootOf)
          .select(col("label"), lit(1L).as("sz")))
        .groupBy(col("label"))
        .agg(sum(col("sz")).as("sz"))
    }

  /** Registry-state health report: cluster count, doc count, duplicate
    * count (docs beyond one per cluster), and the largest-cluster size —
    * the gauge that catches a dedup-health drift (e.g. a feed suddenly
    * spraying near-identical docs shows up as max_cluster exploding long
    * before storage does).
    *
    * Served DELTA-TRACKING when the materialized summary is coherent:
    * the persisted 1-row stats adjust by the post-fold delta alone —
    * delta docs add to n_docs; each merge-log child consumes one
    * persisted cluster; each touched current root that was NOT itself a
    * persisted root is a new cluster; max_cluster = max(persisted max,
    * touched roots' recombined sizes, fetched from the label-sorted
    * sizes table via a bounded IN push). Cost is O(delta + merge log +
    * touched-cluster lookups) — the serve tracks the OUTPUT, not the
    * corpus. Falls back to the full labels recompute when no coherent
    * summary exists; both paths produce identical integers (the oracle
    * pins them). */
  def clusterStats(spark: SparkSession, root: String): DataFrame = {
    val served = summaryStamp(spark, root, statsPath(root), statsDdl).map { upto =>
      val persisted = StateStore.readOrEmptyRO(spark, statsPath(root), statsDdl)
      val rootOf = Caching.scoped(UnionFind.resolveMerges(
        StateStore.readOrEmptyRO(spark, mergesPath(root), mergesDdl)))
      val delta = Caching.scoped(deltaLabels(spark, root, upto, rootOf))
      // touched current roots: every delta doc's label plus every merge
      // target — the only clusters whose size can differ from the fold
      val touched = Caching.scoped(delta.select(col("label"))
        .unionByName(rootOf.select(col("root").as("label")))
        .distinct())
      // persisted sizes of the touched clusters' CONTRIBUTORS — the old
      // roots remapping into them, themselves included. The rows live in
      // the label-sorted sizes table under STORED labels ∈ touched ∪
      // merge children (children remap into touched roots), so that is
      // the set pushed as the row-group-pruning IN predicate; the exact
      // membership on the REMAPPED label is a semi-join against the
      // small touched frame either way. Above the cap: unpruned scan,
      // same rows.
      val sizesTbl = StateStore.readOrEmptyRO(spark, sizesPath(root), sizesDdl)
      val touchedIds = touched.limit(UnionFind.MaxLabelFetchIds + 1)
        .collect().map(_.getLong(0)).toSeq
      val childIds = rootOf.select(col("child")).distinct()
        .limit(UnionFind.MaxLabelFetchIds + 1).collect().map(_.getLong(0)).toSeq
      val prunedSizes =
        if (touchedIds.length <= UnionFind.MaxLabelFetchIds &&
            childIds.length <= UnionFind.MaxLabelFetchIds)
          sizesTbl.filter(col("label").isInCollection(
            (touchedIds ++ childIds).distinct))
        else sizesTbl
      val touchedContrib = Caching.scoped(prunedSizes
        .join(rootOf, col("label") === col("child"), "left")
        .select(col("label").as("old_root"),
          coalesce(col("root"), col("label")).as("label"), col("sz"))
        .join(touched, Seq("label"), "left_semi"))
      // recombined current size of each touched root
      val touchedSizes = Caching.scoped(touchedContrib
        .select(col("label"), col("sz"))
        .unionByName(delta.select(col("label"), lit(1L).as("sz")))
        .groupBy(col("label")).agg(sum(col("sz")).as("sz")))
      // a touched root that was not itself a persisted root is NEW; a
      // PERSISTED root remapped into another cluster is CONSUMED (a merge
      // child that was only ever a delta-born cluster was never in the
      // persisted count, so it must not decrement it — old_root tells
      // the two apart). Each adjustment reduces to a 1-row aggregate and
      // the four anchors crossJoin into ONE lazy plan — a single action
      // serves the report (the 1-row-anchor pattern of the window probes).
      val newF = touchedSizes
        .join(touchedContrib.filter(col("old_root") === col("label"))
          .select(col("label")), Seq("label"), "left_anti")
        .agg(count(lit(1)).as("new_c"))
      val consumedF = touchedContrib.filter(col("old_root") =!= col("label"))
        .agg(countDistinct(col("old_root")).as("consumed"))
      val deltaF = delta.agg(count(lit(1)).as("delta_docs"))
      val maxF = touchedSizes.agg(coalesce(max(col("sz")), lit(0L)).as("max_t"))
      persisted
        .crossJoin(newF).crossJoin(consumedF).crossJoin(deltaF).crossJoin(maxF)
        .select(
          (col("n_clusters") - col("consumed") + col("new_c")).as("n_clusters"),
          (col("n_docs") + col("delta_docs")).as("n_docs"),
          greatest(col("max_cluster"), col("max_t")).as("max_cluster"))
        .select(col("n_clusters"), col("n_docs"), col("max_cluster"),
          (col("n_docs") - col("n_clusters")).as("n_dups"))
    }
    served.getOrElse {
      val sizes = resolvedLabels(spark, root)
        .groupBy(col("label")).agg(count(lit(1)).as("sz"))
      sizes.agg(count(lit(1)).as("n_clusters"),
        coalesce(sum(col("sz")), lit(0L)).as("n_docs"),
        coalesce(max(col("sz")), lit(0L)).as("max_cluster"),
        coalesce(sum(col("sz") - 1L), lit(0L)).as("n_dups"))
    }
  }

  /** Dedup-aware sampling weights off the registry state: every id
    * weighted 1/|cluster| so each content cluster contributes one
    * doc-equivalent — the persisted-state twin of the
    * `dedup_sampling_weights` batch query. Sizes come from a map-combining
    * groupBy joined back, NOT a count-over-window: a window partitioned by
    * label must buffer each cluster in one task, and the pathological
    * mega-cluster (boilerplate duplicated across 10⁸ docs) is exactly the
    * input a dedup registry exists to hold. */
  def samplingWeights(spark: SparkSession, root: String): DataFrame = {
    val lab = Caching.scoped(resolvedLabels(spark, root))
    // sizes come from the materialized summary + delta when coherent
    // (O(clusters + delta), no corpus-wide labels shuffle); the full
    // groupBy over the resolved labels is the fallback — identical
    // integers either way (the oracle pins them)
    val sizes = currentSizes(spark, root)
      .getOrElse(lab.groupBy(col("label")).agg(count(lit(1)).as("sz")))
      .select(col("label"), col("sz").as("cluster_size"))
    lab.join(sizes, Seq("label"))
      .select(col("doc_id"), col("label"), col("cluster_size"),
        (lit(1.0) / col("cluster_size").cast("double")).as("weight"))
  }

  /** Keep-best canonical pick per cluster: the caller supplies an
    * (`idCol`, score) frame (quality scores, recency, anything totally
    * ordered with the id tiebreak) and gets one winning id per cluster —
    * the registry DRIVING the dedup decision instead of a batch
    * recompute. Ids without a score row are skipped (they cannot win);
    * ids without a label row keep their own id as a singleton cluster.
    * Any integral id type is accepted (read as BIGINT). Scores compare as
    * DOUBLE: LONG scores above 2^53 can round to equal doubles, tie, and
    * fall back to the lowest id. */
  def keepBest(spark: SparkSession, root: String, scores: DataFrame,
      idCol: String): DataFrame = {
    val scored = scores.select(col(idCol).cast("long").as("doc_id"),
      col("score").cast("double").as("score"))
    // rank-1 per cluster (score desc, id asc) as a MAP-COMBINING
    // aggregate — each partition collapses a cluster's candidates to one
    // row before the shuffle, so the mega-cluster never lands in a single
    // window buffer ([[ArgBest.of]]'s flat buffer keeps it a HASH
    // aggregation); the winner's score is the group max by definition.
    scored.join(resolvedLabels(spark, root), Seq("doc_id"), "left")
      .withColumn("label", coalesce(col("label"), col("doc_id")))
      .groupBy(col("label"))
      .agg(ArgBest.of(scored, "score", "doc_id").as("kept_doc"),
        max(col("score")).as("score"))
      .select(col("label"), col("kept_doc"), col("score"))
  }

  /** The would-label report behind the read-only probe faces: run the
    * union-find increment WITHOUT writing and return, per batch id, the
    * cluster it would land in plus `n_existing` — how many EXISTING
    * clusters its would-be component contains (0 = an entirely new
    * cluster, 1 = joins one, ≥ 2 = its arrival would BRIDGE that many).
    * Counted from the matched roots directly, NOT from merge rows — a
    * merge row also appears when a small-id arrival re-roots a single
    * cluster, which is not a bridge. */
  def probeReport(spark: SparkSession, root: String, batchIds: DataFrame,
      batchPairs: DataFrame, crossPairs: DataFrame): DataFrame = {
    val inc = UnionFind.incrementFull(
      StateStore.readOrEmptyRO(spark, labelsPath(root), labelsDdl),
      StateStore.readOrEmptyRO(spark, mergesPath(root), mergesDdl),
      batchIds, batchPairs, crossPairs)
    // each existing root's FINAL component: rerouted by a merge row where
    // one exists, itself otherwise
    val rootComp = inc.corpusRoots.select(col("root")).distinct()
      .join(inc.newMerges.select(col("child").as("root"), col("parent")),
        Seq("root"), "left")
      .select(col("root"), coalesce(col("parent"), col("root")).as("label"))
    val nExisting = rootComp.groupBy(col("label"))
      .agg(countDistinct(col("root")).as("n_existing"))
    inc.newLabels.join(nExisting, Seq("label"), "left")
      .select(col("doc_id"), col("label"),
        coalesce(col("n_existing"), lit(0L)).as("n_existing"))
  }

  /** Maintenance-time invariant audit (ADVICE round 9): every doc the
    * signature index knows must hold a label row. The per-increment tear
    * check ([[UnionFind.incrementFull]]) only fires when a torn doc later
    * MATCHES new pair evidence — a torn doc that never matches again would
    * otherwise stay probe-able in the index yet permanently absent from
    * resolvedLabels / clusterStats / samplingWeights, with no diagnostic.
    * compact() quiesces the registry, the one moment the full cross-table
    * anti-join is cheap and race-free; failing here surfaces the orphan at
    * maintenance time instead of never. One anti-join, first-orphan fetch. */
  def auditNoOrphans(spark: SparkSession, root: String, indexIds: DataFrame,
      what: String): Unit = {
    val orphan = indexIds.select(col("doc_id")).distinct()
      .join(StateStore.readOrEmpty(spark, labelsPath(root), labelsDdl)
        .select(col("doc_id")), Seq("doc_id"), "left_anti")
      .limit(1).collect()
    require(orphan.isEmpty,
      s"torn registry state in $what: doc ${orphan.head.getLong(0)} is " +
        "indexed but has no label row — a batch's index write survived a " +
        "crash its labels write did not, and the batch was never replayed; " +
        "replay it (or remove the orphaned index rows) before compacting")
  }

  /** Path compression: fold `labels` to its RESOLVED form, then truncate
    * `merges` — resolution chain depth drops to zero. Ordering is
    * crash-safe: resolved labels + a stale merge log still resolve
    * correctly (a resolved label is a root, and a root never appears as a
    * merge child — re-applying the log is a no-op), so a crash between
    * the two swaps loses nothing and a re-run completes the truncation. */
  def compactLabels(spark: SparkSession, fs: FileSystem, root: String): Unit = {
    Seq(labelsPath(root), mergesPath(root), sizesPath(root), statsPath(root))
      .foreach(StateStore.rollbackIfStranded(fs, _))
    // range-sorted by doc_id: per-batch appends carry batch-local id
    // ranges anyway, but the FOLDED table is where point lookups (the
    // increment's matched-corpus label fetch, sameCluster probes) spend
    // their scan — sorting gives parquet row-group min/max skipping for
    // any reader that pushes an id predicate
    val resolved = resolvedLabels(spark, root)
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .withColumn("ingest_batch", lit(-1L))
      .localCheckpoint()
    StateStore.swap(fs, labelsPath(root), resolved, Seq("ingest_batch"))
    StateStore.swap(fs, mergesPath(root),
      graft.Frames.empty(spark, mergesDdl), Seq("ingest_batch"))
    // materialized serve summaries: the fold is the one moment the
    // corpus-wide size aggregate is being paid anyway — persist the
    // per-cluster sizes (label-sorted for the delta serve's touched-label
    // IN push) and the 1-row health stats, both stamped with the fold's
    // high-water mark (the caller marked it before calling here). The
    // read faces serve summary + post-fold delta instead of re-shuffling
    // the corpus-sized labels per query, and DETECT a stale stamp (a
    // crash in this window, or batches folded by a died later compact)
    // by comparing against the hwm marker — falling back to the full
    // recompute, never serving stale numbers.
    val hwm = StateStore.compactionHwm(fs, root)
    val sizes = resolved.groupBy(col("label"))
      .agg(count(lit(1)).as("sz"))
      .withColumn("upto_batch", lit(hwm))
      .repartitionByRange(col("label"))
      .sortWithinPartitions(col("label"))
      .localCheckpoint()
    StateStore.swap(fs, sizesPath(root), sizes)
    StateStore.swap(fs, statsPath(root),
      sizes.agg(count(lit(1)).as("n_clusters"),
          coalesce(sum(col("sz")), lit(0L)).as("n_docs"),
          coalesce(max(col("sz")), lit(0L)).as("max_cluster"))
        .withColumn("upto_batch", lit(hwm))
        .localCheckpoint())
  }
}

/** The fields every registry config carries, whatever its signature kind. */
trait RegistryFields {
  def root: String
  def checkpointDir: String
  def threshold: Double
  def maxFilesPerTrigger: Int
  def lockStaleMs: Long
}

/**
 * Streaming near-dup cluster LABELING, written once over a signature kind
 * — the keep-everything sibling of the dedup ingests: where [[CorpusIngest]]
 * and [[EmbeddingIngest]] REJECT near-duplicates, a registry admits every
 * item and maintains its cluster label incrementally, so downstream
 * consumers make their own per-cluster decisions (keep-best by quality,
 * dedup-aware sampling weights, contamination tracing) without ever
 * recomputing connected components over the full corpus. The reference
 * keeps the same duality: rows are never dropped at apply time — the J1/J2
 * latest-record and duplicate views interpret the full appended history
 * (doc_old_duplicates.md, script_create_clickhouse_table.sql's versioned
 * table).
 *
 * A kind ([[ClusterRegistry]]: MinHash over text; [[EmbeddingClusterRegistry]]:
 * SRP over vectors) supplies only its algebra: the constructor's columns,
 * schemas and tag, plus how the bands dir resolves, how a batch is signed,
 * and the cross-probe and self-pair functions. Every face is shared.
 *
 * State tables under `root`, all partitioned by `ingest_batch` and only
 * ever appended (the at-least-once dynamic-partition-overwrite replay
 * discipline of [[CorpusIngest.ingestBatch]]):
 *
 *  - the bands dir and the payload table — the signature index each
 *    arriving batch probes (payload = what the pair verify reads);
 *  - `labels/` — (doc_id, label): the label assigned when the item's batch
 *    arrived — never rewritten by later batches;
 *  - `merges/` — (child, parent): the union-find log; appended when a
 *    batch bridges existing clusters ([[graft.text.UnionFind]]);
 *  - `ledger/` — (ingest_batch, n_in, n_pairs, n_merges) audit rows.
 *
 * Per-batch cost is O(batch + candidate join + touched clusters); the
 * corpus-sized tables are appended to, never re-shuffled — the property
 * that makes cluster maintenance viable at 100 TB, where the batch
 * alternative ([[TextOps.connectedComponents]] over all pairs) re-runs a
 * multi-round all-corpus shuffle per refresh. Serving is read-only and
 * lock-free.
 *
 * Contract: ids are unique across the corpus lifetime (the
 * [[CorpusIngest]] rule) — a re-arrival of an id would append a second
 * label row for it. A torn state (index rows whose labels row is missing
 * — only reachable by NOT replaying a crashed batch, e.g. a manual
 * backfill under a fresh batch id) fails the next increment loudly
 * instead of silently dropping pair evidence ([[UnionFind.increment]]).
 *
 * @param idCol      id column of the source and payload rows; every face
 *                   speaks it (`doc_id` / `vec_id`)
 * @param scoreCol   score column of a verified pair (`jaccard` / `cos`)
 * @param ownerTag   lock owners are `<ownerTag>-batch-…`, `<ownerTag>-compact-…`
 * @param payloadName dir of the verify payload under the root (`sets` / `vecs`)
 */
abstract class SignatureRegistry(protected val idCol: String,
    protected val scoreCol: String, protected val sourceDdl: String,
    protected val ownerTag: String, protected val payloadName: String,
    protected val payloadDdl: String, protected val bandsDdl: String) {

  type Cfg <: RegistryFields

  // ---- the signature kind's algebra ----
  protected def sourceDir(cfg: Cfg): String
  /** (bands dir, bits, bandBits) every face reads, appends and signs at; a
    * locked face passes its `fs` so stranded state rolls back first. */
  protected def bandsAt(spark: SparkSession, cfg: Cfg,
      locked: Option[FileSystem]): (String, Int, Int)
  /** Sign a batch: (its ids as `doc_id`, band rows, payload rows), each in
    * its table's DDL column order. */
  protected def sign(batch: DataFrame, bits: Int,
      bandBits: Int): (DataFrame, DataFrame, DataFrame)
  /** Batch ↔ index pairs: (batch_id, corpus_id, score). */
  protected def crossPairs(indexBands: DataFrame, indexPayload: DataFrame,
      bands: DataFrame, payload: DataFrame, threshold: Double): DataFrame
  /** Within-batch pairs: (doc_a, doc_b, score). */
  protected def selfPairs(bands: DataFrame, payload: DataFrame,
      threshold: Double): DataFrame
  /** Row layout of the bands fold (default: as appended). */
  protected def bandsFold(bands: DataFrame): DataFrame = bands

  // ---- the faces, one body for both kinds ----
  protected def payloadPath(cfg: Cfg): String = s"${cfg.root}/$payloadName"
  def ledgerPath(cfg: Cfg): String = s"${cfg.root}/ledger"

  /** A batch's stable lock owner ([[StateStore.batchOwner]]). */
  def batchLockOwner(cfg: Cfg, batchId: Long): String =
    StateStore.batchOwner(ownerTag, cfg.checkpointDir, batchId)

  private final class Evidence(val bandsDir: String, val ids: DataFrame,
      val bands: DataFrame, val payload: DataFrame, val cross: DataFrame,
      val self: DataFrame)

  /** ONE signature build of `batch` at the root's band width — the probe,
    * the within-batch pairs and the appends all read the two cached
    * signature frames — and its pair evidence against the persisted index.
    * `ingest` = the locked batch: stranded state rolls back and the index
    * excludes the batch's own partitions, so a replay never probes the
    * rows it wrote; None = the read-only faces' lock-free reads. */
  private def evidence(spark: SparkSession, cfg: Cfg, batch: DataFrame,
      ingest: Option[StateStore.LockedBatch]): Evidence = {
    val (bandsDir, bits, bandBits) = bandsAt(spark, cfg, ingest.map(_.fs))
    def index(path: String, ddl: String) =
      ingest.fold(StateStore.readOrEmptyRO(spark, path, ddl))(_.index(path, ddl))
    val (ids, bb, bp) = sign(batch, bits, bandBits)
    val (bands, payload) = (Caching.scoped(bb), Caching.scoped(bp))
    new Evidence(bandsDir, ids, bands, payload,
      crossPairs(index(bandsDir, bandsDdl), index(payloadPath(cfg), payloadDdl),
        bands, payload, cfg.threshold),
      selfPairs(bands, payload, cfg.threshold))
  }

  /**
   * Label one batch; returns the number of items labeled. The increment:
   * sign the batch once, probe the persisted index for batch↔corpus
   * pairs, self-join the batch bands for within-batch pairs, then
   * [[UnionFind.increment]] turns the pair evidence into appended label
   * rows and merge-log rows. All reads exclude the batch's own partitions,
   * so an at-least-once replay recomputes — and dynamically overwrites —
   * identical rows.
   */
  def ingestBatch(spark: SparkSession, cfg: Cfg, batch: DataFrame,
      batchId: Long): Long = StateStore.lockedBatch(spark, cfg.root, ownerTag,
      cfg.checkpointDir, batchId, cfg.lockStaleMs,
      Seq(payloadPath(cfg), UnionFindTables.labelsPath(cfg.root),
        UnionFindTables.mergesPath(cfg.root), ledgerPath(cfg))) { h =>
    Caching.scope {
      val ev = evidence(spark, cfg, batch, Some(h))
      // cached: each pair frame is read twice (the union-find increment
      // and the ledger count) — uncached, the candidate join and verify
      // would run twice
      Seq(ev.cross, ev.self).foreach(Caching.scoped(_))
      // the two signature appends run one after the other: overlapped, they
      // made the union-find increment's first action below run 8 or 9
      // jobs from run to run for the same batch; in sequence it runs the
      // same jobs every time
      h.appends(ev.bandsDir -> ev.bands.withColumn("ingest_batch", lit(batchId)))
      h.appends(payloadPath(cfg) -> ev.payload.withColumn("ingest_batch", lit(batchId)))
      val nMerges = UnionFindTables.incrementAndAppend(h, ev.ids, ev.self, ev.cross)
      val nIn = ev.ids.count()
      val nPairs = ev.cross.count() + ev.self.count()
      h.ledger(ledgerPath(cfg), "n_in" -> nIn, "n_pairs" -> nPairs,
        "n_merges" -> nMerges)
      nIn
    }
  }

  /** Probe a batch WITHOUT labeling it — the read-only what-if face
    * ([[CorpusIngest.probe]]'s labeling twin): per batch item, the
    * cluster it WOULD land in and how many existing clusters its would-be
    * component touches (`n_existing`; ≥ 2 = a bridge). Takes no lock,
    * writes nothing; same signature build + index probe cost as
    * [[ingestBatch]] minus the appends. Scoped intermediates follow the
    * query-function contract (caller releases via
    * [[graft.Caching.releaseAll]] or an enclosing scope). */
  def probe(spark: SparkSession, cfg: Cfg, batch: DataFrame): DataFrame = {
    val ev = evidence(spark, cfg, batch, None)
    // cached like ingestBatch's: the increment reads the pair frames more
    // than once
    Seq(ev.cross, ev.self).foreach(Caching.scoped(_))
    UnionFindTables.probeReport(spark, cfg.root, ev.ids, ev.self, ev.cross)
      .select(col("doc_id").as(idCol), col("label"), col("n_existing"))
  }

  /** The pair-evidence stage of [[probe]] ALONE — signature build, index
    * probe, within-batch pairs — without the would-label union-find tail:
    * [[probe]]'s cost decomposes as this + the labeling tail, and the
    * bench records both so a tail regression is attributable (VERDICT r10
    * item 4, r11 item 2). Output canonicalized to (a < b, score): columns
    * `doc_a`, `doc_b`, `jaccard` or `vec_a`, `vec_b`, `cos` by kind. */
  def probePairs(spark: SparkSession, cfg: Cfg, batch: DataFrame): DataFrame = {
    val ev = evidence(spark, cfg, batch, None)
    val (a, b) = (idCol.replace("_id", "_a"), idCol.replace("_id", "_b"))
    ev.cross.select(least(col("batch_id"), col("corpus_id")).as(a),
        greatest(col("batch_id"), col("corpus_id")).as(b), col(scoreCol))
      .unionByName(ev.self.select(col("doc_a").as(a), col("doc_b").as(b),
        col(scoreCol)))
  }

  /** Current cluster label of every registered item — the read-only
    * serving face: `labels` joined once against the root-resolved merge
    * log ([[UnionFind.resolveLabels]]). Lock-free; reads through stranded
    * compactions via [[StateStore.readOrEmptyRO]]. */
  def resolvedLabels(spark: SparkSession, cfg: Cfg): DataFrame =
    UnionFindTables.resolvedLabels(spark, cfg.root)
      .select(col("doc_id").as(idCol), col("label"))

  /** Pairwise same-cluster check for a list of (a, b) id probes — the
    * lookup face a sampling or eval pipeline asks per pair. */
  def sameCluster(spark: SparkSession, cfg: Cfg, probes: DataFrame): DataFrame =
    UnionFindTables.sameCluster(spark, cfg.root, probes)

  /** Registry health: (n_clusters, n_docs, max_cluster, n_dups) — see
    * [[UnionFindTables.clusterStats]]. */
  def clusterStats(spark: SparkSession, cfg: Cfg): DataFrame =
    UnionFindTables.clusterStats(spark, cfg.root)

  /** 1/|cluster| item-equivalent weights off the registry state
    * (SemDeDup-style down-weighting for vectors) — see
    * [[UnionFindTables.samplingWeights]]. */
  def samplingWeights(spark: SparkSession, cfg: Cfg): DataFrame =
    UnionFindTables.samplingWeights(spark, cfg.root)
      .select(col("doc_id").as(idCol), col("label"), col("cluster_size"),
        col("weight"))

  /** One winning item per cluster given caller-supplied (id, score) rows,
    * the id in the kind's id column — see [[UnionFindTables.keepBest]]. */
  def keepBest(spark: SparkSession, cfg: Cfg, scores: DataFrame): DataFrame =
    UnionFindTables.keepBest(spark, cfg.root, scores, idCol)

  /**
   * Fold the registry: the signature tables concatenate into the `-1`
   * partition ([[StateStore.foldBatchPartitions]]); `labels` folds to its
   * RESOLVED form and `merges` then truncates to empty
   * ([[UnionFindTables.compactLabels]] — union-find path compression as a
   * maintenance job, resetting the resolution chain depth to zero). Same
   * quiesced-maintenance contract as [[CorpusIngest.compact]], enforced by
   * the same lock.
   */
  def compact(spark: SparkSession, cfg: Cfg): Unit =
    StateStore.maintenance(spark, cfg.root, s"$ownerTag-compact",
        cfg.lockStaleMs, Nil) { h =>
      val fs = h.fs
      val (bandsDir, _, _) = bandsAt(spark, cfg, Some(fs))
      // audit BEFORE any fold: a failure must leave the state untouched
      UnionFindTables.auditNoOrphans(spark, cfg.root,
        StateStore.readOrEmpty(spark, payloadPath(cfg), payloadDdl)
          .select(col(idCol).as("doc_id")), cfg.root)
      h.markHwm(ledgerPath(cfg))
      // the signature folds and the label path-compression rewrite
      // disjoint directories — overlap them on the bounded pool. The
      // payload folds id-sorted (the CorpusIngest.compact discipline) so
      // the probe's cap-bounded candidate-id IN pushdown prunes row groups.
      h.parallel(
        () => StateStore.foldBatchPartitions(spark, fs, bandsDir, bandsFold),
        () => StateStore.foldBatchPartitions(spark, fs, payloadPath(cfg),
          _.repartitionByRange(col(idCol)).sortWithinPartitions(col(idCol))),
        () => UnionFindTables.compactLabels(spark, fs, cfg.root))
    }

  /** Start the continuous labeling stream (AvailableNow — the reference's
    * budgeted-run cadence, ST1; same wiring as [[CorpusIngest.start]]). */
  def start(spark: SparkSession, cfg: Cfg): StreamingQuery =
    StateStore.start(spark, StructType.fromDDL(sourceDdl), sourceDir(cfg),
        cfg.maxFilesPerTrigger, cfg.checkpointDir) { (batch, batchId) =>
      ingestBatch(spark, cfg, batch, batchId): Unit
    }
}

/** The MinHash registry over text: `bands/` (doc_id, band, sig) and
  * `sets/` (doc_id, s, n — the shingle-hash sets the Jaccard verify
  * reads), the [[CorpusIngest]] index schema. */
object ClusterRegistry extends SignatureRegistry(idCol = "doc_id",
    scoreCol = "jaccard", sourceDdl = "doc_id BIGINT, text STRING",
    ownerTag = "cluster", payloadName = "sets",
    payloadDdl = "doc_id BIGINT, s ARRAY<BIGINT>, n BIGINT, ingest_batch BIGINT",
    bandsDdl = "doc_id BIGINT, band INT, sig STRING, ingest_batch BIGINT") {

  final case class RegistryConfig(
      /** Streaming source dir of incoming docs (parquet: doc_id, text). */
      docsDir: String,
      /** Root of the registry: bands/, sets/, labels/, merges/, ledger/. */
      root: String,
      checkpointDir: String,
      threshold: Double = 0.8,
      maxFilesPerTrigger: Int = 20,
      /** [[IngestLock]] staleness window (see [[CorpusIngest]]). */
      lockStaleMs: Long = IngestLock.DefaultStaleMs) extends RegistryFields

  type Cfg = RegistryConfig

  protected def sourceDir(cfg: Cfg): String = cfg.docsDir

  /** MinHash signs at one fixed shape: the bands dir never moves. */
  protected def bandsAt(spark: SparkSession, cfg: Cfg,
      locked: Option[FileSystem]): (String, Int, Int) = {
    locked.foreach(StateStore.rollbackIfStranded(_, s"${cfg.root}/bands"))
    (s"${cfg.root}/bands", 0, 0)
  }
  protected def sign(batch: DataFrame, bits: Int,
      bandBits: Int): (DataFrame, DataFrame, DataFrame) = {
    val docs = Caching.scoped(batch.select(col("doc_id"), col("text")))
    val (bands, sets) = TextOps.minhashIndex(docs, "doc_id", "text")
    (docs.select(col("doc_id")), bands, sets)
  }
  protected def crossPairs(indexBands: DataFrame, indexPayload: DataFrame,
      bands: DataFrame, payload: DataFrame, threshold: Double): DataFrame =
    TextOps.minhashProbeIndexed(indexBands, indexPayload, bands, payload,
      threshold, pushIdLimit = StateStore.MaxProbePushIds)
  protected def selfPairs(bands: DataFrame, payload: DataFrame,
      threshold: Double): DataFrame =
    TextOps.minhashNearDupsIndexed(bands, payload, threshold)
  /** Probe-key sorted, so the ingest probe's IN pushdown prunes row groups. */
  override protected def bandsFold(bands: DataFrame): DataFrame =
    bands.repartitionByRange(col("sig")).sortWithinPartitions(col("sig"))
}

/**
 * The SRP registry over vectors: semantic near-dup cluster labels — SRP
 * band codes for the candidate equi-join (the [[EmbeddingIngest]] index
 * schema) and an exact-cosine verify. Where [[EmbeddingIngest]] REJECTS
 * near-duplicate vectors at the gate, this registry admits all of them and
 * labels their clusters — the state a semantic-dedup sampler
 * (SemDeDup-style 1/|cluster| down-weighting) reads instead of re-running
 * the pair self-join per refresh.
 *
 * Tables under `root`: the bands dir (vec_id, band, bv) resolved through
 * the width marker ([[SrpBands]]), `vecs/` (vec_id, e, n — the
 * double-cast vectors the cosine verify reads), `labels/`, `merges/`,
 * `ledger/`.
 */
object EmbeddingClusterRegistry extends SignatureRegistry(idCol = "vec_id",
    scoreCol = "cos", sourceDdl = "vec_id BIGINT, embedding ARRAY<FLOAT>",
    ownerTag = "emb-cluster", payloadName = "vecs",
    payloadDdl = "vec_id BIGINT, e ARRAY<DOUBLE>, n DOUBLE, ingest_batch BIGINT",
    bandsDdl = SrpBands.bandsDdl) {

  final case class RegistryConfig(
      /** Streaming source dir (parquet: vec_id, embedding ARRAY<FLOAT>). */
      vecsDir: String,
      /** Root of the registry: bands/, vecs/, labels/, merges/, ledger/. */
      root: String,
      checkpointDir: String,
      /** Cosine threshold of the near-dup verify ([[VectorOps.srpNearDupPairs]]). */
      threshold: Double = 0.4,
      /** SRP signature width at root CREATION; after a [[reband]] the
        * persisted width marker governs instead (width is root state). */
      bits: Int = 16,
      bandBits: Int = 4,
      maxFilesPerTrigger: Int = 20,
      lockStaleMs: Long = IngestLock.DefaultStaleMs) extends RegistryFields

  type Cfg = RegistryConfig

  def bandWidthPath(cfg: RegistryConfig): String = SrpBands.markerPath(cfg.root)

  protected def sourceDir(cfg: Cfg): String = cfg.vecsDir

  /** Signed at the ROOT's width (the reband marker), never the cfg's. */
  protected def bandsAt(spark: SparkSession, cfg: Cfg,
      locked: Option[FileSystem]): (String, Int, Int) =
    SrpBands.resolved(spark, cfg.root, cfg.bits, cfg.bandBits, locked)
  protected def sign(batch: DataFrame, bits: Int,
      bandBits: Int): (DataFrame, DataFrame, DataFrame) = {
    val (bands, vecs) = VectorOps.srpIndex(batch, bits = bits, bandBits = bandBits)
    (vecs.select(col("vec_id").as("doc_id")), bands, vecs)
  }
  protected def crossPairs(indexBands: DataFrame, indexPayload: DataFrame,
      bands: DataFrame, payload: DataFrame, threshold: Double): DataFrame =
    VectorOps.srpProbeIndexed(indexBands, indexPayload, bands, payload,
      threshold, pushIdLimit = StateStore.MaxProbePushIds)
  protected def selfPairs(bands: DataFrame, payload: DataFrame,
      threshold: Double): DataFrame =
    VectorOps.srpNearDupsIndexed(bands, payload, threshold)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"), col("cos"))

  /** Re-sign the registry's SRP index at a new width — the registry twin
    * of [[EmbeddingIngest.reband]] ([[SrpBands.reband]]: same gauge, same
    * marker commit, same crash contract; the persisted labels/merges are
    * untouched — reband changes how FUTURE batches find pair evidence,
    * never what was already labeled). The vectors are persisted (`vecs/`),
    * so the re-sign is a pure function of root state. The TEXT registry
    * has no such op by construction: it persists only the one-hash
    * shingle sets, not the documents, so a MinHash re-sign needs the
    * upstream corpus. */
  def reband(spark: SparkSession, cfg: RegistryConfig, bits: Int,
      bandBits: Int): Unit =
    SrpBands.reband(spark, cfg.root, s"$ownerTag-reband", cfg.lockStaleMs,
        cfg.bits, cfg.bandBits, payloadPath(cfg), ledgerPath(cfg), bits,
        bandBits) {
      StateStore.readOrEmpty(spark, payloadPath(cfg), payloadDdl)
        .select(col("vec_id"), col("e").as("embedding"))
    }

  /** The wired reband policy — the registry twin of
    * [[EmbeddingIngest.rebandIfNeeded]] ([[SrpBands.rebandIfNeeded]]);
    * safe to call unconditionally at every maintenance cadence. Returns
    * the width rebanded to, None when healthy. */
  def rebandIfNeeded(spark: SparkSession,
      cfg: RegistryConfig): Option[(Int, Int)] =
    SrpBands.rebandIfNeeded(spark, cfg.root, cfg.bits, cfg.bandBits)(
      reband(spark, cfg, _, _))
}
