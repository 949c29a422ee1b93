package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.Caching
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

  /** Run the union-find increment for one batch against the pre-batch
    * state (reads exclude the batch's own partitions — at-least-once
    * replay recomputes identical rows) and append the resulting label +
    * merge rows. Returns the appended merge-row count for the ledger. */
  def incrementAndAppend(spark: SparkSession, root: String, batchId: Long,
      batchIds: DataFrame, batchPairs: DataFrame,
      crossPairs: DataFrame): Long = {
    def idx(path: String, ddl: String) =
      StateStore.readOrEmpty(spark, path, ddl)
        .filter(col("ingest_batch") =!= batchId)
    val (newLabels, newMerges) = UnionFind.increment(
      idx(labelsPath(root), labelsDdl), idx(mergesPath(root), mergesDdl),
      batchIds, batchPairs, crossPairs)
    val stamp = lit(batchId).as("ingest_batch")
    // sorted by doc_id WITHIN the batch partition: the increment's pruned
    // label fetch (UnionFind.MaxLabelFetchIds) skips row groups by min/max
    // stats, so even not-yet-compacted appends carry useful stats
    newLabels.select(col("doc_id"), col("label"), stamp)
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch")
      .parquet(labelsPath(root))
    val mergesOut = Caching.scoped(newMerges)
    mergesOut.select(col("child"), col("parent"), stamp)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch")
      .parquet(mergesPath(root))
    mergesOut.count()
  }

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

  /** Keep-best canonical pick per cluster: the caller supplies a
    * (doc_id, score) frame (quality scores, recency, anything totally
    * ordered with the doc_id tiebreak) and gets one winning doc per
    * cluster — the registry DRIVING the dedup decision instead of a batch
    * recompute. Ids without a score row are skipped (they cannot win);
    * ids without a label row keep their own id as a singleton cluster. */
  def keepBest(spark: SparkSession, root: String, scores: DataFrame): DataFrame =
    // rank-1 per cluster (score desc, doc_id asc) as a MAP-COMBINING
    // aggregate — each partition collapses a cluster's candidates to one
    // row before the shuffle, so the mega-cluster never lands in a single
    // window buffer. graft_argmax keeps it a flat-buffer HASH aggregation
    // (the max(struct) spelling demoted the scan to SortAggregate — r15);
    // the winner's score is the group max by definition (ties tie).
    scores.select(col("doc_id"), col("score").cast("double").as("score"))
      .join(resolvedLabels(spark, root), Seq("doc_id"), "left")
      .withColumn("label", coalesce(col("label"), col("doc_id")))
      .groupBy(col("label"))
      .agg(expr("graft_argmax(score, doc_id)").as("kept_doc"),
        max(col("score")).as("score"))
      .select(col("label"), col("kept_doc"), col("score"))

  /** The would-label report behind the read-only probe faces: run the
    * union-find increment WITHOUT writing and return, per batch id, the
    * cluster it would land in plus `n_existing` — how many EXISTING
    * clusters its would-be component contains (0 = an entirely new
    * cluster, 1 = joins one, ≥ 2 = its arrival would BRIDGE that many).
    * Counted from the matched roots directly, NOT from merge rows — a
    * merge row also appears when a small-id arrival re-roots a single
    * cluster, which is not a bridge. */
  def probeReport(labels: DataFrame, merges: DataFrame, batchIds: DataFrame,
      batchPairs: DataFrame, crossPairs: DataFrame): DataFrame = {
    val inc = UnionFind.incrementFull(
      labels, merges, batchIds, batchPairs, crossPairs)
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
  def compactLabels(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: String): Unit = {
    StateStore.rollbackIfStranded(fs, labelsPath(root))
    StateStore.rollbackIfStranded(fs, mergesPath(root))
    StateStore.rollbackIfStranded(fs, sizesPath(root))
    StateStore.rollbackIfStranded(fs, statsPath(root))
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

/**
 * Streaming near-dup cluster LABELING — the keep-everything sibling of
 * [[CorpusIngest]]: where the ingest pipeline REJECTS near-duplicates,
 * this registry admits every document and maintains its cluster label
 * incrementally, so downstream consumers can make their own per-cluster
 * decisions (keep-best by quality, dedup-aware sampling weights,
 * contamination tracing) without ever recomputing connected components
 * over the full corpus. The reference keeps the same duality: rows are
 * never dropped at apply time — the J1/J2 latest-record and duplicate
 * views interpret the full appended history (doc_old_duplicates.md,
 * script_create_clickhouse_table.sql's versioned table).
 *
 * State tables under `root`, all partitioned by `ingest_batch` and only
 * ever appended (same at-least-once dynamic-partition-overwrite replay
 * discipline as [[CorpusIngest.ingestBatch]]):
 *
 *  - `bands/`, `sets/` — the corpus MinHash signature index (identical
 *    schema to [[CorpusIngest]]'s), probed by each arriving batch;
 *  - `labels/` — (doc_id, label): the label assigned when the doc's batch
 *    arrived — never rewritten by later batches;
 *  - `merges/` — (child, parent): the union-find log; appended when a
 *    batch bridges existing clusters ([[graft.text.UnionFind]]);
 *  - `ledger/` — (ingest_batch, n_in, n_pairs, n_merges) audit rows.
 *
 * Per-batch cost is O(batch + candidate join + touched clusters); the
 * corpus-sized tables are appended to, never re-shuffled — the property
 * that makes cluster maintenance viable at 100 TB, where the batch
 * alternative ([[TextOps.connectedComponents]] over all pairs) re-runs a
 * multi-round all-corpus shuffle per refresh. Serving
 * ([[resolvedLabels]], [[sameCluster]]) is read-only and lock-free.
 *
 * Contract: doc_ids are unique across the corpus lifetime (the
 * [[CorpusIngest]] rule) — a re-arrival of an id would append a second
 * label row for it. A torn state (index rows whose labels row is missing
 * — only reachable by NOT replaying a crashed batch, e.g. a manual
 * backfill under a fresh batch id) fails the next increment loudly
 * instead of silently dropping pair evidence ([[UnionFind.increment]]).
 */
object ClusterRegistry {

  final case class RegistryConfig(
      /** Streaming source dir of incoming docs (parquet: doc_id, text). */
      docsDir: String,
      /** Root of the registry: bands/, sets/, labels/, merges/, ledger/. */
      root: String,
      checkpointDir: String,
      threshold: Double = 0.8,
      maxFilesPerTrigger: Int = 20,
      /** [[IngestLock]] staleness window (see [[CorpusIngest]]). */
      lockStaleMs: Long = 30 * 60 * 1000L)

  private def bandsPath(cfg: RegistryConfig) = s"${cfg.root}/bands"
  private def setsPath(cfg: RegistryConfig) = s"${cfg.root}/sets"
  def ledgerPath(cfg: RegistryConfig): String = s"${cfg.root}/ledger"

  private val bandsDdl = "doc_id BIGINT, band INT, sig STRING, ingest_batch BIGINT"
  private val setsDdl = "doc_id BIGINT, s ARRAY<BIGINT>, n BIGINT, ingest_batch BIGINT"

  /** Stable lock owner per batch — replay-stable like
    * [[CorpusIngest.batchLockOwner]]. */
  def batchLockOwner(cfg: RegistryConfig, batchId: Long): String =
    s"cluster-batch-$batchId@${cfg.checkpointDir}"

  /**
   * Label one batch; returns the number of docs labeled. The increment:
   * build the batch's signatures ONCE, probe the persisted index for
   * batch↔corpus pairs, self-join the batch bands for within-batch pairs,
   * then [[UnionFind.increment]] turns the pair evidence into appended
   * label rows and merge-log rows. All reads exclude the batch's own
   * partitions, so an at-least-once replay recomputes — and dynamically
   * overwrites — identical rows.
   */
  def ingestBatch(spark: SparkSession, cfg: RegistryConfig, batch: DataFrame,
      batchId: Long): Long = StateStore.lockedBatch(spark, cfg.root,
      batchLockOwner(cfg, batchId), cfg.lockStaleMs,
      Seq(bandsPath(cfg), setsPath(cfg), UnionFindTables.labelsPath(cfg.root),
        UnionFindTables.mergesPath(cfg.root), ledgerPath(cfg))) { (lock, fs) =>
    StateStore.requireAboveCompactionHwm(fs, cfg.root, batchId)
    Caching.scope {
      def idx(path: String, ddl: String) =
        StateStore.readOrEmpty(spark, path, ddl)
          .filter(col("ingest_batch") =!= batchId)

      val docs = Caching.scoped(batch.select(col("doc_id"), col("text")))
      // ONE signature build: the index probe, the within-batch pair join,
      // and the index append all read these two cached frames
      val (bb, bs) = TextOps.minhashIndex(docs, "doc_id", "text")
      val batchBands = Caching.scoped(bb)
      val batchSets = Caching.scoped(bs)
      // cached: each pair frame is read twice (the union-find increment
      // and the ledger count) — without the cache the candidate join and
      // Jaccard verify would run twice
      val crossPairs = Caching.scoped(TextOps.minhashProbeIndexed(
        idx(bandsPath(cfg), bandsDdl), idx(setsPath(cfg), setsDdl),
        batchBands, batchSets, cfg.threshold,
        pushIdLimit = CorpusIngest.MaxProbePushIds))
      val batchPairs = Caching.scoped(TextOps.minhashNearDupsIndexed(
        batchBands, batchSets, cfg.threshold))
      // the pair computation may outlive the staleness window on a huge
      // batch; refresh BEFORE the first state write
      IngestLock.heartbeat(spark, lock)
      val stamp = lit(batchId).as("ingest_batch")
      // the two signature appends are independent directories over warm
      // cached frames — overlap their commit latency
      CorpusIngest.parallelAppends(Seq(
        bandsPath(cfg) -> batchBands
          .select(col("doc_id"), col("band"), col("sig"), stamp),
        setsPath(cfg) -> batchSets
          .select(col("doc_id"), col("s"), col("n"), stamp)))
      val nMerges = UnionFindTables.incrementAndAppend(spark, cfg.root,
        batchId, docs.select(col("doc_id")), batchPairs, crossPairs)
      val nIn = docs.count()
      val nPairs = crossPairs.count() + batchPairs.count()
      spark.createDataFrame(Seq((batchId, nIn, nPairs, nMerges)))
        .toDF("ingest_batch", "n_in", "n_pairs", "n_merges")
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch").parquet(ledgerPath(cfg))
      nIn
    }
  }

  /** Probe a batch WITHOUT labeling it — the read-only what-if face
    * ([[CorpusIngest.probe]]'s labeling twin): per batch doc, the cluster
    * it WOULD land in and how many existing clusters its would-be
    * component touches (`n_existing`; ≥ 2 = a bridge). Takes no lock,
    * writes nothing; same signature build + index probe cost as
    * [[ingestBatch]] minus the appends. Scoped intermediates follow the
    * query-function contract (caller releases via
    * [[graft.Caching.releaseAll]] or an enclosing scope). */
  def probe(spark: SparkSession, cfg: RegistryConfig,
      batch: DataFrame): DataFrame = {
    val docs = Caching.scoped(batch.select(col("doc_id"), col("text")))
    val (bb, bs) = TextOps.minhashIndex(docs, "doc_id", "text")
    val batchBands = Caching.scoped(bb)
    val batchSets = Caching.scoped(bs)
    // cached like ingestBatch's: the increment reads the pair frames more
    // than once — uncached, the candidate join + verify would re-run
    val crossPairs = Caching.scoped(TextOps.minhashProbeIndexed(
      StateStore.readOrEmptyRO(spark, bandsPath(cfg), bandsDdl),
      StateStore.readOrEmptyRO(spark, setsPath(cfg), setsDdl),
      batchBands, batchSets, cfg.threshold,
      pushIdLimit = CorpusIngest.MaxProbePushIds))
    val batchPairs = Caching.scoped(TextOps.minhashNearDupsIndexed(
      batchBands, batchSets, cfg.threshold))
    UnionFindTables.probeReport(
      StateStore.readOrEmptyRO(spark, UnionFindTables.labelsPath(cfg.root),
        UnionFindTables.labelsDdl),
      StateStore.readOrEmptyRO(spark, UnionFindTables.mergesPath(cfg.root),
        UnionFindTables.mergesDdl),
      docs.select(col("doc_id")), batchPairs, crossPairs)
  }

  /** The pair-evidence stage of [[probe]] ALONE — signature build, index
    * probe, within-batch pairs — without the would-label union-find tail:
    * [[probe]]'s cost decomposes as this + the labeling tail, and the
    * bench records both so a tail regression is attributable (VERDICT r10
    * item 4). Output canonicalized to (doc_a < doc_b, jaccard). */
  def probePairs(spark: SparkSession, cfg: RegistryConfig,
      batch: DataFrame): DataFrame = {
    val docs = Caching.scoped(batch.select(col("doc_id"), col("text")))
    val (bb, bs) = TextOps.minhashIndex(docs, "doc_id", "text")
    val batchBands = Caching.scoped(bb)
    val batchSets = Caching.scoped(bs)
    val crossPairs = TextOps.minhashProbeIndexed(
      StateStore.readOrEmptyRO(spark, bandsPath(cfg), bandsDdl),
      StateStore.readOrEmptyRO(spark, setsPath(cfg), setsDdl),
      batchBands, batchSets, cfg.threshold,
      pushIdLimit = CorpusIngest.MaxProbePushIds)
    val batchPairs = TextOps.minhashNearDupsIndexed(
      batchBands, batchSets, cfg.threshold)
    crossPairs.select(
        least(col("batch_id"), col("corpus_id")).as("doc_a"),
        greatest(col("batch_id"), col("corpus_id")).as("doc_b"),
        col("jaccard"))
      .unionByName(batchPairs.select(col("doc_a"), col("doc_b"), col("jaccard")))
  }

  /** Current cluster label of every registered doc — the read-only serving
    * face: `labels` joined once against the root-resolved merge log
    * ([[UnionFind.resolveLabels]]). Lock-free; reads through stranded
    * compactions via [[StateStore.readOrEmptyRO]]. */
  def resolvedLabels(spark: SparkSession, cfg: RegistryConfig): DataFrame =
    UnionFindTables.resolvedLabels(spark, cfg.root)

  /** Pairwise same-cluster check for a list of (a, b) doc-id probes — the
    * lookup face a sampling or eval pipeline asks per pair. Two joins of
    * the (small) probe frame against the resolved labels. */
  def sameCluster(spark: SparkSession, cfg: RegistryConfig,
      probes: DataFrame): DataFrame =
    UnionFindTables.sameCluster(spark, cfg.root, probes)

  /** Registry health: (n_clusters, n_docs, max_cluster, n_dups) — see
    * [[UnionFindTables.clusterStats]]. */
  def clusterStats(spark: SparkSession, cfg: RegistryConfig): DataFrame =
    UnionFindTables.clusterStats(spark, cfg.root)

  /** 1/|cluster| doc-equivalent weights off the registry state — see
    * [[UnionFindTables.samplingWeights]]. */
  def samplingWeights(spark: SparkSession, cfg: RegistryConfig): DataFrame =
    UnionFindTables.samplingWeights(spark, cfg.root)

  /** One winning doc per cluster given caller-supplied (doc_id, score) —
    * see [[UnionFindTables.keepBest]]. */
  def keepBest(spark: SparkSession, cfg: RegistryConfig,
      scores: DataFrame): DataFrame =
    UnionFindTables.keepBest(spark, cfg.root, scores)

  /**
   * Fold the registry: signature tables concatenate into the `-1`
   * partition ([[StateStore.foldBatchPartitions]]); `labels` folds to
   * its RESOLVED form and `merges` then truncates to empty
   * ([[UnionFindTables.compactLabels]] — union-find path compression as a
   * maintenance job, resetting the resolution chain depth to zero). Same
   * quiesced-maintenance contract as [[CorpusIngest.compact]], enforced
   * by the same lock.
   */
  def compact(spark: SparkSession, cfg: RegistryConfig): Unit =
    IngestLock.withLock(spark, cfg.root,
        s"cluster-compact-${java.util.UUID.randomUUID()}", cfg.lockStaleMs) { lock =>
      val fs = StateStore.fsOf(spark, cfg.root)
      // audit BEFORE any fold: a failure must leave the state untouched
      UnionFindTables.auditNoOrphans(spark, cfg.root,
        StateStore.readOrEmpty(spark, setsPath(cfg), setsDdl)
          .select(col("doc_id")), cfg.root)
      StateStore.markCompactionHwm(fs, cfg.root,
        StateStore.ledgerMaxBatch(spark, ledgerPath(cfg)))
      IngestLock.heartbeat(spark, lock)
      // the signature folds and the label path-compression rewrite
      // disjoint directories — overlap them on the bounded pool. Folds
      // are PROBE-KEY-SORTED (the CorpusIngest.compact discipline) so the
      // ingest probe's cap-bounded IN pushdown prunes row groups.
      CorpusIngest.parallelUnits(Seq(
        () => StateStore.foldBatchPartitions(spark, fs, bandsPath(cfg),
          _.repartitionByRange(col("sig")).sortWithinPartitions(col("sig"))),
        () => StateStore.foldBatchPartitions(spark, fs, setsPath(cfg),
          _.repartitionByRange(col("doc_id"))
            .sortWithinPartitions(col("doc_id"))),
        () => UnionFindTables.compactLabels(spark, fs, cfg.root)))
    }

  /** Start the continuous labeling stream (AvailableNow — the reference's
    * budgeted-run cadence, ST1; same wiring as [[CorpusIngest.start]]). */
  def start(spark: SparkSession, cfg: RegistryConfig): StreamingQuery =
    StateStore.start(spark, StructType.fromDDL("doc_id BIGINT, text STRING"),
        cfg.docsDir, cfg.maxFilesPerTrigger, cfg.checkpointDir) { (batch, batchId) =>
      ingestBatch(spark, cfg, batch, batchId): Unit
    }
}

/**
 * The embedding twin of [[ClusterRegistry]]: semantic near-dup cluster
 * labels over vectors, maintained incrementally per arriving batch — SRP
 * band codes for the candidate equi-join (the [[EmbeddingIngest]] index
 * schema), exact-cosine verify, and the same [[UnionFindTables]] state.
 * Where [[EmbeddingIngest]] REJECTS near-duplicate vectors at the gate,
 * this registry admits all of them and labels their clusters — the state
 * a semantic-dedup sampler (SemDeDup-style 1/|cluster| down-weighting)
 * reads instead of re-running the pair self-join per refresh.
 *
 * Tables under `root`: `bands/` (vec_id, band, bv), `vecs/` (vec_id, e,
 * n — the double-cast vectors the cosine verify reads), `labels/`,
 * `merges/`, `ledger/`. Same lock, replay, and compaction contracts as
 * the text face.
 */
object EmbeddingClusterRegistry {

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
      lockStaleMs: Long = 30 * 60 * 1000L)

  private def bandsPath(cfg: RegistryConfig) = s"${cfg.root}/bands"
  private def vecsPath(cfg: RegistryConfig) = s"${cfg.root}/vecs"
  def ledgerPath(cfg: RegistryConfig): String = s"${cfg.root}/ledger"
  def bandWidthPath(cfg: RegistryConfig): String = s"${cfg.root}/bandwidth"

  /** (bands dir, bits, bandBits) through the width marker — see
    * [[CorpusIngest.resolvedSrpBands]] and [[EmbeddingIngest.reband]]'s
    * crash contract (shared structurally: the directory name ties rows to
    * their width, the marker swap is the atomic commit). */
  private def resolvedBands(spark: SparkSession,
      cfg: RegistryConfig): (String, Int, Int) =
    CorpusIngest.resolvedSrpBands(spark, cfg.root, bandsPath(cfg),
      cfg.bits, cfg.bandBits)

  private val bandsDdl = "vec_id BIGINT, band INT, bv BIGINT, ingest_batch BIGINT"
  private val vecsDdl =
    "vec_id BIGINT, e ARRAY<DOUBLE>, n DOUBLE, ingest_batch BIGINT"

  def batchLockOwner(cfg: RegistryConfig, batchId: Long): String =
    s"emb-cluster-batch-$batchId@${cfg.checkpointDir}"

  /** Label one batch of vectors; returns the number labeled. Same
    * increment shape as [[ClusterRegistry.ingestBatch]], with the SRP
    * probe/pair faces supplying the pair evidence. */
  def ingestBatch(spark: SparkSession, cfg: RegistryConfig, batch: DataFrame,
      batchId: Long): Long = StateStore.lockedBatch(spark, cfg.root,
      batchLockOwner(cfg, batchId), cfg.lockStaleMs,
      Seq(vecsPath(cfg), bandWidthPath(cfg), UnionFindTables.labelsPath(cfg.root),
        UnionFindTables.mergesPath(cfg.root), ledgerPath(cfg))) { (lock, fs) =>
    val (bandsDir, wBits, wBb) = resolvedBands(spark, cfg)
    StateStore.rollbackIfStranded(fs, bandsDir)
    StateStore.requireAboveCompactionHwm(fs, cfg.root, batchId)
    Caching.scope {
      def idx(path: String, ddl: String) =
        StateStore.readOrEmpty(spark, path, ddl)
          .filter(col("ingest_batch") =!= batchId)

      // ONE signature build feeds probe, self-pairs, and both appends —
      // signed at the ROOT's width (reband marker), never the cfg's
      val (bb, bv) = VectorOps.srpIndex(batch, bits = wBits, bandBits = wBb)
      val batchBands = Caching.scoped(bb)
      val batchVecs = Caching.scoped(bv)
      // cached: read by both the increment and the ledger count
      val crossPairs = Caching.scoped(VectorOps.srpProbeIndexed(
        idx(bandsDir, bandsDdl), idx(vecsPath(cfg), vecsDdl),
        batchBands, batchVecs, cfg.threshold,
        pushIdLimit = CorpusIngest.MaxProbePushIds))
      val batchPairs = Caching.scoped(VectorOps.srpNearDupsIndexed(
        batchBands, batchVecs, cfg.threshold)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      IngestLock.heartbeat(spark, lock)
      val stamp = lit(batchId).as("ingest_batch")
      // independent directories over warm cached frames — overlap commits
      CorpusIngest.parallelAppends(Seq(
        bandsDir -> batchBands
          .select(col("vec_id"), col("band"), col("bv"), stamp),
        vecsPath(cfg) -> batchVecs
          .select(col("vec_id"), col("e"), col("n"), stamp)))
      val nMerges = UnionFindTables.incrementAndAppend(spark, cfg.root,
        batchId, batchVecs.select(col("vec_id").as("doc_id")),
        batchPairs, crossPairs)
      val nIn = batchVecs.count()
      val nPairs = crossPairs.count() + batchPairs.count()
      spark.createDataFrame(Seq((batchId, nIn, nPairs, nMerges)))
        .toDF("ingest_batch", "n_in", "n_pairs", "n_merges")
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_batch").parquet(ledgerPath(cfg))
      nIn
    }
  }

  /** Probe a batch of vectors WITHOUT labeling — the read-only what-if
    * face, see [[ClusterRegistry.probe]]. Output: (vec_id, label,
    * n_existing). */
  def probe(spark: SparkSession, cfg: RegistryConfig,
      batch: DataFrame): DataFrame = {
    val (bandsDir, wBits, wBb) = resolvedBands(spark, cfg)
    val (bb, bv) = VectorOps.srpIndex(batch, bits = wBits, bandBits = wBb)
    val batchBands = Caching.scoped(bb)
    val batchVecs = Caching.scoped(bv)
    // cached like ingestBatch's pair frames (see ClusterRegistry.probe)
    val crossPairs = Caching.scoped(VectorOps.srpProbeIndexed(
      StateStore.readOrEmptyRO(spark, bandsDir, bandsDdl),
      StateStore.readOrEmptyRO(spark, vecsPath(cfg), vecsDdl),
      batchBands, batchVecs, cfg.threshold,
      pushIdLimit = CorpusIngest.MaxProbePushIds))
    val batchPairs = Caching.scoped(VectorOps.srpNearDupsIndexed(
      batchBands, batchVecs, cfg.threshold)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
    UnionFindTables.probeReport(
      StateStore.readOrEmptyRO(spark, UnionFindTables.labelsPath(cfg.root),
        UnionFindTables.labelsDdl),
      StateStore.readOrEmptyRO(spark, UnionFindTables.mergesPath(cfg.root),
        UnionFindTables.mergesDdl),
      batchVecs.select(col("vec_id").as("doc_id")), batchPairs, crossPairs)
      .select(col("doc_id").as("vec_id"), col("label"), col("n_existing"))
  }

  /** The pair-evidence stage of [[probe]] ALONE — SRP signature build,
    * index probe, within-batch pairs — without the would-label union-find
    * tail: the embedding twin of [[ClusterRegistry.probePairs]], so the
    * probe's bench cost decomposes into attributable halves here too
    * (VERDICT r11 item 2). Output canonicalized to (vec_a < vec_b, cos). */
  def probePairs(spark: SparkSession, cfg: RegistryConfig,
      batch: DataFrame): DataFrame = {
    val (bandsDir, wBits, wBb) = resolvedBands(spark, cfg)
    val (bb, bv) = VectorOps.srpIndex(batch, bits = wBits, bandBits = wBb)
    val batchBands = Caching.scoped(bb)
    val batchVecs = Caching.scoped(bv)
    val crossPairs = VectorOps.srpProbeIndexed(
      StateStore.readOrEmptyRO(spark, bandsDir, bandsDdl),
      StateStore.readOrEmptyRO(spark, vecsPath(cfg), vecsDdl),
      batchBands, batchVecs, cfg.threshold,
      pushIdLimit = CorpusIngest.MaxProbePushIds)
    val batchPairs = VectorOps.srpNearDupsIndexed(
      batchBands, batchVecs, cfg.threshold)
    crossPairs.select(
        least(col("batch_id"), col("corpus_id")).as("vec_a"),
        greatest(col("batch_id"), col("corpus_id")).as("vec_b"),
        col("cos"))
      .unionByName(batchPairs.select(col("vec_a"), col("vec_b"), col("cos")))
  }

  /** Current cluster label of every registered vector (vec_id, label) —
    * read-only, lock-free. */
  def resolvedLabels(spark: SparkSession, cfg: RegistryConfig): DataFrame =
    UnionFindTables.resolvedLabels(spark, cfg.root)
      .select(col("doc_id").as("vec_id"), col("label"))

  /** Pairwise same-cluster probes (a, b) over vec ids. */
  def sameCluster(spark: SparkSession, cfg: RegistryConfig,
      probes: DataFrame): DataFrame =
    UnionFindTables.sameCluster(spark, cfg.root, probes)

  /** Registry health gauge — see [[UnionFindTables.clusterStats]]. */
  def clusterStats(spark: SparkSession, cfg: RegistryConfig): DataFrame =
    UnionFindTables.clusterStats(spark, cfg.root)

  /** 1/|cluster| vec-equivalent weights (SemDeDup-style down-weighting)
    * off the registry state — see [[UnionFindTables.samplingWeights]]. */
  def samplingWeights(spark: SparkSession, cfg: RegistryConfig): DataFrame =
    UnionFindTables.samplingWeights(spark, cfg.root)
      .select(col("doc_id").as("vec_id"), col("label"),
        col("cluster_size"), col("weight"))

  /** One winning vector per semantic cluster given (doc_id, score) rows —
    * see [[UnionFindTables.keepBest]]. */
  def keepBest(spark: SparkSession, cfg: RegistryConfig,
      scores: DataFrame): DataFrame =
    UnionFindTables.keepBest(spark, cfg.root, scores)

  /** Fold signature tables, path-compress labels, truncate the merge log —
    * see [[ClusterRegistry.compact]]. */
  def compact(spark: SparkSession, cfg: RegistryConfig): Unit =
    IngestLock.withLock(spark, cfg.root,
        s"emb-cluster-compact-${java.util.UUID.randomUUID()}",
        cfg.lockStaleMs) { lock =>
      val fs = StateStore.fsOf(spark, cfg.root)
      // roll back a marker stranded mid-reband BEFORE resolving the bands
      // dir (ADVICE r12) — see EmbeddingIngest.compact for the hazard
      StateStore.rollbackIfStranded(fs, bandWidthPath(cfg))
      StateStore.rollbackIfStranded(fs, resolvedBands(spark, cfg)._1)
      // audit BEFORE any fold: a failure must leave the state untouched
      UnionFindTables.auditNoOrphans(spark, cfg.root,
        StateStore.readOrEmpty(spark, vecsPath(cfg), vecsDdl)
          .select(col("vec_id").as("doc_id")), cfg.root)
      StateStore.markCompactionHwm(fs, cfg.root,
        StateStore.ledgerMaxBatch(spark, ledgerPath(cfg)))
      IngestLock.heartbeat(spark, lock)
      // disjoint directories — overlap on the bounded pool (see
      // [[ClusterRegistry.compact]]); the vec store folds vec_id-sorted
      // so the probe's candidate-id IN pushdown prunes the verify read
      CorpusIngest.parallelUnits(Seq(
        () => StateStore.foldBatchPartitions(spark, fs,
          resolvedBands(spark, cfg)._1),
        () => StateStore.foldBatchPartitions(spark, fs, vecsPath(cfg),
          _.repartitionByRange(col("vec_id"))
            .sortWithinPartitions(col("vec_id"))),
        () => UnionFindTables.compactLabels(spark, fs, cfg.root)))
    }

  /** Re-sign the registry's SRP index at a new width — the registry twin
    * of [[EmbeddingIngest.reband]] (same gauge, same marker commit, same
    * crash contract; the persisted labels/merges are untouched — reband
    * changes how FUTURE batches find pair evidence, never what was
    * already labeled). The vectors are persisted (`vecs/`), so the
    * re-sign is a pure function of root state. The TEXT registry has no
    * such op by construction: it persists only the one-hash shingle sets,
    * not the documents, so a MinHash re-sign needs the upstream corpus. */
  def reband(spark: SparkSession, cfg: RegistryConfig, bits: Int,
      bandBits: Int): Unit = IngestLock.withLock(spark, cfg.root,
      s"emb-cluster-reband-${java.util.UUID.randomUUID()}",
      cfg.lockStaleMs) { lock =>
    val fs = StateStore.fsOf(spark, cfg.root)
    Seq(vecsPath(cfg), bandWidthPath(cfg), ledgerPath(cfg))
      .foreach(StateStore.rollbackIfStranded(fs, _))
    val (curDir, curBits, curBb) = resolvedBands(spark, cfg)
    CorpusIngest.sweepSupersededSrpBands(spark, fs, cfg.root, curDir)
    // no-op at the already-committed width (ADVICE r12) — see
    // [[EmbeddingIngest.reband]]: re-running at the marker's width must
    // not swap the LIVE serving directory under lock-free probes
    if (curBits != bits || curBb != bandBits) {
      StateStore.markCompactionHwm(fs, cfg.root,
        StateStore.ledgerMaxBatch(spark, ledgerPath(cfg)))
      val vecs = StateStore.readOrEmpty(spark, vecsPath(cfg), vecsDdl)
        .select(col("vec_id"), col("e").as("embedding"))
      val (nb, _) = VectorOps.srpIndex(vecs, bits = bits, bandBits = bandBits)
      IngestLock.heartbeat(spark, lock)
      StateStore.swap(fs, s"${cfg.root}/bands_w${bits}x$bandBits",
        nb.select(col("vec_id"), col("band"), col("bv"),
          lit(-1L).as("ingest_batch")),
        partitionCols = Seq("ingest_batch"))
      IngestLock.heartbeat(spark, lock)
      // the commit point: from here every face signs and reads at the
      // new width
      StateStore.swap(fs, bandWidthPath(cfg),
        spark.createDataFrame(Seq((bits, bandBits))).toDF("bits", "band_bits"))
    }
  }

  /** The wired reband policy — the registry twin of
    * [[EmbeddingIngest.rebandIfNeeded]]: gauge → [[VectorOps.srpRebandPlan]]
    * → [[reband]] when it fires; safe to call unconditionally at every
    * maintenance cadence. Returns the width rebanded to, None when
    * healthy. */
  def rebandIfNeeded(spark: SparkSession,
      cfg: RegistryConfig): Option[(Int, Int)] = {
    val fs = StateStore.fsOf(spark, cfg.root)
    StateStore.rollbackIfStranded(fs, bandWidthPath(cfg))
    val (dir, bits, bb) = resolvedBands(spark, cfg)
    StateStore.rollbackIfStranded(fs, dir)
    val plan = VectorOps.srpRebandPlan(
      VectorOps.srpBandHealth(StateStore.readOrEmpty(spark, dir, bandsDdl)),
      bits, bb)
    plan.foreach { case (nb, nbb) => reband(spark, cfg, nb, nbb) }
    plan
  }

  /** Start the continuous labeling stream (AvailableNow). */
  def start(spark: SparkSession, cfg: RegistryConfig): StreamingQuery =
    StateStore.start(spark, StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>"),
        cfg.vecsDir, cfg.maxFilesPerTrigger, cfg.checkpointDir) { (batch, batchId) =>
      ingestBatch(spark, cfg, batch, batchId): Unit
    }
}
