package graft.stream

import graft.SparkSpec
import graft.text.{TextOps, UnionFind}
import org.apache.spark.sql.functions._

/** [[ClusterRegistry]] — incremental near-dup cluster labels as
  * append-only union-find tables. Pins the load-bearing contract: the
  * incrementally-maintained labels equal what the batch
  * [[TextOps.connectedComponents]] over the FULL pair graph computes, for
  * any batch split, including the hard case where a late arrival BRIDGES
  * two previously-separate clusters (the case a naive "inherit the first
  * match's label" incremental scheme gets wrong). */
class ClusterRegistrySpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-clusters").toString

  // --- fixture: three clusters + two singletons across three batches ----
  // X-family: one word of twenty changed per variant (shingle Jaccard
  // ≈ 19/21 each) — docs 1, 5, 9.  Y-family: docs 2, 6.  Bridge family:
  // 100-token docs where A (doc 4) and B (doc 8) differ in 16 leading
  // tokens (J ≈ 0.72 < 0.8 — NOT a pair) while C (doc 10) sits between
  // them (J ≈ 0.85 / 0.82 — pairs with both): C's arrival must MERGE the
  // clusters rooted at 4 and 8.
  private def xDoc(change: Int): String =
    (1 to 20).map(i => if (i == change) s"chg$change" else s"xtok$i").mkString(" ")
  private def yDoc(change: Int): String =
    (1 to 20).map(i => if (i == change) s"chg$change" else s"ytok$i").mkString(" ")
  private val unrelated1 = (1 to 20).map(i => s"lonely$i").mkString(" ")
  private val unrelated2 = (1 to 20).map(i => s"solo$i").mkString(" ")
  private def bridgeDoc(changed: Int): String =
    (1 to 100).map(i => if (i <= changed) s"u$i" else s"bt$i").mkString(" ")

  private val batch0 = Seq(1L -> xDoc(0), 2L -> yDoc(0), 3L -> unrelated1,
    4L -> bridgeDoc(0))
  private val batch1 = Seq(5L -> xDoc(1), 6L -> yDoc(1), 7L -> unrelated2,
    8L -> bridgeDoc(16))
  private val batch2 = Seq(9L -> xDoc(2), 10L -> bridgeDoc(8))
  private val allDocs = batch0 ++ batch1 ++ batch2

  private def ingestAll(cfg: ClusterRegistry.RegistryConfig): Unit = {
    assert(ClusterRegistry.ingestBatch(spark, cfg,
      batch0.toDF("doc_id", "text"), 0L) == 4L)
    assert(ClusterRegistry.ingestBatch(spark, cfg,
      batch1.toDF("doc_id", "text"), 1L) == 4L)
    assert(ClusterRegistry.ingestBatch(spark, cfg,
      batch2.toDF("doc_id", "text"), 2L) == 2L)
  }

  /** The ground truth the registry must reproduce: batch CC over the full
    * corpus pair graph, singletons labeling themselves. */
  private def batchTruth(): Map[Long, Long] = {
    val docs = allDocs.toDF("doc_id", "text")
    val cc = TextOps.connectedComponents(
      TextOps.minhashNearDups(docs, "doc_id", "text"))
      .as[(Long, Long)].collect().toMap
    graft.Caching.releaseAll()
    allDocs.map { case (id, _) => id -> cc.getOrElse(id, id) }.toMap
  }

  private def resolved(cfg: ClusterRegistry.RegistryConfig): Map[Long, Long] = {
    val got = ClusterRegistry.resolvedLabels(spark, cfg)
      .as[(Long, Long)].collect().toMap
    graft.Caching.releaseAll()
    got
  }

  test("fixture: the bridge doc pairs with both sides, the sides not with each other") {
    val pairs = TextOps.minhashNearDups(
      Seq(4L -> bridgeDoc(0), 8L -> bridgeDoc(16), 10L -> bridgeDoc(8))
        .toDF("doc_id", "text"), "doc_id", "text")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    graft.Caching.releaseAll()
    assert(pairs == Set((4L, 10L), (8L, 10L)), pairs.toString)
  }

  test("incremental labels equal batch CC, including the cross-batch bridge merge") {
    val cfg = ClusterRegistry.RegistryConfig("unused", tmpDir(), "unused")
    ingestAll(cfg)
    val truth = batchTruth()
    assert(resolved(cfg) == truth, s"truth=$truth")
    // the bridge recorded a union edge: root 8 folded into root 4, and
    // every merge row points strictly downward (parent < child)
    val merges = spark.read.parquet(s"${cfg.root}/merges")
      .select("child", "parent").as[(Long, Long)].collect().toSet
    assert(merges == Set((8L, 4L)), merges.toString)
    // doc 8's STORED label row is untouched history (it labeled itself on
    // arrival); only resolution through the merge log reroutes it
    val stored = spark.read.parquet(s"${cfg.root}/labels")
      .filter(col("doc_id") === 8L).select("label").as[Long].collect().toSeq
    assert(stored == Seq(8L))
  }

  test("replay of a committed batch rewrites identical state") {
    val cfg = ClusterRegistry.RegistryConfig("unused", tmpDir(), "unused")
    ingestAll(cfg)
    val before = resolved(cfg)
    val mergeRows = spark.read.parquet(s"${cfg.root}/merges").count()
    // at-least-once: the bridge batch replays (same batchId) — its reads
    // exclude its own partitions, so it recomputes and overwrites the
    // identical rows instead of doubling them
    assert(ClusterRegistry.ingestBatch(spark, cfg,
      batch2.toDF("doc_id", "text"), 2L) == 2L)
    assert(resolved(cfg) == before)
    assert(spark.read.parquet(s"${cfg.root}/merges").count() == mergeRows)
    assert(spark.read.parquet(s"${cfg.root}/labels").count() == allDocs.size.toLong)
  }

  test("compact resolves labels, empties the merge log, and keeps serving + ingest working") {
    val cfg = ClusterRegistry.RegistryConfig("unused", tmpDir(), "unused")
    ingestAll(cfg)
    val before = resolved(cfg)
    ClusterRegistry.compact(spark, cfg)
    // path compression: stored labels are now roots, the log is empty —
    // resolution chain depth is zero until the next bridge
    assert(resolved(cfg) == before)
    val storedAfter = spark.read.parquet(s"${cfg.root}/labels")
      .select("doc_id", "label").as[(Long, Long)].collect().toMap
    assert(storedAfter == before)
    assert(StateStore.readOrEmptyRO(spark, s"${cfg.root}/merges",
      "child BIGINT, parent BIGINT, ingest_batch BIGINT").count() == 0L)
    // the folded signature index still serves later batches: a re-arrival
    // of the X base text lands in cluster 1 (xDoc(3) would NOT — two
    // changed words put it at J ≈ 0.71, below threshold)
    assert(ClusterRegistry.ingestBatch(spark, cfg,
      Seq(11L -> xDoc(0)).toDF("doc_id", "text"), 3L) == 1L)
    assert(resolved(cfg)(11L) == before(1L))
  }

  test("partitioned appends ignore the session overwrite mode (per-write option)") {
    // ADVICE r9: the overwrite mode is set per write, so another pipeline
    // flipping the SESSION conf back to `static` mid-run (the old
    // withDynamicOverwrite restore race) can no longer turn a batch's
    // own-partition overwrite into a whole-table truncation
    val cfg = ClusterRegistry.RegistryConfig("unused", tmpDir(), "unused")
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "static")
      assert(ClusterRegistry.ingestBatch(spark, cfg,
        batch0.toDF("doc_id", "text"), 0L) == 4L)
      assert(ClusterRegistry.ingestBatch(spark, cfg,
        batch1.toDF("doc_id", "text"), 1L) == 4L)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    // batch 0's labels survived batch 1's overwrite-mode write
    assert(spark.read.parquet(s"${cfg.root}/labels").count() == 8L)
  }

  test("a pre-compaction batch id refuses to replay against the folded registry") {
    val cfg = ClusterRegistry.RegistryConfig("unused", tmpDir(), "unused")
    ingestAll(cfg)
    ClusterRegistry.compact(spark, cfg)
    val e = intercept[IllegalArgumentException] {
      ClusterRegistry.ingestBatch(spark, cfg,
        batch2.toDF("doc_id", "text"), 2L)
    }
    assert(e.getMessage.contains("high-water mark"), e.getMessage)
    // no duplicate label rows appeared, and fresh ids above the mark work
    assert(spark.read.parquet(s"${cfg.root}/labels").count() == allDocs.size.toLong)
    assert(ClusterRegistry.ingestBatch(spark, cfg,
      Seq(12L -> xDoc(0)).toDF("doc_id", "text"), 3L) == 1L)
  }

  test("compact audits the index/labels invariant and refuses on orphans") {
    val cfg = ClusterRegistry.RegistryConfig("unused", tmpDir(), "unused")
    ingestAll(cfg)
    // simulate a torn batch that was never replayed: index rows survive,
    // the labels table is gone — the doc would otherwise stay probe-able
    // yet permanently invisible to resolvedLabels/clusterStats
    def rmrf(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(rmrf(_))
      java.nio.file.Files.deleteIfExists(p): Unit
    }
    rmrf(java.nio.file.Paths.get(cfg.root, "labels"))
    val e = intercept[IllegalArgumentException] {
      ClusterRegistry.compact(spark, cfg)
    }
    assert(e.getMessage.contains("no label row"), e.getMessage)
  }

  test("sameCluster answers pair probes from the resolved labels") {
    val cfg = ClusterRegistry.RegistryConfig("unused", tmpDir(), "unused")
    ingestAll(cfg)
    val got = ClusterRegistry.sameCluster(spark, cfg,
      Seq((4L, 8L), (1L, 9L), (1L, 2L), (3L, 3L), (99L, 1L)).toDF("a", "b"))
      .as[(Long, Long, Boolean)].collect().map(t => ((t._1, t._2), t._3)).toMap
    graft.Caching.releaseAll()
    // 4 and 8 were bridged by 10; 1 and 9 share the X cluster; 1 vs 2 are
    // different clusters; 3 is a (self-same) singleton; 99 is unregistered
    assert(got == Map((4L, 8L) -> true, (1L, 9L) -> true, (1L, 2L) -> false,
      (3L, 3L) -> true, (99L, 1L) -> false), got.toString)
  }

  test("probe reports would-be labels and bridges read-only") {
    val cfg = ClusterRegistry.RegistryConfig("unused", tmpDir(), "unused")
    assert(ClusterRegistry.ingestBatch(spark, cfg,
      batch0.toDF("doc_id", "text"), 0L) == 4L)
    assert(ClusterRegistry.ingestBatch(spark, cfg,
      batch1.toDF("doc_id", "text"), 1L) == 4L)
    // what-if for batch2 plus a fresh doc: the x-variant JOINS cluster 1
    // (n_existing 1), the bridge doc would land in cluster 4 having
    // united TWO existing clusters (4 and 8), the fresh doc is its own
    // new cluster (0)
    val got = ClusterRegistry.probe(spark, cfg,
      (batch2 :+ (42L -> (1 to 20).map(i => s"fresh$i").mkString(" ")))
        .toDF("doc_id", "text"))
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    graft.Caching.releaseAll()
    assert(got == Map(9L -> ((1L, 1L)), 10L -> ((4L, 2L)), 42L -> ((42L, 0L))),
      got.toString)
    // a SMALLER-id arrival that joins one existing cluster: it would
    // re-root the cluster to itself (label 0), but n_existing must still
    // read 1 — one touched cluster is a join, not a bridge (counting
    // merge ROWS would have mis-reported this as 1 bridge)
    val got2 = ClusterRegistry.probe(spark, cfg,
      Seq(0L -> xDoc(0)).toDF("doc_id", "text"))
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    graft.Caching.releaseAll()
    assert(got2 == Map(0L -> ((0L, 1L))), got2.toString)
    // read-only: no lock debris, no state change
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(cfg.root, "__ingest.lock")))
    assert(spark.read.parquet(s"${cfg.root}/labels").count() == 8L)
  }

  test("clusterStats, samplingWeights and keepBest serve off the resolved labels") {
    val cfg = ClusterRegistry.RegistryConfig("unused", tmpDir(), "unused")
    ingestAll(cfg)
    // clusters: {1,5,9}, {2,6}, {4,8,10}, singletons {3}, {7}
    val stats = ClusterRegistry.clusterStats(spark, cfg)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(stats == Seq((5L, 10L, 3L, 5L)), stats.toString)
    val weights = ClusterRegistry.samplingWeights(spark, cfg)
      .select("doc_id", "weight").as[(Long, Double)].collect().toMap
    assert(weights(9L) == 1.0 / 3 && weights(6L) == 0.5 && weights(3L) == 1.0,
      weights.toString)
    // keep-best with score = doc_id: newest doc wins each cluster; an
    // unscored doc (7) cannot win, an unlabeled scored doc (99) is its
    // own singleton
    val scored = Seq(1L, 2L, 3L, 4L, 5L, 6L, 8L, 9L, 10L, 99L)
      .map(i => i -> i.toDouble).toDF("doc_id", "score")
    val kept = ClusterRegistry.keepBest(spark, cfg, scored)
      .select("label", "kept_doc").as[(Long, Long)].collect().toMap
    graft.Caching.releaseAll()
    assert(kept == Map(1L -> 9L, 2L -> 6L, 4L -> 10L, 3L -> 3L, 99L -> 99L),
      kept.toString)
  }

  test("soak: 12 batches of mixed arrivals still equal the batch CC") {
    // deterministic mix: each batch carries fresh docs, near-dups of
    // earlier docs (cross-batch pairs), and occasional bridge docs —
    // the incremental labels must track the batch recompute through ALL
    // of it, not just the 3-batch fixture
    val nBatches = 12
    val perBatch = 6
    def doc(id: Long): String = {
      val fam = (id % 4).toInt // 4 interleaved families
      val variant = (id / 8) % 3 // rotate one changed word per family
      (1 to 20).map(i =>
        if (i == 1 + variant) s"v$variant" else s"fam${fam}tok$i").mkString(" ")
    }
    val all = (0L until (nBatches * perBatch).toLong).map(i => i -> doc(i))
    val cfg = ClusterRegistry.RegistryConfig("unused", tmpDir(), "unused")
    all.grouped(perBatch).zipWithIndex.foreach { case (rows, b) =>
      assert(ClusterRegistry.ingestBatch(spark, cfg,
        rows.toDF("doc_id", "text"), b.toLong) == rows.size.toLong)
      graft.Caching.releaseAll()
    }
    val truth = {
      val cc = graft.text.TextOps.connectedComponents(
        graft.text.TextOps.minhashNearDups(all.toDF("doc_id", "text"),
          "doc_id", "text"))
        .as[(Long, Long)].collect().toMap
      graft.Caching.releaseAll()
      all.map { case (id, _) => id -> cc.getOrElse(id, id) }.toMap
    }
    assert(resolved(cfg) == truth)
    // merge-log stays bounded by cluster-merge events, not by docs (this
    // mix grows clusters incrementally — arrivals link straight to the
    // existing root, so the log can legitimately be EMPTY; bridges are
    // pinned by the 3-batch fixture above)
    val nMerges = StateStore.readOrEmptyRO(spark, s"${cfg.root}/merges",
      "child BIGINT, parent BIGINT, ingest_batch BIGINT").count()
    assert(nMerges < all.size.toLong, s"merge log $nMerges rows")
  }

  test("a torn registry (index without labels) refuses the next increment loudly") {
    val cfg = ClusterRegistry.RegistryConfig("unused", tmpDir(), "unused")
    assert(ClusterRegistry.ingestBatch(spark, cfg,
      batch0.toDF("doc_id", "text"), 0L) == 4L)
    // simulate the never-replayed torn write: the signature index rows
    // exist but the labels table is gone
    def rmrf(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(rmrf(_))
      java.nio.file.Files.deleteIfExists(p): Unit
    }
    rmrf(java.nio.file.Paths.get(cfg.root, "labels"))
    val e = intercept[IllegalArgumentException] {
      ClusterRegistry.ingestBatch(spark, cfg,
        batch1.toDF("doc_id", "text"), 1L)
    }
    assert(e.getMessage.contains("torn registry state"), e.getMessage)
  }

  // ---- shared helpers for the materialized-summary pins ---------------
  private def summaryStats(cfg: ClusterRegistry.RegistryConfig): Seq[Long] = {
    val r = ClusterRegistry.clusterStats(spark, cfg).collect().head
    graft.Caching.releaseAll()
    (0 until 4).map(r.getLong)
  }
  private def summaryWeights(
      cfg: ClusterRegistry.RegistryConfig): Map[Long, (Long, Long)] = {
    val r = ClusterRegistry.samplingWeights(spark, cfg)
      .select(col("doc_id"), col("label"), col("cluster_size"))
      .as[(Long, Long, Long)].collect()
      .map { case (d, l, s) => d -> (l, s) }.toMap
    graft.Caching.releaseAll()
    r
  }
  private def fullFromLabels(cfg: ClusterRegistry.RegistryConfig)
      : (Seq[Long], Map[Long, (Long, Long)]) = {
    val lab = ClusterRegistry.resolvedLabels(spark, cfg)
      .as[(Long, Long)].collect()
    graft.Caching.releaseAll()
    val sz = lab.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val s = Seq(sz.size.toLong, sz.values.sum, sz.values.max,
      sz.values.sum - sz.size)
    (s, lab.map { case (d, l) => d -> (l, sz(l)) }.toMap)
  }

  test("materialized summaries: the compacted fixture serves stats and " +
      "weights from summary+delta, bit-equal to the full recompute " +
      "through the cross-compaction bridge merge") {
    val cfg = ClusterRegistry.RegistryConfig("unused", tmpDir(), "unused")
    // batches 0-1 fold with summaries; batch 2 is the DELTA: doc 9 joins
    // the X cluster, doc 10 bridges persisted clusters 4 and 8 (the
    // proven trio — root stays 4, child 8 is a consumed persisted root)
    assert(ClusterRegistry.ingestBatch(spark, cfg,
      batch0.toDF("doc_id", "text"), 0L) == 4L)
    assert(ClusterRegistry.ingestBatch(spark, cfg,
      batch1.toDF("doc_id", "text"), 1L) == 4L)
    ClusterRegistry.compact(spark, cfg)
    assert(new java.io.File(cfg.root, "sizes").exists() &&
      new java.io.File(cfg.root, "stats").exists(),
      "compact must persist the serve summaries")
    val (s0, w0) = fullFromLabels(cfg)
    assert(summaryStats(cfg) == s0, "summary path with zero delta diverged")
    assert(summaryWeights(cfg) == w0)
    assert(ClusterRegistry.ingestBatch(spark, cfg,
      batch2.toDF("doc_id", "text"), 2L) == 2L)
    assert(spark.read.parquet(s"${cfg.root}/merges").count() >= 1L,
      "the delta bridge must have logged a merge")
    val (s1, w1) = fullFromLabels(cfg)
    // sanity against the batch ground truth: same clusters either way
    val truthSizes = batchTruth().groupBy(_._2).view.mapValues(_.size.toLong)
    assert(s1 == Seq(truthSizes.size.toLong, truthSizes.values.sum,
      truthSizes.values.max, truthSizes.values.sum - truthSizes.size),
      s"resolved labels diverged from batch CC: $s1")
    assert(summaryStats(cfg) == s1,
      "summary+delta stats diverged from the recompute")
    assert(summaryWeights(cfg) == w1, "summary+delta weights diverged")
  }

  test("materialized summaries: delta-born clusters, new roots below " +
      "every persisted id, and stale stamps all serve exactly (fabricated " +
      "tables)") {
    val cfg = ClusterRegistry.RegistryConfig("unused", tmpDir(), "unused")
    val fs = new org.apache.hadoop.fs.Path(cfg.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeLabels(batch: Long, rows: Seq[(Long, Long)]): Unit =
      rows.toDF("doc_id", "label").withColumn("ingest_batch", lit(batch))
        .coalesce(1).write.mode("append").partitionBy("ingest_batch")
        .parquet(s"${cfg.root}/labels")
    def writeMerges(batch: Long, rows: Seq[(Long, Long)]): Unit =
      rows.toDF("child", "parent").withColumn("ingest_batch", lit(batch))
        .coalesce(1).write.mode("append").partitionBy("ingest_batch")
        .parquet(s"${cfg.root}/merges")
    def writeLedger(batch: Long): Unit =
      Seq((batch, 0L, 0L, 0L)).toDF("ingest_batch", "n_in", "n_pairs", "n_merges")
        .coalesce(1).write.mode("append").partitionBy("ingest_batch")
        .parquet(s"${cfg.root}/ledger")

    // persisted half: {10,12}, singletons 20, 21, 40, 41, 50, 51, 70 —
    // folded with summaries (nc=8, nd=9, mx=2)
    writeLabels(0L, Seq(10L -> 10L, 12L -> 10L, 20L -> 20L, 40L -> 40L,
      50L -> 50L, 70L -> 70L))
    writeLabels(1L, Seq(21L -> 21L, 41L -> 41L, 51L -> 51L))
    writeLedger(0L); writeLedger(1L)
    StateStore.markCompactionHwm(fs, cfg.root, 1L)
    UnionFindTables.compactLabels(spark, fs, cfg.root)
    assert(summaryStats(cfg) == Seq(8L, 9L, 2L, 1L))

    // delta half — exactly the rows the increment would write:
    //  b2: 22 bridges persisted 20/21 (consumed child 21, max grows to 3);
    //      13 joins {10,12}; 60 is a brand-new singleton
    //  b3: 1 opens a DELTA-BORN singleton cluster
    //  b4: 0 bridges that delta cluster with persisted 70 under the new
    //      root 0 (below every persisted id) — consumed must count 70,
    //      NOT 1; 3 bridges persisted 40/41 under new root 3
    writeLabels(2L, Seq(22L -> 20L, 13L -> 10L, 60L -> 60L))
    writeMerges(2L, Seq(21L -> 20L))
    writeLabels(3L, Seq(1L -> 1L))
    writeLabels(4L, Seq(0L -> 0L, 3L -> 3L))
    writeMerges(4L, Seq(70L -> 0L, 1L -> 0L, 40L -> 3L, 41L -> 3L))
    writeLedger(2L); writeLedger(3L); writeLedger(4L)

    val (s1, w1) = fullFromLabels(cfg)
    assert(s1 == Seq(7L, 15L, 3L, 8L), s"designed truth drifted: $s1")
    assert(summaryStats(cfg) == s1,
      "summary+delta stats diverged from the recompute")
    assert(summaryWeights(cfg) == w1, "summary+delta weights diverged")

    // a later compact that died right after marking the hwm: the summary
    // stamp no longer matches — the serve must FALL BACK, not go stale
    StateStore.markCompactionHwm(fs, cfg.root, 4L)
    assert(summaryStats(cfg) == s1, "stale-stamp fallback diverged")
    assert(summaryWeights(cfg) == w1)

    // the repair (re-run the fold) refreshes the summaries; answers hold
    UnionFindTables.compactLabels(spark, fs, cfg.root)
    assert(summaryStats(cfg) == s1)
    assert(summaryWeights(cfg) == w1)
  }

  test("resolveMerges compresses multi-hop chains by pointer doubling") {
    val merges = Seq((2L, 1L), (3L, 2L), (4L, 3L), (9L, 8L)).toDF("child", "parent")
    val got = UnionFind.resolveMerges(merges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(2L -> 1L, 3L -> 1L, 4L -> 1L, 9L -> 8L), got.toString)
  }

  test("a cap-exceeding 2500-deep merge chain resolves distributed in " +
      "<= ceil(log2(depth)) + 1 rounds; a small log resolves driver-side") {
    // worst case between compactions: every batch bridged the same cluster
    // chain one deeper. Above SmallLogCap the distributed pointer doubling
    // must resolve log-round, not one-hop-per-round (2500 rounds would
    // also trip maxIters = 50).
    val depth = 2500
    assert(depth > UnionFind.SmallLogCap)
    val chain = spark.range(1, depth + 1)
      .select(col("id").as("child"), (col("id") - 1).as("parent"))
    val (resolved, rounds) = UnionFind.resolveMergesWithRounds(chain)
    assert(rounds <= 12 + 1, s"$rounds pointer-doubling rounds for depth $depth")
    val roots = resolved.select("root").distinct().as[Long].collect().toSeq
    assert(roots == Seq(0L), roots.toString)
    // under the cap: the driver path resolves the same fixpoint in zero
    // distributed rounds
    val small = spark.range(1, 513)
      .select(col("id").as("child"), (col("id") - 1).as("parent"))
    val (r2, rounds2) = UnionFind.resolveMergesWithRounds(small)
    assert(rounds2 == 0, s"small log took $rounds2 distributed rounds")
    assert(r2.select("root").distinct().as[Long].collect().toSeq == Seq(0L))
  }
}
