package graft.stream

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/**
 * The frozen-codebook maintenance loop: a corpus that drifts from the seed
 * distribution degrades the IVF layer (newcomers sit far from every seed
 * centroid and their bucket assignment stops tracking their true-neighbor
 * structure, so nprobe pruning loses recall). [[EmbeddingIngest.driftReport]]
 * must SURFACE that state, and [[EmbeddingIngest.recluster]] must repair it —
 * restoring the 0.80 recall floor AnnRecallFloorSpec pins for the batch IVF
 * family.
 *
 * Fixture geometry (dim 8, dedup disabled via threshold > 1 so the IVF layer
 * is isolated from near-dup rejection):
 *  - seed batch: 120 vectors on axes 0..2 (`10·b(i%3)` + a small axis-3
 *    spread so rows are distinct); centroid-eligible ids (0,25,50,75,100)
 *    cover all three seed directions;
 *  - drift batch: 60 vectors on NEW axes 4..6 (`10·b(4+i%3)`), each with a
 *    0.7-weight seed-axis component chosen by `(i/3)%3` — deliberately
 *    UNCORRELATED with the big axis. Under the frozen codebook the tiny
 *    seed-axis component is all that decides the bucket, so a drifted
 *    vector's bucket says nothing about its true neighbors (same big axis)
 *    — the recall-rotting failure mode of a stale codebook;
 *  - after recluster, drift ids 200/225/250 become centroids (one per new
 *    axis), every drifted vector re-buckets with its true-neighbor group,
 *    and recall recovers.
 */
class IvfReclusterSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-ivf-recluster").toString

  private val dim = 8

  private def vec(parts: (Int, Double)*): Seq[Float] = {
    val a = Array.fill(dim)(0f)
    parts.foreach { case (i, v) => a(i) = v.toFloat }
    a.toSeq
  }

  private def seedVec(i: Int): Seq[Float] =
    vec(i % 3 -> 10.0, 3 -> (0.5 + 0.001 * i))

  private def driftVec(i: Int): Seq[Float] =
    vec(4 + i % 3 -> 10.0, (i / 3) % 3 -> 0.7)

  private val seedRows = (0 until 120).map(i => i.toLong -> seedVec(i))
  private val driftRows = (200 until 260).map(i => i.toLong -> driftVec(i))

  private def df(rows: Seq[(Long, Seq[Float])]): DataFrame =
    rows.toDF("vec_id", "embedding")

  /** Driver-side exact truth: top-10 by (cosine desc, vec_id asc) over the
    * full ingested corpus — the same strict left-fold dot products as the
    * engine, on a 180-vector fixture. */
  private def truthTop10(corpus: Seq[(Long, Seq[Float])],
      probeIds: Seq[Long]): Map[Long, Set[Long]] = {
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    val d = corpus.map { case (id, e) => id -> e.map(_.toDouble) }
    def cos(a: Seq[Double], b: Seq[Double]) =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    probeIds.map { p =>
      val pe = d.find(_._1 == p).get._2
      p -> d.filter(_._1 != p)
        .map { case (id, e) => (id, cos(pe, e)) }
        .sortBy { case (id, c) => (-c, id) }
        .take(10).map(_._1).toSet
    }.toMap
  }

  private def recallOf(results: DataFrame, truth: Map[Long, Set[Long]]): Double = {
    val got = results.select($"probe_id", $"neighbor_id")
      .as[(Long, Long)].collect()
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).toSet }
    val matched = truth.map { case (p, t) =>
      (t intersect got.getOrElse(p, Set.empty)).size }.sum
    matched.toDouble / truth.values.map(_.size).sum
  }

  test("drifted ingest trips the report; recluster restores balance and the recall floor") {
    val root = tmpDir()
    // threshold > 1: cosine can never reject, so clustered fixtures survive
    val cfg = EmbeddingIngest.IngestConfig("unused", root, "ckpt-R",
      threshold = 2.0)
    assert(EmbeddingIngest.ingestBatch(spark, cfg, df(seedRows), 0L) == 120L)
    assert(EmbeddingIngest.ingestBatch(spark, cfg, df(driftRows), 1L) == 60L)

    val probeIds = driftRows.map(_._1).filter(_ % 10 == 1)
    val probes = df(driftRows.filter(r => probeIds.contains(r._1)))
    val truth = truthTop10(seedRows ++ driftRows, probeIds)

    val pre = EmbeddingIngest.driftReport(spark, cfg)
      .select($"centroid_id", $"n_vecs", $"skew", $"mean_cos")
      .as[(Long, Long, Double, Double)].collect()
    info(s"pre-recluster buckets: ${pre.sortBy(_._1).mkString(", ")}")
    // the drift signal: buckets whose members barely cohere with their
    // centroid (the newcomers' 0.07 assignment cosine drags the mean down)
    assert(pre.map(_._4).min < 0.8,
      s"drifted corpus must trip the mean_cos gauge: ${pre.toSeq}")

    val preRecall = recallOf(EmbeddingIngest.search(spark, cfg, probes), truth)
    info(s"pre-recluster recall: $preRecall")
    assert(preRecall < 0.8,
      s"drifted codebook should sit below the 0.80 floor, got $preRecall")

    // the PQ gauge must trip too: seed-frozen codewords have ~zero energy
    // on the drift axes, so the drifted vectors' reconstruction error in
    // the affected subspaces is ~|10-component|² = 100 — far above the
    // seed corpus's error
    val prePq = EmbeddingIngest.pqDriftReport(spark, cfg)
      .select($"j", $"mean_d2").as[(Long, Double)].collect()
    info(s"pre-recluster pq error: ${prePq.sortBy(_._1).mkString(", ")}")
    assert(prePq.map(_._2).max > 10.0,
      s"drifted corpus must trip the PQ reconstruction gauge: ${prePq.toSeq}")

    EmbeddingIngest.recluster(spark, cfg)

    val post = EmbeddingIngest.driftReport(spark, cfg)
      .select($"centroid_id", $"n_vecs", $"skew", $"mean_cos")
      .as[(Long, Long, Double, Double)].collect()
    info(s"post-recluster buckets: ${post.sortBy(_._1).mkString(", ")}")
    assert(post.map(_._4).min > 0.9,
      s"recluster must restore assignment coherence: ${post.toSeq}")
    // new-axis ids are centroid-eligible now — the codebook covers the drift
    assert(post.map(_._1).toSet.intersect(Set(200L, 225L, 250L)).nonEmpty,
      s"reclustered codebook must include drifted centroids: ${post.toSeq}")

    val postRecall = recallOf(EmbeddingIngest.search(spark, cfg, probes), truth)
    info(s"post-recluster recall: $postRecall")
    assert(postRecall >= 0.8,
      s"recluster must restore the 0.80 recall floor, got $postRecall")

    // the PQ repair: retrained codewords + backfilled codes describe the
    // drifted corpus again — reconstruction error collapses, and the
    // IVF-PQ serving path meets the same 0.80 floor the batch family pins
    val postPq = EmbeddingIngest.pqDriftReport(spark, cfg)
      .select($"j", $"mean_d2").as[(Long, Double)].collect()
    info(s"post-recluster pq error: ${postPq.sortBy(_._1).mkString(", ")}")
    assert(postPq.map(_._2).max < prePq.map(_._2).max / 2,
      s"recluster must repair the PQ reconstruction error: pre ${prePq.toSeq} " +
        s"post ${postPq.toSeq}")
    val postPqRecall = recallOf(
      EmbeddingIngest.searchPq(spark, cfg, probes), truth)
    info(s"post-recluster pq recall: $postPqRecall")
    assert(postPqRecall >= 0.8,
      s"recluster must restore the PQ-path 0.80 recall floor, got $postPqRecall")

    // the reclustered layout stays ingest-compatible: a later batch appends
    // its own partition and is immediately searchable
    assert(EmbeddingIngest.ingestBatch(spark, cfg,
      df(Seq(300L -> vec(7 -> 10.0))), 2L) == 1L)
    val ivf = spark.read.parquet(EmbeddingIngest.ivfPath(cfg))
    assert(ivf.filter($"vec_id" === 300L).count() == 1L)
    assert(ivf.select($"ingest_batch").distinct().as[Long].collect().toSet
      == Set(-1L, 2L))
    // the PQ code table followed the same recluster + append lifecycle
    val pq = spark.read.parquet(EmbeddingIngest.pqPath(cfg))
    assert(pq.filter($"vec_id" === 300L).count() == cfg.pqM.toLong)
    assert(pq.select($"epoch").distinct().as[Long].collect().toSet
      == Set(EmbeddingIngest.ReclusterStamp))
  }

  test("a PQ epoch tear (codebooks swapped, codes not) refuses loudly; recluster repairs") {
    val root = tmpDir()
    val cfg = EmbeddingIngest.IngestConfig("unused", root, "ckpt-R4",
      threshold = 2.0)
    assert(EmbeddingIngest.ingestBatch(spark, cfg, df(seedRows), 0L) == 120L)
    EmbeddingIngest.recluster(spark, cfg) // coherent PQ generation at −2
    // simulate a second recluster dying between the pqcb and pq swaps
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val torn = spark.read.parquet(EmbeddingIngest.pqCodebooksPath(cfg))
      .withColumn("frozen_batch", org.apache.spark.sql.functions.lit(-3L))
      .localCheckpoint()
    StateStore.swap(fs, EmbeddingIngest.pqCodebooksPath(cfg), torn)
    val probes = df(seedRows.take(3))
    val e1 = intercept[IllegalStateException] {
      EmbeddingIngest.searchPq(spark, cfg, probes) }
    assert(e1.getMessage.contains("torn"), e1.getMessage)
    intercept[IllegalStateException] { EmbeddingIngest.pqDriftReport(spark, cfg) }
    intercept[IllegalStateException] {
      EmbeddingIngest.ingestBatch(spark, cfg,
        df(Seq(300L -> vec(7 -> 10.0))), 2L) }
    // the flat-IVF faces read no PQ table and stay serviceable
    assert(EmbeddingIngest.search(spark, cfg, probes).count() > 0)
    // repair: one recluster rewrites both PQ tables coherently
    EmbeddingIngest.recluster(spark, cfg)
    assert(EmbeddingIngest.searchPq(spark, cfg, probes).count() > 0)
    assert(EmbeddingIngest.ingestBatch(spark, cfg,
      df(Seq(300L -> vec(7 -> 10.0))), 2L) == 1L)
  }

  test("an epoch tear (codebook swapped, assignments not) fails every face loudly; recluster repairs") {
    val root = tmpDir()
    val cfg = EmbeddingIngest.IngestConfig("unused", root, "ckpt-R3",
      threshold = 2.0)
    assert(EmbeddingIngest.ingestBatch(spark, cfg, df(seedRows), 0L) == 120L)
    EmbeddingIngest.recluster(spark, cfg) // coherent generation at −2
    // simulate a SECOND recluster dying between its two swaps: the next
    // generation's codebook (epoch −3) is published, assignments still
    // carry −2 — the live-reader window ADVICE r8 flagged: without the
    // epoch gate, search joins new centroids against assignments whose
    // centroid_ids mostly no longer exist and recall collapses silently
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val torn = spark.read.parquet(EmbeddingIngest.centroidsPath(cfg))
      .withColumn("frozen_batch", org.apache.spark.sql.functions.lit(-3L))
      .localCheckpoint()
    StateStore.swap(fs, EmbeddingIngest.centroidsPath(cfg), torn)
    val probes = df(seedRows.take(3))
    val e1 = intercept[IllegalStateException] {
      EmbeddingIngest.search(spark, cfg, probes) }
    assert(e1.getMessage.contains("torn"), e1.getMessage)
    intercept[IllegalStateException] { EmbeddingIngest.searchPq(spark, cfg, probes) }
    intercept[IllegalStateException] { EmbeddingIngest.driftReport(spark, cfg) }
    // an ingest append against the torn index must refuse, not compound it
    intercept[IllegalStateException] {
      EmbeddingIngest.ingestBatch(spark, cfg,
        df(Seq(300L -> vec(7 -> 10.0))), 2L) }
    // the repair contract: one recluster rewrites BOTH tables coherently
    EmbeddingIngest.recluster(spark, cfg)
    assert(EmbeddingIngest.search(spark, cfg, probes).count() > 0)
    assert(EmbeddingIngest.ingestBatch(spark, cfg,
      df(Seq(300L -> vec(7 -> 10.0))), 2L) == 1L)
    assert(EmbeddingIngest.search(spark, cfg,
      df(Seq(301L -> vec(7 -> 9.0)))).count() > 0)
  }

  test("a crash between the two recluster swaps replays clean") {
    val root = tmpDir()
    val cfg = EmbeddingIngest.IngestConfig("unused", root, "ckpt-R2",
      threshold = 2.0)
    assert(EmbeddingIngest.ingestBatch(spark, cfg, df(seedRows), 0L) == 120L)
    EmbeddingIngest.recluster(spark, cfg)
    val cents = spark.read.parquet(EmbeddingIngest.centroidsPath(cfg))
    assert(cents.select($"frozen_batch").distinct().as[Long].collect().toSeq
      == Seq(EmbeddingIngest.ReclusterStamp))
    // simulate the crash window: centroids swapped, assignments stranded at
    // .__old (the state a death between the two swaps leaves behind)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ivf = new org.apache.hadoop.fs.Path(EmbeddingIngest.ivfPath(cfg))
    val old = new org.apache.hadoop.fs.Path(EmbeddingIngest.ivfPath(cfg) + ".__old")
    require(fs.rename(ivf, old))
    // the replay contract: re-running recluster recovers and rewrites both
    EmbeddingIngest.recluster(spark, cfg)
    val assigns = spark.read.parquet(EmbeddingIngest.ivfPath(cfg))
    assert(assigns.count() == 120L)
    assert(assigns.select($"ingest_batch").distinct().as[Long].collect().toSeq
      == Seq(-1L))
  }
}
