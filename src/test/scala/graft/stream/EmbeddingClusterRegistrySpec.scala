package graft.stream

import graft.SparkSpec
import graft.ml.VectorOps
import graft.text.TextOps
import org.apache.spark.sql.functions._

/** [[EmbeddingClusterRegistry]] — incremental SEMANTIC cluster labels over
  * vectors, the SRP twin of [[ClusterRegistrySpec]]'s contract: the
  * incrementally-maintained labels must equal the batch connected
  * components over the full SRP pair graph, including a late vector that
  * BRIDGES two previously-separate clusters. */
class EmbeddingClusterRegistrySpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-emb-clusters").toString

  // --- fixture: unit-ish vectors in dim 8 ------------------------------
  // A-family: axis 0 (vec 1) and a positive rescale of it (vec 5 — cos 1).
  // B-family: axis 3 (vec 2, 6). C (vec 9) = (e0 + e3)/√2: cos 0.707 to
  // BOTH axes while A·B = 0 — the bridge (axes 0 and 3 chosen because the
  // deterministic SRP hyperplanes band C with both; e.g. axes 0 and 1
  // band C with axis 0 only). Lonely axes 2 and 6 are singletons —
  // orthogonal to everything, cos 0 < 0.4 regardless of banding.
  private def axis(i: Int, scale: Float): Seq[Float] =
    (0 until 8).map(d => if (d == i) scale else 0f)
  private val bridge: Seq[Float] =
    (0 until 8).map(d => if (d == 0 || d == 3) 0.7071f else 0f)

  private val batch0 = Seq(1L -> axis(0, 1f), 2L -> axis(3, 1f), 3L -> axis(2, 1f))
  private val batch1 = Seq(5L -> axis(0, 2.5f), 6L -> axis(3, 0.5f), 7L -> axis(6, 1f))
  private val batch2 = Seq(9L -> bridge)
  private val allVecs = batch0 ++ batch1 ++ batch2

  private def df(rows: Seq[(Long, Seq[Float])]) =
    rows.toDF("vec_id", "embedding")

  private def ingestAll(cfg: EmbeddingClusterRegistry.RegistryConfig): Unit = {
    assert(EmbeddingClusterRegistry.ingestBatch(spark, cfg, df(batch0), 0L) == 3L)
    assert(EmbeddingClusterRegistry.ingestBatch(spark, cfg, df(batch1), 1L) == 3L)
    assert(EmbeddingClusterRegistry.ingestBatch(spark, cfg, df(batch2), 2L) == 1L)
  }

  private def batchTruth(): Map[Long, Long] = {
    val cc = TextOps.connectedComponents(
      VectorOps.srpNearDupPairs(df(allVecs)), "vec_a", "vec_b")
      .as[(Long, Long)].collect().toMap
    graft.Caching.releaseAll()
    allVecs.map { case (id, _) => id -> cc.getOrElse(id, id) }.toMap
  }

  private def resolved(cfg: EmbeddingClusterRegistry.RegistryConfig): Map[Long, Long] = {
    val got = EmbeddingClusterRegistry.resolvedLabels(spark, cfg)
      .as[(Long, Long)].collect().toMap
    graft.Caching.releaseAll()
    got
  }

  test("fixture: the bridge vector pairs with both axis families, the axes not with each other") {
    val pairs = VectorOps.srpNearDupPairs(
      df(Seq(1L -> axis(0, 1f), 2L -> axis(3, 1f), 9L -> bridge)))
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    graft.Caching.releaseAll()
    assert(pairs == Set((1L, 9L), (2L, 9L)), pairs.toString)
  }

  test("incremental labels equal batch CC, including the cross-batch bridge merge") {
    val cfg = EmbeddingClusterRegistry.RegistryConfig("unused", tmpDir(), "unused")
    ingestAll(cfg)
    val truth = batchTruth()
    assert(resolved(cfg) == truth, s"truth=$truth")
    // the bridge united the axis-0 and axis-1 clusters: one merge row,
    // strictly downward
    val merges = spark.read.parquet(s"${cfg.root}/merges")
      .select("child", "parent").as[(Long, Long)].collect().toSet
    assert(merges == Set((2L, 1L)), merges.toString)
  }

  test("probe reports the would-be bridge read-only") {
    val cfg = EmbeddingClusterRegistry.RegistryConfig("unused", tmpDir(), "unused")
    assert(EmbeddingClusterRegistry.ingestBatch(spark, cfg, df(batch0), 0L) == 3L)
    assert(EmbeddingClusterRegistry.ingestBatch(spark, cfg, df(batch1), 1L) == 3L)
    val got = EmbeddingClusterRegistry.probe(spark, cfg, df(batch2))
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    graft.Caching.releaseAll()
    // vec 9 would land in cluster 1, its component touching TWO existing
    // clusters (1 and 2) — a bridge
    assert(got == Map(9L -> ((1L, 2L))), got.toString)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(cfg.root, "__ingest.lock")))
    assert(spark.read.parquet(s"${cfg.root}/labels").count() == 6L)
  }

  test("replay rewrites identical state; compact keeps labels and admits later batches") {
    val cfg = EmbeddingClusterRegistry.RegistryConfig("unused", tmpDir(), "unused")
    ingestAll(cfg)
    val before = resolved(cfg)
    assert(EmbeddingClusterRegistry.ingestBatch(spark, cfg, df(batch2), 2L) == 1L)
    assert(resolved(cfg) == before)
    assert(spark.read.parquet(s"${cfg.root}/labels").count() == allVecs.size.toLong)
    EmbeddingClusterRegistry.compact(spark, cfg)
    assert(resolved(cfg) == before)
    assert(StateStore.readOrEmptyRO(spark, s"${cfg.root}/merges",
      "child BIGINT, parent BIGINT, ingest_batch BIGINT").count() == 0L)
    // a post-compaction arrival of an axis-0 copy joins the merged cluster
    assert(EmbeddingClusterRegistry.ingestBatch(spark, cfg,
      df(Seq(11L -> axis(0, 3f))), 3L) == 1L)
    assert(resolved(cfg)(11L) == before(1L))
    // and sameCluster serves the bridged pair
    val same = EmbeddingClusterRegistry.sameCluster(spark, cfg,
      Seq((1L, 2L), (3L, 7L)).toDF("a", "b"))
      .as[(Long, Long, Boolean)].collect().map(t => ((t._1, t._2), t._3)).toMap
    graft.Caching.releaseAll()
    assert(same == Map((1L, 2L) -> true, (3L, 7L) -> false), same.toString)
  }
}
