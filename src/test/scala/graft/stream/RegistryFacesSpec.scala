package graft.stream

import graft.{SparkCounts, SparkSpec}
import org.apache.spark.sql.DataFrame

/** The face contract both cluster registries share: every face's output
  * columns and types, the batch lock owners, the Spark job budget of one
  * warm ingest batch, and `keepBest` over the kind's own id column (any
  * integral type). Fixtures: the text families of [[ClusterRegistrySpec]]
  * and the axis vectors of [[EmbeddingClusterRegistrySpec]]. */
class RegistryFacesSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-registry-faces").toString

  // text: X family {1, 5}, Y family {2, 6}, singletons 3 and 7
  private def xDoc(change: Int): String =
    (1 to 20).map(i => if (i == change) s"chg$change" else s"xtok$i").mkString(" ")
  private def yDoc(change: Int): String =
    (1 to 20).map(i => if (i == change) s"chg$change" else s"ytok$i").mkString(" ")
  private val docs0 = Seq(1L -> xDoc(0), 2L -> yDoc(0),
    3L -> (1 to 20).map(i => s"lonely$i").mkString(" "))
  private val docs1 = Seq(5L -> xDoc(1), 6L -> yDoc(1),
    7L -> (1 to 20).map(i => s"solo$i").mkString(" "))

  // vectors: axis-0 family {1, 5}, axis-3 family {2, 6}, singletons 3 and 7
  private def axis(i: Int, scale: Float): Seq[Float] =
    (0 until 8).map(d => if (d == i) scale else 0f)
  private val vecs0 = Seq(1L -> axis(0, 1f), 2L -> axis(3, 1f), 3L -> axis(2, 1f))
  private val vecs1 = Seq(5L -> axis(0, 2.5f), 6L -> axis(3, 0.5f), 7L -> axis(6, 1f))

  private def text(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
  private def vecs(rows: Seq[(Long, Seq[Float])]) = rows.toDF("vec_id", "embedding")

  /** A root holding batches 0 and 1, and the Spark jobs of ingesting
    * batch 1 warm (the session and the index already hold batch 0). */
  private lazy val (textCfg, textJobs) = {
    val cfg = ClusterRegistry.RegistryConfig("unused", tmpDir(), "unused")
    ClusterRegistry.ingestBatch(spark, cfg, text(docs0), 0L)
    val (n, counts) = SparkCounts.measure(spark) {
      ClusterRegistry.ingestBatch(spark, cfg, text(docs1), 1L)
    }
    assert(n == 3L)
    (cfg, counts.jobs)
  }
  private lazy val (embCfg, embJobs) = {
    val cfg = EmbeddingClusterRegistry.RegistryConfig("unused", tmpDir(), "unused")
    EmbeddingClusterRegistry.ingestBatch(spark, cfg, vecs(vecs0), 0L)
    val (n, counts) = SparkCounts.measure(spark) {
      EmbeddingClusterRegistry.ingestBatch(spark, cfg, vecs(vecs1), 1L)
    }
    assert(n == 3L)
    (cfg, counts.jobs)
  }

  private def shape(df: DataFrame): Seq[(String, String)] = {
    val s = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq
    graft.Caching.releaseAll()
    s
  }

  test("text registry faces keep their output columns and types") {
    val cfg = textCfg
    val probeBatch = text(Seq(9L -> xDoc(2)))
    assert(shape(ClusterRegistry.resolvedLabels(spark, cfg)) ==
      Seq("doc_id" -> "bigint", "label" -> "bigint"))
    assert(shape(ClusterRegistry.samplingWeights(spark, cfg)) ==
      Seq("doc_id" -> "bigint", "label" -> "bigint",
        "cluster_size" -> "bigint", "weight" -> "double"))
    assert(shape(ClusterRegistry.clusterStats(spark, cfg)) ==
      Seq("n_clusters" -> "bigint", "n_docs" -> "bigint",
        "max_cluster" -> "bigint", "n_dups" -> "bigint"))
    assert(shape(ClusterRegistry.probe(spark, cfg, probeBatch)) ==
      Seq("doc_id" -> "bigint", "label" -> "bigint", "n_existing" -> "bigint"))
    assert(shape(ClusterRegistry.probePairs(spark, cfg, probeBatch)) ==
      Seq("doc_a" -> "bigint", "doc_b" -> "bigint", "jaccard" -> "double"))
    assert(shape(ClusterRegistry.keepBest(spark, cfg,
        Seq(1L -> 0.5, 5L -> 0.9).toDF("doc_id", "score"))) ==
      Seq("label" -> "bigint", "kept_doc" -> "bigint", "score" -> "double"))
  }

  test("embedding registry faces keep their output columns and types") {
    val cfg = embCfg
    val probeBatch = vecs(Seq(9L -> axis(0, 3f)))
    assert(shape(EmbeddingClusterRegistry.resolvedLabels(spark, cfg)) ==
      Seq("vec_id" -> "bigint", "label" -> "bigint"))
    assert(shape(EmbeddingClusterRegistry.samplingWeights(spark, cfg)) ==
      Seq("vec_id" -> "bigint", "label" -> "bigint",
        "cluster_size" -> "bigint", "weight" -> "double"))
    assert(shape(EmbeddingClusterRegistry.clusterStats(spark, cfg)) ==
      Seq("n_clusters" -> "bigint", "n_docs" -> "bigint",
        "max_cluster" -> "bigint", "n_dups" -> "bigint"))
    assert(shape(EmbeddingClusterRegistry.probe(spark, cfg, probeBatch)) ==
      Seq("vec_id" -> "bigint", "label" -> "bigint", "n_existing" -> "bigint"))
    assert(shape(EmbeddingClusterRegistry.probePairs(spark, cfg, probeBatch)) ==
      Seq("vec_a" -> "bigint", "vec_b" -> "bigint", "cos" -> "double"))
  }

  test("embedding samplingWeights weight every vector by 1/|cluster|") {
    val got = EmbeddingClusterRegistry.samplingWeights(spark, embCfg)
      .select("vec_id", "cluster_size", "weight")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    graft.Caching.releaseAll()
    assert(got == Map(1L -> (2L, 0.5), 5L -> (2L, 0.5), 2L -> (2L, 0.5),
      6L -> (2L, 0.5), 3L -> (1L, 1.0), 7L -> (1L, 1.0)), got.toString)
  }

  test("batch lock owners are cluster-batch and emb-cluster-batch") {
    assert(ClusterRegistry.batchLockOwner(
      ClusterRegistry.RegistryConfig("d", "r", "/ckpt"), 7L) ==
      "cluster-batch-7@/ckpt")
    assert(EmbeddingClusterRegistry.batchLockOwner(
      EmbeddingClusterRegistry.RegistryConfig("v", "r", "/ckpt"), 7L) ==
      "emb-cluster-batch-7@/ckpt")
  }

  test("one warm ingest batch stays within its Spark job budget, per kind") {
    info(s"warm ingest: text $textJobs jobs, embedding $embJobs jobs")
    // measured before the two registries shared one implementation: 53 to
    // 54 jobs (text) and 53 to 55 (embedding) per batch. The spread sits in
    // one SQL execution whose job count depends on how its cache builds
    // race, so each bound is the maximum seen there.
    assert(textJobs <= 54L, s"text ingest ran $textJobs jobs")
    assert(embJobs <= 55L, s"embedding ingest ran $embJobs jobs")
  }

  test("text keepBest takes an INT id column and answers as with BIGINT ids") {
    val scores = Seq(1 -> 0.5, 5 -> 0.9, 2 -> 0.7, 6 -> 0.7, 3 -> 0.1, 7 -> 0.2)
    def kept(df: DataFrame) = {
      val r = ClusterRegistry.keepBest(spark, textCfg, df)
        .select("kept_doc", "score").as[(Long, Double)].collect().toSet
      graft.Caching.releaseAll()
      r
    }
    val asInt = kept(scores.toDF("doc_id", "score"))
    assert(asInt == Set(5L -> 0.9, 2L -> 0.7, 3L -> 0.1, 7L -> 0.2), asInt.toString)
    assert(asInt == kept(scores.map { case (i, s) => i.toLong -> s }.toDF("doc_id", "score")))
  }

  test("embedding keepBest reads the vec_id column its other faces speak") {
    val got = EmbeddingClusterRegistry.keepBest(spark, embCfg,
        Seq(1L -> 0.5, 5L -> 0.9, 2L -> 0.7, 6L -> 0.7, 3L -> 0.1, 7L -> 0.2)
          .toDF("vec_id", "score"))
      .select("kept_doc", "score").as[(Long, Double)].collect().toSet
    graft.Caching.releaseAll()
    assert(got == Set(5L -> 0.9, 2L -> 0.7, 3L -> 0.1, 7L -> 0.2), got.toString)
  }
}
