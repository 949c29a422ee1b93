package graft.stream

import graft.SparkSpec
import graft.text.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * End-to-end crash-replay SOAK across the three stateful roots (VERDICT
 * r10 item 7): the hwm fences, stranded-swap rollbacks, epoch tears, and
 * at-least-once replays are each spec-pinned in isolation elsewhere —
 * this spec interleaves them against a text cluster registry, an
 * embedding cluster registry, and an embedding ingest root in a
 * seed-randomized order and asserts the standing contract at every step:
 * EVERY read face either serves the oracle answer (the batch-recompute
 * truth for text labels, pre-perturbation stability elsewhere) or
 * refuses loudly — never a silently wrong result.
 *
 * Crash states are manufactured exactly as the real failures leave them:
 * a swap that died between its renames strands `<dir>.__old`; a compact
 * that died after its marker leaves the hwm with unfolded partitions; a
 * recluster that died between its two swaps leaves a new-epoch codebook
 * over old-epoch assignments. Repairs are the documented contracts:
 * re-run the maintenance pass, or advance the checkpoint past the mark.
 */
class CrashReplaySoakSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-soak").toString

  private def fsOf(root: String) = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Manufacture a swap stranded between its two renames. */
  private def strand(root: String, dir: String): Unit = {
    val fs = fsOf(root)
    val p = new org.apache.hadoop.fs.Path(dir)
    if (fs.exists(p))
      assert(fs.rename(p, new org.apache.hadoop.fs.Path(dir + ".__old")))
  }

  /** Deterministic 40-word docs; every `dupEvery`-th doc re-uses the text
    * seed of (id − dupBack) plus one extra word — J ≈ 40/41, a near-dup
    * of the batch-0 original. */
  private def docs(from: Long, n: Long, dupEvery: Int, dupBack: Long): DataFrame = {
    val seeded = spark.range(from, from + n).select(col("id").as("doc_id"),
      (if (dupEvery > 0)
        when(pmod(col("id"), lit(dupEvery)) === 0, col("id") - dupBack)
          .otherwise(col("id"))
      else col("id")).as("seed"))
    seeded.select(col("doc_id"), concat(
      expr("""array_join(transform(sequence(0, 39),
             |  i -> concat('w', pmod(hash(seed * 40 + i), 5000))), ' ')""".stripMargin),
      if (dupEvery > 0)
        when(pmod(col("doc_id"), lit(dupEvery)) === 0, lit(" extrachg"))
          .otherwise(lit(""))
      else lit("")).as("text"))
  }

  /** The merge-exercising trio (the ClusterRegistrySpec bridge family):
    * A and B are not pairs of each other, C pairs with both — C's arrival
    * must MERGE the clusters rooted at A and B. */
  private def bridgeDoc(changed: Int): String =
    (1 to 100).map(i => if (i <= changed) s"u$i" else s"bt$i").mkString(" ")

  /** Deterministic dim-8 vectors; every `dupEvery`-th id is an exact copy
    * of (id − dupBack) — cos 1.0, a certain SRP near-dup. */
  private def vecs(from: Long, n: Long, dupEvery: Int, dupBack: Long): DataFrame =
    spark.range(from, from + n).select(col("id").as("vec_id"),
      (if (dupEvery > 0)
        when(pmod(col("id"), lit(dupEvery)) === 0, col("id") - dupBack)
          .otherwise(col("id"))
      else col("id")).as("seed"))
      .withColumn("embedding", expr(
        """transform(sequence(0, 7),
          |  j -> cast((pmod(hash(seed * 8 + j), 2001) - 1000) / 1000.0
          |            as float))""".stripMargin))
      .drop("seed")

  private def textBatch(b: Int): DataFrame =
    docs(b * 40L, 40L, if (b == 0) 0 else 10, b * 40L)
      .unionByName(Seq(
        (1000L + b) -> bridgeDoc(Seq(0, 16, 8)(math.min(b, 2)))
      ).toDF("doc_id", "text"))

  private def vecBatch(b: Int): DataFrame =
    vecs(b * 60L, 60L, if (b == 0) 0 else 10, b * 60L)

  /** Batch-recompute truth for the text registry over `upTo` batches. */
  private def textTruth(upTo: Int): Map[Long, Long] = {
    val all = (0 until upTo).map(textBatch).reduce(_ unionByName _)
    val cc = TextOps.connectedComponents(
      TextOps.minhashNearDups(all, "doc_id", "text"))
      .as[(Long, Long)].collect().toMap
    val ids = all.select("doc_id").as[Long].collect()
    graft.Caching.releaseAll()
    ids.map(id => id -> cc.getOrElse(id, id)).toMap
  }

  private def resolvedT(cfg: ClusterRegistry.RegistryConfig): Map[Long, Long] = {
    val got = ClusterRegistry.resolvedLabels(spark, cfg)
      .as[(Long, Long)].collect().toMap
    graft.Caching.releaseAll()
    got
  }

  private def resolvedE(cfg: EmbeddingClusterRegistry.RegistryConfig): Map[Long, Long] = {
    val got = EmbeddingClusterRegistry.resolvedLabels(spark, cfg)
      .as[(Long, Long)].collect().toMap
    graft.Caching.releaseAll()
    got
  }

  /** (n_clusters, n_docs, max_cluster, n_dups) from a label map — the
    * independent truth the stats-delta serve must match at every step. */
  private def statsOf(m: Map[Long, Long]): Seq[Long] = {
    val sz = m.groupBy(_._2).map(_._2.size.toLong).toSeq
    Seq(sz.size.toLong, sz.sum, sz.max, sz.map(_ - 1L).sum)
  }

  private def statsT(cfg: ClusterRegistry.RegistryConfig): Seq[Long] = {
    val r = ClusterRegistry.clusterStats(spark, cfg).collect().head
    graft.Caching.releaseAll()
    (0 until 4).map(r.getLong)
  }

  private def statsE(cfg: EmbeddingClusterRegistry.RegistryConfig): Seq[Long] = {
    val r = EmbeddingClusterRegistry.clusterStats(spark, cfg).collect().head
    graft.Caching.releaseAll()
    (0 until 4).map(r.getLong)
  }

  for (seed <- Seq(11, 42, 77))
    test("interleaved crashes, replays, and repairs keep every face " +
        s"oracle-true or loudly refusing (seed $seed)") {
      val rnd = new scala.util.Random(seed)
      val cfgT = ClusterRegistry.RegistryConfig("unused", tmpDir(), "unused")
      val cfgE = EmbeddingClusterRegistry.RegistryConfig("unused", tmpDir(), "unused")
      val cfgV = EmbeddingIngest.IngestConfig("unused", tmpDir(),
        s"soak-$seed", centroidMod = 5)
      // the lexical root of the ACL-filtered hybrid face (r11 item 7):
      // perturbed alongside the other three, served at every step
      val cfgB = CorpusIngest.IngestConfig("unused", tmpDir(), s"soakb-$seed")
      val probes = vecs(0L, 180L, 0, 0L)
        .filter(pmod(col("vec_id"), lit(45)) === 0)
      def search(): Seq[(Long, Long, Int)] = {
        val got = EmbeddingIngest.search(spark, cfgV, probes)
          .as[(Long, Long, Int)].collect().toSeq.sorted
        graft.Caching.releaseAll()
        got
      }
      // ACL-filtered hybrid over BOTH persisted roots: ids ≡ 0 (mod 3)
      // allowed; the invariant asserted on every serve — a disallowed doc
      // never surfaces through either leg, whatever the crash state
      val allowed = spark.range(0L, 2000L)
        .filter(pmod(col("id"), lit(3)) === 0).select(col("id").as("doc_id"))
        .localCheckpoint()
      def hybrid(): Seq[(Long, Long)] = {
        val got = HybridServe.search(spark, cfgB, cfgV,
            Seq("w1", "w7", "w42"), probes, allowed = Some(allowed))
          .select(col("probe_id"), col("doc_id"))
          .as[(Long, Long)].collect().toSeq.sorted
        graft.Caching.releaseAll()
        assert(got.forall(_._2 % 3 == 0),
          "a disallowed doc surfaced through the filtered hybrid serve")
        got
      }

      // --- 3 interleaved batches into the four roots, order shuffled ---
      (0 until 3).foreach { b =>
        rnd.shuffle(Seq[() => Unit](
          () => { ClusterRegistry.ingestBatch(spark, cfgT, textBatch(b), b.toLong): Unit },
          () => { EmbeddingClusterRegistry.ingestBatch(spark, cfgE, vecBatch(b), b.toLong): Unit },
          () => { EmbeddingIngest.ingestBatch(spark, cfgV, vecBatch(b), b.toLong): Unit },
          () => { CorpusIngest.ingestBatch(spark, cfgB, textBatch(b), b.toLong): Unit }
        )).foreach(_())
      }
      val truth3 = textTruth(3)
      assert(resolvedT(cfgT) == truth3, "text labels diverged from batch CC")
      // the bridge family must have produced a real merge row
      assert(spark.read.parquet(s"${cfgT.root}/merges").count() >= 1L)
      // stats-delta face, pre-compact (no summary yet: full-recompute
      // path) — must equal the independent truth
      assert(statsT(cfgT) == statsOf(truth3),
        "pre-compact text cluster stats diverged from the batch truth")
      val labE0 = resolvedE(cfgE)
      assert(statsE(cfgE) == statsOf(labE0),
        "pre-compact embedding cluster stats diverged from the labels")
      val s0 = search()
      assert(s0.nonEmpty)
      val h0 = hybrid()
      assert(h0.nonEmpty, "the filtered hybrid serve returned nothing")

      // --- stranded swaps (a compact died between its renames): faces ---
      // read THROUGH the tombstone, the next maintenance pass rolls back
      val strandable = rnd.shuffle(Seq(
        cfgT.root -> UnionFindTables.labelsPath(cfgT.root),
        cfgT.root -> UnionFindTables.mergesPath(cfgT.root),
        cfgE.root -> UnionFindTables.labelsPath(cfgE.root),
        cfgB.corpusRoot -> s"${cfgB.corpusRoot}/postings"))
      strandable.take(1 + rnd.nextInt(strandable.size))
        .foreach { case (r, d) => strand(r, d) }
      assert(resolvedT(cfgT) == truth3, "stranded swap broke the text serve")
      assert(resolvedE(cfgE) == labE0, "stranded swap broke the embedding-registry serve")
      assert(statsT(cfgT) == statsOf(truth3),
        "stranded swap broke the text stats serve")
      assert(statsE(cfgE) == statsOf(labE0),
        "stranded swap broke the embedding stats serve")
      assert(hybrid() == h0, "stranded swap changed the filtered hybrid serve")
      // cfgB's stranded postings stay stranded here on purpose: the
      // hybrid must serve THROUGH the tombstone until the later
      // killed-compact step repairs the root
      ClusterRegistry.compact(spark, cfgT)
      EmbeddingClusterRegistry.compact(spark, cfgE)
      assert(resolvedT(cfgT) == truth3, "compact-after-strand changed the labels")
      assert(resolvedE(cfgE) == labE0)
      // post-compact: the stats face now serves the materialized summary
      // (empty delta) — same numbers, different plan
      assert(statsT(cfgT) == statsOf(truth3),
        "the post-compact summary stats diverged from the batch truth")
      assert(statsE(cfgE) == statsOf(labE0),
        "the post-compact embedding summary stats diverged")
      assert(hybrid() == h0, "compact changed the filtered hybrid serve")

      // --- killed compact on the embedding ingest root: the hwm marker ---
      // landed, the fold did not. Pre-hwm replays refuse loudly; the rows
      // are intact either way; re-running compact is the repair.
      StateStore.markCompactionHwm(fsOf(cfgV.corpusRoot), cfgV.corpusRoot, 2L)
      val staleId = rnd.nextInt(3).toLong
      intercept[IllegalArgumentException] {
        EmbeddingIngest.ingestBatch(spark, cfgV, vecBatch(staleId.toInt), staleId)
      }
      assert(search() == s0, "killed compact changed the serve answer")
      assert(hybrid() == h0, "killed compact changed the filtered hybrid")
      EmbeddingIngest.compact(spark, cfgV)
      assert(search() == s0, "compact repair changed the serve answer")
      // killed compact on the LEXICAL root: hwm landed, fold did not —
      // pre-hwm replays refuse, the filtered hybrid keeps serving truth
      StateStore.markCompactionHwm(fsOf(cfgB.corpusRoot), cfgB.corpusRoot, 2L)
      intercept[IllegalArgumentException] {
        CorpusIngest.ingestBatch(spark, cfgB, textBatch(staleId.toInt), staleId)
      }
      assert(hybrid() == h0, "a killed lexical compact changed the hybrid")
      CorpusIngest.compact(spark, cfgB)
      assert(hybrid() == h0, "the lexical compact repair changed the hybrid")

      // --- stream restart from an older checkpoint: a pre-hwm text batch
      // refuses; an above-hwm batch replays byte-identically
      intercept[IllegalArgumentException] {
        ClusterRegistry.ingestBatch(spark, cfgT, textBatch(2), 2L)
      }
      ClusterRegistry.ingestBatch(spark, cfgT, textBatch(3), 3L)
      ClusterRegistry.ingestBatch(spark, cfgT, textBatch(3), 3L) // replay
      val truth4 = textTruth(4)
      assert(resolvedT(cfgT) == truth4,
        "an at-least-once text replay diverged from the batch CC")
      // THE delta case (r11 item 7): summary persisted at the compact,
      // batch 3 (and its replay) is post-fold delta — the stats serve
      // adjusts the materialized row and must land on the batch truth
      assert(statsT(cfgT) == statsOf(truth4),
        "the summary+delta stats serve diverged from the batch truth")
      EmbeddingClusterRegistry.ingestBatch(spark, cfgE, vecBatch(3), 3L)
      EmbeddingClusterRegistry.ingestBatch(spark, cfgE, vecBatch(3), 3L) // replay
      val labE1 = resolvedE(cfgE)
      assert(statsE(cfgE) == statsOf(labE1),
        "the embedding summary+delta stats serve diverged")
      // stranded summary swap (a compact died mid-rename of sizes/stats):
      // the stats face reads through the tombstone, never stale numbers
      strand(cfgT.root, s"${cfgT.root}/sizes")
      strand(cfgT.root, s"${cfgT.root}/stats")
      assert(statsT(cfgT) == statsOf(truth4),
        "a stranded summary swap broke the stats serve")
      ClusterRegistry.compact(spark, cfgT)
      assert(statsT(cfgT) == statsOf(truth4),
        "the summary-swap repair changed the stats")
      EmbeddingIngest.ingestBatch(spark, cfgV, vecBatch(3), 3L)
      CorpusIngest.ingestBatch(spark, cfgB, textBatch(3), 3L)
      val s1 = search()
      val h1 = hybrid()
      EmbeddingIngest.ingestBatch(spark, cfgV, vecBatch(3), 3L) // replay
      CorpusIngest.ingestBatch(spark, cfgB, textBatch(3), 3L) // replay
      assert(search() == s1, "an at-least-once embedding replay changed the serve")
      assert(hybrid() == h1, "an at-least-once replay changed the hybrid serve")

      // --- killed recluster: codebook swapped under a new epoch, the ---
      // assignments not — every face must refuse (never serve silently-
      // empty candidates), and re-running recluster is the repair
      val fsV = fsOf(cfgV.corpusRoot)
      val torn = spark.read.parquet(EmbeddingIngest.centroidsPath(cfgV))
        .select(col("centroid_id"), col("ce"), col("cn"),
          lit(-5L).as("frozen_batch"))
        .localCheckpoint()
      StateStore.swap(fsV, EmbeddingIngest.centroidsPath(cfgV), torn)
      intercept[IllegalStateException] { search() }
      // the filtered hybrid rides the torn semantic leg: it must REFUSE,
      // never silently serve lexical-only results as if they were fused
      intercept[IllegalStateException] { hybrid() }
      intercept[IllegalStateException] {
        EmbeddingIngest.ingestBatch(spark, cfgV, vecBatch(4), 4L)
      }
      EmbeddingIngest.recluster(spark, cfgV)
      val s2 = search()
      assert(s2.nonEmpty, "post-recluster serve returned nothing")
      val h2 = hybrid()
      assert(h2.nonEmpty, "post-recluster hybrid returned nothing")
      // the rebuilt lists must agree with the split layout on the same state
      fsV.delete(new org.apache.hadoop.fs.Path(
        EmbeddingIngest.ivfListsPath(cfgV)), true)
      assert(search() == s2, "post-repair lists diverged from the split layout")
      assert(hybrid() == h2, "post-repair hybrid diverged from the split layout")
      // and the pipeline continues past the repair
      EmbeddingIngest.ingestBatch(spark, cfgV, vecBatch(4), 4L)
      assert(search().nonEmpty)
      assert(hybrid().nonEmpty)

      // --- reband leg (VERDICT r12 item 3): re-sign both SRP roots ---
      // wider mid-soak — stray-dir (die-before-marker), stranded marker
      // swap, compact under the stranded marker, pre-reband replays, the
      // deferred sweep — with the dedup probe pinned to the in-session
      // width twin and the serve faces pinned unchanged at every step
      def corpusV() = spark.read.parquet(EmbeddingIngest.vecsPath(cfgV))
        .select(col("vec_id"), col("embedding"))
      val pBatch = vecs(900L, 20L, 4, 900L - 3L)
      def twinV(bits: Int, bb: Int): Seq[(Long, Long)] = {
        val got = graft.ml.VectorOps.srpProbe(corpusV(), pBatch,
            bits = bits, bandBits = bb, threshold = cfgV.threshold)
          .select(col("batch_id"), col("corpus_id"))
          .as[(Long, Long)].collect().toSeq.sorted
        graft.Caching.releaseAll(); got
      }
      def probeV(): Seq[(Long, Long)] = {
        val got = EmbeddingIngest.probe(spark, cfgV, pBatch)
          .select(col("vec_id"), col("corpus_id"))
          .as[(Long, Long)].collect().toSeq.sorted
        graft.Caching.releaseAll(); got
      }
      def bandsDirs(root: String): Seq[String] =
        fsOf(root).listStatus(new org.apache.hadoop.fs.Path(root))
          .map(_.getPath.getName).filter(_.matches("bands(_w\\d+x\\d+)?"))
          .toSeq.sorted
      assert(probeV() == twinV(16, 4), "pre-reband probe diverged from twin")
      // die-before-marker: a stray new-width dir must not leak anywhere
      graft.ml.VectorOps.srpIndex(corpusV(), bits = 32, bandBits = 8)._1
        .select(col("vec_id"), col("band"), col("bv"),
          lit(-1L).as("ingest_batch"))
        .write.partitionBy("ingest_batch")
        .parquet(s"${cfgV.corpusRoot}/bands_w32x8")
      assert(probeV() == twinV(16, 4), "an uncommitted reband dir leaked")
      val sPre = search(); val hPre = hybrid()
      val labPre = resolvedE(cfgE)
      // the repair doubles as the reband: both roots, shuffled order
      rnd.shuffle(Seq[() => Unit](
        () => EmbeddingIngest.reband(spark, cfgV, bits = 32, bandBits = 8),
        () => EmbeddingClusterRegistry.reband(spark, cfgE, bits = 32,
          bandBits = 8))).foreach(_())
      assert(probeV() == twinV(32, 8), "post-reband probe off the marker width")
      assert(resolvedE(cfgE) == labPre, "reband changed resolved labels")
      assert(statsE(cfgE) == statsOf(labPre), "reband changed the stats serve")
      assert(search() == sPre, "reband changed the ANN serve")
      assert(hybrid() == hPre, "reband changed the filtered hybrid serve")
      // stranded marker swaps: every face reads through .__old
      strand(cfgV.corpusRoot, EmbeddingIngest.bandWidthPath(cfgV))
      strand(cfgE.root, EmbeddingClusterRegistry.bandWidthPath(cfgE))
      assert(probeV() == twinV(32, 8), "a stranded marker broke the probe")
      assert(resolvedE(cfgE) == labPre)
      // compact under the stranded marker must fold the LIVE rebanded
      // dir, not the superseded legacy one (the ADVICE r12 rollback)
      EmbeddingIngest.compact(spark, cfgV)
      EmbeddingClusterRegistry.compact(spark, cfgE)
      assert(probeV() == twinV(32, 8), "compact-after-strand broke the probe")
      assert(search() == sPre, "compact after reband changed the ANN serve")
      assert(statsE(cfgE) == statsOf(labPre))
      // pre-reband replays refuse: the reband marked the hwm
      intercept[IllegalArgumentException] {
        EmbeddingIngest.ingestBatch(spark, cfgV, vecBatch(4), 4L)
      }
      intercept[IllegalArgumentException] {
        EmbeddingClusterRegistry.ingestBatch(spark, cfgE, vecBatch(3), 3L)
      }
      // post-reband ingest signs at the marker width: planted exact
      // copies of corpus content must be rejected (a width mismatch
      // would miss every candidate and silently accept them)
      val nBefore = corpusV().count()
      val acc = EmbeddingIngest.ingestBatch(spark, cfgV,
        vecs(1200L, 30L, 3, 1200L - 13L), 5L)
      assert(acc < 30L, "post-reband copies were accepted — width mismatch")
      assert(corpusV().count() == nBefore + acc)
      assert(probeV() == twinV(32, 8), "post-reband ingest broke the width")
      // a post-reband exact copy labels into its original's cluster
      EmbeddingClusterRegistry.ingestBatch(spark, cfgE,
        vecs(1500L, 10L, 10, 1500L - 5L), 4L)
      val labPost = resolvedE(cfgE)
      assert(labPost(1500L) == labPost(5L),
        "a post-reband copy missed its original's cluster")
      // the deferred sweep: the legacy dir survived the first reband (a
      // lock-free reader may still hold it); the SECOND reband sweeps it
      // while committing the next width, and serves stay coherent
      assert(bandsDirs(cfgV.corpusRoot).contains("bands"),
        "the sweep ran a cadence early — a lock-free reader could lose its dir")
      EmbeddingIngest.reband(spark, cfgV, bits = 48, bandBits = 12)
      assert(bandsDirs(cfgV.corpusRoot) == Seq("bands_w32x8", "bands_w48x12"),
        s"sweep cadence broken: ${bandsDirs(cfgV.corpusRoot)}")
      assert(probeV() == twinV(48, 12), "the second reband broke the probe")
      assert(search().nonEmpty)
      assert(hybrid().nonEmpty)
      graft.Caching.releaseAll()
    }
}
