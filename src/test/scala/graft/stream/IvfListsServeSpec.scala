package graft.stream

import graft.{SparkCounts, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The compaction-built IVF serving lists ([[EmbeddingIngest.ivfListsPath]],
 * VERDICT r9 follow-on to the serve-flatness work): at 100 TB the split
 * layout's candidate fetch scans the corpus-sized vec store per query, so
 * `compact`/`recluster` re-lay the corpus as centroid-clustered inverted
 * lists (hash-partitioned on bucket_p, range-sorted by centroid_id) and
 * [[EmbeddingIngest.search]] serves base candidates from the PRUNED lists
 * (pushed centroid IN predicate → partition-dir + row-group skipping) plus
 * a partition-pruned delta of post-compaction appends.
 *
 * Pins, in order: (1) lists+delta serve ≡ split-layout serve on the same
 * state — the layout is an implementation detail results may not leak;
 * (2) stale-epoch lists (a recluster superseded them) are IGNORED, not
 * served; (3) recluster rebuilds the lists under its new epoch; (4) the
 * scale contract by TaskEnd listener (the [[graft.text.LabelFetchPruneSpec]]
 * discipline): a compacted 50k-vector corpus serves a 2-probe query
 * reading a small fraction of the corpus's input records — an unpruned
 * serve reads ≥ 1× corpus and fails loudly.
 */
class IvfListsServeSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-ivflists").toString

  /** Deterministic dim-8 vectors from the id hash (near-orthogonal in
    * expectation — nothing rejected at the 0.4 threshold). */
  private def synth(from: Long, n: Long): DataFrame =
    spark.range(from, from + n).select(col("id").as("vec_id"))
      .withColumn("embedding", expr(
        """transform(sequence(0, 7),
          |  j -> cast((pmod(hash(vec_id * 8 + j), 2001) - 1000) / 1000.0
          |            as float))""".stripMargin))

  private def collected(df: DataFrame): Seq[(Long, Long, Int)] =
    df.as[(Long, Long, Int)].collect().toSeq.sorted

  private def fs(root: String) = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("lists+delta serve equals the split-layout serve; stale-epoch lists " +
      "are ignored; recluster rebuilds them") {
    val root = tmpDir()
    val cfg = EmbeddingIngest.IngestConfig("unused", root, "ckpt-L",
      centroidMod = 5)
    EmbeddingIngest.ingestBatch(spark, cfg, synth(0L, 60L), 0L)
    EmbeddingIngest.ingestBatch(spark, cfg, synth(60L, 60L), 1L)
    val probes = synth(0L, 200L).filter(pmod(col("vec_id"), lit(40)) === 0)
    val preCompact = collected(EmbeddingIngest.search(spark, cfg, probes))

    // compact builds the lists; same state, so the lists-only serve must
    // reproduce the split-layout results exactly
    EmbeddingIngest.compact(spark, cfg)
    assert(new java.io.File(root, "ivflists").exists(),
      "compact must build the serving lists")
    assert(collected(EmbeddingIngest.search(spark, cfg, probes)) == preCompact,
      "the lists-only serve diverged from the pre-compact split serve")

    // a post-compaction append becomes the partition-pruned delta; pin
    // lists+delta ≡ split on identical state by deleting the lists and
    // re-serving through the fallback
    EmbeddingIngest.ingestBatch(spark, cfg, synth(120L, 30L), 2L)
    val served = collected(EmbeddingIngest.search(spark, cfg, probes))
    fs(root).delete(new org.apache.hadoop.fs.Path(
      EmbeddingIngest.ivfListsPath(cfg)), true)
    val split = collected(EmbeddingIngest.search(spark, cfg, probes))
    assert(served == split,
      s"lists+delta serve diverged from the split layout: $served vs $split")

    // stale-epoch lists (as left by a recluster that died between its
    // codebook swap and the lists rebuild) must be ignored, never served:
    // hand-write lists claiming epoch 999 with only HALF the corpus
    val half = spark.read.parquet(EmbeddingIngest.vecsPath(cfg))
      .filter(col("vec_id") < 50L)
    val assignsHalf = spark.read.parquet(EmbeddingIngest.ivfPath(cfg))
      .filter(col("vec_id") < 50L)
      .select(col("vec_id"), col("centroid_id"))
    EmbeddingIngest.writeIvfLists(spark, fs(root), cfg, half, assignsHalf,
      epoch = 999L, upto = 2L)
    val withStale = collected(EmbeddingIngest.search(spark, cfg, probes))
    assert(withStale == split,
      "stale-epoch lists leaked into the serve instead of falling back")

    // recluster retrains and rebuilds the lists under its own epoch; the
    // serve keeps working off the fresh lists (equality re-pinned by
    // deleting them again)
    EmbeddingIngest.recluster(spark, cfg)
    val listStamp = spark.read.parquet(EmbeddingIngest.ivfListsPath(cfg))
      .select(col("epoch")).distinct().as[Long].collect().toSeq
    val cbStamp = spark.read.parquet(EmbeddingIngest.centroidsPath(cfg))
      .select(col("frozen_batch")).distinct().as[Long].collect().toSeq
    assert(listStamp == cbStamp && listStamp.length == 1,
      s"recluster left lists at epoch $listStamp vs codebook $cbStamp")
    val reclustered = collected(EmbeddingIngest.search(spark, cfg, probes))
    fs(root).delete(new org.apache.hadoop.fs.Path(
      EmbeddingIngest.ivfListsPath(cfg)), true)
    assert(collected(EmbeddingIngest.search(spark, cfg, probes)) == reclustered,
      "post-recluster lists serve diverged from the split layout")
    graft.Caching.releaseAll()
  }

  test("a compacted corpus serves a probe query reading a pruned fraction " +
      "of its input records") {
    val corpusRows = 50000L
    val nlist = 1000L
    val root = tmpDir()
    val cfg = EmbeddingIngest.IngestConfig("unused", root, "unused",
      centroidMod = 50)
    // fabricate the compacted layout directly (the assignment need not be
    // nearest-centroid for the prune contract — search prunes to whatever
    // buckets the probes pick): vecs + centroids + sorted assignments +
    // the serving lists, exactly the shapes compact() writes
    val v = synth(0L, corpusRows)
      .withColumn("e", col("embedding").cast("array<double>"))
      .withColumn("n", expr("sqrt(aggregate(e, 0D, (a, x) -> a + x * x))"))
    v.select(col("vec_id"), col("embedding"), col("n"),
        lit(-1L).as("ingest_batch"))
      .write.partitionBy("ingest_batch")
      .parquet(EmbeddingIngest.vecsPath(cfg))
    v.filter(pmod(col("vec_id"), lit(50)) === 0)
      .select(col("vec_id").as("centroid_id"), col("e").as("ce"),
        col("n").as("cn"), lit(0L).as("frozen_batch"))
      .write.parquet(EmbeddingIngest.centroidsPath(cfg))
    val assigns = v.select(col("vec_id"),
      (pmod(col("vec_id"), lit(nlist)) * 50L).as("centroid_id"))
    assigns.select(col("vec_id"), col("centroid_id"), lit(0L).as("epoch"),
        lit(-1L).as("ingest_batch"))
      .repartitionByRange(col("centroid_id"))
      .sortWithinPartitions(col("centroid_id"))
      .write.partitionBy("ingest_batch")
      .parquet(EmbeddingIngest.ivfPath(cfg))
    EmbeddingIngest.writeIvfLists(spark, fs(root), cfg,
      spark.read.parquet(EmbeddingIngest.vecsPath(cfg)), assigns,
      epoch = 0L, upto = 0L)

    val probes = synth(900000L, 2L)
    val (_, counts) =
      try SparkCounts.measure(spark) {
        val rows = EmbeddingIngest.search(spark, cfg, probes).collect()
        assert(rows.nonEmpty, "the pruned serve returned nothing")
      } finally graft.Caching.releaseAll()
    // budget: 2 probes × nprobe 2 pick ≤ 4 of 1000 buckets (~50 rows
    // each in the lists, ~50 in the pruned assignment row groups), plus
    // the 1000-row codebook read a few times and the probe scans — far
    // under half the corpus. An unpruned serve reads the 50k-row vec
    // store (and the 50k-row assignment table) and fails unambiguously.
    assert(counts.inputRecords < corpusRows / 2,
      s"search read ${counts.inputRecords} input records against a $corpusRows-row " +
        "corpus — the centroid IN push / lists layout no longer prunes")
  }
}
