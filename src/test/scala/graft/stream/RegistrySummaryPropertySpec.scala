package graft.stream

import graft.SparkSpec
import org.apache.spark.sql.functions._

/**
 * Property soak for the union-find REGISTRY pipeline end-to-end: random
 * pair-evidence topologies flow through the REAL increment
 * ([[UnionFindTables.incrementAndAppend]]), a compaction with
 * materialized summaries lands at a RANDOM point
 * ([[UnionFindTables.compactLabels]] behind the hwm mark), and every
 * serve face — resolved labels, the summary+delta `clusterStats`, the
 * summary-sized `samplingWeights` — must equal an independent, trivially
 * correct driver-side union-find over the same cumulative pair graph.
 *
 * This is the wide-net companion to the designed fixtures in
 * [[ClusterRegistrySpec]]: joins that re-root clusters under smaller
 * ids, multi-cluster bridges, delta-born clusters later consumed,
 * batch-internal chains, and merge-log growth across the compaction
 * boundary all arise here by chance, and the summary arithmetic must
 * hold for every one of them.
 */
class RegistrySummaryPropertySpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-sumprop").toString

  for (seed <- Seq(1, 7, 13))
    test(s"random topologies through the real increment + compaction " +
        s"serve summary stats equal to a reference union-find (seed $seed)") {
      val rnd = new scala.util.Random(seed)
      val root = tmpDir()
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)

      // ---- independent reference implementation (union by min id) ----
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      def union(a: Long, b: Long): Unit = {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          val lo = math.min(ra, rb); val hi = math.max(ra, rb)
          parent(hi) = lo; parent.getOrElseUpdate(lo, lo): Unit
        }
      }
      val registered = scala.collection.mutable.ArrayBuffer.empty[Long]

      // ids arrive in a RANDOM order (late docs may carry smaller ids
      // than every existing root — the re-rooting case)
      val ids = rnd.shuffle((0L until 60L).toVector)
      val batches = ids.grouped(12).toSeq
      val compactAfter = rnd.nextInt(batches.size - 1) // 0..3

      batches.zipWithIndex.foreach { case (batchIds, b) =>
        // random pair evidence: each batch doc matches 0-2 existing docs
        // (any member, not just roots) and 0-1 batch siblings
        val cross = batchIds.flatMap { d =>
          if (registered.isEmpty) Seq.empty
          else (0 until rnd.nextInt(3)).map { _ =>
            (d, registered(rnd.nextInt(registered.size)))
          }
        }
        val within = batchIds.flatMap { d =>
          if (rnd.nextBoolean()) Seq.empty
          else {
            val other = batchIds(rnd.nextInt(batchIds.size))
            if (other == d) Seq.empty
            else Seq((math.min(d, other), math.max(d, other)))
          }
        }.distinct
        // drive the REAL increment + append
        UnionFindTables.incrementAndAppend(spark, root, b.toLong,
          batchIds.toDF("doc_id"),
          within.toDF("doc_a", "doc_b"),
          cross.toDF("batch_id", "corpus_id")): Unit
        Seq((b.toLong, batchIds.size.toLong, 0L, 0L))
          .toDF("ingest_batch", "n_in", "n_pairs", "n_merges")
          .coalesce(1).write.mode("append").partitionBy("ingest_batch")
          .parquet(s"$root/ledger")
        // mirror into the reference implementation
        batchIds.foreach(d => parent.getOrElseUpdate(d, d))
        within.foreach { case (a, c) => union(a, c) }
        cross.foreach { case (a, c) => union(a, c) }
        registered ++= batchIds

        if (b == compactAfter) {
          StateStore.markCompactionHwm(fs, root,
            StateStore.ledgerMaxBatch(spark, s"$root/ledger"))
          UnionFindTables.compactLabels(spark, fs, root)
          assert(new java.io.File(root, "sizes").exists(),
            "compaction must materialize the summaries")
        }
      }

      // ---- every serve face vs the reference ----
      val truth = registered.map(d => d -> find(d)).toMap
      val sizes = truth.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val got = UnionFindTables.resolvedLabels(spark, root)
        .as[(Long, Long)].collect().toMap
      assert(got == truth,
        s"resolved labels diverged from the reference union-find (seed $seed)")
      val stats = UnionFindTables.clusterStats(spark, root).collect().head
      assert((0 until 4).map(stats.getLong) == Seq(sizes.size.toLong,
        sizes.values.sum, sizes.values.max, sizes.values.sum - sizes.size),
        s"summary stats diverged (seed $seed, compactAfter $compactAfter): " +
          s"got ${(0 until 4).map(stats.getLong)}")
      val weights = UnionFindTables.samplingWeights(spark, root)
        .select(col("doc_id"), col("label"), col("cluster_size"))
        .as[(Long, Long, Long)].collect()
        .map { case (d, l, s) => d -> (l, s) }.toMap
      assert(weights == truth.map { case (d, l) => d -> (l, sizes(l)) },
        s"summary weights diverged (seed $seed)")
      graft.Caching.releaseAll()
    }
}
