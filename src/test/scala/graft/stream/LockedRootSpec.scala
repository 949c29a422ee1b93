package graft.stream

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.cdc.CdcFixtures
import graft.maintain.Maintain
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A local filesystem under the `spy:` scheme that records the owner of
  * every [[IngestLock]] file it is asked to delete — a release — so a spec
  * can read the owner a maintenance pass held, UUID suffix included. */
class LockSpyFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("spy:///")
  override def getScheme: String = "spy"
  override def delete(p: Path, recursive: Boolean): Boolean = {
    if (p.getName == "__ingest.lock" && exists(p)) {
      val in = open(p)
      val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      LockSpyFileSystem.released.add(text.split("\n", 2)(0))
    }
    super.delete(p, recursive)
  }
}

object LockSpyFileSystem {
  val released = new ConcurrentLinkedQueue[String]
}

/** The locked-root handle ([[StateStore.Locked]]): every write method
  * refuses once the lock was stolen and leaves its target untouched; the
  * lock owners of every batch and maintenance pass, the lock-file format,
  * and the ledger schemas and root layouts the pipelines write. */
class LockedRootSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-locked-root").toString

  private def lockFile(root: String) = new Path(root, "__ingest.lock")

  /** Rewrite the lock as a live foreign owner would hold it. */
  private def steal(root: String): Unit = {
    val out = StateStore.fsOf(spark, root).create(lockFile(root), true)
    try out.write(s"thief\n${System.currentTimeMillis()}"
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Every file and directory under `root` but the lock, with its bytes. */
  private def snapshot(root: String): Map[String, Seq[Byte]] = {
    val base = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(base)
    try walk.iterator().asScala
      .filterNot(p => p.getFileName.toString.contains("__ingest.lock"))
      .map { p =>
        base.relativize(p).toString -> (
          if (java.nio.file.Files.isDirectory(p)) Seq.empty[Byte]
          else java.nio.file.Files.readAllBytes(p).toSeq)
      }.toMap
    finally walk.close()
  }

  private def rows(batch: Long): DataFrame =
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").withColumn("ingest_batch", lit(batch))

  /** A root whose `t`, `u` and `ledger` tables hold batch 0. */
  private def seededRoot(): String = {
    val root = tmpDir()
    Seq("t", "u").foreach(d => StateStore.appendBatch(s"$root/$d", rows(0L)))
    StateStore.appendBatch(s"$root/ledger",
      Seq((0L, 2L)).toDF("ingest_batch", "n_in"))
    root
  }

  private val writes: Seq[(String, String => StateStore.LockedBatch => Unit)] = Seq(
    "swap" -> (root => h => h.swap(s"$root/t", rows(1L))),
    "appends" -> (root => h => h.appends(s"$root/t" -> rows(1L), s"$root/u" -> rows(1L))),
    "parallel" -> (root => h => h.parallel(
      () => StateStore.appendBatch(s"$root/t", rows(1L)),
      () => StateStore.appendBatch(s"$root/u", rows(1L)))),
    "ledger" -> (root => h => h.ledger(s"$root/ledger", "n_in" -> 2L)),
    "write" -> (root => h => h.write(StateStore.replace(rows(1L), s"$root/t"))))

  writes.foreach { case (name, act) =>
    test(s"$name refuses a stolen lock and leaves its target untouched") {
      // the same write under a held lock does change the root
      val held = seededRoot()
      val before = snapshot(held)
      StateStore.lockedBatch(spark, held, "spec", "/ck", 1L, 60000L, Nil)(act(held))
      assert(snapshot(held) != before, s"$name wrote nothing")

      val root = seededRoot()
      val untouched = snapshot(root)
      intercept[IngestLock.LockHeldException] {
        StateStore.lockedBatch(spark, root, "spec", "/ck", 1L, 60000L, Nil) { h =>
          steal(root)
          act(root)(h)
        }
      }
      assert(snapshot(root) == untouched, s"$name changed the root after the steal")
    }
  }

  test("the lock file holds the batch owner and its heartbeat time") {
    val root = tmpDir()
    val text = StateStore.lockedBatch(spark, root, "spec", "/ck", 3L, 60000L,
        Nil) { h =>
      val in = h.fs.open(lockFile(root))
      try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    }
    assert(text.matches("spec-batch-3@/ck\n\\d+"), text)
    assert(!new java.io.File(root, "__ingest.lock").exists(), "lock not released")
  }

  test("every stream batch locks under <tag>-batch-<id>@<checkpoint>") {
    assert(CorpusIngest.batchLockOwner(
      CorpusIngest.IngestConfig("d", "r", "/ckpt"), 7L) == "ingest-batch-7@/ckpt")
    assert(EmbeddingIngest.batchLockOwner(
      EmbeddingIngest.IngestConfig("v", "r", "/ckpt"), 7L) == "embed-batch-7@/ckpt")
    assert(ClusterRegistry.batchLockOwner(
      ClusterRegistry.RegistryConfig("d", "r", "/ckpt"), 7L) == "cluster-batch-7@/ckpt")
    assert(EmbeddingClusterRegistry.batchLockOwner(
      EmbeddingClusterRegistry.RegistryConfig("v", "r", "/ckpt"), 7L) ==
      "emb-cluster-batch-7@/ckpt")
    assert(ChangeStream.batchLockOwner(
      ChangeStream.StreamConfig("l", "/ckpt", "s", "g"), 7L) == "cdc-batch-7@/ckpt")
  }

  test("every maintenance pass locks under <prefix>-<uuid>") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.spy.impl", classOf[LockSpyFileSystem].getName)
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    def owner(prefix: String)(pass: String => Unit): Unit = {
      LockSpyFileSystem.released.clear()
      pass("spy:" + tmpDir())
      val got = LockSpyFileSystem.released.asScala.toSeq
      assert(got.size == 1 && got.head.matches(s"$prefix-$uuid"),
        s"expected one $prefix-<uuid> release, got $got")
    }
    def emb(r: String) = EmbeddingIngest.IngestConfig("unused", r, "unused")
    def embReg(r: String) = EmbeddingClusterRegistry.RegistryConfig("unused", r, "unused")
    owner("compact")(r => CorpusIngest.compact(spark,
      CorpusIngest.IngestConfig("unused", r, "unused")))
    owner("compact")(r => EmbeddingIngest.compact(spark, emb(r)))
    owner("recluster")(r => EmbeddingIngest.recluster(spark, emb(r)))
    owner("reband")(r => EmbeddingIngest.reband(spark, emb(r), 16, 4))
    owner("cluster-compact")(r => ClusterRegistry.compact(spark,
      ClusterRegistry.RegistryConfig("unused", r, "unused")))
    owner("emb-cluster-compact")(r => EmbeddingClusterRegistry.compact(spark, embReg(r)))
    owner("emb-cluster-reband")(r =>
      EmbeddingClusterRegistry.reband(spark, embReg(r), 16, 4))
    owner("purge-changelog")(r => Maintain.purgeChangeLog(spark, s"$r/log", 0L, 7,
      lit("2024-02-01 00:00:00").cast("timestamp"), lockRoot = r): Unit)
    owner("compact-state") { r =>
      val h = CdcFixtures.history(spark, Seq((1L, "v0", null, 1L), (1L, "v1", null, 2L)))
      Maintain.compactState(spark, s"$r/state", h.schema, Seq("id")): Unit
    }
  }

  /** The parquet schema of `ledger/ingest_batch=<b>`'s one data file. */
  private def ledgerSchema(root: String, b: Long): String = {
    val dir = new java.io.File(s"$root/ledger/ingest_batch=$b")
    val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1, files.toSeq)
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(files.head.toURI), spark.sparkContext.hadoopConfiguration))
    try r.getFooter.getFileMetaData.getSchema.toString.trim finally r.close()
  }

  private def tables(root: String): Set[String] =
    new java.io.File(root).listFiles().map(_.getName)
      .filterNot(n => n.startsWith(".") || n == "__ingest.lock").toSet

  private def required(cols: String*): String =
    cols.map(c => s"  required int64 $c;").mkString("message spark_schema {\n", "\n", "\n}")

  test("the ledger row matches the tuple-built row it replaces") {
    val root = tmpDir()
    StateStore.lockedBatch(spark, root, "spec", "/ck", 4L, 60000L, Nil) { h =>
      h.ledger(s"$root/ledger", "n_in" -> 5L, "n_accepted" -> 2L)
    }
    val old = tmpDir()
    Seq((4L, 5L, 2L)).toDF("ingest_batch", "n_in", "n_accepted")
      .write.partitionBy("ingest_batch").parquet(s"$old/ledger")
    assert(ledgerSchema(root, 4L) == ledgerSchema(old, 4L))
    assert(ledgerSchema(root, 4L) == required("n_in", "n_accepted"))
    assert(spark.read.parquet(s"$root/ledger").as[(Long, Long, Long)].collect()
      .toSeq == Seq((5L, 2L, 4L)))
  }

  test("each pipeline's batch writes its tables and its ledger row") {
    val docs = Seq(1L -> "the quick brown fox jumps over the lazy dog again",
      2L -> "a completely different sentence about streaming state roots")
      .toDF("doc_id", "text")
    val vecs = Seq(25L -> Seq(1f, 0f, 0f, 0f), 26L -> Seq(0f, 1f, 0f, 0f))
      .toDF("vec_id", "embedding")

    val corpus = tmpDir()
    CorpusIngest.ingestBatch(spark,
      CorpusIngest.IngestConfig("unused", corpus, "unused"), docs, 0L)
    assert(tables(corpus) == Set("docs", "hashes", "bands", "sets", "postings",
      "docstats", "mg", "phash", "ledger"))
    assert(ledgerSchema(corpus, 0L) == required("n_in", "n_accepted"))

    val emb = tmpDir()
    EmbeddingIngest.ingestBatch(spark,
      EmbeddingIngest.IngestConfig("unused", emb, "unused"), vecs, 0L)
    assert(tables(emb) == Set("vecs", "bands", "centroids", "ivf", "pqcb", "pq",
      "ledger"))
    assert(ledgerSchema(emb, 0L) == required("n_in", "n_accepted"))

    val text = tmpDir()
    ClusterRegistry.ingestBatch(spark,
      ClusterRegistry.RegistryConfig("unused", text, "unused"), docs, 0L)
    assert(tables(text) == Set("bands", "sets", "labels", "merges", "ledger"))
    assert(ledgerSchema(text, 0L) == required("n_in", "n_pairs", "n_merges"))

    val embReg = tmpDir()
    EmbeddingClusterRegistry.ingestBatch(spark,
      EmbeddingClusterRegistry.RegistryConfig("unused", embReg, "unused"), vecs, 0L)
    assert(tables(embReg) == Set("bands", "vecs", "labels", "merges", "ledger"))
    assert(ledgerSchema(embReg, 0L) == required("n_in", "n_pairs", "n_merges"))
    graft.Caching.releaseAll()
  }
}
