package graft.stream

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.VectorOps

/**
 * The SRP band-width marker of an SRP-indexed root ([[EmbeddingIngest]],
 * [[EmbeddingClusterRegistry]]): the one owner of its format, its resolver
 * and its marker-committed reband.
 *
 * The width is ROOT STATE, not configuration: a batch signed at a width
 * other than the index's joins garbage (band values live in different
 * ranges), so every face reads the marker first. The marker is one row
 * (bits, band_bits) at `<root>/bandwidth`, swap-written whole. Present ⇒
 * the serving bands live in `<root>/bands_w<bits>x<bandBits>`; absent ⇒
 * the legacy `<root>/bands` at the config's creation width. The directory
 * NAME ties rows to their width, so the marker swap is the atomic commit:
 * no marker/bands tear can pair new-width signatures with an old-width
 * index.
 */
object SrpBands {

  /** Bands table layout, whatever the width. */
  val bandsDdl = "vec_id BIGINT, band INT, bv BIGINT, ingest_batch BIGINT"

  def markerPath(root: String): String = s"$root/bandwidth"

  private def widthDir(root: String, bits: Int, bandBits: Int): String =
    s"$root/bands_w${bits}x$bandBits"

  /** (bands dir, bits, bandBits) through the marker; the legacy `bands/`
    * at (`bits`, `bandBits`) when no reband has committed. A locked face
    * passes its `fs`: a reband that died inside the marker swap leaves the
    * marker stranded at `.__old`, so it rolls back BEFORE the resolve (or
    * the face would read and write the superseded pre-reband directory),
    * then the resolved dir rolls back too. Read-only without `locked`. */
  def resolved(spark: SparkSession, root: String, bits: Int, bandBits: Int,
      locked: Option[FileSystem] = None): (String, Int, Int) = {
    locked.foreach(StateStore.rollbackIfStranded(_, markerPath(root)))
    val r = StateStore.readOrEmptyRO(spark, markerPath(root),
        "bits INT, band_bits INT").limit(1).collect().headOption match {
      case Some(m) =>
        (widthDir(root, m.getInt(0), m.getInt(1)), m.getInt(0), m.getInt(1))
      case None => (s"$root/bands", bits, bandBits)
    }
    locked.foreach(StateStore.rollbackIfStranded(_, r._1))
    r
  }

  /**
   * Re-sign the root's bands from `vecs` (vec_id, embedding) at
   * (`bits`, `bandBits`) into a width-suffixed directory, then swap the
   * marker — the commit point. Held under the root's [[IngestLock]] as
   * `<ownerPrefix>-<uuid>`; `vecsPath` and `ledgerPath` roll back first,
   * and `vecs` is built only after that.
   *
   * Crash contract (the recluster pattern, minus the epoch stamp — the
   * directory name ties rows to their width):
   *  - died after the hwm mark: replays at or below the mark refuse (the
   *    rebanded table subsumes them); re-running reband completes;
   *  - died after the new-directory swap, before the marker: readers still
   *    resolve the complete old directory; the re-run overwrites the stray;
   *  - died after the marker swap: committed — the superseded directory is
   *    dead weight until the NEXT reband sweeps it ([[sweepSuperseded]]).
   *
   * A no-op at the already-committed width: re-running must NOT swap the
   * LIVE serving directory, or a lock-free probe that resolved the marker
   * would read the absent dir between the two renames as an EMPTY index.
   */
  def reband(spark: SparkSession, root: String, ownerPrefix: String,
      lockStaleMs: Long, defaultBits: Int, defaultBandBits: Int,
      vecsPath: String, ledgerPath: String, bits: Int, bandBits: Int)(
      vecs: => DataFrame): Unit = StateStore.maintenance(spark, root,
      ownerPrefix, lockStaleMs, Seq(vecsPath, ledgerPath)) { h =>
    val (curDir, curBits, curBb) =
      resolved(spark, root, defaultBits, defaultBandBits, Some(h.fs))
    h.write(sweepSuperseded(h.fs, root, curDir))
    if (curBits != bits || curBb != bandBits) {
      h.markHwm(ledgerPath)
      val (nb, _) = VectorOps.srpIndex(vecs, bits = bits, bandBits = bandBits)
      h.swap(widthDir(root, bits, bandBits),
        nb.withColumn("ingest_batch", lit(-1L)), partitionCols = Seq("ingest_batch"))
      // the commit point: from here every face signs and reads at the
      // new width
      h.swap(markerPath(root),
        spark.createDataFrame(Seq((bits, bandBits))).toDF("bits", "band_bits"))
    }
  }

  /** The wired reband policy: gauge the serving bands
    * ([[VectorOps.srpBandHealth]]), derive the width the occupancy
    * constant calls for ([[VectorOps.srpRebandPlan]]) and hand it to
    * `reband` when it fires. Safe on every maintenance cadence: a healthy
    * index returns None and nothing runs. */
  def rebandIfNeeded(spark: SparkSession, root: String, bits: Int,
      bandBits: Int)(reband: (Int, Int) => Unit): Option[(Int, Int)] = {
    val (dir, b, bb) = resolved(spark, root, bits, bandBits,
      Some(StateStore.fsOf(spark, root)))
    val plan = VectorOps.srpRebandPlan(
      VectorOps.srpBandHealth(StateStore.readOrEmpty(spark, dir, bandsDdl)),
      b, bb)
    plan.foreach(reband.tupled)
    plan
  }

  /** Delete band directories a prior reband superseded — called at the
    * start of the NEXT reband, one maintenance cadence later, so a
    * lock-free reader that resolved the pre-swap marker never loses its
    * directory mid-scan (an absent bands dir reads as an EMPTY index —
    * silently wrong). Matches exact band-directory names only. */
  private def sweepSuperseded(fs: FileSystem, root: String,
      keepDir: String): Unit = {
    val keep = new Path(keepDir).getName
    val rootPath = new Path(root)
    if (fs.exists(rootPath)) fs.listStatus(rootPath).foreach { st =>
      val name = st.getPath.getName
      if (name != keep && name.matches("bands(_w\\d+x\\d+)?"))
        fs.delete(st.getPath, true): Unit
    }
  }
}
