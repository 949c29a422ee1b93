package graft.ml

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the r16 driver fast-path of [[VectorOps.ivfHierRouting]] to the
  * distributed derivation it replaces: same meta pick, same argmax routing
  * under the nan-safe total order (NaN greatest, ties to the lowest meta
  * id), same empty/guard behavior — and the over-cap fallback still takes
  * the distributed path. */
class HierRouteSpec extends SparkSpec {
  import spark.implicits._

  private def codebook(n: Int, dim: Int = 8) =
    spark.range(0L, n.toLong).select(col("id").as("centroid_id"))
      .withColumn("ce", expr(
        s"transform(sequence(0, ${dim - 1}), j -> cast((pmod(hash(centroid_id * $dim + j), 1001) - 500) / 500.0 as double))"))
      .withColumn("cn", sqrt(expr(
        "aggregate(zip_with(ce, ce, (x, y) -> x * y), 0D, (a, x) -> a + x)")))

  private def routesOf(cents: org.apache.spark.sql.DataFrame,
      metaMod: Int, cap: Int): (Set[Long], Set[(Long, Long)]) = {
    val (m, ch) = VectorOps.ivfHierRouting(cents, metaMod, cap)
    (m.select(col("meta_id")).collect().map(_.getLong(0)).toSet,
      ch.select(col("centroid_id"), col("meta_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("driver fast-path routing equals the distributed derivation") {
    val cents = codebook(60).localCheckpoint()
    val (mD, chD) = routesOf(cents, 7, cap = 100000)   // driver path
    val (mX, chX) = routesOf(cents, 7, cap = 0)        // distributed path
    assert(mD == mX)
    assert(chD == chX)
    assert(chD.size == 60)
  }

  test("zero-norm centroids keep the distributed path (ANSI divide-by-zero)") {
    // a zero-norm centroid makes the distributed cosine THROW under ANSI
    // mode — the driver fast-path must not silently diverge into NaN
    // routing, so it bails to the distributed derivation and the caller
    // sees the identical error on both cap settings
    val base = codebook(40)
    val cents = base.withColumn("ce",
        when(col("centroid_id") === 0, expr("transform(ce, x -> 0D)"))
          .otherwise(col("ce")))
      .withColumn("cn",
        when(col("centroid_id") === 0, lit(0.0)).otherwise(col("cn")))
      .localCheckpoint()
    def err(cap: Int): String = intercept[Exception] {
      val (m, ch) = VectorOps.ivfHierRouting(cents, 5, cap)
      ch.collect(); m.collect()
    }.getMessage
    assert(err(100000).contains("DIVIDE_BY_ZERO"))
    assert(err(0).contains("DIVIDE_BY_ZERO"))
  }

  test("a ragged codebook routes identically on both paths") {
    // a child and a meta of two other lengths: graft_dot is NULL on
    // unequal lengths, so on the distributed path the short child routes
    // nowhere and the short meta attracts no child. The driver's fold
    // would truncate instead, so a ragged codebook keeps the distributed
    // path whatever the cap
    val cents = codebook(40)
      .withColumn("ce",
        when(col("centroid_id") === 3, expr("slice(ce, 1, 7)"))
          .when(col("centroid_id") === 10, expr("slice(ce, 1, 6)"))
          .otherwise(col("ce")))
      .localCheckpoint()
    def routes(cap: Int): (Set[Long], Set[(Long, Option[Long])]) = {
      val (m, ch) = VectorOps.ivfHierRouting(cents, 5, cap)
      assert(!ch.queryExecution.optimizedPlan.toString.contains("LocalRelation"))
      (m.select(col("meta_id")).collect().map(_.getLong(0)).toSet,
        ch.select(col("centroid_id"), col("meta_id")).collect()
          .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
          .toSet)
    }
    val (mD, chD) = routes(100000)
    val (mX, chX) = routes(0)
    assert(mD == mX)
    assert(chD == chX)
    assert(chD.contains((3L, None)), "the short child must not route")
    assert(!chD.exists { case (id, m) => id != 10L && m.contains(10L) },
      "the short meta must attract no full-length child")
  }

  test("empty codebook yields empty frames; meta-less codebook refuses") {
    val empty = codebook(0).localCheckpoint()
    val (m, ch) = VectorOps.ivfHierRouting(empty, 7, 100000)
    assert(m.isEmpty && ch.isEmpty)
    val noMeta = codebook(10).filter(col("centroid_id") =!= 0 &&
      col("centroid_id") =!= 7).localCheckpoint()
    val eD = intercept[IllegalArgumentException] {
      VectorOps.ivfHierRouting(noMeta, 7, 100000)
    }
    val eX = intercept[IllegalArgumentException] {
      val (m2, ch2) = VectorOps.ivfHierRouting(noMeta, 7, 0)
      ch2.collect(); m2.collect()
    }
    assert(eD.getMessage.contains("no centroid has centroid_id %"))
    assert(eX.getMessage.contains("no centroid has centroid_id %"))
  }

  test("one row over the cap falls through to the distributed path") {
    val cents = codebook(33).localCheckpoint()
    // cap 32 < 33 rows: must take the distributed branch (LocalTableScan
    // absent from the children plan) and still produce the same routing
    val (m32, ch32) = VectorOps.ivfHierRouting(cents, 4, 32)
    assert(!ch32.queryExecution.optimizedPlan.toString.contains("LocalRelation"))
    val (mD, chD) = routesOf(cents, 4, cap = 100000)
    assert(ch32.select(col("centroid_id"), col("meta_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == chD)
    assert(m32.select(col("meta_id")).collect().map(_.getLong(0)).toSet == mD)
  }
}
