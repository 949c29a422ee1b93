package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Caching
import graft.functions.ArgBest

/**
 * Similarity search over embedding columns (`Array[Float]`) — the extended
 * LLM-pipeline surface (builder brief; absent from the reference, which has
 * no vector data at all).
 *
 * Design for 100 TB:
 *  - the brute-force path broadcasts only the PROBE set (small by contract)
 *    against the full corpus — a broadcast nested-loop with k-row per-probe
 *    top-k, never a corpus×corpus product;
 *  - the IVF path prunes the search space with an inverted-file bucketing:
 *    vectors are assigned to their nearest centroid once (join against a
 *    broadcast centroid set), probes search only `nprobe` buckets — the
 *    candidate join is an equi-join on centroid id, so the shuffle is
 *    proportional to bucket sizes, not the corpus;
 *  - dot products are sequential left-folds over the array (deterministic
 *    IEEE summation order — reproducible across engines and partitionings).
 */
object VectorOps {

  /** Sequential-fold dot product of two double arrays (deterministic order).
    * Uses the native codegen'd `graft_dot` (graft.functions.DotProduct) when
    * the session carries GraftExtensions, with the composable higher-order-
    * function form as the fallback — both are the same strict left-to-right
    * multiply-accumulate, so results are bit-identical. */
  def dot(a: String, b: String): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    if (spark.catalog.functionExists("graft_dot")) expr(s"graft_dot($a, $b)")
    else expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
  }

  /** Cosine similarity of two double-array columns. */
  def cosine(a: String, b: String): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Corpus frame with the self-norm precomputed ONCE per vector — cosine
    * against any probe then costs a single cross dot product, not three
    * (the n×k norm recomputation was the dominant cost at bench). */
  private def asDouble(emb: DataFrame, idCol: String, vecCol: String) =
    // spread the (often one-file) embedding read before the per-element
    // arithmetic: every consumer fans each vector out ~dim× (posexplode,
    // centroid cross joins), and a single scan partition would run all of
    // it on one core
    graft.Spread.byKey(emb, col(idCol))
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("e"))
      .withColumn("n", sqrt(dot("e", "e")))

  /** Cross cosine with both norms precomputed (same IEEE value and order as
    * [[cosine]]: dot / (sqrt(aa) * sqrt(bb))). */
  private def cosPre(a: String, b: String, na: String, nb: String): Column =
    dot(a, b) / (col(na) * col(nb))

  /**
   * Brute-force top-k cosine neighbors for each probe vector. Probes are the
   * rows where `vec_id % probeMod == 0`; self-matches excluded. Output:
   * (probe_id, neighbor_id, rank) with rank 1..k by cosine desc (ties broken
   * by neighbor id).
   */
  def annBruteForce(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", probeMod: Int = 100, k: Int = 10): DataFrame = {
    // scoped cache: the corpus+norm subtree feeds both the probe filter and
    // the scored join here, and is plan-identical across the ANN variants a
    // recall job runs side by side — one materialization serves them all
    val v = Caching.scoped(asDouble(emb, idCol, vecCol))
    val probes = v.filter(pmod(col("vec_id"), lit(probeMod)) === 0)
      .select(col("vec_id").as("probe_id"), col("e").as("pe"), col("n").as("pn"))
    val scored = v.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("cos", cosPre("e", "pe", "n", "pn"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("rank"))
  }

  /**
   * Metadata-FILTERED ANN — the filtered-vector-search shape (top-k
   * neighbors among only the vectors whose documents satisfy a predicate:
   * language, source, license, date...). The allowed-id set semi-joins the
   * corpus BEFORE any distance arithmetic, so a selective filter prunes the
   * dot products themselves, not just the output — on a 100 TB corpus with
   * a 1% filter that is 100× less distance math than post-filtering the
   * unfiltered top-k (which also under-fills k). Probes are NOT filtered:
   * any vector may query. `allowed`'s first column is the id.
   */
  def annFiltered(emb: DataFrame, allowed: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", probeMod: Int = 100, k: Int = 10): DataFrame = {
    val v = Caching.scoped(asDouble(emb, idCol, vecCol))
    val ids = allowed.select(col(allowed.columns.head).as("vec_id"))
    val probes = v.filter(pmod(col("vec_id"), lit(probeMod)) === 0)
      .select(col("vec_id").as("probe_id"), col("e").as("pe"), col("n").as("pn"))
    val scored = v.join(ids, Seq("vec_id"), "left_semi")
      .join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("cos", cosPre("e", "pe", "n", "pn"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("rank"))
  }

  /** Nearest-centroid assignment: (vec_id, centroid_id) for each of the
    * vector's `nprobe` nearest centroids — one broadcast join against the
    * centroid set, top-n cosine with centroid-id tiebreak. `nprobe = 1` is
    * classic IVF assignment; `nprobe >= 2` is multi-probe: a vector sitting
    * on a centroid boundary lands in both buckets, so near-dup pairs that
    * straddle the boundary are not lost. */
  def assignToCentroids(v: DataFrame, centroids: DataFrame,
      nprobe: Int = 1): DataFrame = {
    val scored = v.join(broadcast(centroids))
      .withColumn("cos", cosPre("e", "ce", "n", "cn"))
    if (nprobe == 1)
      // the common argmax case combines MAP-SIDE (identical to the rank-1
      // window row: max cosine, ties to the lowest centroid id) — only
      // ~|corpus| collapsed rows shuffle, and the embedding arrays never
      // move through an exchange. See [[ivfAssign]] for the full argument.
      scored.groupBy(col("vec_id"))
        .agg(ArgBest.of(scored, "cos", "centroid_id").as("centroid_id"))
        .select(col("vec_id"), col("centroid_id"))
    else {
      // multi-probe needs the top-n, which has no map-combining aggregate
      // shape — but the window only ever carries (vec_id, centroid_id,
      // cos): project the vectors away BEFORE the exchange
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos").desc, col("centroid_id").asc)
      scored.select(col("vec_id"), col("centroid_id"), col("cos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= nprobe)
        .select(col("vec_id"), col("centroid_id"))
    }
  }

  /** The nprobe = 1 argmax of [[assignToCentroids]] plus the vector —
    * (vec_id, centroid_id, e) — so the Lloyd refine consumes the
    * assignment directly instead of re-joining the corpus itself. Narrow
    * scalar-key hash aggregation + one join-back (see [[ivfAssign]] for
    * why the vector must not ride the grouping key). */
  private def assignToCentroidsFull(v: DataFrame,
      centroids: DataFrame): DataFrame = {
    val best = v.join(broadcast(centroids))
      .withColumn("cos", cosPre("e", "ce", "n", "cn"))
      .groupBy(col("vec_id"))
      .agg(ArgBest.of(v, "cos", "centroid_id").as("centroid_id"))
    v.join(best, Seq("vec_id"))
      .select(col("vec_id"), col("centroid_id"), col("e"))
  }

  /**
   * The PERSISTED/INCREMENTAL form of the IVF search index — frozen
   * centroids. A production inverted-file index trains its coarse quantizer
   * ONCE on a seed corpus and then only APPENDS: new vectors are assigned to
   * the frozen centroid set and lands in existing buckets, because re-picking
   * centroids per batch would silently re-bucket the whole corpus (an
   * O(corpus) rewrite — exactly what an append-only index exists to avoid).
   * Three pieces, each a plain DataFrame so callers persist them as parquet
   * (per-batch `ingest_batch` partitions under the same append-only +
   * single-writer discipline as [[graft.stream.EmbeddingIngest]]; bucket
   * assignment is a pure function of the frozen centroids, so replaying a
   * batch rewrites byte-identical rows):
   *
   *  - [[ivfCentroids]]: the frozen codebook from the SEED corpus
   *    (deterministic training-free pick, as [[annIvf]]);
   *  - [[ivfBuckets]]: bucket rows (vec_id, centroid_id, e, n) for ANY
   *    vector frame against the frozen codebook — the inverted lists store
   *    the vector and its norm, so search never rejoins the raw corpus;
   *  - [[ivfSearchIndexed]]: nprobe-bucket top-k over the persisted lists.
   */
  def ivfCentroids(seed: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", centroidMod: Int = 25): DataFrame =
    asDouble(seed, idCol, vecCol)
      .filter(pmod(col("vec_id"), lit(centroidMod)) === 0)
      .select(col("vec_id").as("centroid_id"), col("e").as("ce"), col("n").as("cn"))

  /** Assign PREPARED vectors (vec_id, e, n) to a frozen codebook — one
    * broadcast of the codebook, one per-vector ARGMAX AGGREGATE. Exposed
    * on prepared frames so the streaming ingest (whose batch is already in
    * (e, n) form) shares the exact assignment arithmetic with the batch
    * builders. Returns (vec_id, centroid_id, e, n).
    *
    * Deliberately an aggregate, not a window: max(struct(cos, −id)) is
    * identical to the rank-1 window row (argmax cosine, ties to the
    * lowest centroid id — the oracle-pinned rule) but combines MAP-SIDE,
    * so only ~|corpus| collapsed rows shuffle. The window form sorts the
    * full |corpus| × nlist joined stream — carrying the embedding arrays
    * — through one exchange, which at 100 TB × thousands of centroids is
    * the build-side scan this index exists to avoid. */
  def ivfAssign(centroids: DataFrame, v: DataFrame): DataFrame = {
    // NARROW-key argmax + join-back (r15): the candidate stream is
    // corpus × nlist rows, so the aggregation must touch only scalars per
    // row — [[ArgBest.of]]'s flat buffer keeps it a map-side-combining
    // HASH aggregation on the 8-byte vec_id key (the max(struct) spelling
    // demoted this exact stream to a full SortAggregate, and grouping by
    // (vec_id, e, n) to skip the join-back re-hashed the wide key once
    // per candidate row — measured 3× worse at nlist = 5000). The
    // join-back only touches ~|corpus| collapsed rows on each side.
    val best = v.select(col("vec_id"), col("e"), col("n"))
      .join(broadcast(centroids))
      .withColumn("cos", cosPre("e", "ce", "n", "cn"))
      .groupBy(col("vec_id"))
      .agg(ArgBest.of(v, "cos", "centroid_id").as("centroid_id"))
    v.join(best, Seq("vec_id"))
      .select(col("vec_id"), col("centroid_id"), col("e"), col("n"))
  }

  /** Bucket `vecs` against a FROZEN centroid set ([[ivfAssign]] over the
    * raw-embedding frame). */
  def ivfBuckets(centroids: DataFrame, vecs: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfAssign(centroids, asDouble(vecs, idCol, vecCol))

  /** Raw probes prepared for the IVF serve faces: (probe_id, pe, pn) with
    * the same double cast + precomputed self-norm as the corpus side
    * ([[asDouble]]), so cross cosines bind identical IEEE arithmetic. */
  private[graft] def prepareProbes(probes: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    asDouble(probes, idCol, vecCol)
      .select(col("vec_id").as("probe_id"), col("e").as("pe"), col("n").as("pn"))

  /** Each prepared probe's `nprobe` nearest centroids: (probe_id, pe, pn,
    * centroid_id) — one broadcast of the codebook, a probe-count-sized
    * window. The bucket-selection stage every IVF serve path shares; its
    * output is DETERMINISTIC (ties on centroid_id asc), which is what lets
    * a caller collect the bucket ids and push them into the candidate scan
    * as an IN predicate without changing the candidate set. */
  private[graft] def probeBuckets(centroids: DataFrame, p: DataFrame,
      nprobe: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("centroid_id").asc)
    p.join(broadcast(centroids))
      .withColumn("cos", cosPre("pe", "ce", "pn", "cn"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("probe_id"), col("pe"), col("pn"), col("centroid_id"))
  }

  /** Final stage of an IVF serve: self-exclusion, exact cosine, per-probe
    * top-k over assembled candidate rows (probe_id, pe, pn, vec_id, e, n).
    * Shared so the split-layout and inverted-lists serve paths rank
    * candidates with bit-identical arithmetic and tie-breaks. */
  private[graft] def topKByCos(rows: DataFrame, k: Int): DataFrame = {
    val wTop = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    rows.filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", cosPre("e", "pe", "n", "pn"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("rank"))
  }

  /** [[topKByCos]]'s radius twin over the same candidate-row shape: keep
    * every candidate with cosine >= tau — no window at all (a radius needs
    * no rank), cosine emitted for the oracle to pin. */
  private[graft] def radiusByCos(rows: DataFrame, tau: Double): DataFrame =
    rows.filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", cosPre("e", "pe", "n", "pn"))
      .filter(col("cos") >= tau)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos"))

  /** Top-k cosine search over the SPLIT persisted layout — assignment rows
    * (vec_id, centroid_id) separate from the vector store (vec_id, e, n),
    * the layout a streaming ingest maintains (assignments are tiny
    * append-only rows; the embedding bytes live once, in the vec store).
    * Join order is candidates-first by construction: probes pick their
    * `nprobe` centroids, ONE equi-join on centroid_id against the
    * assignment table prunes to candidate ids, and only those ids fetch
    * their vectors — the corpus-sized frames are never joined to each
    * other. */
  def ivfSearchAssignments(centroids: DataFrame, assignments: DataFrame,
      vecs: DataFrame, probes: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", nprobe: Int = 2, k: Int = 10): DataFrame = {
    val pb = probeBuckets(centroids, prepareProbes(probes, idCol, vecCol), nprobe)
    topKByCos(pb
      .join(assignments.select(col("vec_id"), col("centroid_id")),
        Seq("centroid_id"))
      .join(vecs.select(col("vec_id"), col("e"), col("n")), Seq("vec_id")), k)
  }

  // ------------------------------------------------ two-level (hierarchical)
  // IVF — the nlist-beyond-broadcast scale path. The flat index broadcasts
  // the whole codebook and scores corpus × nlist cosines at assignment
  // time; with nlist growing alongside the corpus (the bucket-size-constant
  // rule) that product is the build-side scan a 100 TB index cannot pay,
  // and the codebook itself eventually outgrows a broadcast. The standard
  // fix (IMI / coarse-over-coarse): a √nlist-sized META codebook routes
  // every decision first — vectors assign to their nearest meta (corpus ×
  // √nlist broadcast argmax), then to the nearest child WITHIN that meta's
  // children (an EQUI-join on meta_id, ~√nlist candidates each), so
  // assignment costs corpus × O(√nlist) and nothing larger than √nlist +
  // per-meta child groups is ever broadcast. Deterministic ties (lowest id)
  // at both levels keep the whole construction oracle-replayable.

  /** The meta codebook and the child→meta routing table, derived
    * deterministically from the flat codebook: metas are the centroids with
    * `centroid_id % metaMod == 0`, every centroid routes to its nearest
    * meta (cosine argmax, ties to the lowest meta id). Returns
    * (metas (meta_id, me, mn), children (centroid_id, ce, cn, meta_id)). */
  /** Codebook-row ceiling under which [[ivfHierRouting]] derives the
    * meta routing ON THE DRIVER instead of through the
    * join+argmax+join sliver pipeline. The routing inputs are codebook-
    * sized (nlist rows), but the distributed derivation costs an eager
    * emptiness guard plus 3 exchanges and 3 sorts of slivers — measured
    * as ~6 AQE stage-jobs per Lloyd iteration / serve routing build,
    * pure driver-sequencing latency at any corpus size. 16384 rows ×
    * dim 64 doubles ≈ 8.6 MB: driver-safe, and the local children
    * relation carries exact size statistics so the downstream per-vector
    * child join plans as a broadcast instead of a sort-merge join
    * whose ~√nlist distinct meta_id keys skew the corpus exchange.
    * Codebooks above the cap keep the distributed derivation unchanged
    * (nothing codebook-sized may reach the driver at nlist millions). */
  private[graft] val HierRouteDriverCap = 16384

  private[graft] def ivfHierRouting(centroids: DataFrame,
      metaMod: Int): (DataFrame, DataFrame) =
    ivfHierRouting(centroids, metaMod, HierRouteDriverCap)

  /** Spark SQL's nan-safe double comparison (NaN greater than everything,
    * NaN equal to itself, -0.0 == 0.0) — the exact total order
    * [[graft.functions.ArgBest]]'s GreaterThan/EqualTo comparisons use, so
    * the driver routing fast-path resolves argmax ties bit-identically. */
  private def nanSafeCompare(x: Double, y: Double): Int = {
    val xNan = java.lang.Double.isNaN(x)
    val yNan = java.lang.Double.isNaN(y)
    if ((xNan && yNan) || (x == y)) 0
    else if (xNan) 1
    else if (yNan) -1
    else if (x > y) 1 else -1
  }

  // spec hook: the cap is a parameter so HierRouteSpec can force the
  // distributed derivation and pin driver ≡ distributed routing
  private[graft] def ivfHierRouting(centroids: DataFrame,
      metaMod: Int, driverCap: Int): (DataFrame, DataFrame) = {
    val spark = centroids.sparkSession
    // driver fast-path (the SmallGraphCap discipline): a cap-bounded
    // codebook collects once, the meta pick / emptiness guard / argmax
    // routing run in memory with the identical strict-left-fold dot and
    // nan-safe tie rule, and the returned LOCAL relations carry exact
    // statistics. limit(cap+1) keeps the probe driver-safe: one row over
    // the cap falls through to the distributed derivation below.
    val capped =
      if (driverCap <= 0) Array.empty[org.apache.spark.sql.Row]
      else centroids.select(col("centroid_id"), col("ce"), col("cn"))
        .limit(driverCap + 1).collect()
    if (driverCap > 0 && capped.length <= driverCap &&
        // bail to the distributed path on any null/ragged codebook row —
        // the local arithmetic below assumes well-formed vectors, and the
        // distributed path's null semantics must stay authoritative there
        // a zero norm makes the distributed cosine THROW under ANSI
        // (divide by zero); the driver arithmetic must not silently
        // diverge into NaN routing, so zero-norm codebooks keep the
        // distributed path and its error behavior
        capped.forall(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2)
          && r.getDouble(2) != 0.0
          && r.getSeq[Any](1).forall(_ != null)) &&
        // a ragged codebook too: graft_dot is NULL on unequal lengths (the
        // pair then never routes), while dotL below would truncate to the
        // shorter vector and route it
        capped.map(_.getSeq[Any](1).length).distinct.length <= 1) {
      val rows = capped.map { r =>
        (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))
      }
      val metasL = rows.filter { case (id, _, _) =>
        java.lang.Math.floorMod(id, metaMod.toLong) == 0L }
      require(metasL.nonEmpty || rows.isEmpty,
        s"hierarchical IVF routing: no centroid has centroid_id % $metaMod " +
          "== 0 — the meta codebook would be empty and every assignment " +
          "silently dropped; pick a metaMod that divides some centroid ids " +
          "(or use the flat ivfAssign)")
      def dotL(a: Array[Double], b: Array[Double]): Double = {
        // the same strict left-to-right multiply-accumulate as graft_dot
        var acc = 0.0; var i = 0
        val n = math.min(a.length, b.length)
        while (i < n) { acc += a(i) * b(i); i += 1 }
        acc
      }
      val routedL = rows.map { case (cid, ce, cn) =>
        var bestId = Long.MinValue; var bestScore = 0.0; var has = false
        metasL.foreach { case (mid, me, mn) =>
          val cos = dotL(ce, me) / (cn * mn)
          val c = if (!has) 1 else nanSafeCompare(cos, bestScore)
          if (c > 0 || (c == 0 && mid < bestId)) {
            bestId = mid; bestScore = cos; has = true
          }
        }
        (cid, ce, cn, bestId)
      }
      import spark.implicits._
      val metas = metasL.toSeq.toDF("meta_id", "me", "mn")
      val children = routedL.toSeq.toDF("centroid_id", "ce", "cn", "meta_id")
      return (metas, children)
    }
    val metas = centroids.filter(pmod(col("centroid_id"), lit(metaMod)) === 0)
      .select(col("centroid_id").as("meta_id"),
        col("ce").as("me"), col("cn").as("mn"))
    // loud, not silently empty (ADVICE r10): arbitrary codebooks (Lloyd-
    // retrained ids, ids not aligned to metaMod) may satisfy the modulus
    // nowhere, and an empty meta set would make every downstream
    // assignment/search frame empty — a zero-result index with no error.
    // Check order (r15): probe the metas FIRST — on the healthy path that
    // single broadcast-sized scan proves the requirement and the
    // centroids scan never runs (the old `centroids.isEmpty || ...`
    // spelling paid two eager jobs per routing build, and the routing
    // builds once per hier assignment, Lloyd iteration, and serve).
    require(!metas.isEmpty || centroids.isEmpty,
      s"hierarchical IVF routing: no centroid has centroid_id % $metaMod " +
        "== 0 — the meta codebook would be empty and every assignment " +
        "silently dropped; pick a metaMod that divides some centroid ids " +
        "(or use the flat ivfAssign)")
    val routed = centroids.join(broadcast(metas))
      .withColumn("cos", cosPre("ce", "me", "cn", "mn"))
      .groupBy(col("centroid_id"))
      .agg(ArgBest.of(centroids, "cos", "meta_id").as("meta_id"))
      .select(col("centroid_id"), col("meta_id"))
    (metas, centroids.join(routed, Seq("centroid_id")))
  }

  /** Rebuild the ([[ivfHierRouting]]-shaped) meta/children frames from a
    * PERSISTED routing table (centroid_id, meta_id) plus the codebook it
    * was derived from — what the streaming index serves from: the
    * codebook-quadratic routing derivation is paid once at freeze /
    * recluster time and stored, and every query-time read is two
    * broadcast-sized joins against the codebook. The routing table must
    * have been derived from THIS codebook generation (the caller checks
    * the epoch stamp); meta vectors are looked up by meta_id ∈ centroids,
    * so the table stays a 2-int-per-centroid sliver however wide the
    * embeddings are. */
  private[graft] def hierFromRoute(centroids: DataFrame,
      route: DataFrame): (DataFrame, DataFrame) = {
    val metas = centroids.join(
        route.select(col("meta_id").as("centroid_id")).distinct(),
        Seq("centroid_id"), "left_semi")
      .select(col("centroid_id").as("meta_id"),
        col("ce").as("me"), col("cn").as("mn"))
    (metas, centroids.join(route.select(col("centroid_id"), col("meta_id")),
      Seq("centroid_id")))
  }

  /** Hierarchical assignment: each vector to its nearest meta, then to the
    * nearest child centroid within that meta — (vec_id, centroid_id).
    * Results differ from the flat [[ivfAssign]] only for vectors whose true
    * nearest centroid lives under a different meta than their own (the
    * recall trade every two-level quantizer makes; `metaProbe` on the
    * SEARCH side is the standard compensation). */
  def ivfAssignHier(centroids: DataFrame, v: DataFrame,
      metaMod: Int): DataFrame = {
    val (metas, children) = ivfHierRouting(centroids, metaMod)
    ivfAssignHierRouted(metas, children, v)
  }

  private[graft] def ivfAssignHierRouted(metas: DataFrame, children: DataFrame,
      v: DataFrame): DataFrame =
    ivfAssignHierRoutedFull(metas, children, v)
      .select(col("vec_id"), col("centroid_id"))

  /** [[ivfAssignHierRouted]] plus the vector: (vec_id, centroid_id, e, n),
    * so the Lloyd refine consumes the assignment directly. Narrow
    * scalar-key hash aggregations ([[ArgBest.of]]) at both levels; the
    * vectors re-attach through vec_id equi-joins against the (typically
    * checkpointed) corpus frame — grouping by the array columns instead
    * was measured 3× slower at dim 64 (the wide key re-hashes per
    * candidate row). */
  private[graft] def ivfAssignHierRoutedFull(metas: DataFrame,
      children: DataFrame, v: DataFrame): DataFrame = {
    val vk = v.select(col("vec_id"), col("e"), col("n"))
    val bestMeta = vk
      .join(broadcast(metas))
      .withColumn("cos", cosPre("e", "me", "n", "mn"))
      .groupBy(col("vec_id"))
      .agg(ArgBest.of(vk, "cos", "meta_id").as("meta_id"))
    // join-back with the AGGREGATE side on the left: an inner using-join
    // keeps the LEFT side's key column, and keeping the aggregate's
    // vec_id attribute in the output preserves its hash(vec_id)
    // partitioning through the broadcast joins below — the second
    // argmax's groupBy(vec_id) then needs no exchange at all (with the
    // corpus side's attribute the partitioning info was dropped and the
    // planner re-shuffled the candidate stream; guide §2.4)
    val best = bestMeta.join(vk, Seq("vec_id"))
      .join(children.select(col("meta_id"), col("centroid_id"),
        col("ce"), col("cn")), Seq("meta_id"))
      .withColumn("cos", cosPre("e", "ce", "n", "cn"))
      .groupBy(col("vec_id"))
      .agg(ArgBest.of(vk, "cos", "centroid_id").as("centroid_id"))
    best.join(vk, Seq("vec_id"))
      .select(col("vec_id"), col("centroid_id"), col("e"), col("n"))
  }

  /** Bucket `vecs` (raw embeddings) hierarchically against a frozen
    * centroid set — the two-level twin of [[ivfBuckets]]. */
  def ivfBucketsHier(centroids: DataFrame, vecs: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      metaMod: Int = 100): DataFrame =
    ivfAssignHier(centroids, asDouble(vecs, idCol, vecCol), metaMod)

  /** Two-level bucket selection for a probe set: top `metaProbe` metas by
    * cosine, then the top `nprobe` children among THOSE metas' children —
    * (probe_id, pe, pn, centroid_id), the [[probeBuckets]] shape, so the
    * candidate fetch and top-k tail are shared with the flat paths. */
  private[graft] def probeBucketsHier(centroids: DataFrame, p: DataFrame,
      metaMod: Int, metaProbe: Int, nprobe: Int): DataFrame = {
    val (metas, children) = ivfHierRouting(centroids, metaMod)
    probeBucketsHierRouted(metas, children, p, metaProbe, nprobe)
  }

  private[graft] def probeBucketsHierRouted(metas: DataFrame, children: DataFrame,
      p: DataFrame, metaProbe: Int, nprobe: Int): DataFrame = {
    val wMeta = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("meta_id").asc)
    val pMetas = p.join(broadcast(metas))
      .withColumn("cos", cosPre("pe", "me", "pn", "mn"))
      .withColumn("rn", row_number().over(wMeta))
      .filter(col("rn") <= metaProbe)
      .select(col("probe_id"), col("pe"), col("pn"), col("meta_id"))
    val wChild = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("centroid_id").asc)
    pMetas
      .join(children.select(col("meta_id"), col("centroid_id"),
        col("ce"), col("cn")), Seq("meta_id"))
      .withColumn("cos", cosPre("pe", "ce", "pn", "cn"))
      .withColumn("rn", row_number().over(wChild))
      .filter(col("rn") <= nprobe)
      .select(col("probe_id"), col("pe"), col("pn"), col("centroid_id"))
  }

  /** Top-k search over hierarchically assigned buckets — the two-level
    * twin of [[ivfSearchAssignments]]: assignments come from
    * [[ivfAssignHier]], probes route meta-first, the candidate fetch and
    * exact top-k tail are byte-identical to the flat path. */
  def ivfSearchHier(centroids: DataFrame, assignments: DataFrame,
      vecs: DataFrame, probes: DataFrame, metaMod: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      metaProbe: Int = 2, nprobe: Int = 2, k: Int = 10): DataFrame = {
    val pb = probeBucketsHier(centroids,
      prepareProbes(probes, idCol, vecCol), metaMod, metaProbe, nprobe)
    topKByCos(pb
      .join(assignments.select(col("vec_id"), col("centroid_id")),
        Seq("centroid_id"))
      .join(vecs.select(col("vec_id"), col("e"), col("n")), Seq("vec_id")), k)
  }

  /** Self-contained two-level IVF top-k over one embedding frame — the
    * hierarchical sibling of [[annIvf]] (same deterministic codebook pick,
    * probes = `vec_id % probeMod == 0`), for the recall audit and the
    * gate entry. */
  def annIvfHier(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", centroidMod: Int = 25, metaMod: Int = 100,
      probeMod: Int = 100, metaProbe: Int = 2, nprobe: Int = 2,
      k: Int = 10): DataFrame = {
    val v = Caching.scoped(asDouble(emb, idCol, vecCol))
    val cents = Caching.scoped(
      v.filter(pmod(col("vec_id"), lit(centroidMod)) === 0)
        .select(col("vec_id").as("centroid_id"),
          col("e").as("ce"), col("n").as("cn")))
    // the meta routing table is codebook-quadratic to derive (centroids ×
    // metas cosines): build it ONCE and share it between the assignment
    // and probe-routing stages instead of paying it per stage
    val (metas, children) = ivfHierRouting(cents, metaMod)
    val m = Caching.scoped(metas)
    val ch = Caching.scoped(children)
    val assigns = ivfAssignHierRouted(m, ch, v)
    val pb = probeBucketsHierRouted(m, ch,
      prepareProbes(emb.filter(pmod(col(idCol), lit(probeMod)) === 0),
        idCol, vecCol), metaProbe, nprobe)
    topKByCos(pb
      .join(assigns.select(col("vec_id"), col("centroid_id")),
        Seq("centroid_id"))
      .join(v.select(col("vec_id"), col("e"), col("n")), Seq("vec_id")), k)
  }

  /**
   * IVF bucket-health / drift report over a frozen codebook — the
   * maintenance gauge of the persisted index family. A codebook frozen on
   * a seed corpus degrades as ingestion drifts from the seed distribution:
   * newcomers either PILE into few buckets (skew — the candidate join's
   * per-bucket cost grows quadratically in the hot bucket) or sit FAR from
   * every centroid (low assignment cosine — nprobe bucket pruning starts
   * missing true neighbors, recall decays silently). Both symptoms are
   * cheap corpus-wide aggregates; this report surfaces them per bucket so
   * an operator (or [[graft.stream.EmbeddingIngest.recluster]]) can act
   * before the recall floor breaks.
   *
   * Input is the bucket table shape of [[ivfBuckets]] (vec_id,
   * centroid_id, e, n). Output per centroid: `n_vecs`, `frac` (share of
   * corpus), `skew` (n_vecs · k / total — 1.0 is perfectly balanced), and
   * `mean_cos` (mean assignment cosine). Engine-portable: cosines are
   * strict folds floored to exact 1e-12 integer units, summed as bigints
   * (order-independent), divided once at the end.
   *
   * Scale: one broadcast of the codebook, one groupBy(centroid_id) with
   * map-side partial aggregation, one k-row total broadcast back — no
   * corpus-sized shuffle at all.
   */
  def ivfBucketHealth(centroids: DataFrame, buckets: DataFrame): DataFrame = {
    val per = buckets
      .join(broadcast(centroids), Seq("centroid_id"))
      .withColumn("__c12",
        floor(cosPre("e", "ce", "n", "cn") * lit(1e12)).cast("long"))
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("__c12")).as("__cs"))
    val tot = per.agg(sum(col("n_vecs")).as("__total"),
      count(lit(1)).as("__k"))
    per.crossJoin(broadcast(tot))
      .select(col("centroid_id"), col("n_vecs"),
        (col("n_vecs").cast("double") / col("__total").cast("double")).as("frac"),
        (col("n_vecs").cast("double") * col("__k").cast("double") /
          col("__total").cast("double")).as("skew"),
        (col("__cs").cast("double") / col("n_vecs").cast("double") /
          lit(1e12)).as("mean_cos"))
  }

  /** Top-k cosine search over a MATERIALIZED bucket table (vector + norm
    * stored in the inverted lists): [[ivfSearchAssignments]] with the
    * bucket table serving both roles. */
  def ivfSearchIndexed(centroids: DataFrame, buckets: DataFrame,
      probes: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", nprobe: Int = 2, k: Int = 10): DataFrame =
    ivfSearchAssignments(centroids,
      buckets.select(col("vec_id"), col("centroid_id")),
      buckets.select(col("vec_id"), col("e"), col("n")),
      probes, idCol, vecCol, nprobe, k)

  /**
   * IVF (inverted-file) top-k: centroids are the rows where
   * `vec_id % centroidMod == 0` (a deterministic training-free codebook —
   * stands in for k-means at identical plumbing); every vector is bucketed by
   * nearest centroid; each probe searches only its `nprobe` nearest buckets.
   * Recall < 1 vs brute force by construction — that is the scale trade.
   */
  def annIvf(emb: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      centroidMod: Int = 25, probeMod: Int = 100, nprobe: Int = 2, k: Int = 10): DataFrame = {
    val v = Caching.scoped(asDouble(emb, idCol, vecCol))
    val centroids = v.filter(pmod(col("vec_id"), lit(centroidMod)) === 0)
      .select(col("vec_id").as("centroid_id"), col("e").as("ce"), col("n").as("cn"))
    val assigned = assignToCentroids(v, centroids)

    val probes = v.filter(pmod(col("vec_id"), lit(probeMod)) === 0)
      .select(col("vec_id").as("probe_id"), col("e").as("pe"), col("n").as("pn"))
    val wProbe = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("centroid_id").asc)
    val probeBuckets = probes.join(broadcast(centroids))
      .withColumn("cos", cosPre("pe", "ce", "pn", "cn"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("probe_id"), col("pe"), col("pn"), col("centroid_id"))

    val candidates = probeBuckets
      .join(assigned, Seq("centroid_id"))                 // equi-join on bucket
      .filter(col("vec_id") =!= col("probe_id"))
      .join(v, Seq("vec_id"))
      .withColumn("cos", cosPre("e", "pe", "n", "pn"))
    val wTop = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    candidates.withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("rank"))
  }

  /**
   * Exact radius (range) similarity search — every corpus vector within
   * cosine >= tau of each probe: the "find ALL near things" complement to
   * top-k (FAISS `range_search`), used when the caller needs a coverage
   * guarantee (all near-dups, all in-threshold retrievals), not a quota.
   * Brute-force reference: one broadcast of the probe set against the
   * corpus scan — the radius filter needs no rank, so the plan is a pure
   * scan+filter with NO window at all (cheaper than top-k at the same
   * coverage). The cosine is emitted: it is the same strict left-fold IEEE
   * expression in both engines, so the oracle pins the values, not just
   * the ids.
   */
  def annRange(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", probeMod: Int = 100,
      tau: Double = 0.3): DataFrame = {
    val v = Caching.scoped(asDouble(emb, idCol, vecCol))
    val probes = v.filter(pmod(col("vec_id"), lit(probeMod)) === 0)
      .select(col("vec_id").as("probe_id"), col("e").as("pe"), col("n").as("pn"))
    v.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("cos", cosPre("e", "pe", "n", "pn"))
      .filter(col("cos") >= tau)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos"))
  }

  /**
   * IVF-pruned radius search — [[annRange]]'s scale path: the corpus is
   * bucketed by nearest centroid (one equi-shuffle, exactly [[annIvf]]'s
   * layout), each probe scans only its `nprobe` nearest buckets, and the
   * exact cosine filter keeps the in-radius survivors. Same approximation
   * contract as the rest of the IVF family: candidates outside the probed
   * buckets are lost by design (the measured-recall gauge is
   * `ann_range_recall`), in exchange for per-probe cost ∝ nprobe × bucket
   * instead of ∝ corpus. At fixture geometry the in-radius pairs are by
   * construction the bucket-sharing ones, so recall holds at 1.0 — pinned
   * by the gauge, not assumed.
   */
  def annRangeIvf(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", centroidMod: Int = 25,
      probeMod: Int = 100, nprobe: Int = 2, tau: Double = 0.3): DataFrame = {
    val v = Caching.scoped(asDouble(emb, idCol, vecCol))
    val centroids = v.filter(pmod(col("vec_id"), lit(centroidMod)) === 0)
      .select(col("vec_id").as("centroid_id"), col("e").as("ce"), col("n").as("cn"))
    val assigned = assignToCentroids(v, centroids)
    val probes = v.filter(pmod(col("vec_id"), lit(probeMod)) === 0)
      .select(col("vec_id").as("probe_id"), col("e").as("pe"), col("n").as("pn"))
    val wProbe = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("centroid_id").asc)
    val probeBuckets = probes.join(broadcast(centroids))
      .withColumn("cos", cosPre("pe", "ce", "pn", "cn"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("probe_id"), col("pe"), col("pn"), col("centroid_id"))
    probeBuckets
      .join(assigned, Seq("centroid_id"))                 // equi-join on bucket
      .filter(col("vec_id") =!= col("probe_id"))
      .join(v, Seq("vec_id"))
      .withColumn("cos", cosPre("e", "pe", "n", "pn"))
      .filter(col("cos") >= tau)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cos"))
  }

  /**
   * SRP-LSH (signed-random-projection) near-dup pairs — the LSH-bucketed
   * alternative to [[embeddingNearDupPairs]]'s IVF bucketing: no centroid
   * set at all. Each vector gets a `bits`-bit signature (bit j = sign of the
   * dot product against a deterministic ±1 hyperplane derived from the md5
   * parity of "j:d"), the signature splits into `bits/bandBits` bands, and
   * candidates are pairs sharing any (band, band-code) — an equi-join on the
   * band code, never all-pairs. Exact-cosine verify keeps pairs ≥ threshold.
   *
   * Per SRP theory P(bit agrees) = 1 − θ/π, so recall falls with the
   * threshold while bucket sizes stay ~n/2^bandBits regardless of data
   * distribution — the complementary trade to IVF, whose buckets track the
   * corpus's cluster structure. Hyperplanes, dots (strict left fold), and
   * banding are all deterministic and engine-portable: the oracle replays
   * the identical pruning bit-for-bit.
   *
   * Cost model (measured, round 6): candidate volume is bounded below by
   * ~n²/2^bandBits per band — 2^bandBits buckets exist no matter how big n
   * gets — so the exact-cosine verify of band-colliding pairs dominates the
   * runtime (at sf0.1, 2 000 vectors → 463 516 candidates ≈ 23% of all
   * pairs with the default 4-bit bands; the per-pair verify, not the plan,
   * is the cost). The defaults are sized for the small-sf oracle's recall;
   * at corpus scale RAISE `bits`/`bandBits` together (e.g. 64/16 → 65 536
   * buckets per band) so bucket occupancy — and with it the verify set —
   * stays bounded; recall then comes from more, finer bands, exactly the
   * MinHash b×r tuning discipline.
   */
  def srpNearDupPairs(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", bits: Int = 16, bandBits: Int = 4,
      threshold: Double = 0.4): DataFrame = {
    val (banded, v) = srpIndex(emb, idCol, vecCol, bits, bandBits)
    srpNearDupsIndexed(banded, v, threshold)
  }

  /** Within-corpus SRP near-dup pairs from PREBUILT index frames — the same
    * candidates + exact-cosine verify as [[srpNearDupPairs]], for callers
    * (the embedding ingest loop) that already hold the index and must not
    * pay the signature build again. */
  def srpNearDupsIndexed(banded: DataFrame, v: DataFrame,
      threshold: Double = 0.4): DataFrame = {
    val cand = banded.select(col("band"), col("bv"), col("vec_id").as("vec_a"))
      .join(banded.select(col("band"), col("bv"), col("vec_id").as("vec_b")),
        Seq("band", "bv"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
      .distinct()
    cand
      .join(v.select(col("vec_id").as("vec_a"), col("e").as("ea"), col("n").as("na")), Seq("vec_a"))
      .join(v.select(col("vec_id").as("vec_b"), col("e").as("eb"), col("n").as("nb")), Seq("vec_b"))
      .withColumn("cos", cosPre("ea", "eb", "na", "nb"))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** The PERSISTED form of an embedding corpus's SRP near-dup index — the
    * embedding twin of [[graft.text.TextOps.minhashIndex]]: banded signature
    * codes `(vec_id, band, bv)` for the candidate equi-join, plus the
    * double-cast self-normed vectors `(vec_id, e, n)` the exact-cosine
    * verify reads. Hyperplanes are deterministic in (j, dim) only, so
    * signatures computed for a batch TODAY collide with signatures persisted
    * LAST MONTH — the property an incremental index needs
    * ([[graft.stream.EmbeddingIngest]] appends both frames per accepted
    * batch so later batches probe instead of rescanning the corpus). */
  def srpIndex(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", bits: Int = 16, bandBits: Int = 4)
      : (DataFrame, DataFrame) = {
    require(bits % bandBits == 0, s"bits=$bits not divisible by bandBits=$bandBits")
    val spark = emb.sparkSession
    val v = Caching.scoped(asDouble(emb, idCol, vecCol))
    // ±1 hyperplanes from md5 parity of "j:d" — a 1-row dim anchor plus a
    // bits-row broadcast, built once (the HOF here touches bits×dim cells
    // total, not per data row)
    val dim = v.select(size(col("e")).as("dim")).limit(1)
    val hp = spark.range(bits).toDF("j").crossJoin(broadcast(dim))
      .select(col("j"), expr(
        """transform(sequence(0, dim - 1), d ->
          |  CASE WHEN CAST(conv(substring(md5(concat(CAST(j AS STRING), ':',
          |    CAST(d AS STRING))), 1, 15), 16, 10) AS BIGINT) % 2 = 0
          |  THEN 1.0D ELSE -1.0D END)""".stripMargin).as("harr"))
    val bit = when(dot("e", "harr") >= 0d, 1L).otherwise(0L)
    val codes = v.crossJoin(broadcast(hp))
      .select(col("vec_id"), (bit * expr("shiftleft(CAST(1 AS BIGINT), CAST(j AS INT))")).as("c"))
      .groupBy(col("vec_id")).agg(sum(col("c")).as("code"))
    val bandCols = (0 until bits / bandBits).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("code"), b * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1)).as("v"))
    }
    val banded = codes.select(col("vec_id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("vec_id"), col("bs.band").as("band"), col("bs.v").as("bv"))
    (banded, v)
  }

  /** Bucket-occupancy health of an SRP band table — the gauge that tells
    * an operator the signature width no longer fits the corpus (the
    * banding twin of [[ivfBucketHealth]]): with `bandBits` fixed, every
    * band has 2^bandBits buckets, so occupancy — and with it the verify
    * set of EVERY future probe and ingest increment — grows linearly with
    * the corpus (the r12 maintenance curve measured a 4.3× ingest cost at
    * 100× corpus under constant 4-bit bands; widening to the occupancy-
    * constant discipline restored ~1×). One row: `cand_rows_per_vec` =
    * Σ occ² / n_vecs over all (band, bucket) cells is the expected
    * candidate rows a corpus-distributed probe vector generates before
    * the exact-cosine verify — when it drifts far above its
    * index-creation value, re-band wider. Exact integer tallies, one
    * final IEEE division. */
  def srpBandHealth(bands: DataFrame): DataFrame = {
    val occ = bands.groupBy(col("band"), col("bv")).agg(count(lit(1)).as("occ"))
    val nv = bands.agg(countDistinct(col("vec_id")).as("n_vecs"))
    occ.agg(count(lit(1)).as("n_buckets"), max(col("occ")).as("max_bucket"),
        sum(col("occ") * col("occ")).as("sum_sq"))
      .crossJoin(broadcast(nv))
      .select(col("n_vecs"), col("n_buckets"), col("max_bucket"),
        col("sum_sq"),
        (col("sum_sq").cast("double") / col("n_vecs").cast("double"))
          .as("cand_rows_per_vec"))
  }

  /** The occupancy constant the reband policy holds: expected candidate
    * rows PER BAND a corpus-distributed probe generates (the
    * [[srpBandHealth]] gauge's `cand_rows_per_vec / n_bands`). 64 is the
    * maintenance fixture's operating point — its 1×/10×/100× discipline
    * (4-band signatures at 4/8/12 bits) runs at ≈24–62 expected rows per
    * band, where the r12 cost curves measured ~1× flat ingest; the
    * measured FAILURE regime (4.3× ingest at 100× under constant 4-bit
    * bands) sits at ≈6250. */
  val SrpTargetCandPerBand: Double = 64.0

  /** The reband decision (VERDICT r12 item 4): turn the [[srpBandHealth]]
    * gauge into the width to re-sign at, or `None` while the index is
    * healthy. Fires when the measured per-band candidate load exceeds
    * `fireAt` × `target` — 4× the operating point, well below the
    * measured 4.3×-cost failure regime but far enough above steady state
    * that corpus growth, not noise, is the only thing that can trip it.
    * The plan keeps the band COUNT (`bits / bandBits` — each band is an
    * independent recall chance, so dropping bands would trade recall for
    * cost) and widens each band by ceil(log2(load / target)) bits — the
    * uniform-hash projection that brings the load back to ≤ target —
    * capped so the signature still fits one Long. Skew-robust because the
    * input is the MEASURED Σocc²/n, not a uniform n/2^bandBits estimate.
    * Pass the result straight to `reband` (both SRP roots); re-running at
    * an already-committed width is a no-op there, so a scheduler may call
    * gauge → plan → reband unconditionally at every maintenance cadence. */
  def srpRebandPlan(health: DataFrame, bits: Int, bandBits: Int,
      target: Double = SrpTargetCandPerBand,
      fireAt: Double = 4.0): Option[(Int, Int)] = {
    val r = health.select(col("cand_rows_per_vec")).limit(1).collect()
    if (r.isEmpty || r.head.isNullAt(0)) return None // empty index: healthy
    val nBands = math.max(bits / bandBits, 1)
    val perBand = r.head.getDouble(0) / nBands
    if (!(perBand > fireAt * target)) return None
    val widen = math.ceil(math.log(perBand / target) / math.log(2.0)).toInt
    // one Long holds the signature: nBands * newBandBits <= 63
    val newBandBits = math.min(bandBits + math.max(widen, 1), 63 / nBands)
    if (newBandBits <= bandBits) None // already at the Long-width ceiling
    else Some((nBands * newBandBits, newBandBits))
  }

  /** Probe a batch against a persisted SRP index: candidates from the
    * batch-bands ⋈ index-bands equi-join on (band, band-code), exact-cosine
    * verified against the index's stored vectors — cost proportional to the
    * BATCH, the corpus never rescanned. Output: (batch_id, corpus_id, cos)
    * for every cross pair with cosine ≥ threshold. The text twin is
    * [[graft.text.TextOps.minhashProbeIndexed]]. */
  def srpProbeIndexed(indexBands: DataFrame, indexVecs: DataFrame,
      batchBands: DataFrame, batchVecs: DataFrame,
      threshold: Double = 0.4, pushIdLimit: Int = 0): DataFrame = {
    val cand0 = batchBands
      .select(col("band"), col("bv"), col("vec_id").as("batch_id"))
      .join(indexBands.select(col("band"), col("bv"), col("vec_id").as("corpus_id")),
        Seq("band", "bv"))
      .filter(col("batch_id") =!= col("corpus_id"))
      .select(col("batch_id"), col("corpus_id"))
      .distinct()
    // cap-bounded candidate pushdown into the vec-store verify read (the
    // minhashProbeIndexed pattern, same cap discipline): candidates are
    // few at steady state, and the wide embedding column is the expensive
    // scan — push their ids as an IN filter so a sorted persisted layout
    // prunes to the touched row groups. 0 = off (in-session callers).
    val cand = if (pushIdLimit > 0) graft.Caching.scoped(cand0) else cand0
    val verifyVecs =
      if (pushIdLimit <= 0) indexVecs
      else {
        val ids = cand.select(col("corpus_id")).distinct()
          .limit(pushIdLimit + 1).collect().map(_.getLong(0))
        if (ids.length > pushIdLimit) indexVecs // burst: full verify join
        else indexVecs.filter(col("vec_id").isin(ids.map(Long.box): _*))
      }
    cand
      .join(batchVecs.select(col("vec_id").as("batch_id"),
        col("e").as("ea"), col("n").as("na")), Seq("batch_id"))
      .join(verifyVecs.select(col("vec_id").as("corpus_id"),
        col("e").as("eb"), col("n").as("nb")), Seq("corpus_id"))
      .withColumn("cos", cosPre("ea", "eb", "na", "nb"))
      .filter(col("cos") >= threshold)
      .select(col("batch_id"), col("corpus_id"), col("cos"))
  }

  /** [[srpProbeIndexed]] with the batch's index frames built here — the
    * entry point for a probe straight from an embedding frame. */
  def srpProbe(corpus: DataFrame, batch: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", bits: Int = 16, bandBits: Int = 4,
      threshold: Double = 0.4): DataFrame = {
    val (cb, cv) = srpIndex(corpus, idCol, vecCol, bits, bandBits)
    val (bb, bv) = srpIndex(batch, idCol, vecCol, bits, bandBits)
    srpProbeIndexed(cb, cv, bb, bv, threshold)
  }

  /** Squared L2 via dot products — 3 strict folds, the same IEEE value on
    * every engine: ((a·a − 2(a·b)) + b·b). */
  private def sqDist(a: String, b: String): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** Top-k per probe straight off the integer ADC scores — the no-re-rank
    * serving shape (and the sensitivity baseline the recall-floor spec
    * keeps red without re-rank). */
  private def adcTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc").asc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("rank"))
  }

  /**
   * Exact re-rank stage — the standard second stage of a served PQ index:
   * ADC's quantized distances SELECT a candidate shortlist (the `rerank`
   * best per probe, ~4k of them), the stored float vectors DECIDE the final
   * top-k by exact cosine. Quantization error then costs recall only when
   * a true neighbor falls outside the shortlist entirely, not whenever ADC
   * misorders the top-k boundary — the difference between ~0.2 and ~0.9
   * recall at identical index size.
   *
   * Scale: the shortlist is `|probes| × rerank` id rows; only those fetch
   * their float vectors (one equi-join on vec_id), so the exact arithmetic
   * touches k-proportional data no matter the corpus size — the whole
   * point of scanning codes instead of floats survives. Cosine (not L2)
   * because the truth metric of the suite is cosine; ties break on vec_id,
   * and the strict-fold dots make the re-ranked order engine-portable.
   */
  private def rerankExact(scored: DataFrame, v: DataFrame, k: Int,
      rerank: Int): DataFrame = {
    val wAdc = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc").asc, col("vec_id").asc)
    val shortlist = scored.withColumn("crank", row_number().over(wAdc))
      .filter(col("crank") <= rerank)
      .select(col("probe_id"), col("vec_id"))
    val wCos = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    shortlist
      .join(v.select(col("vec_id"), col("e"), col("n")), Seq("vec_id"))
      .join(v.select(col("vec_id").as("probe_id"),
        col("e").as("pe"), col("n").as("pn")), Seq("probe_id"))
      .withColumn("cos", cosPre("e", "pe", "n", "pn"))
      .withColumn("rank", row_number().over(wCos))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("rank"))
  }

  /**
   * PQ (product-quantization) ANN top-k — the compressed scale path of the
   * similarity suite: the 64-dim corpus is split into `m` subspaces, every
   * sub-vector is ENCODED as its nearest codeword id (codebooks are the
   * mod-sampled sub-vectors — the training-free stand-in for per-subspace
   * [[kmeansAssign]]), and probes score the whole corpus with ADC: distance
   * table probe×codeword per subspace (tiny), then an equi-join against the
   * corpus CODES — the full float vectors never move after encoding. This is
   * what a 100 TB ANN index actually scans: m small ints per vector instead
   * of the embedding.
   *
   * Determinism: per-subspace distances are strict-fold doubles (identical
   * on every engine), the ADC total is a sum of floor(d²·1e12) integers —
   * exact and order-independent — and all argmins tie-break on id, so the
   * DuckDB oracle replays the encoding and the ranking bit-for-bit.
   *
   * Serving runs ADC + [[rerankExact]] (`rerank` > 0, default): codes pick
   * the shortlist, exact cosine on the stored floats decides the top-k —
   * the standard two-stage PQ serving shape. `rerank = 0` is the raw-ADC
   * baseline the recall-floor sensitivity test keeps honest.
   */
  def annPq(emb: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      m: Int = 4, codebookMod: Int = 25, probeMod: Int = 100, k: Int = 10,
      rerank: Int = 150): DataFrame = {
    val (codes, dt) = pqEncode(emb, idCol, vecCol, m, codebookMod, probeMod)
    val scored = codes.join(broadcast(dt), Seq("j", "code_id"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(sum(col("d2e")).as("adc"))
    if (rerank <= 0) adcTopK(scored, k)
    else rerankExact(scored, Caching.scoped(asDouble(emb, idCol, vecCol)), k, rerank)
  }

  /** The PQ index pair shared by [[annPq]] and [[annIvfPq]]: per-vector
    * codes (vec_id, j, code_id) and the probes' ADC distance tables
    * (probe_id, j, code_id, d2e in exact 1e-12 integer units). */
  private def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, codebookMod: Int, probeMod: Int): (DataFrame, DataFrame) = {
    val v = emb.select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("e"))
    val subCols = (0 until m).map { j =>
      struct(lit(j).as("j"),
        expr(s"slice(e, $j * (size(e) div $m) + 1, size(e) div $m)").as("se"))
    }
    val subs = Caching.scoped(
      v.select(col("vec_id"), explode(array(subCols: _*)).as("s"))
        .select(col("vec_id"), col("s.j").as("j"), col("s.se").as("se")))
    val codebook = subs.filter(pmod(col("vec_id"), lit(codebookMod)) === 0)
      .select(col("j"), col("vec_id").as("code_id"), col("se").as("ce"))
    // encode: nearest codeword per (vector, subspace) — broadcast codebook,
    // struct-min argmin (order-independent, ties on code_id). Self-dots
    // hoisted out of the cross product exactly like [[pqEncodeWith]] —
    // same ((a·a − 2(a·b)) + b·b) fold order, bit-identical codes.
    val codes = subs.withColumn("saa", dot("se", "se"))
      .join(broadcast(codebook.withColumn("cbb", dot("ce", "ce"))), Seq("j"))
      .withColumn("d2", col("saa") - lit(2.0) * dot("se", "ce") + col("cbb"))
      .groupBy(col("vec_id"), col("j"))
      .agg(ArgBest.of(subs, "d2", "code_id", asMin = true).as("code_id"))
      .select(col("vec_id"), col("j"), col("code_id"))
    // ADC: probe → per-(subspace, codeword) distance table in exact 1e-12
    // integer units; corpus distance = integer sum over the m code lookups
    val dt = subs.filter(pmod(col("vec_id"), lit(probeMod)) === 0)
      .select(col("vec_id").as("probe_id"), col("j"), col("se").as("pe"))
      .join(broadcast(codebook), Seq("j"))
      .select(col("probe_id"), col("j"), col("code_id"),
        floor(sqDist("pe", "ce") * lit(1e12)).cast("long").as("d2e"))
    (codes, dt)
  }

  /** The PERSISTED form of the PQ stage — frozen per-subspace codebooks
    * from a SEED corpus (`(j, code_id, ce)`; the training-free mod-sampled
    * pick, as [[annPq]]). Frozen for the same reason as [[ivfCentroids]]:
    * re-picking codewords per batch would silently re-encode the whole
    * corpus. Sub-vector slicing is a pure function of (dim, m), so codes
    * computed months apart compare correctly. */
  def pqCodebooks(seed: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", m: Int = 4,
      codebookMod: Int = 25): DataFrame =
    subVectors(seed.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("e")), m)
      .filter(pmod(col("vec_id"), lit(codebookMod)) === 0)
      .select(col("j"), col("vec_id").as("code_id"), col("se").as("ce"))

  /** Per-(vector, subspace) slices of PREPARED vectors (vec_id, e). */
  private def subVectors(v: DataFrame, m: Int): DataFrame = {
    val subCols = (0 until m).map { j =>
      struct(lit(j).as("j"),
        expr(s"slice(e, $j * (size(e) div $m) + 1, size(e) div $m)").as("se"))
    }
    v.select(col("vec_id"), explode(array(subCols: _*)).as("s"))
      .select(col("vec_id"), col("s.j").as("j"), col("s.se").as("se"))
  }

  /** Encode PREPARED vectors (vec_id, e) against FROZEN codebooks: nearest
    * codeword per (vector, subspace), ties on code_id — the append-only
    * code rows a persisted PQ index stores (m small ints per vector).
    * Returns (vec_id, j, code_id). */
  def pqEncodeWith(codebooks: DataFrame, v: DataFrame, m: Int = 4): DataFrame =
    // d2 spelled exactly like [[sqDist]] — ((a·a − 2(a·b)) + b·b), same IEEE
    // fold order, so codes are bit-identical to the per-pair spelling — but
    // with the self-dots hoisted OUT of the |subvectors| × |codewords| cross
    // product: a·a computes once per (vector, subspace) row and b·b once per
    // codeword instead of once per candidate pair, cutting the cross
    // product's dot-product work to a third (r15: pq_encode was 2-7 s of the
    // 100×-root recluster at 400k subvectors × 63 codewords = 25M pairs)
    subVectors(v, m).withColumn("saa", dot("se", "se"))
      .join(broadcast(codebooks.withColumn("cbb", dot("ce", "ce"))), Seq("j"))
      .withColumn("d2", col("saa") - lit(2.0) * dot("se", "ce") + col("cbb"))
      .groupBy(col("vec_id"), col("j"))
      .agg(ArgBest.of(codebooks, "d2", "code_id", asMin = true).as("code_id"))
      .select(col("vec_id"), col("j"), col("code_id"))

  /** Probes' ADC distance tables against FROZEN codebooks: one row per
    * (probe, subspace, codeword) with the squared distance in exact 1e-12
    * integer units — tiny (|probes| × m × codewords), always broadcast. */
  def adcTables(codebooks: DataFrame, probes: DataFrame, m: Int = 4): DataFrame =
    subVectors(probes, m)
      .select(col("vec_id").as("probe_id"), col("j"), col("se").as("pe"))
      .join(broadcast(codebooks), Seq("j"))
      .select(col("probe_id"), col("j"), col("code_id"),
        floor(sqDist("pe", "ce") * lit(1e12)).cast("long").as("d2e"))

  /**
   * IVF-PQ top-k over the SPLIT persisted layout — the serving face of a
   * disk-resident 100 TB vector index: coarse centroids pick each probe's
   * `nprobe` buckets, the assignment table prunes to candidate ids, the
   * CODE table (m ints per vector — the only corpus-sized thing scanned)
   * scores candidates by integer ADC against the probe's broadcast
   * distance table, and the top-`rerank` shortlist re-ranks by exact
   * cosine against the vector store. The float vectors move only for the
   * shortlist — |probes| × rerank rows, never the candidate set.
   *
   * Same determinism contract as [[annIvfPq]] (strict folds, exact integer
   * ADC, id tiebreaks), so a disk round-trip of the four tables serves
   * bit-identical results.
   */
  def ivfPqSearchIndexed(centroids: DataFrame, assignments: DataFrame,
      codes: DataFrame, codebooks: DataFrame, vecs: DataFrame,
      probes: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", nprobe: Int = 2, m: Int = 4,
      k: Int = 10, rerank: Int = 150,
      preBuckets: Option[DataFrame] = None): DataFrame = {
    val p = Caching.scoped(asDouble(probes, idCol, vecCol))
    // a serving caller that already ran bucket selection (to collect the
    // pushed IN list) passes it in — same (probe_id, centroid_id) pairs by
    // the determinism contract, and the probe × nlist window runs once per
    // query instead of twice
    val pb = preBuckets.getOrElse {
      val wProbe = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("centroid_id").asc)
      p.select(col("vec_id").as("probe_id"),
          col("e").as("pe"), col("n").as("pn"))
        .join(broadcast(centroids))
        .withColumn("cos", cosPre("pe", "ce", "pn", "cn"))
        .withColumn("rn", row_number().over(wProbe))
        .filter(col("rn") <= nprobe)
        .select(col("probe_id"), col("centroid_id"))
    }
    val cand = pb.select(col("probe_id"), col("centroid_id"))
      .join(assignments.select(col("vec_id"), col("centroid_id")),
        Seq("centroid_id"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"))
    val dt = adcTables(codebooks,
      p.select(col("vec_id"), col("e")), m)
    val scored = cand.join(codes, Seq("vec_id"))
      .join(broadcast(dt), Seq("probe_id", "j", "code_id"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(sum(col("d2e")).as("adc"))
    if (rerank <= 0) adcTopK(scored, k)
    else {
      // re-rank against the STORE's vectors and norms; probe vectors join
      // back from the prepared probe frame (probes need not be corpus rows)
      val wAdc = Window.partitionBy(col("probe_id"))
        .orderBy(col("adc").asc, col("vec_id").asc)
      val shortlist = scored.withColumn("crank", row_number().over(wAdc))
        .filter(col("crank") <= rerank)
        .select(col("probe_id"), col("vec_id"))
      val wCos = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      shortlist
        .join(vecs.select(col("vec_id"), col("e"), col("n")), Seq("vec_id"))
        .join(p.select(col("vec_id").as("probe_id"),
          col("e").as("pe"), col("n").as("pn")), Seq("probe_id"))
        .withColumn("cos", cosPre("e", "pe", "n", "pn"))
        .withColumn("rank", row_number().over(wCos))
        .filter(col("rank") <= k)
        .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("rank"))
    }
  }

  /**
   * IVF-PQ top-k — the production composition of the two index stages, and
   * what a real 100 TB vector index runs: IVF decides WHICH vectors each
   * probe scores (its `nprobe` nearest centroid buckets — an equi-join on
   * centroid id, shuffle proportional to bucket sizes), PQ-ADC decides HOW
   * each candidate is scored (m integer code lookups against the probe's
   * broadcast distance table — the full float vectors never move after
   * encoding). Either stage alone leaves scale on the table: IVF-flat still
   * ships full vectors through the candidate join; PQ-flat still scores the
   * WHOLE corpus per probe. Composed, the scan cost is
   * |bucket candidates| × m small ints.
   *
   * Same determinism contract as the parts: centroid assignment and probe
   * buckets replay [[annIvf]]'s argmax-cosine with id tiebreaks, encoding
   * and ADC replay [[annPq]]'s exact integer units — the DuckDB oracle
   * composes the two replays and matches bit-for-bit. Bucket pruning still
   * bounds recall (a neighbor outside the probed buckets is unreachable),
   * but the [[rerankExact]] stage removes the quantization-error term:
   * [[graft.queries.LlmWorkload]]'s `ann_recall` entry measures all three
   * variants against the brute-force truth, which is how nprobe/m/rerank
   * get sized before trusting the index.
   */
  def annIvfPq(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", centroidMod: Int = 25, probeMod: Int = 100,
      nprobe: Int = 2, m: Int = 4, codebookMod: Int = 25, k: Int = 10,
      rerank: Int = 150): DataFrame = {
    val v = Caching.scoped(asDouble(emb, idCol, vecCol))
    val centroids = v.filter(pmod(col("vec_id"), lit(centroidMod)) === 0)
      .select(col("vec_id").as("centroid_id"), col("e").as("ce"), col("n").as("cn"))
    val assigned = assignToCentroids(v, centroids)
    val probes = v.filter(pmod(col("vec_id"), lit(probeMod)) === 0)
      .select(col("vec_id").as("probe_id"), col("e").as("pe"), col("n").as("pn"))
    val wProbe = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("centroid_id").asc)
    val probeBuckets = probes.join(broadcast(centroids))
      .withColumn("cos", cosPre("pe", "ce", "pn", "cn"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("probe_id"), col("centroid_id"))
    // the IVF candidate set: vectors in the probe's buckets — ids only, the
    // floats stay behind (PQ codes carry the geometry from here on)
    val cand = probeBuckets.join(assigned, Seq("centroid_id"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"))
    val (codes, dt) = pqEncode(emb, idCol, vecCol, m, codebookMod, probeMod)
    val scored = cand.join(codes, Seq("vec_id"))
      .join(broadcast(dt), Seq("probe_id", "j", "code_id"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(sum(col("d2e")).as("adc"))
    if (rerank <= 0) adcTopK(scored, k)
    else rerankExact(scored, v, k, rerank)
  }

  /**
   * Lloyd's k-means over the embedding corpus — the codebook trainer behind
   * IVF/PQ indexing ([[annIvf]]'s mod-sampled codebook stands in for exactly
   * this at identical plumbing). Deterministic and engine-portable:
   *
   *  - seeds are the vectors with `vec_id % centroidMod == 0` (k-means‖-style
   *    seeding would add a shuffled sampling pass; mod-sampling keeps the
   *    oracle replayable);
   *  - assignment is argmax cosine (ties: lowest cluster id) — the same
   *    strict-left-fold dot products as the rest of the vector suite;
   *  - the centroid UPDATE is the one float reduction in the engine whose
   *    order Spark cannot pin, so per-dimension means go through exact
   *    DECIMAL(38,18) sums (order-independent) and a single double division
   *    — bit-identical across partitionings AND engines.
   *
   * Per iteration: one broadcast of the k centroids, one argmax pass, one
   * posexplode + (cluster, dim) aggregation — shuffle volume is corpus×dim
   * rows of (long, int, double), never corpus². Empty clusters drop out
   * (standard Lloyd's). Returns the final assignment (vec_id, cluster_id).
   */
  def kmeansAssign(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", centroidMod: Int = 25,
      iters: Int = 2): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val v = Caching.scoped(asDouble(emb, idCol, vecCol))
    var centroids = v.filter(pmod(col("vec_id"), lit(centroidMod)) === 0)
      .select(col("vec_id").as("centroid_id"), col("e").as("ce"), col("n").as("cn"))
    var assigned: DataFrame = null
    for (_ <- 1 to iters) {
      assigned = assignToCentroidsFull(v, centroids)
      centroids = lloydRefine(assigned)
    }
    assigned.select(col("vec_id"), col("centroid_id").as("cluster_id"))
  }

  /** Fixed-point scale of the LONG-accumulator Lloyd mean (the
    * `portableDecimal = false` mode of [[lloydRefine]]): coordinates round
    * to 2^-38 units, so a per-(cluster, dim) sum stays inside a signed
    * long for |x| ≤ 4 up to ~2^23 rows per cluster — the training-sample
    * cap ([[KmeansTrainPointsPerCentroid]]) keeps real buckets orders of
    * magnitude below that. */
  private val LloydFixedPointScale = (1L << 38).toDouble

  /** One Lloyd centroid update: per-cluster per-dimension means of the
    * assigned vectors, returned in codebook shape (centroid_id, ce, cn).
    * Empty clusters drop out. Shared by [[kmeansAssign]] and
    * [[kmeansCentroids]].
    *
    * Two accumulator modes, both order-independent (integer addition
    * commutes) and therefore deterministic across partitionings:
    *  - `portableDecimal = true`: exact DECIMAL(38,18) sums — the
    *    engine-portable arithmetic the DuckDB oracle replays (the
    *    `kmeansAssign` family's gate entries pin it). Measured cost (r15
    *    stage profile): ~1.5 µs/cell — Spark sums decimals through
    *    non-vectorized BigDecimal, and at the recluster fixture's 1.6M
    *    cells the decimal aggregation alone was ~2.4 s of each ~3 s
    *    refine, ~5 s of the 16 s maint_recluster_embedding_100x entry.
    *  - `portableDecimal = false`: exact LONG sums of 2^-38 fixed-point
    *    units (round(x·2^38)) — ~4× faster end-to-end, same determinism,
    *    mean differs from the decimal mean by < 2^-38 per coordinate
    *    (quantization far below the k-means noise floor). For consumers
    *    with no oracle replay: the RECLUSTER retrain
    *    ([[kmeansCentroids]]/[[kmeansCentroidsHier]]), whose codebook is
    *    compared against nothing bit-exact — only served and gauged by
    *    recall floors. `LloydFixedPointSpec` pins the arithmetic and the
    *    closeness of the two modes. */
  private def lloydRefine(assignedFull: DataFrame,
      portableDecimal: Boolean = true): DataFrame = {
    val mean =
      if (portableDecimal)
        sum(col("x").cast("decimal(38,18)")).cast("double") /
          count(lit(1)).cast("double")
      else
        sum(round(col("x") * lit(LloydFixedPointScale)).cast("long"))
          .cast("double") / lit(LloydFixedPointScale) /
          count(lit(1)).cast("double")
    // input carries the winner's vector from the assignment aggregate
    // (the struct-carry — see [[ivfAssign]]), so the refine is explode +
    // aggregate with NO corpus-sized join
    assignedFull
      .select(col("centroid_id"), posexplode(col("e")).as(Seq("pos", "x")))
      .groupBy(col("centroid_id"), col("pos"))
      .agg(mean.as("m"))
      .groupBy(col("centroid_id"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)").as("ce"))
      .withColumn("cn", sqrt(dot("ce", "ce")))
  }

  /** Rows per centroid past which the Lloyd TRAINING passes run on a
    * deterministic mod-sample of the corpus instead of all of it — the
    * standard codebook discipline (FAISS caps k-means training at 256
    * points per centroid for the same reason): a centroid's mean is
    * estimated from its bucket, and a few hundred points estimate a
    * 16-64-dim mean to far below the quantization cell size, so training
    * on more corpus buys noise reduction nobody can observe while its
    * cost grows with the corpus. With the cap, retraining costs
    * O(cap · nlist · √nlist) REGARDLESS of corpus size, and the one
    * remaining corpus-sized pass is the single post-training backfill
    * assignment — the bound that keeps recluster viable at 100 TB, where
    * unsampled Lloyd would be corpus × √nlist per iteration (corpus^1.5
    * under bucket-size-constant nlist growth: the maint_recluster curve's
    * named super-linear stage, r15 diagnosis). Sampling is by vec_id
    * modulus — deterministic and engine-portable like the seed pick. */
  val KmeansTrainPointsPerCentroid = 256

  /** Deterministic Lloyd training subset under the
    * [[KmeansTrainPointsPerCentroid]] cap: every `stride`-th vec_id, with
    * the stride chosen so ≈ cap·nlist rows survive. Seeds (vec_id %
    * centroidMod == 0) need not be inside the sample — they only
    * initialize; the refined means come from the sample's buckets. */
  private def kmeansTrainSample(v: DataFrame, centroidMod: Int,
      vCount: Long = -1L): DataFrame = {
    // callers that already counted the (checkpointed) corpus pass the count
    // in — the retrain path is driver-round-trip-bound and this was a
    // duplicate job for a number the caller held
    val n = if (vCount >= 0L) vCount else v.count()
    val nlist = math.max(1L, n / centroidMod)
    val stride = n / math.max(1L, KmeansTrainPointsPerCentroid.toLong * nlist)
    if (stride <= 1L) v
    else v.filter(pmod(col("vec_id"), lit(stride)) === 0)
  }

  /** Materialize the Lloyd training sample once: the filter re-evaluates
    * per plan reference otherwise, and each of the `iters` iterations
    * references it three times (candidate build + two join-backs). */
  private def trainByVecId(train: DataFrame): DataFrame =
    train.localCheckpoint()

  /** Lloyd-refined CODEBOOK over PREPARED vectors (vec_id, e, n) — what a
    * recluster retrains its coarse centroids with instead of re-picking by
    * modulus ([[graft.stream.EmbeddingIngest.recluster]]): mod-sampled
    * seeds (deterministic), `iters` assign+refine passes over the
    * [[KmeansTrainPointsPerCentroid]]-capped training sample, centroid ids
    * stay the seed ids so epoch-stamped assignment rows remain joinable.
    * Returns (centroid_id, ce, cn). */
  def kmeansCentroids(v: DataFrame, centroidMod: Int = 25,
      iters: Int = 2, vCount: Long = -1L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val train = trainByVecId(kmeansTrainSample(v, centroidMod, vCount))
    var centroids = v.filter(pmod(col("vec_id"), lit(centroidMod)) === 0)
      .select(col("vec_id").as("centroid_id"), col("e").as("ce"), col("n").as("cn"))
    // localCheckpoint per refine (the r15 recluster diagnosis): an
    // iteration's codebook is an nlist-row sliver, but its LINEAGE is a
    // corpus-sized join+explode+aggregate — left lazy, the next
    // iteration's plan re-derives it at every reference, nesting a fresh
    // corpus pass per level. Materializing the sliver keeps each
    // iteration exactly one training pass.
    for (_ <- 1 to iters)
      centroids = lloydRefine(assignToCentroidsFull(train, centroids),
        portableDecimal = false)
        .localCheckpoint()
    centroids
  }

  /** [[kmeansCentroids]] with HIER-ROUTED Lloyd assignment — the retrain
    * for codebooks past the broadcast ceiling (the last flat corpus ×
    * nlist pass of the persisted-index family): each assign pass derives
    * the meta routing from ITS OWN iteration's codebook (centroid vectors
    * move every pass) and routes vectors meta-first, so an iteration
    * costs corpus × O(√nlist) and broadcasts nothing larger than the meta
    * set. The trade is the standard two-level one — a vector whose true
    * nearest centroid lives under another meta refines a second-best
    * bucket's mean instead — gauged by the post-recluster recall floor;
    * `metaMod = 1` (every centroid its own meta) degenerates to the flat
    * [[kmeansCentroids]] bit-exactly. Centroid ids stay the seed ids. */
  def kmeansCentroidsHier(v: DataFrame, centroidMod: Int = 25,
      metaMod: Int = 100, iters: Int = 2, vCount: Long = -1L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    var centroids = v.filter(pmod(col("vec_id"), lit(centroidMod)) === 0)
      .select(col("vec_id").as("centroid_id"), col("e").as("ce"), col("n").as("cn"))
    // localCheckpoint per refine (see [[kmeansCentroids]]) matters most
    // here: ivfHierRouting references the codebook ~4× per iteration (two
    // eager emptiness guards, the meta pick, the child join), so an
    // un-materialized iteration-1 refine re-executed four-plus times
    // inside iteration 2's plan. The r15 stage log split what remains:
    // per iteration ≈ one assign (train × (√nlist metas + one bucket's
    // children)) + one refine (train-sized shuffle + exact decimal sums)
    // — genuine work the training-sample cap bounds at scale, the
    // kmeans_retrain stage being ~55-60% of maint_recluster_embedding_100x.
    val train = trainByVecId(kmeansTrainSample(v, centroidMod, vCount))
    for (_ <- 1 to iters) {
      val (m, ch) = ivfHierRouting(centroids, metaMod)
      centroids = lloydRefine(ivfAssignHierRoutedFull(m, ch, train),
        portableDecimal = false)
        .localCheckpoint()
    }
    centroids
  }

  /** PQ reconstruction-error drift report — the quantization twin of
    * [[ivfBucketHealth]] (VERDICT r9 item 4): per subspace, how far the
    * corpus sits from its assigned codewords. A codebook frozen on a seed
    * distribution degrades silently as the corpus drifts — ADC shortlists
    * keep returning, they just stop containing the true neighbors, and
    * the exact re-rank stage HIDES the decay until the shortlist misses
    * entirely — so the gauge watches the reconstruction error the ADC
    * arithmetic is actually built on. Inputs are the persisted shapes:
    * codebooks (j, code_id, ce), codes (vec_id, j, code_id), prepared
    * vectors (vec_id, e). Output per subspace: (j, n_codes, mean_d2,
    * max_d2) — engine-portable via exact 1e-12 integer error units.
    * Scale: one broadcast of the codebooks, one (vec_id, j) equi-join of
    * codes against the sliced vectors, one m-row aggregate — no
    * corpus-sized shuffle. */
  def pqReconstructionError(codebooks: DataFrame, codes: DataFrame,
      v: DataFrame, m: Int = 4): DataFrame =
    subVectors(v.select(col("vec_id"), col("e")), m)
      .join(codes.select(col("vec_id"), col("j"), col("code_id")),
        Seq("vec_id", "j"))
      .join(broadcast(codebooks.select(col("j"), col("code_id"), col("ce"))),
        Seq("j", "code_id"))
      .withColumn("__d2e", floor(sqDist("se", "ce") * lit(1e12)).cast("long"))
      .groupBy(col("j"))
      .agg(count(lit(1)).as("n_codes"),
        (sum(col("__d2e")).cast("double") / count(lit(1)).cast("double") /
          lit(1e12)).as("mean_d2"),
        (max(col("__d2e")).cast("double") / lit(1e12)).as("max_d2"))
      .select(col("j").cast("long").as("j"), col("n_codes"),
        col("mean_d2"), col("max_d2"))

  /**
   * Scalar int8 quantization of the embedding corpus — the compression stage
   * of a vector index: each dimension is linearly mapped to 0..255 using the
   * CORPUS-WIDE per-dimension [min, max] (order-independent aggregates), and
   * each vector reports its quantized summary plus the mean absolute
   * reconstruction error in 1e-12 units (per-element errors floor-scaled to
   * exact integers, summed as bigints — a DECIMAL cast of full-precision
   * doubles rounds its 18th digit differently across engines; floor(x·1e12)
   * is IEEE-exact everywhere).
   *
   * Scale: one posexplode + per-dimension min/max (dim-sized result,
   * broadcast back over the exploded frame), one groupBy vec_id. The 4×
   * compressed codes this models are what a 100 TB ANN index actually
   * scans; `recon_mae` is the quality gauge for choosing bits-per-dim.
   */
  def quantizeInt8(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // cells feeds both the range aggregation and the quantization join —
    // scope-cache so the explode scan runs once
    val cells = Caching.scoped(asDouble(emb, idCol, vecCol)
      .select(col("vec_id"), posexplode(col("e")).as(Seq("pos", "x"))))
    val ranges = cells.groupBy(col("pos"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val q = when(col("hi") === col("lo"), lit(0L))
      .otherwise(round((col("x") - col("lo")) / (col("hi") - col("lo")) * 255).cast("long"))
    cells.join(broadcast(ranges), Seq("pos"))
      .withColumn("q", q)
      .withColumn("err",
        abs(col("x") - (col("lo") + col("q").cast("double") / 255.0 * (col("hi") - col("lo")))))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("dim"),
        sum(col("q")).as("q_sum"), min(col("q")).as("q_min"), max(col("q")).as("q_max"),
        (sum(floor(col("err") * lit(1e12)).cast("long")).cast("double") /
          count(lit(1)).cast("double")).as("recon_mae_e12"))
  }

  /**
   * Exact covariance matrix of the embedding coordinates — the whitening /
   * PCA-prep statistic (dimension drift, correlated-coordinate detection,
   * OPQ-style rotation inputs all start here). Returns the upper triangle
   * `(i, j, n, sxy, sx, sy, cov)` with 1-based coordinates, `i <= j`.
   *
   * Arithmetic is engine-portable by construction (the quantizeInt8
   * discipline): each coordinate is first quantized to a scaled integer
   * `round(x * 2^scaleBits)` — exact, because a float's value times a
   * power of two is exactly representable in double and both engines round
   * halves away from zero — so `sxy/sx/sy` are exact integer sums and the
   * final `cov` double is the same IEEE expression evaluated in the same
   * order on identical inputs. At the default 20 bits and unit-norm-ish
   * inputs, |x_int| < 2^21: the LONG product sum is provably exact only
   * up to [[covarianceLongSafeRows]] rows (~half a million at 20 bits) —
   * a corpus above it passes `wideSums = true` to raise the accumulators
   * to DECIMAL(38,0) (exact to 10³⁸ ≈ 2¹²⁶, same plan shape: the per-pair
   * product still fits long and only the SUM widens; `CovarianceSpec`
   * pins the two accumulators bit-equal — sums and cov — on the fixture
   * corpus). The sf-scale gate entry stays on the long path.
   *
   * Scale: the d²/2 pair explode is map-local CPU; the groupBy's partial
   * (map-side) aggregation means the one shuffle carries only
   * `partitions × d²/2` partial sums — the corpus never moves.
   */
  def covarianceReport(emb: DataFrame, vecCol: String = "embedding",
      scaleBits: Int = 20, wideSums: Boolean = false): DataFrame = {
    require(scaleBits > 0 && scaleBits <= 26, s"scaleBits out of range: $scaleBits")
    val scale = (1L << scaleBits).toDouble
    // spread BEFORE the d²/2 pair explode (the [[asDouble]] discipline): a
    // small corpus read is one parquet file → one scan partition, and
    // without the repartition the entire corpus × d²/2 struct explode ran
    // on a single core (r15: embedding_covariance and both PCA faces spent
    // ~2.5 s each single-threaded here). Integer sums commute, so the
    // repartition cannot change any output value.
    val ints = graft.Spread.byKey(emb, col(vecCol)).select(expr(
      s"transform($vecCol, x -> CAST(round(CAST(x AS DOUBLE) * $scale) AS BIGINT))")
      .as("v"))
    def acc(c: Column): Column =
      if (wideSums) c.cast("decimal(38,0)") else c
    ints
      .select(explode(expr(
        """flatten(transform(sequence(1, size(v)), i ->
          |  transform(sequence(i, size(v)), j -> struct(
          |    i AS i, j AS j,
          |    element_at(v, i) * element_at(v, j) AS xy,
          |    element_at(v, i) AS x, element_at(v, j) AS y))))""".stripMargin))
        .as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"),
        col("p.xy").as("xy"), col("p.x").as("x"), col("p.y").as("y"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"), sum(acc(col("xy"))).as("sxy"),
        sum(acc(col("x"))).as("sx"), sum(acc(col("y"))).as("sy"))
      .withColumn("cov",
        (col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double")
            / col("n").cast("double"))
          / col("n").cast("double") / lit(scale * scale))
  }

  /** Rows below which [[covarianceReport]]'s LONG accumulators are provably
    * exact: the widest sum is |Σxy| < n · 2^(2·(scaleBits+1)) for
    * unit-norm-ish inputs (|x| ≤ 2), which must stay under 2⁶². At the
    * default 20 bits that is 2¹⁹ ≈ 5×10⁵ rows; corpora above it pass
    * `wideSums = true`. */
  def covarianceLongSafeRows(scaleBits: Int): Long =
    1L << math.max(0, 62 - 2 * (scaleBits + 1))

  /**
   * PCA projection onto the corpus's dominant principal direction — the
   * dimensionality-reduction / whitening-prep face of an embedding
   * pipeline (compress before clustering, decorrelate before quantizing,
   * rank by the axis of maximum variance). Returns `(vec_id, pc1)`: each
   * row's CENTERED projection onto the top eigenvector of the covariance
   * matrix, as an exact scaled integer.
   *
   * Engine-portable by an all-integer construction (no libm, no float
   * fold anywhere): coordinates quantize to `round(x·2^scaleBits)` ints;
   * the centered covariance numerator `C = n·Σxy − Σx·Σy` is exact BIGINT
   * from ONE [[covarianceReport]] pass; C is truncation-shifted until its
   * magnitude fits 22 bits; the dominant eigenvector comes from `iters`
   * fixed-point power iterations on the shifted matrix (start = the
   * all-ones vector at 2^16 scale, each step renormalized to max-abs
   * 2^16 by truncating integer division — both engines truncate toward
   * zero, verified), sign-canonicalized so the first nonzero component is
   * positive; the projection `Σ_j (n·x_j − Σx_j)·v_j` is again exact
   * BIGINT. Identical integer arithmetic in DuckDB replays it bit-for-bit
   * — integer addition commutes, so even aggregation order is free.
   *
   * Overflow bounds (all enforced): |C'| < 2^22 and |v| ≤ 2^16 keep the
   * matvec under 2^(22+16+log2 d) and the renormalization product under
   * 2^60; the projection term needs n·2^(scaleBits+2+16+log2 d) < 2^63 —
   * at the default 10 bits and d=64, exact to n ≈ 2^28 rows. Beyond
   * that, drop scaleBits (the direction is scale-free).
   *
   * Scale: the only corpus-sized work is the covariance pass (map-local
   * d²/2 explode, partial-agg shuffle of d²/2 keys) and the final
   * projection scan (one codegen fold per row, direction folded in as a
   * literal). The eigensolve itself touches d² driver-side integers —
   * free at any corpus size.
   */
  /** The driver-side half of [[pcaProject]]: one covariance collect, the
    * truncation shift, the fixed-point power iteration, and the sign
    * canonicalization. Returns (d, n, Σx per coordinate, the shifted
    * covariance matrix, the canonical direction at 2^16 scale). Shared by
    * the projection entry and the explained-variance gauge so both faces
    * pin against the SAME eigensolve. */
  private[graft] def pcaSolve(emb: DataFrame, vecCol: String, scaleBits: Int,
      iters: Int): (Int, Long, Array[Long], Array[Array[Long]], IndexedSeq[Long]) = {
    require(scaleBits > 0 && scaleBits <= 20, s"scaleBits out of range: $scaleBits")
    val pairs = covarianceReport(emb, vecCol, scaleBits)
      .select(col("i"), col("j"), col("n"), col("sxy"), col("sx"), col("sy"))
      .collect() // bounded: d(d+1)/2 rows
    require(pairs.nonEmpty, "empty corpus")
    val d = pairs.iterator.map(_.getInt(1)).max
    val n = pairs.head.getLong(2)
    require(n < (1L << 26), s"n=$n beyond the exact-long bound; drop scaleBits")
    val sx = Array.ofDim[Long](d + 1)
    val c = Array.ofDim[Long](d + 1, d + 1)
    pairs.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      if (i == j) sx(i) = r.getLong(4)
      val v = n * r.getLong(3) - r.getLong(4) * r.getLong(5)
      c(i)(j) = v; c(j)(i) = v
    }
    val maxAbs = c.iterator.flatMap(_.iterator).map(math.abs).max
    val shift = math.max(0, 64 - java.lang.Long.numberOfLeadingZeros(maxAbs) - 22)
    val p = 1L << shift
    for (i <- 1 to d; j <- 1 to d) c(i)(j) = c(i)(j) / p // trunc, like SQL div
    var v = Array.fill(d + 1)(1L << 16); v(0) = 0L
    for (_ <- 1 to iters) {
      val u = Array.ofDim[Long](d + 1)
      for (i <- 1 to d) { var s = 0L; var j = 1
        while (j <= d) { s += c(i)(j) * v(j); j += 1 }; u(i) = s }
      val m = math.max((1 to d).iterator.map(i => math.abs(u(i))).max, 1L)
      for (i <- 1 to d) v(i) = u(i) * 65536L / m
    }
    val sgn = (1 to d).iterator.map(v).find(_ != 0L) match {
      case Some(x) if x < 0L => -1L; case _ => 1L
    }
    (d, n, sx, c, (1 to d).map(i => v(i) * sgn))
  }

  def pcaProject(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", scaleBits: Int = 10,
      iters: Int = 12): DataFrame = {
    val (d, n, sx, _, vs) = pcaSolve(emb, vecCol, scaleBits, iters)
    val scale = (1L << scaleBits).toDouble
    // the projection Σ_j (n·v_j − Σx_j)·dir_j UNROLLED as a flat 64-term
    // codegen sum with the per-coordinate constants folded in as literals
    // (r15): the previous HOF spelling rebuilt two d-element literal
    // arrays INSIDE the fold lambda — interpreted, per row per step, ~3 s
    // of the entry at sf0.1 — while reduceLeft(+) binds the identical
    // left-to-right exact-integer addition order (it commutes anyway).
    // Spread first: the corpus read is one scan partition otherwise.
    val terms = (1 to d).map(j =>
      (lit(n) * element_at(col("__v"), j) - lit(sx(j))) * lit(vs(j - 1)))
    graft.Spread.byKey(emb, col(idCol))
      .select(col(idCol).as("vec_id"), expr(
        s"transform($vecCol, x -> CAST(round(CAST(x AS DOUBLE) * $scale) AS BIGINT))")
        .as("__v"))
      .select(col("vec_id"), terms.reduceLeft(_ + _).as("pc1"))
  }

  /**
   * PCA explained-variance gauge — "how much of the corpus variance does
   * the dominant direction carry?", the one-row report that tells a
   * pipeline whether truncating to few components is safe. λ1 is the
   * integer Rayleigh quotient of [[pcaSolve]]'s canonical direction
   * (downscaled to 2^8 so the quadratic form stays inside exact longs:
   * |C'|·2^16·d² < 2^50) against the shifted covariance matrix; the trace
   * is the same matrix's diagonal sum; `share_ppm` is their ratio in
   * parts-per-million by one truncating integer division. Same eigensolve
   * as [[pcaProject]] — the two faces cannot drift apart.
   */
  def pcaExplained(emb: DataFrame, vecCol: String = "embedding",
      scaleBits: Int = 10, iters: Int = 12): DataFrame = {
    val (d, n, _, c, vs) = pcaSolve(emb, vecCol, scaleBits, iters)
    val v8 = vs.map(_ / 256L)
    var num = 0L
    var den = 0L
    for (i <- 1 to d) {
      den += v8(i - 1) * v8(i - 1)
      for (j <- 1 to d) num += v8(i - 1) * c(i)(j) * v8(j - 1)
    }
    val trace = (1 to d).map(i => c(i)(i)).sum
    val lambda1 = num / math.max(den, 1L)
    val sharePpm = lambda1 * 1000000L / math.max(trace, 1L)
    val spark = emb.sparkSession
    spark.range(1).select(
      lit(d).cast("long").as("d"), lit(n).as("n_vecs"),
      lit(lambda1).as("lambda1_scaled"), lit(trace).as("trace_scaled"),
      lit(sharePpm).as("share_ppm"))
  }

  /**
   * Embedding outlier scores — diagonal Mahalanobis distance from the
   * corpus mean, the embedding-quality pruning filter (drop or down-weight
   * rows whose representation sits far outside the population). Returns
   * the `topK` most-outlying `(vec_id, score)`.
   *
   * Exactness (the [[covarianceReport]] discipline): coordinates quantize
   * to `round(x·2^scaleBits)` integers; per coordinate the score term is
   * `(n·x − Σx)² / (n·Σx² − (Σx)²)` — numerator and denominator are exact
   * integer arithmetic, each cast to double once, and the per-row sum runs
   * as an ordered index fold (`aggregate(sequence(...))`), never a
   * shuffle-order-dependent double sum — so the doubles are bit-identical
   * across engines and runs. A CONSTANT coordinate has zero variance —
   * its denominator is exactly 0 (exact integers, so the test is exact
   * too) and its term is defined as 0: a coordinate that never moves
   * carries no outlier information, and without the guard Spark's
   * non-ANSI division would emit NaN where DuckDB raises.
   *
   * Row bound (ADVICE r14): the widest term is the numerator
   * `(n·x − Σx)²` ≈ `(2n·2^(scaleBits+1))²` — at the default 20 bits and
   * unit-norm-ish inputs it crosses the signed-64-bit range near
   * n ≈ 2²², so exactness holds for corpora up to ~4M rows; the sf-scale
   * gate inputs (≤ 2×10³ rows) sit ~2000× inside the bound. Beyond that,
   * REDUCE `scaleBits`: the score is scale-invariant (numerator and
   * denominator both carry 2^(2·scaleBits)), so a smaller scale changes
   * only the quantization granularity, and each bit dropped doubles the
   * exact-row bound — scaleBits=8 holds to ~2³⁴ rows, plenty for a
   * 100 TB corpus whose quantization error is already dominated by the
   * embedding model's own noise floor.
   *
   * Scale: one pass for the 64-row stats (partial aggregation), stats
   * broadcast back as a one-row array frame (the scalar-crossJoin
   * pattern), one scoring scan, TakeOrdered top-k. The corpus never
   * shuffles.
   */
  def embeddingOutliers(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", topK: Int = 10,
      scaleBits: Int = 20): DataFrame = {
    require(scaleBits > 0 && scaleBits <= 26, s"scaleBits out of range: $scaleBits")
    val scale = (1L << scaleBits).toDouble
    val ints = Caching.scoped(emb.select(col(idCol).as("vec_id"), expr(
      s"transform($vecCol, x -> CAST(round(CAST(x AS DOUBLE) * $scale) AS BIGINT))")
      .as("v")))
    val coord = ints
      .select(explode(expr(
        "transform(sequence(1, size(v)), i -> struct(i AS i, element_at(v, i) AS x))"))
        .as("u"))
      .groupBy(col("u.i").as("i"))
      .agg(count(lit(1)).as("n"), sum(col("u.x")).as("sx"),
        sum(expr("u.x * u.x")).as("sxx"))
    // one-row stats array, index-sorted so the fold order is the
    // coordinate order in both engines
    val statsRow = coord.groupBy()
      .agg(sort_array(collect_list(struct(col("i"), col("n"), col("sx"),
        col("sxx")))).as("st"))
    ints.crossJoin(broadcast(statsRow))
      .select(col("vec_id"), expr(
        """aggregate(sequence(1, size(v)), CAST(0.0 AS DOUBLE), (acc, i) ->
          |  acc + CASE WHEN element_at(st, i).n * element_at(st, i).sxx
          |                - element_at(st, i).sx * element_at(st, i).sx = 0
          |      THEN CAST(0.0 AS DOUBLE)
          |      ELSE CAST((element_at(st, i).n * element_at(v, i) - element_at(st, i).sx)
          |              * (element_at(st, i).n * element_at(v, i) - element_at(st, i).sx)
          |                AS DOUBLE)
          |         / CAST(element_at(st, i).n * element_at(st, i).sxx
          |              - element_at(st, i).sx * element_at(st, i).sx AS DOUBLE) END)"""
          .stripMargin).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(topK)
  }

  /**
   * Embedding-cosine near-dup pairs — the vector member of the dedup family:
   * candidate pairs are vectors sharing an IVF bucket (equi-join on the
   * nearest-centroid assignment — never an all-pairs product), verified with
   * the exact cosine and kept above `threshold`.
   *
   * Two scale/recall refinements over plain single-probe bucketing:
   *  - **multi-probe** (`nprobe`, default 2): every vector lands in its
   *    `nprobe` nearest buckets, so a near-dup pair straddling a centroid
   *    boundary still shares a bucket; candidate id-pairs are de-duplicated
   *    BEFORE the exact-cosine verify, so each pair is scored once;
   *  - **bucket-size guard** (`maxBucket`): a pathologically clustered corpus
   *    can concentrate the corpus in one bucket and make the self-join
   *    quadratic in one reducer. Buckets larger than `maxBucket` are split
   *    into `ceil(size / maxBucket)` sub-buckets by a deterministic hash of
   *    the vector id; pairs are generated within sub-buckets only. Work per
   *    reducer is then O(maxBucket²) regardless of skew, at the price of
   *    recall inside oversized buckets — the same boundedness-for-recall
   *    trade LSH banding makes. At test scales no bucket reaches the
   *    default cap, so the oracle models the unsplit semantics.
   */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", centroidMod: Int = 25,
      threshold: Double = 0.4, nprobe: Int = 2,
      maxBucket: Int = 4096): DataFrame = {
    val v = Caching.scoped(asDouble(emb, idCol, vecCol))
    val centroids = v.filter(pmod(col("vec_id"), lit(centroidMod)) === 0)
      .select(col("vec_id").as("centroid_id"), col("e").as("ce"), col("n").as("cn"))
    val assigned = assignToCentroids(v, centroids, nprobe)
    // skew guard: sub-split oversized buckets by a deterministic id hash
    val wBucket = Window.partitionBy(col("centroid_id"))
    val bucketed = assigned
      .withColumn("__nsub",
        ceil(count(lit(1)).over(wBucket) / lit(maxBucket)).cast("long"))
      .withColumn("__sub", pmod(xxhash64(col("vec_id")), greatest(col("__nsub"), lit(1L))))
      .select(col("centroid_id"), col("__sub"), col("vec_id"))
    // candidate id pairs, de-duplicated across shared buckets before the
    // (expensive) exact verify — ids only, so the distinct shuffles no arrays
    val cand = bucketed.select(col("centroid_id"), col("__sub"), col("vec_id").as("vec_a"))
      .join(bucketed.select(col("centroid_id"), col("__sub"), col("vec_id").as("vec_b")),
        Seq("centroid_id", "__sub"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"))
      .distinct()
    cand
      .join(v.select(col("vec_id").as("vec_a"), col("e").as("ea"), col("n").as("na")), Seq("vec_a"))
      .join(v.select(col("vec_id").as("vec_b"), col("e").as("eb"), col("n").as("nb")), Seq("vec_b"))
      .withColumn("cos", cosPre("ea", "eb", "na", "nb"))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /**
   * SemDeDup-style semantic dedup: cluster the corpus with [[kmeansAssign]]
   * (Lloyd iterations over the trained centroids — the clusters bound the
   * quadratic), then inside each cluster mark every vector that has a
   * LOWER-id peer with cosine ≥ `threshold` as a semantic duplicate. The
   * keep-lowest rule is deterministic under any partitioning, and the
   * within-cluster self-join is an equi-join on cluster_id — the corpus is
   * never all-pairs joined. Output: one verdict row per vector
   * (vec_id, cluster_id, kept).
   *
   * At 100 TB the cluster count scales with the corpus (k ≈ n/avg-cluster)
   * so per-reducer work stays O(cluster²) with clusters sized by the
   * centroid stride; a skew-guard identical to [[embeddingNearDupPairs]]'s
   * sub-bucketing applies if the corpus collapses onto few centroids.
   */
  def semanticDedup(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", centroidMod: Int = 25, iters: Int = 2,
      threshold: Double = 0.4): DataFrame = {
    val v = Caching.scoped(asDouble(emb, idCol, vecCol))
    val assigned = Caching.scoped(
      kmeansAssign(emb, idCol, vecCol, centroidMod, iters))
    val sides = assigned.join(v, Seq("vec_id"))
    val a = sides.select(col("cluster_id"), col("vec_id").as("vec_a"),
      col("e").as("ea"), col("n").as("na"))
    val b = sides.select(col("cluster_id"), col("vec_id").as("vec_b"),
      col("e").as("eb"), col("n").as("nb"))
    val dropped = a.join(b, Seq("cluster_id"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", cosPre("ea", "eb", "na", "nb"))
      .filter(col("cos") >= threshold)
      .select(col("vec_b").as("vec_id"))
      .distinct()
      .withColumn("__dup", lit(true))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        coalesce(!col("__dup"), lit(true)).as("kept"))
  }
}
