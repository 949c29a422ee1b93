package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.functions.col

import graft.stream.{CorpusIngest, EmbeddingIngest, HybridServe}
import graft.text.TextOps

/** Ingest → serve over the LLM-side pipelines. Set-up ingests an initial
  * corpus of seeded documents and their embeddings; the timed phase sends a
  * second batch with planted near-duplicates through
  * `CorpusIngest.ingestBatch` and `EmbeddingIngest.ingestBatch`, then runs
  * a loop of BM25, IVF and hybrid searches for known documents. */
object CorpusServe {
  val DocsPerBatch = 100
  val PlantedEvery = 10
  val QueriesPerSecond = 0.3
  val Dim = 32
  val Vocabulary = 3000
  val WordsPerDoc = 40
  val Kinds = Seq("bm25", "ivf", "hybrid")

  final case class Doc(id: Long, text: String, vec: Array[Float])
  /** One batch through both pipelines: docs each accepted, seconds each took. */
  final case class Ingested(acceptedText: Option[Long], acceptedVec: Option[Long],
      corpusS: Double, embedS: Double)

  /** The initial corpus (originals only) and the timed batch, in which every
    * `PlantedEvery`-th doc is a near copy (one extra word; a slightly
    * perturbed embedding) of an original from either. Returns both and each
    * planted id with the id of its source. */
  def generate(seed: Long): (Seq[Doc], Seq[Doc], Map[Long, Long]) = {
    val rnd = new Random(seed)
    def word(): String = s"w${(math.pow(rnd.nextDouble(), 2.5) * Vocabulary).toInt}"
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val originals = mutable.ArrayBuffer.empty[Doc]
    val planted = mutable.Map.empty[Long, Long]
    def original(id: Long): Doc = {
      val words = Seq.fill(WordsPerDoc)(word())
      val (a, b) = words.splitAt(rnd.nextInt(WordsPerDoc))
      val d = Doc(id, (a ++ Seq(s"u$id") ++ b).mkString(" "),
        unit(Array.fill(Dim)(rnd.nextGaussian())))
      originals += d
      d
    }
    val initial = (1L to DocsPerBatch).map(original)
    val batch = (1L to DocsPerBatch).map { i =>
      val id = DocsPerBatch + i
      if (i % PlantedEvery == 0) {
        val src = originals(rnd.nextInt(originals.size))
        planted(id) = src.id
        Doc(id, src.text + " " + word(), unit(src.vec.map(x => x + rnd.nextGaussian() * 0.005)))
      } else original(id)
    }
    (initial, batch, planted.toMap)
  }

  /** Word 3-gram Jaccard of two texts, on the program's normalised words. */
  def jaccard3(a: String, b: String): Double = {
    def grams(t: String) = t.trim.toLowerCase.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
    val (x, y) = (grams(a), grams(b))
    (x & y).size.toDouble / (x | y).size
  }

  val run: Ctx => Unit = { ctx =>
    import ctx.spark.implicits._
    val spark = ctx.spark
    val out = ctx.out
    val nQueries = math.max(6, math.round(ctx.seconds * QueriesPerSecond).toInt)
    val lexCfg = CorpusIngest.IngestConfig(ctx.dir("docs-in"), ctx.dir("corpus"),
      ctx.dir("corpus-ckpt"))
    // near-dup threshold well above random-pair cosines at this dimension
    val vecCfg = EmbeddingIngest.IngestConfig(ctx.dir("vecs-in"), ctx.dir("vectors"),
      ctx.dir("vectors-ckpt"), threshold = 0.9)
    def frames(b: Seq[Doc]) = (b.map(d => (d.id, d.text)).toDF("doc_id", "text"),
      b.map(d => (d.id, d.vec.toSeq)).toDF("vec_id", "embedding"))

    /** Both pipelines ingest `b` as batch `no`. */
    def ingest(b: Seq[Doc], no: Long): Ingested = {
      val (texts, vecs) = frames(b)
      val (acc, cs) = Stats.timed(out.op("CorpusIngest.ingestBatch")(
        ctx.span("ingest.corpus")(CorpusIngest.ingestBatch(spark, lexCfg, texts, no))))
      val (accV, es) = Stats.timed(out.op("EmbeddingIngest.ingestBatch")(
        ctx.span("ingest.embed")(EmbeddingIngest.ingestBatch(spark, vecCfg, vecs, no))))
      Ingested(acc, accV, cs, es)
    }

    /** The ids of batch `no` that a pipeline stored under `root`, checked
      * against the count its ingest call returned. */
    def stored(what: String, root: String, idCol: String, no: Long, accepted: Option[Long]): Set[Long] = {
      val ids = spark.read.parquet(root).where($"ingest_batch" === no)
        .select(col(idCol)).as[Long].collect().toSet
      out.check(s"$what batch $no returned ${accepted.getOrElse("-")} accepted " +
        s"and stored ${ids.size}")(accepted.contains(ids.size.toLong))
      ids
    }

    /** One search of `kind` for `d`; checks that `d` comes back first. */
    def search(kind: String, d: Doc): Double = {
      val words = d.text.split(' ').filterNot(_.startsWith("u"))
      val terms = Seq(s"u${d.id}", words.groupBy(identity).maxBy(_._2.length)._1)
      val probe = Seq((-d.id, d.vec.map(x => x + 1e-4f).toSeq)).toDF("vec_id", "embedding")
      val t = System.nanoTime()
      val top = out.op(s"search $kind")(ctx.span(s"search.$kind") {
        kind match {
          case "bm25" => CorpusIngest.search(spark, lexCfg, terms, topK = 10)
            .where($"rank" === 1).select($"doc_id").as[Long].collect().toSeq
          case "ivf" => EmbeddingIngest.search(spark, vecCfg, probe, k = 10)
            .where($"rank" === 1).select($"neighbor_id").as[Long].collect().toSeq
          case _ => HybridServe.search(spark, lexCfg, vecCfg, terms, probe)
            .where($"rank" === 1).select($"doc_id").as[Long].collect().toSeq
        }
      })
      val s = Stats.secondsSince(t)
      top.foreach(got => out.check(s"$kind search ranks doc ${d.id} first")(got == Seq(d.id)))
      s
    }

    // set-up: the same seeded documents made Main.SetupReps times (the last
    // is kept), then the initial corpus is ingested and one hybrid search,
    // which runs the BM25 and IVF searches inside, loads and compiles the
    // search paths
    val reps = (1 to Main.SetupReps).map(_ => Stats.timed(generate(ctx.seed)))
    val (initial, batch, planted) = reps.last._1
    val qRnd = new Random(ctx.seed * 31 + 7)
    val (_, initS) = Stats.timed {
      val ing = ingest(initial, 0)
      out.check(s"text batch 0 accepts ${ing.acceptedText.getOrElse("-")} of " +
        s"${initial.size} originals")(ing.acceptedText.contains(initial.size.toLong))
      out.check(s"vector batch 0 accepts ${ing.acceptedVec.getOrElse("-")} of " +
        s"${initial.size} originals")(ing.acceptedVec.contains(initial.size.toLong))
      // the heap is read before the search, so that the clean-up of what
      // its full GC collects runs untimed (see CdcTrickle)
      ctx.sampleHeap()
      search("hybrid", initial(qRnd.nextInt(initial.size)))
    }
    out.info("setup_generation_s") = reps.map(_._2)
    out.info("setup_initial_state_s") = initS
    out.put("setup_s", Stats.median(reps.map(_._2)) + initS, "s", reps.size)
    val originals = (initial ++ batch).filterNot(d => planted.contains(d.id))
    val queryDocs = Seq.fill(nQueries)(originals(qRnd.nextInt(originals.size)))

    val searchLat = mutable.ArrayBuffer.empty[(String, Double)]
    val ((ing, ingestS), wall, fromMs, toMs) = ctx.timedPhase {
      val ingested = Stats.timed(ingest(batch, 1))
      queryDocs.zipWithIndex.foreach { case (d, i) =>
        val kind = Kinds(i % Kinds.size)
        searchLat += kind -> search(kind, d)
      }
      ingested
    }
    ctx.putLayers(fromMs, toMs)
    ctx.sampleHeap()
    val lat = searchLat.map(_._2).toSeq
    out.put("wall_s", wall, "s")
    out.put("throughput_per_s", batch.size / ingestS, "1/s", batch.size)
    out.put("docs_per_s", batch.size / ingestS, "docs/s", batch.size)
    out.putQuantiles("latency", lat)
    out.putQuantiles("query", lat)
    out.put("corpus.ingest_batch_p50_s", ing.corpusS, "s")
    out.put("embed.ingest_batch_p50_s", ing.embedS, "s")

    // What each pipeline rejected, from what it stored, checked untimed.
    // The embedding pipeline must reject exactly the planted near-dups.
    // The text pipeline finds near-dups by MinHash LSH, which by design
    // misses a pair whose signatures share no band; it must reject every
    // planted copy that shares a band with its source under the program's
    // own signature (TextOps.minhashIndex), and nothing but planted copies.
    // The copies the LSH misses are counted in corpus.lsh_missed.
    val batchIds = batch.map(_.id).toSet
    val plantedIds = planted.keySet
    val byId = (initial ++ batch).map(d => d.id -> d).toMap
    out.check("every planted doc is a near-dup of its source (word 3-gram Jaccard >= " +
      s"${lexCfg.threshold})")(planted.forall { case (p, src) =>
        jaccard3(byId(p).text, byId(src).text) >= lexCfg.threshold })
    val bands = TextOps.minhashIndex(
        (initial ++ batch).map(d => (d.id, d.text)).toDF("doc_id", "text"), "doc_id", "text")._1
      .select($"doc_id", $"band", $"sig").as[(Long, Int, String)].collect()
      .groupBy(_._1).map { case (id, bs) => id -> bs.map(b => (b._2, b._3)).toSet }
    val banded = planted.collect { case (p, src) if (bands(p) & bands(src)).nonEmpty => p }.toSet
    val rejText = batchIds -- stored("text", CorpusIngest.docsPath(lexCfg), "doc_id", 1,
      ing.acceptedText)
    val rejVec = batchIds -- stored("vector", EmbeddingIngest.vecsPath(vecCfg), "vec_id", 1,
      ing.acceptedVec)
    out.check(s"text batch 1 rejects ${rejText.size}: the ${banded.size} planted near-dups " +
      s"that share an LSH band with their source, at most the ${planted.size} planted, " +
      "and nothing else")(banded.subsetOf(rejText) && rejText.subsetOf(plantedIds))
    out.check(s"vector batch 1 rejects ${rejVec.size}: exactly the ${planted.size} " +
      "planted near-dups")(rejVec == plantedIds)
    out.put("corpus.rejected_ratio", (rejText.size + rejVec.size).toDouble /
      math.max(1, 2 * planted.size), "ratio", 2L * planted.size)
    out.put("corpus.lsh_missed", (plantedIds -- banded).size, "count", planted.size)
    searchLat.groupBy(_._1).foreach { case (k, xs) =>
      out.put(s"serve.${k}_p50_s", Stats.median(xs.map(_._2).toSeq), "s", xs.size) }
    ctx.trace.foreach { t =>
      val ss = t.spans("search.").filter(_.startMs >= fromMs)
      out.put("serve.jobs_per_query", t.jobsIn(ss).toDouble / math.max(1, ss.size), "count", ss.size)
    }
    out.put("state_mb", (Main.dirBytes(lexCfg.corpusRoot) + Main.dirBytes(vecCfg.corpusRoot)) /
      1048576.0, "MB")
  }
}
