package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.{MinHash, StandingDedupIndex}
import graft.similarity.{SemDeDup, Similarity, StandingAnnIndex}
import graft.text.{DecontaminationIndex, TextOps}

/** The LLM-data side: seeded daily document batches through the curation
  * funnel (quality gate → decontamination check → standing exact/near
  * dedup check-and-ingest → curated write, in the streaming funnel's
  * order), and seeded embedding batches through the standing ANN index
  * (ingest, retrain when drift says so, fixed-size top-10 query). One
  * SemDeDup pass over the accumulated embeddings closes each episode.
  *
  * Batches carry exact copies and perturbed near-copies of documents of
  * earlier batches; embeddings carry tiny-noise copies of earlier
  * vectors. The checks recompute the funnel's keep set from the
  * generated text, require every injected exact duplicate dropped and
  * no original dropped, require every SemDeDup drop to have a closer
  * lower-id twin, and hold ANN recall@10 against exact search.
  */
final class LlmCurate(spark: SparkSession, seed: Long, root: String) extends Workload {
  val Batches = 4           // document + embedding batches per episode
  val DocsPerBatch = 500
  val BenchDocs = 40        // decontamination index (eval suite) size
  val ShortFrac = 0.08      // docs below the quality gate
  val ContamFrac = 0.05     // docs quoting an 8-token window of an eval doc
  val ExactDupFrac = 0.08   // exact copies of earlier-batch docs
  val NearDupFrac = 0.08    // 2-word edits of earlier docs (within and across batches)
  val Dim = 32
  val Clusters = 12
  val BootstrapVecs = 600
  val VecsPerBatch = 400
  val VecDupFrac = 0.05
  val Drift = 0.8           // per-batch shift of the cluster centres
  val Queries = 20
  val Cells = 8
  val K = 10
  val RecallFloor = 0.8     // ANN recall@10 the check requires

  def inputs: Map[String, Any] = Map(
    "batches_per_episode" -> Batches, "docs_per_batch" -> DocsPerBatch,
    "bench_docs" -> BenchDocs, "short_doc_frac" -> ShortFrac, "contaminated_frac" -> ContamFrac,
    "exact_dup_frac" -> ExactDupFrac, "near_dup_frac" -> NearDupFrac,
    "doc_tokens" -> "10..60 zipf(1.05) over a 4000-word vocabulary",
    "embedding_dim" -> Dim, "clusters" -> Clusters, "bootstrap_vectors" -> BootstrapVecs,
    "vectors_per_batch" -> VecsPerBatch, "vector_dup_frac" -> VecDupFrac, "drift_per_batch" -> Drift,
    "queries" -> Queries, "ann_cells" -> Cells, "k" -> K, "recall_floor" -> RecallFloor)

  private val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType, containsNull = false))))

  private def docs(rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map { case (i, t) => Row(i, t) }, Main.Cores),
      docSchema)
  private def vecs(rows: Seq[(Long, Array[Double])]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (i, v) => Row(i, v.toSeq) }, Main.Cores), vecSchema)

  private val quality = expr(s"SIZE(${TextOps.tokensExpr("text")}) >= 8")
  private val bandKeys: DataFrame => DataFrame = d =>
    d.filter(MinHash.shingleFilter(col("text"), 3))
      .select(col("doc_id"), explode(call_function("graft_xx_minhash_bands", col("text"),
        lit(16), lit(4), lit(3))).as("band"))
      .select(col("doc_id"), col("band.band_idx"), col("band.band_hash").as("band_key"))

  // counters across episodes, for the per-layer ratios
  private var injectedExact = 0L; private var droppedExact = 0L
  private var injectedNear = 0L; private var flaggedNear = 0L
  private var originals = 0L; private var droppedOriginals = 0L
  private val recalls = mutable.ArrayBuffer[Double]()
  private var inputDocs = 0L

  private final case class Doc(id: Long, text: String, kind: String) // kind: orig | exact | near
  private final case class Query(step: Int, corpus: Seq[(Long, Array[Double])], q: Seq[Long],
      got: Map[Long, Set[Long]])

  final class Ep(ep: Int) extends Episode {
    private val dir = s"$root/ep$ep"
    private val r = Gen.rng(seed, ep, 3)
    private val scale = if (ep < 0) 0.25 else 1.0
    private val nDocs = (DocsPerBatch * scale).toInt
    private val nVecs = (VecsPerBatch * scale).toInt

    // ---- generation ----
    private val bench: Seq[(Long, String)] =
      (0 until BenchDocs).map(i => (9000000L + i, Gen.sentence(r, 30 + r.nextInt(20))))
    private val benchGrams: Set[String] = bench.flatMap { case (_, t) =>
      t.split(" ").sliding(8).filter(_.length == 8).map(_.mkString(" ")) }.toSet
    private var nextDoc = ep.max(0) * 1000000L
    private def perturb(t: String): String = {
      val w = t.split(" ")
      (0 until 2).foreach(_ => w(r.nextInt(w.length)) = Gen.vocab(r.nextInt(Gen.vocab.length)))
      w.mkString(" ")
    }
    private val docBatches: Seq[Seq[Doc]] = {
      val earlier = mutable.ArrayBuffer[Doc]()
      (0 until Batches).map { b =>
        val out = mutable.ArrayBuffer[Doc]()
        (0 until nDocs).foreach { _ =>
          nextDoc += 1
          val x = r.nextDouble()
          val d =
            if (b > 0 && x < ExactDupFrac) Doc(nextDoc, earlier(r.nextInt(earlier.size)).text, "exact")
            else if (x < ExactDupFrac + NearDupFrac && (earlier.nonEmpty || out.nonEmpty)) {
              val pool = if (earlier.nonEmpty && r.nextBoolean()) earlier else out
              val src = if (pool.nonEmpty) pool else earlier ++ out
              Doc(nextDoc, perturb(src(r.nextInt(src.size)).text), "near")
            } else if (x < ExactDupFrac + NearDupFrac + ShortFrac)
              Doc(nextDoc, Gen.sentence(r, 3 + r.nextInt(4)), "orig")
            else if (x < ExactDupFrac + NearDupFrac + ShortFrac + ContamFrac) {
              val bw = bench(r.nextInt(bench.size))._2.split(" ")
              val at = r.nextInt(bw.length - 8)
              Doc(nextDoc, (Gen.words(r, 5 + r.nextInt(10)) ++ bw.slice(at, at + 8) ++
                Gen.words(r, 5 + r.nextInt(10))).mkString(" "), "orig")
            } else Doc(nextDoc, Gen.sentence(r, 10 + r.nextInt(51)), "orig")
          out += d
        }
        earlier ++= out
        out.toSeq
      }
    }

    private val centers = Array.fill(Clusters, Dim)(r.nextDouble() * 2 - 1)
    private var nextVec = 0L
    private def noisy(c: Array[Double], sd: Double): Array[Double] =
      c.map(x => x + gauss(r) * sd)
    private def fresh(drift: Double): (Long, Array[Double]) = {
      nextVec += 1
      val c = centers(r.nextInt(Clusters)).map(_ + drift)
      (nextVec - 1, noisy(c, 0.35))
    }
    private val bootstrap = Seq.fill((BootstrapVecs * scale).toInt)(fresh(0.0))
    private val vecBatches: Seq[Seq[(Long, Array[Double])]] = {
      val all = mutable.ArrayBuffer[(Long, Array[Double])](bootstrap: _*)
      (0 until Batches).map { b =>
        val out = (0 until nVecs).map { _ =>
          if (r.nextDouble() < VecDupFrac) {
            nextVec += 1
            (nextVec - 1, noisy(all(r.nextInt(all.size))._2, 0.005))
          } else fresh(Drift * (b + 1))
        }
        all ++= out
        out
      }
    }

    // ---- initial tables: eval-suite index and trained ANN index ----
    private val decont = new DecontaminationIndex(spark, s"$dir/decont")
    private val dedup = new StandingDedupIndex(spark, s"$dir/dedup", bandKeys)
    private val ann = new StandingAnnIndex(spark, s"$dir/ann")
    private val curated = s"$dir/curated"
    decont.ingest(docs(bench), tag = 1L)
    ann.train(vecs(bootstrap), Cells)

    private var step_ = 0
    private val corpus = mutable.ArrayBuffer[(Long, Array[Double])](bootstrap: _*)
    private val queries = mutable.ArrayBuffer[Query]()
    private var semdedupKept: Option[Set[Long]] = None

    def step(h: Harness): Boolean = {
      if (step_ > Batches) return false
      if (step_ == Batches) {
        h.op("semdedup") {
          val kept = h.span("similarity.semdedup")(
            SemDeDup.dedup(vecs(corpus.toSeq), Cells).select("vec_id").collect().map(_.getLong(0)).toSet)
          semdedupKept = Some(kept)
        }
        step_ += 1
        return true
      }
      val b = step_
      val batch = docs(docBatches(b).map(d => (d.id, d.text)))
      h.op("curate_batch") {
        val gated = batch.filter(quality).persist()
        try {
          h.span("text.quality")(gated.count())
          val uncontaminated = h.span("text.decont_check") {
            val ok = decont.check(gated).filter(!col("contaminated")).select("doc_id").persist()
            ok.count(); ok
          }
          val clean = gated.join(uncontaminated, Seq("doc_id")).persist()
          try h.span("dedup.check_ingest")(dedup.checkAndIngest(clean, b + 1L) { report =>
            clean.join(report.filter(!col("is_exact_dup")).select("doc_id", "n_candidates"), Seq("doc_id"))
              .write.mode("overwrite").parquet(s"$curated/ingest_batch_id=$b")
          })
          finally { clean.unpersist(); uncontaminated.unpersist() }
        } finally gated.unpersist()
      }.foreach(_ => if (ep >= 0) inputDocs += docBatches(b).size)

      h.op("ann_ingest")(h.span("similarity.ingest")(ann.ingest(vecs(vecBatches(b)), tag = b + 1L)))
      corpus ++= vecBatches(b)
      if (ann.retrainDue()) h.op("ann_retrain")(h.span("similarity.retrain")(ann.retrain(Cells)))
      val q = Seq.fill(Queries)(corpus(r.nextInt(corpus.size))._1).distinct
      val qset = q.toSet
      val qdf = vecs(corpus.filter { case (i, _) => qset.contains(i) }.toSeq)
      h.op("ann_query") {
        val got = h.span("similarity.query")(ann.query(qdf, K).collect())
          .groupBy(_.getAs[Long]("query_id")).map { case (k, rs) => k -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
        queries += Query(b, corpus.toSeq, q, got)
      }
      step_ += 1
      true
    }

    /** The funnel's keep decision recomputed from the generated text. */
    private def expectedKeep(batches: Int): (Set[Long], Seq[Doc]) = {
      val seen = mutable.HashSet[String]()
      val keep = mutable.HashSet[Long]()
      docBatches.take(batches).foreach { ds =>
        val clean = ds.filter { d =>
          val toks = d.text.split(" ")
          toks.length >= 8 && !toks.sliding(8).exists(w => w.length == 8 && benchGrams.contains(w.mkString(" ")))
        }
        clean.foreach(d => if (!seen.contains(d.text)) keep += d.id)
        seen ++= clean.map(_.text)
      }
      (keep.toSet, docBatches.take(batches).flatten)
    }

    def verify(h: Harness): Unit = {
      val done = math.min(step_, Batches)
      if (done > 0) {
        val got = spark.read.parquet(curated).select(col("doc_id"), col("n_candidates")).collect()
          .map(x => x.getLong(0) -> x.getLong(1)).toMap
        val (keep, all) = expectedKeep(done)
        h.check(s"curated docs ≡ recomputed funnel (episode $ep)")(got.keySet == keep)
        // exact copies of a clean earlier doc must be dropped; originals kept
        val exact = all.filter(_.kind == "exact")
        val dropped = exact.count(d => !got.contains(d.id))
        h.check(s"every injected exact duplicate dropped (episode $ep)")(dropped == exact.size)
        val origKept = all.filter(d => d.kind == "orig" && keep.contains(d.id))
        val origDropped = origKept.count(d => !got.contains(d.id))
        h.check(s"no original dropped (episode $ep)")(origDropped == 0)
        val near = all.filter(d => d.kind == "near" && got.contains(d.id))
        if (ep >= 0) {
          injectedExact += exact.size; droppedExact += dropped
          originals += origKept.size; droppedOriginals += origDropped
          injectedNear += near.size; flaggedNear += near.count(d => got(d.id) > 0)
        }
      }
      queries.foreach { qr =>
        val exact = Similarity.bruteForceTopK(vecs(qr.corpus), col("vec_id").isin(qr.q: _*), K).collect()
          .groupBy(_.getAs[Long]("query_id")).map { case (k, rs) => k -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
        val hit = qr.q.map(q => (exact.getOrElse(q, Set.empty) intersect qr.got.getOrElse(q, Set.empty)).size).sum
        val recall = hit.toDouble / qr.q.map(q => exact.getOrElse(q, Set.empty).size).sum.max(1)
        if (ep >= 0) recalls += recall
        h.check(f"ANN recall@$K $recall%.3f ≥ $RecallFloor (episode $ep, batch ${qr.step})")(recall >= RecallFloor)
      }
      queries.clear()
      semdedupKept.foreach { kept =>
        val vs = corpus.toArray.sortBy(_._1)
        def cos(a: Array[Double], b: Array[Double]) = {
          var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
          d / math.sqrt(na * nb)
        }
        val falseDrops = vs.indices.count { i =>
          !kept.contains(vs(i)._1) && !(0 until i).exists(j => cos(vs(i)._2, vs(j)._2) >= 0.9)
        }
        h.check(s"SemDeDup drops only vectors with a lower-id twin (episode $ep)")(falseDrops == 0)
        semdedupKept = None
      }
    }

    def tables: Seq[String] = Seq(s"$dir/decont/grams", s"$dir/dedup/key_index",
      s"$dir/ann/centroids", s"$dir/ann/vectors", s"$dir/ann/occupancy")
    def storage(): Map[String, Double] = Storage.census(spark, tables, s"$dir/compact")

    def cleanup(): Unit = Storage.rmrf(dir)
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box–Muller from the episode's own stream (keeps generation seeded)
    val u = 1.0 - r.nextDouble(); val v = r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
  }

  def prepare(episode: Int): Episode = new Ep(episode)
  def warmupSteps: Int = 1
  def unitOps: Set[String] = Set("curate_batch")

  def endToEnd(h: Harness): Map[String, Double] = {
    val b = h.samples("curate_batch")
    Map(
      "op_ms" -> Stats.median(b),
      "read_ms" -> Stats.median(h.samples("ann_query")),
      "items_per_s" -> inputDocs / (b.sum / 1000.0))
  }

  override def layerExtras: Map[String, Double] = Map(
    "dedup.dup_recall" -> droppedExact.toDouble / math.max(1L, injectedExact),
    "dedup.near_dup_flag_recall" -> flaggedNear.toDouble / math.max(1L, injectedNear),
    "dedup.false_drop" -> droppedOriginals.toDouble / math.max(1L, originals),
    "similarity.recall_at_10" -> (if (recalls.isEmpty) 0.0 else Stats.median(recalls.toSeq)))
}
