package perfbench

import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.agg.CvResults
import graft.dedup.{Dedup, SubstringDedup}
import graft.encode.Encoderizer
import graft.exec.{FitSideData, LogisticRegressionLBFGS, ModelParallel}
import graft.predict.Predict
import graft.search.{DistGridSearchCV, DistOneVsRest, DistRandomForestClassifier,
  SearchResult}
import graft.sim.Similarity
import graft.text.Corpus

/** Input sizes. Per-call cost at these sizes is mostly Spark job overhead
  * and the learner kernels, so a steady pass takes a few seconds on 4
  * cores and a run fits several passes.
  */
final case class Sizes(fitRows: Int, scoreRows: Int, docs: Int, vectors: Int)

object Sizes {
  val Default = Sizes(fitRows = 1000, scoreRows = 10000, docs = 600, vectors = 600)
}

/** One closed-loop workload: `prepare` generates its inputs (part of
  * set-up), `pass` makes its public calls one after another through
  * `ctx.call` and checks every output through `ctx.check`.
  */
trait Workload {
  def prepare(spark: SparkSession, seed: Long, sizes: Sizes): Unit
  /** Work items one pass completes: fits or documents. */
  def items: Long
  def pass(ctx: Ctx): Unit
  /** Outcome ratios and rates of the last pass, reported as per-layer metrics. */
  def extras: Map[String, Double] = Map.empty
}

object Workloads {
  val Names = Seq("fit-score", "curate")

  def apply(name: String): Workload = name match {
    case "fit-score" => new FitScore
    case "curate"    => new Curate
  }

  private[perfbench] def cached(df: DataFrame): DataFrame = {
    val c = df.cache(); c.count(); c
  }

}

/** The reference's pipeline on covtype-shaped data: a logistic grid
  * (4 C x 5 folds), a 50-tree forest and a one-vs-rest logistic model fit
  * on the encoded training rows (broadcast regime: one task per fit); then
  * the encoder is refit and scores rows 10x the training set with the
  * forest and the one-vs-rest model. Set-up encodes the training rows once.
  */
final class FitScore extends Workload {
  private val Raw = (0 until Gen.NDense).map(i => s"n$i") ++ Seq("wild", "soil")
  private val Cs = Seq(0.01, 0.1, 1.0, 10.0)
  private val Folds = 5
  private val Trees = 50
  private val MaxDepth = 8
  private val Seed = 42L // the estimators' default seed

  private var spark: SparkSession = _
  private var train: DataFrame = _
  private var scored: DataFrame = _
  private var x: DataFrame = _ // encoded training rows
  private var nScore = 0L
  private var reference: Option[Seq[Any]] = None
  private var fitsPerS = 0.0
  private var rowsPerS = 0.0

  def prepare(spark: SparkSession, seed: Long, sizes: Sizes): Unit = {
    this.spark = spark
    val c = Gen.covtype(seed, sizes.fitRows + sizes.scoreRows)
    val schema = StructType(StructField("id", LongType, nullable = false) +:
      Raw.take(Gen.NDense).map(StructField(_, DoubleType, nullable = false)) ++:
      Seq(StructField("wild", StringType), StructField("soil", StringType),
        StructField("label", DoubleType, nullable = false)))
    def frame(from: Int, until: Int) = Workloads.cached(spark.createDataFrame(
      spark.sparkContext.parallelize((from until until).map(i => Row.fromSeq(
        (i.toLong +: c.num(i).toSeq) ++ Seq(s"w${c.wild(i)}", s"s${c.soil(i)}", c.y(i)))),
        spark.sparkContext.defaultParallelism), schema))
    train = frame(0, sizes.fitRows)
    scored = frame(sizes.fitRows, c.n)
    nScore = sizes.scoreRows
    // the encoder is deterministic: every pass refits the same one, and
    // its fits train on these rows
    x = encodedArray(Encoderizer.fit(train, Raw).transform(train))
  }

  /** Candidate x fold fits, the refit, the trees and the OvR classes. */
  def items: Long = Cs.size * Folds + 1 + Trees + Gen.NClasses

  override def extras: Map[String, Double] =
    Map("search.all.fits_per_s" -> fitsPerS, "predict.all.rows_per_s" -> rowsPerS)

  private def grid() = new DistGridSearchCV(LogisticRegressionLBFGS, Map("c" -> Cs), cv = Folds)
  private def forest() = DistRandomForestClassifier(Trees, maxDepth = MaxDepth)
  private def ovr() = new DistOneVsRest(LogisticRegressionLBFGS, norm = Some("l1"))

  private def encodedArray(df: DataFrame) =
    Workloads.cached(df.select(col("id"), col("label"),
      vector_to_array(col("features")).as("x")))

  def pass(ctx: Ctx): Unit = {
    val t0 = System.nanoTime()
    val (best, cv, forestModel, ovrModel) =
      if (ctx.traced) rebuiltFits(ctx, x) else publicFits(ctx, x)
    fitsPerS = items / ((System.nanoTime() - t0) / 1e9)
    ctx.check("cv_results", cv.length == Cs.size &&
      cv.map(_.getAs[Int]("candidate_id")).sorted.sameElements(Cs.indices) &&
      cv.forall(r => !r.getAs[Double]("mean_test_score").isNaN),
      s"cvResults incomplete or NaN: ${cv.mkString(" ")}")
    ctx.check("best_score", best._2 >= Gen.FitFloor,
      s"best CV score ${best._2} below floor ${Gen.FitFloor}")
    ctx.check("models", forestModel.trees.length == Trees &&
      ovrModel.models.length == Gen.NClasses,
      s"${forestModel.trees.length} trees, ${ovrModel.models.length} class models")

    val t1 = System.nanoTime()
    val enc = ctx.call("encode.fit") { Encoderizer.fit(train, Raw) }
    ctx.check("encode", enc.width == Gen.NFeatures,
      s"encoded width ${enc.width}, expected ${Gen.NFeatures}")
    val s = ctx.call("encode.transform") { encodedArray(enc.transform(scored)) }
    val pf = ctx.call("predict.proba_forest") {
      probaStats(Predict.withProbabilities(spark, s, forestModel, "x", "p"))
    }
    val po = ctx.call("predict.proba_ovr") {
      probaStats(Predict.withProbabilities(spark, s, ovrModel, "x", "p"))
    }
    val pl = ctx.call("predict.label") {
      Predict.withPredictions(spark, s, forestModel, "x", "yhat")
        .agg(count(lit(1)), expr("bit_xor(xxhash64(id, yhat))"),
          sum(when(col("yhat") === col("label"), 1).otherwise(0))).head()
    }
    rowsPerS = nScore / ((System.nanoTime() - t1) / 1e9)
    s.unpersist()
    for ((name, r) <- Seq("forest" -> pf, "ovr" -> po)) {
      val acc = r.getLong(4).toDouble / nScore
      ctx.check(s"proba_$name", r.getLong(0) == nScore && r.getDouble(1) <= 1e-9 &&
        acc >= Gen.FitFloor, s"$name probabilities: ${r.getLong(0)} rows of $nScore, " +
        s"worst |sum-1| ${r.getDouble(1)}, argmax accuracy $acc")
    }
    ctx.check("label", pl.getLong(0) == nScore && pl.getLong(1) == pf.getLong(3),
      s"labels: ${pl.getLong(0)} rows of $nScore, " +
        s"equal to the probability argmax: ${pl.getLong(1) == pf.getLong(3)}")

    // the broadcast regime and the scorers are deterministic: every pass
    // repeats the first exactly
    val sig = Seq(best._1, best._2, pf.getLong(2), po.getLong(2), pl.getLong(1))
    reference match {
      case None => reference = Some(sig)
      case Some(ref) => ctx.check("repeatable", ref == sig,
        s"pass result $sig differs from first pass $ref")
    }
  }

  /** One aggregate that forces a probability column and checks it: row
    * count, worst deviation of a row's sum from 1, order-free checksums
    * of (id, probabilities) and (id, argmax), and argmax hits.
    */
  private def probaStats(df: DataFrame): Row = {
    val argmax = expr("cast(array_position(p, array_max(p)) - 1 as int)")
    df.agg(count(lit(1)),
      max(abs(aggregate(col("p"), lit(0.0), (a, b) => a + b) - 1.0)),
      expr("bit_xor(xxhash64(id, p))"),
      bit_xor(xxhash64(col("id"), argmax)),
      sum(when(argmax === col("label"), 1).otherwise(0))).head()
  }

  /** The public fit surfaces, as a user calls them. */
  private def publicFits(ctx: Ctx, x: DataFrame) = {
    val (res, cv) = ctx.call("search.grid_fit") {
      val r: SearchResult = grid().fit(spark, x, "x", "label")
      (r, r.cvResults.collect())
    }
    val f = ctx.call("search.forest_fit") { forest().fit(spark, x, "x", "label") }
    val o = ctx.call("search.ovr_fit") { ovr().fit(spark, x, "x", "label") }
    ((res.bestParams, res.bestScore), cv, f, o)
  }

  /** Traced fits: each rebuilt from the public steps its `fit` runs (size
    * estimate, matrix collect, one-task-per-fit fan-out, CV aggregation,
    * best candidate, refit), each forced at its boundary.
    */
  private def rebuiltFits(ctx: Ctx, x: DataFrame) = {
    val budget = 1L << 30 // the library's default broadcast budget
    def collect(cv: Int, stratified: Boolean) = {
      val est = ctx.call("exec.estimate_bytes") { ModelParallel.estimateMatrixBytes(x, "x") }
      ctx.check("regime", est <= budget, s"estimate $est exceeds the broadcast budget")
      ctx.call("exec.collect_matrix") {
        ModelParallel.collectMatrix(x, "x", "label", cv, Seed, stratified)
      }
    }
    val m = collect(Folds, stratified = true)
    val cands = Cs.map(c => Map("c" -> c))
    val tasks = for ((p, ci) <- cands.zipWithIndex; fold <- 0 until Folds)
      yield ModelParallel.FitTask(ci * Folds + fold, ci, fold, p)
    val bc = spark.sparkContext.broadcast(m)
    val scores = ctx.call("exec.fanout") {
      Workloads.cached(ModelParallel.run(spark, tasks, bc, LogisticRegressionLBFGS,
        "accuracy", Seed))
    }
    val agg = ctx.call("agg.cv_aggregate") {
      Workloads.cached(CvResults.aggregate(scores, Seq("candidate_id")))
    }
    val bestRow = ctx.call("agg.cv_best") { CvResults.best(agg, Seq("candidate_id")).head() }
    val bestParams = cands(bestRow.getAs[Int]("candidate_id"))
    ctx.call("exec.refit") {
      LogisticRegressionLBFGS.fit(m.x, m.y, bestParams, Seed, FitSideData.empty)
    }
    val cv = agg.collect()
    scores.unpersist(); agg.unpersist(); bc.unpersist()
    val m1 = collect(1, stratified = false)
    val f = ctx.call("search.forest_fit") { forest().fitMatrix(spark, m1) }
    val m2 = collect(1, stratified = false)
    val o = ctx.call("search.ovr_fit") { ovr().fitMatrix(spark, m2) }
    ((bestParams, bestRow.getAs[Double]("mean_test_score")), cv, f, o)
  }
}

/** Training-data curation over a corpus with planted junk, exact
  * duplicates, near duplicates and a shared boilerplate sentence, plus
  * embeddings with planted near-twins.
  */
final class Curate extends Workload {
  private val RecallFloor = 0.9

  private var spark: SparkSession = _
  private var corpus: Gen.Corpus = _
  private var emb: Gen.Embeddings = _
  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  private var reference: Option[Seq[Int]] = None
  private var last = Map.empty[String, Double]

  def prepare(spark: SparkSession, seed: Long, sizes: Sizes): Unit = {
    this.spark = spark
    corpus = Gen.corpus(seed, sizes.docs)
    emb = Gen.embeddings(seed, sizes.vectors)
    import spark.implicits._
    val p = spark.sparkContext.defaultParallelism
    docs = Workloads.cached(spark.sparkContext
      .parallelize(corpus.ids.toSeq.zip(corpus.texts.toSeq), p).toDF("id", "text"))
    vecs = Workloads.cached(spark.sparkContext
      .parallelize(emb.ids.toSeq.zip(emb.vecs.toSeq.map(_.toSeq)), p).toDF("id", "vec"))
  }

  def items: Long = corpus.nDocs

  override def extras: Map[String, Double] = last

  private def idFrame(ids: Iterable[Long]): DataFrame = {
    val s = spark; import s.implicits._
    broadcast(ids.toSeq.toDF("id"))
  }

  private def recall(planted: Iterable[(Long, Long)], found: Set[(Long, Long)]): Double = {
    val p = planted.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    if (p.isEmpty) 1.0 else p.count(found.contains).toDouble / p.size
  }

  def pass(ctx: Ctx): Unit = {
    val s = spark; import s.implicits._
    val allIds = corpus.ids.toSet

    val verdicts = ctx.call("text.gopher") {
      Corpus.gopherRules(docs, "text", "id").select("id", "pass").as[(Long, Boolean)].collect()
    }
    val failing = verdicts.collect { case (id, false) => id }.toSet
    ctx.check("gopher", verdicts.length == corpus.nDocs && failing == corpus.junk,
      s"quality rules: ${failing.size} failing docs, ${corpus.junk.size} planted junk")
    val kept = allIds -- failing

    val exactIds = ctx.call("dedup.exact") {
      Dedup.exact(docs.join(idFrame(kept), "id"), "text", "id").select("id").as[Long].collect()
    }.toSet
    ctx.check("exact", exactIds == kept -- corpus.exactCopies.keySet,
      s"exact dedup kept ${exactIds.size} of ${kept.size}; " +
        s"${corpus.exactCopies.size} planted copies")
    val exDocs = docs.join(idFrame(exactIds), "id")

    val pairs = ctx.call("dedup.minhash_pairs") {
      Dedup.minhashPairs(exDocs, "text", "id").select("id_a", "id_b")
        .as[(Long, Long)].collect()
    }.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val nearRecall = recall(corpus.nearPairs, pairs)
    val planted = corpus.nearPairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val precision = if (pairs.isEmpty) 1.0 else pairs.count(planted.contains).toDouble / pairs.size
    ctx.check("minhash", nearRecall >= RecallFloor &&
      pairs.forall { case (a, b) => exactIds(a) && exactIds(b) },
      s"near-duplicate recall $nearRecall below $RecallFloor or pair outside input")

    val survivors = ctx.call("dedup.survivors") {
      Dedup.survivors(exDocs, pairs.toSeq.toDF("id_a", "id_b"), "id")
        .select("id").as[Long].collect()
    }.toSet
    ctx.check("survivors", survivors.subsetOf(exactIds) &&
      corpus.nearPairs.forall { case (a, b) =>
        !pairs((math.min(a, b), math.max(a, b))) || (survivors(a) ^ survivors(b))
      } && pairs.forall { case (a, b) => survivors(a) || survivors(b) },
      s"survivors: ${survivors.size} of ${exactIds.size}")

    val spanPairs = ctx.call("dedup.spans") {
      SubstringDedup.duplicateSpans(docs.join(idFrame(survivors), "id"), "text", "id")
        .select("doc_a", "doc_b").as[(Long, Long)].collect()
    }.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val boiler = corpus.boilerplate.toSeq.sorted
    val spanRecall = recall(for (a <- boiler; b <- boiler if a < b) yield (a, b), spanPairs)
    ctx.check("spans", spanRecall >= RecallFloor &&
      spanPairs.forall { case (a, b) => survivors(a) && survivors(b) },
      s"boilerplate span recall $spanRecall below $RecallFloor")

    val semIds = ctx.call("sim.semantic_dedup") {
      Similarity.semanticDedup(vecs, "vec", "id").select("id").as[Long].collect()
    }.toSet
    val twinRecall = emb.twins.count { case (a, b) => semIds(a) ^ semIds(b) }.toDouble /
      emb.twins.size
    ctx.check("semantic", semIds.subsetOf(emb.ids.toSet) && twinRecall >= RecallFloor &&
      semIds.size >= emb.ids.length - emb.twins.size,
      s"semantic dedup kept ${semIds.size}; twin recall $twinRecall")

    val counts = Seq(failing.size, exactIds.size, pairs.size, survivors.size,
      spanPairs.size, semIds.size)
    reference match {
      case None => reference = Some(counts)
      case Some(ref) => ctx.check("repeatable", ref == counts,
        s"pass counts $counts differ from first pass $ref")
    }
    last = Map("dedup.planted_recall" -> nearRecall, "dedup.pair_precision" -> precision,
      "dedup.span_recall" -> spanRecall, "sim.twin_recall" -> twinRecall)
  }
}
