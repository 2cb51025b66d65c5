package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.loan.{LoanPipeline, LoanTransforms, Scorer, SqlScorer}

/** `loan_serve`: scoring with a model fitted while the inputs are made; no
  * fitting in the timed body. Rounds score one parquet frame through the
  * fused `SqlScorer` and through the MLlib `Scorer` (both to the `noop`
  * sink); then one client sends single-row `Scorer.score` requests in a
  * closed loop. Requests cycle through generated rows that include the
  * `"3+"` sentinel, nulls, an all-null row and an unseen `Gender = "Other"`.
  *
  * Checks: every single-row answer must equal the batch answer for its row
  * (a mismatch fails that request), and once per run, outside the timed
  * window, the two scorers must agree on every row of the frame
  * (predictions equal, probabilities within 1e-10), or every scoring pass
  * of the run counts as failed.
  */
object LoanServe {

  val tolerance = 1e-10
  val sqlPassesPerRound = 4
  val warmUpRequests = 20
  val minRounds = 5

  final case class Setup(model: PipelineModel, scorer: Scorer, frame: DataFrame,
      requests: IndexedSeq[Map[String, Any]], answers: IndexedSeq[Scorer.Prediction])

  final case class Body(sqlS: Seq[Double], mllibS: Seq[Double], requestMs: Seq[Double],
      failedRequests: Int)

  private val servingFields: Seq[String] = Seq("Gender", "Married", "Dependents",
    "Education", "Self_Employed", "ApplicantIncome", "CoapplicantIncome", "LoanAmount",
    "Loan_Amount_Term", "Credit_History", "Property_Area")

  /** The served inputs, made once per run: the scoring frame as parquet,
    * the request rows (0 to 2 forced to an unseen Gender, all nulls, and
    * the "3+" sentinel), and the model, an LR pipeline fitted on generated
    * applicants and saved under `dir/model`. */
  def inputs(ctx: Ctx, dir: String): IndexedSeq[Map[String, Any]] = {
    val a = ctx.args
    val spark = ctx.spark
    val fields = servingFields
    LoanData.applicants(LoanData.ids(spark, a.sizes.frameRows, 3, a.cores), a.seed,
        unseenGender = 0.01)
      .select(fields.map(col): _*).write.mode("overwrite").parquet(s"$dir/frame")
    val drawn = LoanData.applicants(LoanData.ids(spark, a.sizes.requests, 4, 1), a.seed,
        unseenGender = 0.05)
      .select(fields.map(col): _*).collect().toIndexedSeq
      .map(r => fields.zipWithIndex.map { case (f, i) => f -> r.get(i) }.toMap)
    val prepared = LoanTransforms.withLabel(LoanTransforms.cleaned(LoanData.applicants(
        LoanData.ids(spark, a.sizes.applicants, 0, a.cores), a.seed)))
      .filter(col("label").isNotNull).cache()
    LoanPipeline.pipeline(LoanPipeline.logisticRegression(prepared.count()))
      .fit(prepared).write.overwrite().save(s"$dir/model")
    prepared.unpersist()
    drawn.updated(0, drawn(0) + ("Gender" -> "Other"))
      .updated(1, fields.map(_ -> (null: Any)).toMap)
      .updated(2, drawn(2) + ("Dependents" -> "3+"))
  }

  /** The server's set-up: load the saved model into a `Scorer` and answer a
    * first request, so lazy initialisation is done before timing. */
  def setup(ctx: Ctx, dir: String, requests: IndexedSeq[Map[String, Any]]): Scorer = {
    val scorer = Scorer.load(s"$dir/model", ctx.spark)
    require(scorer.inputSchema.fieldNames.toSeq == servingFields,
      s"Scorer input schema changed: ${scorer.inputSchema.fieldNames.mkString(", ")}")
    scorer.score(requests.head)
    scorer
  }

  /** The batch answer for every request row: the oracle single-row answers
    * are checked against. */
  def batchAnswers(ctx: Ctx, scorer: Scorer,
      requests: IndexedSeq[Map[String, Any]]): IndexedSeq[Scorer.Prediction] = {
    val reqSchema = StructType(StructField("req", IntegerType) +: scorer.inputSchema.fields)
    val reqDf = ctx.spark.createDataFrame(
      java.util.Arrays.asList(requests.zipWithIndex.map { case (m, i) =>
        Row.fromSeq(i +: servingFields.map(m)) }: _*), reqSchema)
    val byReq = scorer.scoreBatch(reqDf).select("req", "prediction", "p_approved").collect()
      .map(r => r.getInt(0) -> Scorer.Prediction(r.getDouble(1) == 1.0, r.getDouble(2))).toMap
    requests.indices.map(byReq)
  }

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Batch rounds for half of `seconds` (at least `minRounds`), then
    * single-row requests for the rest (at least `minRequests`). Batch passes
    * run back to back, so neither kind of operation is timed on the
    * other's garbage. */
  def body(ctx: Ctx, s: Setup, tr: Tracer, seconds: Double, minRounds: Int,
      minRequests: Int): Body = {
    val sql = ArrayBuffer.empty[Double]
    val mllib = ArrayBuffer.empty[Double]
    val lat = ArrayBuffer.empty[Double]
    var failed = 0
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    while (mllib.size < minRounds || elapsed < seconds / 2) {
      (1 to sqlPassesPerRound).foreach { _ =>
        sql += timed(tr.span("score.sql")(
          SqlScorer.score(s.model, LoanTransforms.cleaned(s.frame))
            .write.format("noop").mode("overwrite").save()))
      }
      mllib += timed(tr.span("score.mllib")(s.scorer.scoreBatch(s.frame)
        .write.format("noop").mode("overwrite").save()))
    }
    while (lat.size < minRequests || elapsed < seconds) {
      val i = lat.size % s.requests.size
      val t0 = System.nanoTime()
      val got = try Some(tr.span("serve.request")(s.scorer.score(s.requests(i))))
        catch { case e: Exception => ctx.log(s"request $i failed: $e"); None }
      lat += (System.nanoTime() - t0) / 1e6
      val want = s.answers(i)
      if (!got.exists(g => g.approved == want.approved &&
          math.abs(g.probability - want.probability) <= tolerance)) {
        ctx.log(s"CHECK FAILED: request $i answered $got, batch says $want")
        failed += 1
      }
    }
    Body(sql.toSeq, mllib.toSeq, lat.toSeq, failed)
  }

  /** Both scorers over the whole frame in one job: rows, prediction
    * mismatches and the largest probability difference. */
  def agreement(s: Setup): (Long, Long, Double) = {
    val both = s.scorer.scoreBatch(
      SqlScorer.score(s.model, LoanTransforms.cleaned(s.frame))
        .withColumnRenamed("prediction", "sql_prediction").drop("Dependents_num"))
    val r = both.agg(count(lit(1)),
      sum(when(col("sql_prediction") =!= col("prediction"), 1L).otherwise(0L)),
      max(abs(col("p1") - col("p_approved")))).head()
    (r.getLong(0), r.getLong(1), r.getDouble(2))
  }

  def run(ctx: Ctx): Outcome = {
    val a = ctx.args
    val dir = s"${a.work}/loan_serve"
    val requests = inputs(ctx, dir)
    ctx.log("inputs written")
    val (scorer, setupS) = ctx.repeatedSetup(_ => setup(ctx, dir, requests))
    val s = Setup(scorer.model, scorer, ctx.spark.read.parquet(s"$dir/frame"), requests,
      batchAnswers(ctx, scorer, requests))
    // warm-up: one untimed round, so codegen and class loading are done
    body(ctx, s, ctx.tracer(attribute = false), 0, 1, warmUpRequests)
    ctx.log("warm-up done")

    ctx.resetHeapPeaks()
    val gc0 = ctx.gcSeconds
    val plain = body(ctx, s, ctx.tracer(attribute = false), a.seconds, minRounds,
      a.sizes.minRequests)
    val peakMb = ctx.peakHeapMb
    val gcS = ctx.gcSeconds - gc0
    ctx.log("timed body done")

    val tr = ctx.tracer(attribute = true)
    val traced = if (a.trace) Some(body(ctx, s, tr, a.seconds, minRounds,
      a.sizes.minRequests)) else None

    val (rows, mismatched, maxDiff) = agreement(s)
    ctx.log("scorer agreement checked")
    val agree = rows == a.sizes.frameRows && mismatched == 0 && maxDiff <= tolerance
    if (!agree) ctx.log(s"CHECK FAILED: scorers disagree on $mismatched of $rows rows, " +
      s"max probability difference $maxDiff")
    val runs = plain +: traced.toSeq
    val passes = runs.map(b => b.sqlS.size + b.mllibS.size).sum
    val attempted = passes + runs.map(_.requestMs.size).sum
    val failed = runs.map(_.failedRequests).sum + (if (agree) 0 else passes)

    val sqlS = Stats.median(plain.sqlS)
    val mllibS = Stats.median(plain.mllibS)
    val p50 = Stats.median(plain.requestMs)
    val endToEnd = Map("setup_s" -> setupS, "op_ms" -> mllibS * 1000,
      "rows_per_s" -> a.sizes.frameRows / sqlS, "peak_heap_mb" -> peakMb)
    val n = plain.requestMs.size
    val report = Seq(
      ("score_sql_rows_per_s", a.sizes.frameRows / sqlS, "1/s"),
      ("score_mllib_rows_per_s", a.sizes.frameRows / mllibS, "1/s"),
      ("serve_p50_ms", p50, "ms")) ++
      Stats.tail(plain.requestMs).toSeq.map { case (p, v) =>
        (f"serve_p${p}%.1f_ms(n=$n)".replace(".0_", "_"), v, "ms") } ++
      Seq(("requests", n.toDouble, "count"),
        ("rounds", plain.mllibS.size.toDouble, "count"))

    traced match {
      case None => Outcome(attempted, failed, endToEnd, Map.empty, Nil, ctx.listener, report)
      case Some(t) =>
        ctx.listener.settle()
        val spans = tr.spans
        val roots = spans.filter(_.parent == -1)
        val coverage = Stats.covered(roots.map(r => (r.start, r.end)),
          roots.map(_.start).min, roots.map(_.end).max).toDouble /
          (roots.map(_.end).max - roots.map(_.start).min)
        val req = ctx.sparkLayer(spans, "serve.request", "serve")
        val layers = Map(
          "score.sql_s" -> Stats.median(t.sqlS),
          "score.mllib_s" -> Stats.median(t.mllibS),
          "score.mllib_rows_per_s" -> a.sizes.frameRows / mllibS,
          "serve.p50_ms" -> p50,
          "serve.jobs_per_req" -> req("serve_jobs"),
          "serve.tasks_per_req" -> req("serve_tasks"),
          "serve.util" -> req("serve_util"),
          "gc_s" -> gcS,
          "trace.coverage" -> coverage,
          "trace.overhead_ms" -> (Stats.median(t.mllibS) - mllibS) * 1000) ++
          ctx.sparkLayer(spans, "score.sql", "score.sql") ++
          ctx.sparkLayer(spans, "score.mllib", "score.mllib")
        Outcome(attempted, failed, endToEnd, layers, spans, ctx.listener, report)
    }
  }
}
