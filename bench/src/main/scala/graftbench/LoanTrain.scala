package graftbench

import java.sql.DriverManager

import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.loan.{Evaluation, LoanPipeline, LoanSchemas, LoanSources, LoanTransforms, StratifiedSplit}
import graft.sources.JdbcUpsert

/** `loan_train`: the paper's two notebooks back to back. One pass loads
  * the generated JSONL deliveries into a fresh embedded Derby database
  * (dedup + keyed MERGE, then a re-delivery batch with changed values and
  * in-batch duplicate keys), reads the tables back over JDBC and merges
  * them, then runs `LoanPipeline.trainAndSelect`'s steps through the
  * engine's public functions (clean + label, stratified split, RF and LR
  * pipelines, evaluation, selection) and saves the selected model.
  *
  * After each pass, outside the timed window, the Derby tables must hold
  * exactly one row per source key with the last-write-wins value of every
  * re-delivered key, and both models must clear an accuracy floor; a pass
  * failing either check is a failed operation.
  */
object LoanTrain {

  /** A broken learner predicts the majority class, about 0.5 on this
    * data; both working models score well above 0.8. */
  val accuracyFloor = 0.75

  private val key = LoanSchemas.keyCol

  private val ddl = Seq(
    """CREATE TABLE applicant_info (
      Loan_ID VARCHAR(50) PRIMARY KEY, Gender VARCHAR(10), Married VARCHAR(10),
      Dependents VARCHAR(10), Education VARCHAR(20), Self_Employed VARCHAR(10))""",
    """CREATE TABLE financial_info (
      Loan_ID VARCHAR(50) PRIMARY KEY, ApplicantIncome DOUBLE,
      CoapplicantIncome DOUBLE, LoanAmount DOUBLE, Loan_Amount_Term DOUBLE,
      Credit_History DOUBLE)""",
    """CREATE TABLE loan_info (
      Loan_ID VARCHAR(50) PRIMARY KEY, Property_Area VARCHAR(20),
      Loan_Status VARCHAR(10))""")

  private val schemas: Map[String, StructType] = Map(
    "applicant_info" -> LoanSchemas.applicantInfo,
    "financial_info" -> LoanSchemas.financialInfo,
    "loan_info" -> LoanSchemas.loanInfo)

  final case class Pass(seconds: Double, etlSeconds: Double, rowsWritten: Long,
      rfAccuracy: Double, lrAccuracy: Double, lrIters: Int)

  /** The order `JdbcUpsert.dedupLastWins` keeps the first of: every
    * non-key column descending, nulls last. Returns true when `a` wins. */
  def wins(a: Seq[Any], b: Seq[Any]): Boolean = {
    val firstDiff = a.zip(b).map {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x: String, y: String) => x.compareTo(y).sign
      case (x: java.lang.Double, y: java.lang.Double) => x.compareTo(y).sign
      case (x, y) => throw new IllegalArgumentException(s"cannot order $x and $y")
    }.find(_ != 0)
    firstDiff.forall(_ > 0)
  }

  private def values(r: Row): Seq[Any] = (0 until r.length).map(r.get)

  /** Expected table contents after both deliveries: key -> row values. */
  def expected(ctx: Ctx, initial: String, redelivery: String,
      schema: StructType): Map[String, Seq[Any]] = {
    def read(path: String) =
      ctx.spark.read.schema(schema).json(path).collect().toSeq.map(values)
    val first = read(initial)
    val base = first.map(v => v.head.asInstanceOf[String] -> v).toMap
    require(base.size == first.size, s"initial delivery $initial repeats a key")
    val redelivered = read(redelivery).groupBy(_.head.asInstanceOf[String]).map {
      case (k, rows) => k -> rows.reduce((a, b) => if (wins(a.tail, b.tail)) a else b)
    }
    base ++ redelivered
  }

  private def derbyRows(url: String, table: String, schema: StructType): Map[String, Seq[Any]] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        s"SELECT ${schema.fieldNames.mkString(", ")} FROM $table")
      val out = Iterator.continually(rs).takeWhile(_.next())
        .map(r => schema.fields.indices.map(i => r.getObject(i + 1)).toSeq).toSeq
      require(out.map(_.head).distinct.size == out.size, s"$table repeats a key")
      out.map(v => v.head.asInstanceOf[String] -> v).toMap
    } finally conn.close()
  }

  private def dropDb(name: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true").close()
    catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }

  /** One ETL-through-save pass; the checks run after its clock stops. */
  def pass(ctx: Ctx, tr: Tracer, deliveries: Seq[LoanData.Tables], db: String,
      modelDir: String): Pass = {
    val spark = ctx.spark
    val url = s"jdbc:derby:memory:$db"
    val conn = DriverManager.getConnection(s"$url;create=true")
    try ddl.foreach(conn.createStatement().execute) finally conn.close()

    var written = 0L
    var etlSeconds = 0.0
    val t0 = System.nanoTime()
    val (lr, rfReport, lrReport) = tr.span("train.pass") {
      tr.span("etl") {
        deliveries.foreach { d =>
          val src = LoanSources.jsonl(spark, d.applicant, d.financial, d.loan)
          Seq("applicant_info" -> src.applicantInfo, "financial_info" -> src.financialInfo,
              "loan_info" -> src.loanInfo).foreach { case (table, df) =>
            val deduped = tr.span("etl.dedup") {
              val dd = JdbcUpsert.dedupLastWins(df, Seq(key), Seq()).persist()
              written += dd.count()
              dd
            }
            tr.span("etl.upsert") {
              JdbcUpsert.upsert(deduped, url, table, Seq(key), JdbcUpsert.DerbyMerge)
            }
            deduped.unpersist()
          }
        }
      }
      etlSeconds = (System.nanoTime() - t0) / 1e9
      val merged = tr.span("ingest.jdbc_merge") {
        val m = LoanSources.jdbc(spark, url).merged.persist()
        m.count()
        m
      }
      val (train, test, nTrain) = tr.span("prep.split") {
        val prepared = LoanTransforms.withLabel(LoanTransforms.cleaned(merged))
          .filter(col("label").isNotNull)
        val (train, test) = StratifiedSplit.split(prepared, "label", 0.8, 42L)
        train.cache(); test.cache()
        val n = train.count()
        test.count()
        (train, test, n)
      }
      try {
        val rf = tr.span("fit.rf")(LoanPipeline.pipeline(LoanPipeline.randomForest).fit(train))
        val rfReport = tr.span("eval.report")(Evaluation.report(rf.transform(test)))
        val lr = tr.span("fit.lr")(
          LoanPipeline.pipeline(LoanPipeline.logisticRegression(nTrain)).fit(train))
        val lrReport = tr.span("eval.report")(Evaluation.report(lr.transform(test)))
        // trainAndSelect keeps the first of the best: RF on a tie
        val best = if (lrReport.accuracy > rfReport.accuracy) lr else rf
        tr.span("model.save")(best.write.overwrite().save(modelDir))
        (lr, rfReport, lrReport)
      } finally {
        train.unpersist(); test.unpersist(); merged.unpersist()
      }
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    val iters = lr.stages.last.asInstanceOf[LogisticRegressionModel].summary.totalIterations
    Pass(seconds, etlSeconds, written, rfReport.accuracy, lrReport.accuracy, iters)
  }

  def run(ctx: Ctx): Outcome = {
    val a = ctx.args
    val spark = ctx.spark
    val dataDir = s"${a.work}/loan_train"
    val (deliveries, setupS) = ctx.repeatedSetup { _ =>
      val (initial, redelivery) = LoanData.writeDeliveries(spark, s"$dataDir/data",
        a.sizes.applicants, a.seed, a.cores)
      Seq(initial, redelivery)
    }
    val want = schemas.map { case (table, schema) =>
      val Seq(i, r) = deliveries.map(_.byName.toMap.apply(table))
      table -> expected(ctx, i, r, schema)
    }
    val distinctKeys = want("applicant_info").size
    val offered = deliveries.flatMap(_.byName).map { case (_, p) => spark.read.text(p).count() }.sum
    ctx.log(s"deliveries: $distinctKeys keys, " +
      s"${want.values.map(_.size).sum} expected rows across 3 tables")

    var attempted = 0
    var failed = 0
    def check(db: String, p: Pass): Boolean = {
      val url = s"jdbc:derby:memory:$db"
      val tablesOk = schemas.forall { case (table, schema) =>
        val got = derbyRows(url, table, schema)
        val ok = got.size == distinctKeys && got == want(table)
        if (!ok) ctx.log(s"CHECK FAILED: $table holds ${got.size} rows, " +
          s"${got.count { case (k, v) => !want(table).get(k).contains(v) }} differ from expected")
        ok
      }
      val accOk = p.rfAccuracy >= accuracyFloor && p.lrAccuracy >= accuracyFloor
      if (!accOk) ctx.log(f"CHECK FAILED: accuracy rf=${p.rfAccuracy}%.4f lr=${p.lrAccuracy}%.4f " +
        f"below $accuracyFloor")
      tablesOk && accOk
    }
    def timedPasses(tr: Tracer, label: String, minPasses: Int): Seq[Pass] = {
      val start = System.nanoTime()
      val passes = Seq.newBuilder[Pass]
      var k = 0
      while (k < minPasses || (System.nanoTime() - start) / 1e9 < a.seconds) {
        val db = s"loan_${label}_$k"
        attempted += 1
        try {
          val p = pass(ctx, tr, deliveries, db, s"$dataDir/model")
          ctx.log(f"$label pass $k: ${p.seconds}%.3f s (etl ${p.etlSeconds}%.3f s) " +
            f"rf=${p.rfAccuracy}%.4f lr=${p.lrAccuracy}%.4f")
          if (check(db, p)) passes += p else failed += 1
        } catch {
          case e: Exception =>
            ctx.log(s"$label pass $k failed: $e")
            failed += 1
        } finally dropDb(db)
        k += 1
      }
      passes.result()
    }

    ctx.resetHeapPeaks()
    val gc0 = ctx.gcSeconds
    val plain = timedPasses(ctx.tracer(attribute = false), "untraced", 1)
    val peakMb = ctx.peakHeapMb
    val gcS = ctx.gcSeconds - gc0
    require(plain.nonEmpty, "no pass of loan_train succeeded")
    val opMs = Stats.median(plain.map(_.seconds * 1000))
    val rowsPerS = Stats.median(plain.map(offered / _.etlSeconds))
    val endToEnd = Map("setup_s" -> setupS, "op_ms" -> opMs, "rows_per_s" -> rowsPerS,
      "peak_heap_mb" -> peakMb)
    val report = Seq(
      ("train_s", opMs / 1000, "s"),
      ("etl_rows_per_s", rowsPerS, "1/s"),
      ("passes", plain.size.toDouble, "count"))

    if (!a.trace) Outcome(attempted, failed, endToEnd, Map.empty, Nil, ctx.listener, report)
    else {
      // the timed pass is the JVM's first, and cold, so the overhead
      // compares the traced pass with an untraced pass run after it
      val tr = ctx.tracer(attribute = true)
      val traced = timedPasses(tr, "traced", 1)
      val warm = timedPasses(ctx.tracer(attribute = false), "untraced-warm", 1)
      require(traced.nonEmpty && warm.nonEmpty, "a traced-run pass of loan_train failed")
      ctx.listener.settle()
      val spans = tr.spans
      def total(name: String) = spans.filter(_.name == name).map(_.seconds).sum / traced.size
      val passSpans = spans.filter(_.name == "train.pass")
      val coverage = passSpans.map { p =>
        Stats.covered(spans.filter(_.parent == p.id).map(s => (s.start, s.end)), p.start, p.end)
          .toDouble / (p.end - p.start)
      }
      val layers = Map(
        "etl.dedup_s" -> total("etl.dedup"),
        "etl.upsert_s" -> total("etl.upsert"),
        "etl.rows_offered" -> offered.toDouble,
        "etl.rows_written" -> traced.head.rowsWritten.toDouble,
        "etl.write_ratio" -> traced.head.rowsWritten.toDouble / offered,
        "ingest.jdbc_merge_s" -> total("ingest.jdbc_merge"),
        "prep.split_s" -> total("prep.split"),
        "fit.rf_s" -> total("fit.rf"),
        "fit.lr_s" -> total("fit.lr"),
        "fit.lr_iters" -> traced.map(_.lrIters.toDouble).sum / traced.size,
        "eval.report_s" -> total("eval.report"),
        "model.save_s" -> total("model.save"),
        "gc_s" -> gcS,
        "trace.coverage" -> Stats.median(coverage),
        "trace.overhead_ms" ->
          (Stats.median(traced.map(_.seconds)) - Stats.median(warm.map(_.seconds))) * 1000) ++
        ctx.sparkLayer(spans, "fit.rf", "fit.rf") ++ ctx.sparkLayer(spans, "fit.lr", "fit.lr")
      Outcome(attempted, failed, endToEnd, layers, spans, ctx.listener, report)
    }
  }
}
