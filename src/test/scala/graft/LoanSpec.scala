package graft

import java.nio.file.Files

import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage}
import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.ml.feature.{StringIndexer, StringIndexerModel}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.functions._

import graft.loan._
import graft.sources.JdbcUpsert

/** End-to-end specs for the loan domain: cleaning expressions, the 3-way
  * star join, train/select/evaluate, model persistence + single-row serving
  * (app.py parity), and the keyed JDBC upsert against embedded Derby.
  */
class LoanSpec extends SparkSpec {
  import spark.implicits._

  test("cleanDependents: '3+' sentinel, numerics, junk -> null") {
    val out = Seq("3+", "2", "0", "junk", null).toDF("d")
      .select(LoanTransforms.cleanDependents(col("d")).as("v"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out.toSeq == Seq(Some(3.0), Some(2.0), Some(0.0), None, None))
  }

  test("encodeTarget: Y->1, N->0, unmapped -> null (pandas .map semantics)") {
    val out = Seq("Y", "N", "weird", null).toDF("s")
      .select(LoanTransforms.encodeTarget(col("s")).as("v"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out.toSeq == Seq(Some(1.0), Some(0.0), None, None))
  }

  test("merged: 3-way join keeps a single Loan_ID column, inner semantics") {
    val a = Seq(("L1", "Male"), ("L2", "Female"), ("L3", "Male"))
      .toDF("Loan_ID", "Gender")
    val f = Seq(("L1", 100.0), ("L2", 200.0)).toDF("Loan_ID", "ApplicantIncome")
    val l = Seq(("L1", "Y"), ("L2", "N")).toDF("Loan_ID", "Loan_Status")
    val m = LoanTransforms.merged(a, f, l)
    assert(m.columns.count(_ == "Loan_ID") == 1)
    assert(m.count() == 2) // L3 has no financial/loan row -> dropped (inner)
  }

  test("withDerivedFeatures adds the README-surface feature set") {
    val df = Seq(("L1", 100.0, 50.0, 30.0, 12.0)).toDF(
      "Loan_ID", "ApplicantIncome", "CoapplicantIncome", "LoanAmount", "Loan_Amount_Term")
    val r = LoanTransforms.withDerivedFeatures(df).head()
    assert(r.getAs[Double]("Total_Income") == 150.0)
    assert(r.getAs[Double]("EMI_proxy") == 2.5)
    assert(math.abs(r.getAs[Double]("Loan_to_Income") - 0.2) < 1e-12)
    assert(math.abs(r.getAs[Double]("Log_Total_Income") - math.log1p(150.0)) < 1e-12)
  }

  test("Evaluation.report reproduces sklearn metrics incl. the r2 quirk") {
    // labels [1,1,1,0], preds [1,1,0,0]: acc .75; r2 = 1 - 1/0.75 = -1/3
    val scored = Seq((1.0, 1.0), (1.0, 1.0), (1.0, 0.0), (0.0, 0.0))
      .toDF("label", "prediction")
    val rep = Evaluation.report(scored)
    assert(rep.accuracy == 0.75)
    assert(math.abs(rep.r2 - (1.0 - 1.0 / 0.75)) < 1e-12)
    val pos = rep.perClass(1.0)
    assert(pos.precision == 1.0 && math.abs(pos.recall - 2.0 / 3) < 1e-12)
    assert(pos.support == 3L)
  }

  /** Deterministic synthetic merged loan table (nulls + the sentinel),
    * shared with [[graft.loan.LoanDemo]]. */
  private def syntheticLoans(n: Int) = SyntheticLoanData.mergedDf(spark, n)

  test("end-to-end: train/select on synthetic loans, persist, serve one row") {
    val merged = syntheticLoans(200)
    val (bestName, best, reports) = LoanPipeline.trainAndSelect(merged)
    assert(Set("RandomForestClassifier", "LogisticRegression").contains(bestName))
    assert(reports.size == 2)
    // the signal is learnable: credit+income decide ~90% of labels
    assert(reports(bestName).accuracy > 0.7, s"accuracy ${reports(bestName).accuracy}")

    val dir = Files.createTempDirectory("graft-loan-model").toString + "/model"
    best.write.overwrite().save(dir)
    val scorer = Scorer.load(dir, spark)
    val pred = scorer.score(Map(
      "Gender" -> "Male", "Married" -> "Yes", "Dependents" -> "3+",
      "Education" -> "Graduate", "Self_Employed" -> "No",
      "ApplicantIncome" -> 5000.0, "CoapplicantIncome" -> 1500.0,
      "LoanAmount" -> 120.0, "Loan_Amount_Term" -> 360.0,
      "Credit_History" -> 1.0, "Property_Area" -> "Urban"))
    assert(pred.probability >= 0.0 && pred.probability <= 1.0)
    // high-income + good credit row should be approved by the learned rule
    assert(pred.approved, s"expected approval, got $pred")
    // unseen category (app.py:25 Gender='Other') must not throw: one-hot
    // routes it to the dropped 'keep' bucket -> all-zeros, like sklearn
    val other = scorer.score(Map(
      "Gender" -> "Other", "Married" -> "Yes", "Dependents" -> "1",
      "Education" -> "Graduate", "Self_Employed" -> "No",
      "ApplicantIncome" -> 5000.0, "CoapplicantIncome" -> 1500.0,
      "LoanAmount" -> 120.0, "Loan_Amount_Term" -> 360.0,
      "Credit_History" -> 1.0, "Property_Area" -> "Urban"))
    assert(other.probability >= 0.0 && other.probability <= 1.0)
  }

  test("LoanSources.jsonl: explicit schema, NaN in double cols becomes NULL") {
    val dir = Files.createTempDirectory("graft-jsonl")
    def write(name: String, lines: Seq[String]): String = {
      val p = dir.resolve(name)
      Files.write(p, String.join("\n", lines: _*).getBytes)
      p.toString
    }
    val a = write("applicant.jsonl", Seq(
      """{"Loan_ID":"L1","Gender":"Male","Married":"Yes","Dependents":"3+","Education":"Graduate","Self_Employed":null}""",
      """{"Loan_ID":"L2","Gender":null,"Married":"No","Dependents":"0","Education":"Graduate","Self_Employed":"No"}"""))
    val f = write("financial.jsonl", Seq(
      """{"Loan_ID":"L1","ApplicantIncome":5000.0,"CoapplicantIncome":NaN,"LoanAmount":120.0,"Loan_Amount_Term":360.0,"Credit_History":1.0}""",
      """{"Loan_ID":"L2","ApplicantIncome":3000.0,"CoapplicantIncome":0.0,"LoanAmount":null,"Loan_Amount_Term":360.0,"Credit_History":0.0}"""))
    val l = write("loan.jsonl", Seq(
      """{"Loan_ID":"L1","Property_Area":"Urban","Loan_Status":"Y"}""",
      """{"Loan_ID":"L2","Property_Area":"Rural","Loan_Status":"N"}"""))
    val src = LoanSources.jsonl(spark, a, f, l)
    val m = src.merged
    assert(m.count() == 2)
    assert(m.schema("ApplicantIncome").dataType.typeName == "double")
    // JSON NaN token -> SQL NULL, not Double.NaN (P7)
    val r1 = m.filter($"Loan_ID" === "L1").head()
    assert(r1.isNullAt(r1.fieldIndex("CoapplicantIncome")))
    assert(m.filter($"CoapplicantIncome".isNull).count() == 1)
  }

  test("JDBC round-trip: typed DDL write (S4) then scan (S2) via Derby") {
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val df = Seq(("L1", "Urban", "Y"), ("L2", "Rural", "N"))
      .toDF("Loan_ID", "Property_Area", "Loan_Status")
    df.write.format("jdbc")
      .option("url", url).option("dbtable", "loan_info")
      .option("createTableColumnTypes",
        "Loan_ID VARCHAR(50), Property_Area VARCHAR(20), Loan_Status VARCHAR(10)")
      .mode("overwrite").save()
    val back = LoanSources.jdbc(spark, url, loanTable = "loan_info").loanInfo
    assert(back.count() == 2)
    assert(back.filter(col("Loan_Status") === "Y").select("Loan_ID")
      .head().getString(0) == "L1")
  }

  test("crossValidated runs k-fold grid search and refits the best model") {
    val prepared = LoanTransforms.withLabel(
      LoanTransforms.cleaned(syntheticLoans(120))).filter(col("label").isNotNull)
    val small = (rf: org.apache.spark.ml.classification.RandomForestClassifier) =>
      new org.apache.spark.ml.tuning.ParamGridBuilder()
        .addGrid(rf.numTrees, Array(10, 20))
        .build()
    val cv = LoanPipeline.crossValidated(prepared, small, numFolds = 3)
    assert(cv.avgMetrics.length == 2)
    assert(cv.avgMetrics.forall(m => m >= 0.0 && m <= 1.0))
    val scored = cv.bestModel.transform(prepared)
    assert(scored.columns.contains("prediction"))
    assert(scored.count() == prepared.count())
  }

  test("SqlScorer fused expression matches PipelineModel.transform scores") {
    val prepared = LoanTransforms.withLabel(
      LoanTransforms.cleaned(syntheticLoans(200))).filter(col("label").isNotNull)
    val model = LoanPipeline.pipeline(
      LoanPipeline.logisticRegression(prepared.count())).fit(prepared)

    val mllib = model.transform(prepared)
      .select(col("loan_id"),
        vector_to_array(col("probability")).getItem(1).as("p1_ml"),
        col("prediction").as("pred_ml"))
    val fused = SqlScorer.score(model, prepared)
      .select(col("loan_id"), col("p1"), col("prediction"))
    val joined = fused.join(mllib, Seq("loan_id")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (p1, p1Ml) = (r.getDouble(1), r.getDouble(3))
      assert(math.abs(p1 - p1Ml) <= 1e-10, s"p1 $p1 vs $p1Ml")
      assert(r.getDouble(2) == r.getDouble(4), s"prediction mismatch at $r")
    }
    // the fused scorer is a pure projection: no MLlib transformer at
    // scoring time, nothing but scan -> project in the plan
    val plan = fused.queryExecution.sparkPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // unknown categories score via the zero-contribution branch, like the
    // keep-bucket -> dropLast zero vector (app.py's Gender="Other" path)
    val weird = prepared.limit(5).withColumn("Gender", lit("Zzz"))
    val a = SqlScorer.score(model, weird).select("loan_id", "p1")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = model.transform(weird)
      .select(col("loan_id"), vector_to_array(col("probability")).getItem(1))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    a.foreach { case (id, p) => assert(math.abs(p - b(id)) <= 1e-10) }
  }

  private def preparedLoans(n: Int) = LoanTransforms.withLabel(
    LoanTransforms.cleaned(syntheticLoans(n))).filter(col("label").isNotNull)

  /** The preprocessing layout of models saved before the indexers were
    * merged: five single-column StringIndexers, with the same order type
    * and invalid handling, in place of the one multi-column indexer. */
  private def fiveIndexerStages: Array[PipelineStage] =
    LoanPipeline.preprocessingStages.flatMap {
      case multi: StringIndexer =>
        multi.getInputCols.zip(multi.getOutputCols).map { case (in, out) =>
          new StringIndexer().setInputCol(in).setOutputCol(out)
            .setStringOrderType(multi.getStringOrderType)
            .setHandleInvalid(multi.getHandleInvalid): PipelineStage
        }
      case other => Array(other)
    }

  test("the multi-column indexer yields the five single-column indexers' features") {
    val prepared = preparedLoans(300)
    val merged = new Pipeline().setStages(LoanPipeline.preprocessingStages).fit(prepared)
    val single = new Pipeline().setStages(fiveIndexerStages).fit(prepared)
    assert(merged.stages.count(_.isInstanceOf[StringIndexerModel]) == 1)
    assert(single.stages.count(_.isInstanceOf[StringIndexerModel]) == 5)
    // an unseen category must land in the same keep slot under both layouts
    val input = prepared.withColumn("Gender",
      when(col("loan_id").endsWith("7"), lit("Other")).otherwise(col("Gender")))
    def features(m: PipelineModel) = m.transform(input)
      .select(col("loan_id"), col(LoanPipeline.featuresCol)).collect()
      .map(r => r.getString(0) -> r.getAs[Vector](1)).toMap
    val (a, b) = (features(merged), features(single))
    assert(a.size == prepared.count() && a.keySet == b.keySet)
    a.foreach { case (id, v) => assert(v == b(id), s"$id: $v vs ${b(id)}") }
  }

  test("RF grows identical trees with and without the node-id cache") {
    val (train, _) = StratifiedSplit.split(preparedLoans(300), "label", 0.8, 42L)
    val features = new Pipeline().setStages(LoanPipeline.preprocessingStages)
      .fit(train).transform(train).cache()
    try {
      assert(LoanPipeline.randomForest.getCacheNodeIds)
      // the first line of toDebugString names the model's uid
      def trees(m: RandomForestClassificationModel) =
        m.toDebugString.linesIterator.drop(1).toSeq
      val cached = trees(LoanPipeline.randomForest.fit(features))
      val plain = trees(LoanPipeline.randomForest.setCacheNodeIds(false).fit(features))
      assert(cached.count(_.trim.startsWith("Tree ")) == LoanPipeline.randomForest.getNumTrees)
      assert(cached == plain)
    } finally features.unpersist()
  }

  test("SqlScorer reads the multi-column and the five-indexer saved layouts") {
    val prepared = preparedLoans(200)
    Seq("multi-column" -> LoanPipeline.preprocessingStages,
        "five single-column" -> fiveIndexerStages).foreach { case (layout, stages) =>
      val dir = Files.createTempDirectory("graft-loan-layout").toString + "/model"
      new Pipeline().setStages(stages :+ LoanPipeline.logisticRegression(prepared.count()))
        .fit(prepared).write.overwrite().save(dir)
      val model = PipelineModel.load(dir)
      val fused = SqlScorer.score(model, prepared)
        .select(col("loan_id"), col("p1"), col("prediction"))
      val mllib = model.transform(prepared)
        .select(col("loan_id"),
          vector_to_array(col("probability")).getItem(1).as("p1_ml"),
          col("prediction").as("pred_ml"))
      val joined = fused.join(mllib, Seq("loan_id")).collect()
      assert(joined.length == prepared.count(), layout)
      joined.foreach { r =>
        assert(math.abs(r.getDouble(1) - r.getDouble(3)) <= 1e-10, s"$layout: $r")
        assert(r.getDouble(2) == r.getDouble(4), s"$layout: prediction mismatch at $r")
      }
    }
  }

  test("JdbcUpsert: keyed upsert into Derby is idempotent and last-write-wins") {
    val url = "jdbc:derby:memory:graftdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE loans (loan_id VARCHAR(50) PRIMARY KEY, amount DOUBLE, status VARCHAR(10))")
    conn.close()

    val v1 = Seq(("L1", 100.0, "Y"), ("L2", 200.0, "N"), ("L2", 250.0, "N"))
      .toDF("loan_id", "amount", "status")
    // dedup: L2 appears twice -> keep deterministic winner (amount 250)
    val deduped = JdbcUpsert.dedupLastWins(v1, Seq("loan_id"), Seq("amount"))
    assert(deduped.count() == 2)
    JdbcUpsert.upsert(deduped, url, "loans", Seq("loan_id"), JdbcUpsert.DerbyMerge)
    JdbcUpsert.upsert(deduped, url, "loans", Seq("loan_id"), JdbcUpsert.DerbyMerge) // idempotent
    // second wave updates L1 and inserts L3
    val v2 = Seq(("L1", 111.0, "N"), ("L3", 300.0, "Y")).toDF("loan_id", "amount", "status")
    JdbcUpsert.upsert(v2, url, "loans", Seq("loan_id"), JdbcUpsert.DerbyMerge)

    val check = java.sql.DriverManager.getConnection(url)
    val rs = check.createStatement().executeQuery(
      "SELECT loan_id, amount, status FROM loans ORDER BY loan_id")
    val got = Iterator.continually(rs)
      .takeWhile(_.next()).map(r => (r.getString(1), r.getDouble(2), r.getString(3)))
      .toList
    check.close()
    assert(got == List(("L1", 111.0, "N"), ("L2", 250.0, "N"), ("L3", 300.0, "Y")))
  }

  test("JdbcUpsert error path surfaces the REAL failure, not the close error") {
    // regression pin: a MERGE failing mid-batch used to leave the
    // transaction open, and Derby's close() then threw "Cannot close a
    // connection while a transaction is still active", MASKING the actual
    // constraint violation (first seen when a NULL key hit the PK on the
    // adversarial-events fixture). The partition body now rolls back
    // before close, so the original SQL error is what propagates.
    val url = "jdbc:derby:memory:graftrollback;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE rb (k BIGINT NOT NULL PRIMARY KEY, v DOUBLE)")
    conn.close()
    val bad = Seq((Some(1L), 1.0), (None, 2.0)).toDF("k", "v") // NULL PK
    val e = intercept[org.apache.spark.SparkException] {
      JdbcUpsert.upsert(bad, url, "rb", Seq("k"), JdbcUpsert.DerbyMerge)
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    val msgs = chain(e).mkString(" | ")
    assert(!msgs.contains("Cannot close a connection"),
      s"close() error must not mask the real failure: $msgs")
    assert(msgs.toLowerCase.contains("null"),
      s"expected the NULL-constraint violation in the chain: $msgs")
  }

  test("JdbcUpsert dialects: generated SQL matches golden strings") {
    // No live MySQL exists in this environment, so the REPLACE INTO dialect
    // (the reference's actual target, MySQL_Data_Loading.ipynb:515-527) is
    // pinned against golden statements instead.
    val cols = Seq("loan_id", "amount", "status")
    assert(JdbcUpsert.MySqlReplace.upsertSql("loan_data", cols, Seq("loan_id")) ==
      "REPLACE INTO loan_data (loan_id, amount, status) VALUES (?, ?, ?)")
    // key columns don't change REPLACE INTO (keyed-ness lives in the table's
    // PRIMARY KEY), and bind order is plain column order
    assert(JdbcUpsert.MySqlReplace.upsertSql("loan_data", cols, Seq("loan_id", "status")) ==
      JdbcUpsert.MySqlReplace.upsertSql("loan_data", cols, Seq("loan_id")))
    assert(JdbcUpsert.MySqlReplace.bindOrder(cols, Seq("loan_id")) == Seq(0, 1, 2))
    // single-column table (no non-key columns) still yields valid SQL
    assert(JdbcUpsert.MySqlReplace.upsertSql("t", Seq("k"), Seq("k")) ==
      "REPLACE INTO t (k) VALUES (?)")

    assert(JdbcUpsert.AnsiMerge.upsertSql("loans", cols, Seq("loan_id")) ==
      """MERGE INTO loans t
        |USING (VALUES (?, ?, ?)) AS v(loan_id, amount, status)
        |ON t.loan_id = v.loan_id
        |WHEN MATCHED THEN UPDATE SET t.amount = v.amount, t.status = v.status WHEN NOT MATCHED THEN INSERT (loan_id, amount, status) VALUES (v.loan_id, v.amount, v.status)""".stripMargin)
    // all-key table: no UPDATE branch at all (an UPDATE SET of nothing is a
    // syntax error on every engine)
    assert(!JdbcUpsert.AnsiMerge.upsertSql("t", Seq("k"), Seq("k")).contains("WHEN MATCHED"))

    // Derby MERGE binds key cols, then non-key cols, then all cols (INSERT)
    assert(JdbcUpsert.DerbyMerge.bindOrder(cols, Seq("loan_id")) == Seq(0, 1, 2, 0, 1, 2))
    assert(JdbcUpsert.DerbyMerge.bindOrder(cols, Seq("status")) == Seq(2, 0, 1, 0, 1, 2))
  }
}
