package graft.loan

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Profiling
import graft.sources.JdbcUpsert

/** End-to-end demo of the reference's three entry points in one run
  * (SURVEY §3): ETL (JSONL → keyed upsert into a SQL database), training
  * (scan → join → profile → clean → split → fit/select → persist), and
  * serving (load → single-row score, app.py's example shape).
  *
  *   sbt "runMain graft.loan.LoanDemo [nRows]"
  */
object LoanDemo {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(614)
    val spark = graft.Session.builder(scaleGuard = true)
      .appName("graft-loan-demo")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val work = Files.createTempDirectory("loan-demo").toString

    // --- ETL (SURVEY §3.1): JSONL -> normalize -> dedup -> upsert ---------
    val (aPath, fPath, lPath) = SyntheticLoanData.writeJsonl(spark, work, n)
    val src = LoanSources.jsonl(spark, aPath, fPath, lPath)
    val url = "jdbc:derby:memory:loandemo;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("""CREATE TABLE applicant_info (
        Loan_ID VARCHAR(50) PRIMARY KEY, Gender VARCHAR(10), Married VARCHAR(10),
        Dependents VARCHAR(10), Education VARCHAR(20), Self_Employed VARCHAR(10))""")
      st.execute("""CREATE TABLE financial_info (
        Loan_ID VARCHAR(50) PRIMARY KEY, ApplicantIncome DOUBLE,
        CoapplicantIncome DOUBLE, LoanAmount DOUBLE, Loan_Amount_Term DOUBLE,
        Credit_History DOUBLE)""")
      st.execute("""CREATE TABLE loan_info (
        Loan_ID VARCHAR(50) PRIMARY KEY, Property_Area VARCHAR(20),
        Loan_Status VARCHAR(10))""")
    } finally conn.close()
    Seq(
      (src.applicantInfo, "applicant_info"),
      (src.financialInfo, "financial_info"),
      (src.loanInfo, "loan_info")).foreach { case (df, tbl) =>
      val deduped = JdbcUpsert.dedupLastWins(df, Seq("Loan_ID"), Seq())
      JdbcUpsert.upsert(deduped, url, tbl, Seq("Loan_ID"), JdbcUpsert.DerbyMerge)
    }
    println(s"[etl] upserted 3 tables x $n rows into Derby")

    // --- Train (SURVEY §3.2): JDBC scan -> join -> profile -> fit ---------
    val db = LoanSources.jdbc(spark, url)
    val merged = db.merged
    println(s"[profile] merged shape: ${merged.count()} x ${merged.columns.length}")
    println("[profile] null counts (non-zero):")
    val nulls = Profiling.nullCounts(merged).first()
    merged.columns.zipWithIndex.filter { case (_, i) => nulls.getLong(i) > 0 }
      .foreach { case (c, i) => println(f"  $c%-20s ${nulls.getLong(i)}%4d") }
    println(s"[profile] duplicate rows: ${Profiling.duplicateCount(merged).first().getLong(0)}")
    Profiling.valueCounts(merged, "Loan_Status").show()

    val (bestName, best, reports) = LoanPipeline.trainAndSelect(merged)
    println(s"[train] selected: $bestName")
    reports.foreach { case (name, rep) => println(s"--- $name\n${rep.pretty}") }

    // --- Serve (SURVEY §3.3): persist -> load -> single-row score ---------
    val modelPath = s"$work/model"
    best.write.overwrite().save(modelPath)
    val scorer = Scorer.load(modelPath, spark)
    val example = Map(
      "Gender" -> "Male", "Married" -> "Yes", "Dependents" -> "3+",
      "Education" -> "Graduate", "Self_Employed" -> "No",
      "ApplicantIncome" -> 5000.0, "CoapplicantIncome" -> 1500.0,
      "LoanAmount" -> 120.0, "Loan_Amount_Term" -> 360.0,
      "Credit_History" -> 1.0, "Property_Area" -> "Urban")
    val pred = scorer.score(example)
    println(f"[serve] example row -> approved=${pred.approved} p=${pred.probability}%.4f")
    spark.stop()
  }
}
