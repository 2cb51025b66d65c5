package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded loan applicants, generated distributed (`spark.range` plus
  * `xxhash64`-derived uniforms, so no row list ever sits on the driver).
  *
  * Value domains and the null mix follow the reference's 614-row table:
  * Credit_History 8.1% null, Self_Employed 5.2%, LoanAmount 3.6%,
  * Dependents 2.4% (with the `"3+"` sentinel), Loan_Amount_Term 2.3%,
  * Gender 2.1%, Married 0.5%. Approval follows a learnable rule (good
  * credit and income covering the loan) with 10% of labels flipped, so a
  * working learner clears an accuracy floor and a broken one does not.
  *
  * Every value is a function of (seed, id, version, field): version 0 is
  * the initial delivery, higher versions are re-deliveries of the same
  * key with changed values.
  */
object LoanData {

  final case class Tables(applicant: String, financial: String, loan: String) {
    def byName: Seq[(String, String)] = Seq(
      "applicant_info" -> applicant, "financial_info" -> financial, "loan_info" -> loan)
  }

  /** Share of keys re-delivered, and of those the share sent twice within
    * the re-delivery batch. */
  val redeliveredShare = 0.10
  val duplicatedShare = 0.30

  private def u(seed: Long, field: Int): Column =
    pmod(xxhash64(col("id"), col("v"), lit(seed), lit(field)), lit(1000000L))
      .cast("double") / 1e6

  /** A categorical drawn with `nullRate` nulls and the given value shares. */
  private def cat(seed: Long, field: Int, nullRate: Double,
      shares: Seq[(String, Double)]): Column = {
    val r = u(seed, field)
    val total = shares.map(_._2).sum
    var acc = nullRate
    val branches = shares.map { case (v, w) =>
      acc += (1.0 - nullRate) * w / total
      (acc, v)
    }
    branches.init.foldLeft(when(r < nullRate, lit(null).cast("string"))) {
      case (c, (bound, v)) => c.when(r < bound, lit(v))
    }.otherwise(lit(branches.last._2))
  }

  private def orNull(seed: Long, field: Int, rate: Double, c: Column): Column =
    when(u(seed, field) < rate, lit(null).cast("double")).otherwise(c)

  /** All 12 columns plus Loan_ID for the rows of `ids` (columns id, v).
    * `unseenGender` is the share of rows with a Gender never seen in
    * training. */
  def applicants(ids: DataFrame, seed: Long, unseenGender: Double = 0.0): DataFrame = {
    val credit = when(u(seed, 10) < 0.85, 1.0).otherwise(0.0)
    val income = round(lit(1500.0) + u(seed, 6) * 6000.0 + pow(u(seed, 7), 3) * 25000.0)
    val coIncome = when(u(seed, 8) < 0.45, 0.0)
      .otherwise(round(lit(500.0) + u(seed, 9) * 4000.0))
    val loanAmount = round(lit(40.0) + u(seed, 12) * 300.0)
    val term = when(u(seed, 15) < 0.82, 360.0).when(u(seed, 15) < 0.90, 180.0)
      .when(u(seed, 15) < 0.95, 480.0).otherwise(300.0)
    val approved = credit === 1.0 && (income + coIncome) > loanAmount * 25.0 + 1500.0
    val noisy = when(u(seed, 14) < 0.10, !approved).otherwise(approved)
    val gender = when(u(seed, 20) < unseenGender, lit("Other"))
      .otherwise(cat(seed, 1, 0.021, Seq("Male" -> 0.81, "Female" -> 0.19)))
    ids.select(
      concat(lit("LP"), lpad(col("id").cast("string"), 7, "0")).as("Loan_ID"),
      gender.as("Gender"),
      cat(seed, 2, 0.005, Seq("Yes" -> 0.65, "No" -> 0.35)).as("Married"),
      cat(seed, 3, 0.024, Seq("0" -> 0.58, "1" -> 0.17, "2" -> 0.17, "3+" -> 0.08))
        .as("Dependents"),
      cat(seed, 4, 0.0, Seq("Graduate" -> 0.78, "Not Graduate" -> 0.22)).as("Education"),
      cat(seed, 5, 0.052, Seq("No" -> 0.86, "Yes" -> 0.14)).as("Self_Employed"),
      income.as("ApplicantIncome"),
      coIncome.as("CoapplicantIncome"),
      orNull(seed, 13, 0.036, loanAmount).as("LoanAmount"),
      orNull(seed, 16, 0.023, term).as("Loan_Amount_Term"),
      orNull(seed, 11, 0.081, credit).as("Credit_History"),
      cat(seed, 17, 0.0, Seq("Semiurban" -> 0.38, "Urban" -> 0.33, "Rural" -> 0.29))
        .as("Property_Area"),
      when(noisy, "Y").otherwise("N").as("Loan_Status"))
  }

  /** Rows 0 until n at version v. */
  def ids(spark: SparkSession, n: Long, v: Int, partitions: Int): DataFrame =
    spark.range(0, n, 1, partitions).withColumn("v", lit(v))

  /** The re-delivery batch's keys: a seeded 10% of keys at version 1, and
    * for 30% of those a second, different version 2 in the same batch. */
  def redeliveryIds(spark: SparkSession, n: Long, seed: Long, partitions: Int): DataFrame = {
    val picked = ids(spark, n, 0, partitions).filter(u(seed, 90) < redeliveredShare)
    picked.withColumn("v", lit(1))
      .unionByName(picked.filter(u(seed, 91) < duplicatedShare).withColumn("v", lit(2)))
  }

  private def writeTables(df: DataFrame, dir: String): Tables = {
    def dump(cols: Seq[String], name: String): String = {
      val path = s"$dir/$name"
      df.select(cols.map(col): _*).write.mode("overwrite").json(path)
      path
    }
    Tables(
      dump(graft.loan.LoanSchemas.applicantInfo.fieldNames.toSeq, "applicant_info"),
      dump(graft.loan.LoanSchemas.financialInfo.fieldNames.toSeq, "financial_info"),
      dump(graft.loan.LoanSchemas.loanInfo.fieldNames.toSeq, "loan_info"))
  }

  /** Writes the initial delivery of `n` applicants and the re-delivery
    * batch as JSONL tables under `dir`. */
  def writeDeliveries(spark: SparkSession, dir: String, n: Long, seed: Long,
      partitions: Int): (Tables, Tables) =
    (writeTables(applicants(ids(spark, n, 0, partitions), seed), s"$dir/initial"),
      writeTables(applicants(redeliveryIds(spark, n, seed, partitions), seed),
        s"$dir/redelivery"))
}
