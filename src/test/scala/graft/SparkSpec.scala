package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one lazy SparkSession per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(tier: String = "sf0.001"): String = s"/root/testdata/$tier"
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the mains' session policy with the ScaleGuard off (specs opt in
    // on a newSession()); functions come from the declarative extension
    val s = Session.builder(4, scaleGuard = false)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
