package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The test session comes from the same builder as the mains. */
class SessionSpec extends SparkSpec {

  test("the test session carries the shared session policy") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.graft.scaleGuard") == "false")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    // a fresh session sees only what the declarative extension installs
    val fresh = spark.newSession()
    assert(fresh.sessionState.functionRegistry
      .functionExists(FunctionIdentifier("graft_dot")))
    fresh.sql("SELECT graft_dot(array(1d, 2d), array(3d, 4d))")
      .queryExecution.assertAnalyzed()
  }
}
