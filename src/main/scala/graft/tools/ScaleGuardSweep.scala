package graft.tools

import graft.{Queries, Session}

/** Authoring-time sweep: build every catalog query in a session with the
  * analysis-time [[graft.plans.ScaleGuard]] ENABLED (the same session
  * shape Verify and Bench now run with) and report which queries trip it.
  * Streaming/bounded-run queries execute on build, so they run fully; the
  * rest are analyzed only (the guard is an analysis check rule — planning
  * is enough to fire it).
  *
  * Usage: `sbt "runMain graft.tools.ScaleGuardSweep [sfDir]"`.
  */
object ScaleGuardSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.builder(scaleGuard = true)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val only: Option[String] = if (args.length > 1) Some(args(1)) else None
    var bad = 0
    Queries.all.filter(e => only.forall(e._1.startsWith)).foreach { case (name, q) =>
      try {
        q.build(spark, sfDir).queryExecution.assertAnalyzed()
      } catch {
        case e: Throwable =>
          bad += 1
          println(s"GUARD-FAIL $name: ${
            if (only.isDefined) e.getMessage
            else e.getMessage.replace('\n', '|').take(900)}")
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    println(s"scaleguard sweep: ${Queries.all.size - bad} pass, $bad fail")
    spark.stop()
  }
}
