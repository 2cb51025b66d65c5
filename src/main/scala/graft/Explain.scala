package graft

/** Plan-audit main: prints the formatted physical plan of catalog queries.
  *
  *   sbt "runMain graft.Explain [sfDir] [queryName ...]"
  *
  * Used to check the properties that matter at 100 TB: filters/projections
  * reaching the parquet scan (PushedFilters/ReadSchema), broadcast vs
  * sort-merge joins, WholeStageCodegen coverage, and where exchanges land.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else Queries.all.map(_._1)
    val spark = Session.builder(scaleGuard = true).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      try println(Queries.queries(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
