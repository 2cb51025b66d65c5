package graft.tools

import org.apache.spark.sql.functions._

/** Isolated timing for WeightedStats.weightedQuantile (clean JVM — the
  * ScaleCheck main's earlier sections distort its numbers). */
object ProfileWq {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.builder(scaleGuard = true)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val li = graft.sources.Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag").as("flag"), col("l_extendedprice"),
        col("l_quantity"))
    def liX(k: Int) = (0 until k).map(_ => li).reduce(_ union _)
    def run(k: Int): Double = {
      val t0 = System.nanoTime()
      graft.operators.WeightedStats.weightedQuantile(
        liX(k), "flag", "l_extendedprice", "l_quantity", 0.5).count()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      (System.nanoTime() - t0) / 1e9
    }
    run(1) // warm
    println(f"wq 1x ${run(1)}%.2f s")
    println(f"wq 4x ${run(4)}%.2f s")
    spark.stop()
  }
}
