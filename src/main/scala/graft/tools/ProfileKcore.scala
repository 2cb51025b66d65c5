package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.GraphCore

/** Offline timing probe for q187: edge build vs peel rounds vs the
  * trace-union assembly. Run:
  * sbt "runMain graft.tools.ProfileKcore /root/testdata/sf0.01 4" */
object ProfileKcore {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val cpus = if (args.length > 1) args(1).toInt else graft.Session.cores
    val spark = graft.Session.builder(cpus, scaleGuard = true).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $tag: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val li = graft.sources.Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    val e = li.as("x").join(li.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .select(col("x.p").as("a"), col("y.p").as("b")).distinct()
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    t("edge build (count)")(println("sym: " + sym.count()))
    val trace = t("kCoreTrace build (lazy)")(
      GraphCore.kCoreTrace(sym, k = 80, rounds = 6))
    t("trace collect")(trace.orderBy(col("iter")).collect()
      .foreach(r => println("  " + r)))
    spark.stop()
  }
}
