package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.PageRank

/** Offline timing probe for q120: edge build vs the iteration loop.
  * Run: sbt "runMain graft.tools.ProfilePageRank /root/testdata/sf0.1" */
object ProfilePageRank {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Session.builder(scaleGuard = true)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $tag: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val li = graft.sources.Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    val edges = li.as("x").join(li.as("y"),
        col("x.o") === col("y.o") && col("x.p") =!= col("y.p"))
      .groupBy(col("x.p").as("src"), col("y.p").as("dst"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .select(col("src"), col("dst"))
    t("edge build + count")(println("edges: " + edges.count()))
    val cached = edges.persist(); cached.count()
    t("ranks 10 iters on cached edges") {
      PageRank.ranks(cached, 10).write.format("noop").mode("overwrite").save()
    }
    t("ranks 10 iters on raw edge plan") {
      PageRank.ranks(edges, 10).write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
