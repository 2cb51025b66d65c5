package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{Components, NearDup, Par}

/** Offline phase-split timing probe for the component-based queries
  * (r14 measurement — guide §1.1): q152's blocked-JW edge build vs the
  * component loop vs the final assembly joins, and q52's minhash pair
  * build vs its component loop. Prints per-phase seconds and the round
  * count the loop actually ran, so "the residual is ~diameter sequential
  * micro-jobs" is a measured number, not a guess.
  *
  *   sbt "runMain graft.tools.ProfileClusters [sfDir]"
  */
object ProfileClusters {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.builder(scaleGuard = true)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%7.3f s"); r
    }
    def clear(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }

    // ---- q152 phases ----
    (1 to 2).foreach { it =>
      println(s"== q152 iter $it ==")
      val p = Par.fanOut(graft.sources.Tables.load(spark, dir, "part").select(
        col("p_partkey").as("id"), col("p_name").as("name"),
        concat(col("p_brand").cast("string"), lit("|"),
          split(col("p_name"), " ").getItem(0).cast("string")).as("blk")), "blk")
      val a = p.select(col("blk"), col("id").as("id_a"), col("name").as("name_a"))
      val b = p.select(col("blk"), col("id").as("id_b"), col("name").as("name_b"))
      val edges = a.join(b, Seq("blk"))
        .filter(col("id_a") < col("id_b") && col("name_a") =!= col("name_b"))
        .filter(call_function("graft_jaro_winkler",
          col("name_a"), col("name_b")) >= 0.88)
        .select(col("id_a"), col("id_b"))
      t("q152 edge build count")(println("  edges: " + edges.count()))
      val comp = t("q152 components") {
        val c = Components.connectedComponents(
          p.select(col("id")).distinct(), "id", edges)
        c.count(); c
      }
      t("q152 components ALT-STAR") {
        val c2 = Components.alternatingComponents(
          p.select(col("id")).distinct(), "id", edges)
        c2.count()
        c2.unpersist()
      }
      t("q152 assembly") {
        val sizes = comp.groupBy(col("comp")).agg(count(lit(1)).as("n_members"))
        val canon = p.groupBy(col("id").as("comp"))
          .agg(min(col("name")).as("canonical_name"))
        comp.join(sizes, "comp").join(canon, "comp")
          .select(col("id"), col("comp").as("component"), col("n_members"),
            col("canonical_name"))
          .orderBy(col("id"))
          .write.format("noop").mode("overwrite").save()
      }
      clear()
    }

    // ---- q52 phases ----
    (1 to 2).foreach { it =>
      println(s"== q52 iter $it ==")
      val docs = graft.sources.Tables.load(spark, dir, "documents")
      val pairs = NearDup.minhashNearDupPairs(docs, "doc_id", "text",
        n = 3, minJ = 0.6, numHashes = 192, bandRows = 3)
      t("q52 pair build count")(println("  pairs: " + pairs.count()))
      clear()
      val pairs2 = NearDup.minhashNearDupPairs(docs, "doc_id", "text",
        n = 3, minJ = 0.6, numHashes = 192, bandRows = 3)
      t("q52 components+order") {
        Components.connectedComponents(docs, "doc_id", pairs2)
          .select(col("id").as("doc_id"), col("comp").as("component"))
          .orderBy(col("doc_id"))
          .write.format("noop").mode("overwrite").save()
      }
      clear()
    }
    spark.stop()
  }
}
