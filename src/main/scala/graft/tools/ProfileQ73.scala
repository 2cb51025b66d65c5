package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{Par, Similarity, Vectors}

/** Offline phase-split probe for q73 (IVF ANN) — guide §1.1: the query's
  * wall-clock is an eager BUILD phase (corpus fingerprint, KMeans fit,
  * centroid parquet write) plus the lazy search plan the bench noop-sinks;
  * this prints each phase so "the residual is the fit" is a measured
  * number, not a guess.
  *
  *   sbt "runMain graft.tools.ProfileQ73 [sfDir]"
  */
object ProfileQ73 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.builder(scaleGuard = true)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $tag%-26s ${(System.nanoTime() - t0) / 1e9}%7.3f s"); r
    }
    val out = s"/tmp/profq73-centroids"
    (1 to 3).foreach { it =>
      println(s"== q73 iter $it ==")
      val e = t("emb gate+fanout (lazy)") {
        Vectors.validEmbeddings(
          Par.fanOut(graft.sources.Tables.load(spark, dir, "embeddings"),
            "vec_id"), "embedding")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      val key = t("fingerprint head") {
        e.agg(count(lit(1)),
          sum(floor(abs(element_at(col("embedding"), 1).cast("double"))
            * lit(1e6)).cast("long"))).head()
      }
      val cents = t("kmeans fit") {
        Similarity.ivfFitCentroids(e, "embedding", nlist = 16, seed = 42L)
      }
      t("centroid write")(cents.coalesce(1).write.mode("overwrite")
        .parquet(s"$out/n${key.getLong(0)}_k${key.getLong(1)}"))
      val centroids = t("centroid read-back")(
        spark.read.parquet(s"$out/n${key.getLong(0)}_k${key.getLong(1)}"))
      val plan = t("search plan build") {
        Similarity.ivfSearch(e.filter(col("vec_id") < 20), e, centroids,
          "vec_id", "embedding", k = 3, nprobe = 4)
          .orderBy(col("query_id"), col("rank"))
      }
      t("unpersist")(e.unpersist())
      t("search exec (noop)")(
        plan.write.format("noop").mode("overwrite").save())
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    spark.stop()
  }
}
