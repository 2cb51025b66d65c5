package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TextHash, Vectors}

/** Micro-benchmark: native codegen'd kernels vs their interpreted HOF
  * twins, on the sf0.1 corpora. `sbt "runMain graft.tools.HofVsNative"` */
object HofVsNative {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.builder(scaleGuard = true)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.sources.Tables.load(spark, dir, "documents")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")

    def time(label: String)(f: => Unit): Unit = {
      f // warm
      val t0 = System.nanoTime()
      f
      println(f"$label%-36s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    }
    def drain(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    time("simhash native")(drain(docs.select(TextHash.simhash(col("text")))))
    time("simhash HOF")(drain(docs.select(TextHash.simhashHof(col("text")))))
    time("polyHash+minGram native")(drain(docs.select(
      TextHash.polyHash(col("text")), TextHash.minGramHash(col("text"), 8))))
    time("polyHash+minGram HOF")(drain(docs.select(
      TextHash.polyHashHof(col("text")), TextHash.minGramHashHof(col("text"), 8))))
    val v = Vectors.asDouble(col("embedding"))
    time("hyperplane buckets native (3x24)")(drain(
      emb.select(Similarity.bucketIds(v, 3, 24))))
    time("hyperplane buckets HOF (3x24)")(drain(
      emb.select(transform(sequence(lit(0), lit(23)),
        t => Similarity.bucketIdHof(v, 3, t)))))
    spark.stop()
  }
}
