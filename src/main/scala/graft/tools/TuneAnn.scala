package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{Similarity, Vectors}

/** One-off tuning harness for the ANN/LSH parameter choice: for each SF and
  * (planes, tables) combo, checks (a) annTopK == bruteForceKnn exactly, and
  * (b) lshNearDupCandidates covers every true cosine>=0.4 pair. Also prints
  * the min true top-3 similarity (the worst-case pair for the miss bound).
  */
object TuneAnn {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.builder(scaleGuard = true)
      .appName("tune-ann")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val combos = Seq((4, 16), (3, 24), (3, 32), (2, 32), (2, 48))
    for (sfDir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val n = emb.count()
      val q = emb.filter(col("vec_id") < 20)
      val exact = Vectors.bruteForceKnn(q, emb, "vec_id", "embedding", 3)
        .select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val minTopSim = Vectors.bruteForceKnn(q, emb, "vec_id", "embedding", 3)
        .agg(min(col("sim"))).head().getDouble(0)
      val truePairs = Vectors.cosineNearDupPairs(emb, "vec_id", "embedding", 0.4)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val minPairSim = Vectors.cosineNearDupPairs(emb, "vec_id", "embedding", 0.4)
        .agg(min(col("sim"))).head().getDouble(0)
      println(f"\n=== $sfDir n=$n minTop3Sim=$minTopSim%.4f truePairs=${truePairs.size} minPairSim=$minPairSim%.4f")
      for ((p, t) <- combos) {
        val ann = Similarity.annTopK(q, emb, "vec_id", "embedding", 3, p, t)
          .select("query_id", "rank", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
        val annEq = ann == exact
        val cand = Similarity.lshNearDupCandidates(emb, "vec_id", "embedding", p, t)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val missed = truePairs -- cand
        // candidate volume = how much of the n^2/2 space the buckets touch
        val volume = cand.size.toDouble / (n.toDouble * (n - 1) / 2)
        println(f"planes=$p tables=$t ann==bf: $annEq  pairCoverage: ${truePairs.size - missed.size}/${truePairs.size}  candVolume=$volume%.4f")
      }
    }
    spark.stop()
  }
}
