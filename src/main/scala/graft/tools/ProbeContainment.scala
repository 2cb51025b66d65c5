package graft.tools

import org.apache.spark.sql.functions._

/** One-off scale probe for the containment discovery tier (r10: q354's
  * measured sf1 time exponent jumped to ~1.9 on the regenerated fixture
  * while its OUTPUT stayed tiny — this prints the candidate-stage volume
  * at both scales so fixture-artifact vs real blow-up is measurable, not
  * guessed). `sbt "runMain graft.tools.ProbeContainment [dirs...]"` */
object ProbeContainment {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/sf1")
    val spark = graft.Session.builder(scaleGuard = true)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (dir <- dirs) {
      val docs = graft.sources.Tables.load(spark, dir, "documents")
      val rows = graft.operators.NearDup
        .shingleHashRows(docs, "doc_id", "text", 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nRows = rows.count()
      val t0 = System.nanoTime()
      val nCand = graft.operators.NearDup
        .containmentCandidates(rows, 0.5).count()
      println(f"[probe] $dir shingleRows=$nRows cand=$nCand " +
        f"candTime=${(System.nanoTime() - t0) / 1e9}%.1f s")
      rows.unpersist()
    }
    spark.stop()
  }
}
