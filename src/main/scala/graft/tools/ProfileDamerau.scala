package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Per-candidate cost of the Damerau-Levenshtein kernel across the
  * sf0.1 → sf1 decade — the measurement behind q150's exponent-gate
  * waiver (r11 judge ask #3: the 1.37 TIME exponent was attributed to
  * "per-row constant factors at the larger working set", which was a
  * story; this pins it as a number).
  *
  * Method: build q150's exact candidate set (blocked self-join of part
  * + the |len diff| <= 4 prefilter), persist it, then time — min-of-R
  * each —
  *   (a) `sum(graft_damerau_levenshtein(name_a, name_b))`  (scan + kernel)
  *   (b) `sum(length(name_a) + length(name_b))`            (scan only)
  * The kernel's own cost is (a) − (b); dividing by the candidate count
  * gives ns/candidate, and by the total DP-cell count (Σ len_a·len_b)
  * gives ns/cell — the constant the O(n·m) kernel should hold FLAT
  * across the decade if its working-set behavior is scale-free.
  * Differential timing cancels the join/persist/scan overhead that made
  * the whole-query exponent unreadable.
  *
  *   sbt "runMain graft.tools.ProfileDamerau /root/testdata/sf0.1"
  *   sbt "runMain graft.tools.ProfileDamerau /tmp/sf1"
  */
object ProfileDamerau {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 5
    val spark = graft.Session.builder(scaleGuard = true)
      .appName("graft-profile-damerau")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // q150's candidate shape, verbatim (Catalog2.scala)
    val p = graft.sources.Tables.load(spark, dir, "part").select(
      col("p_partkey").as("id"), col("p_name").as("name"),
      concat_ws("|", col("p_brand"),
        split(col("p_name"), " ").getItem(0),
        shiftright(length(col("p_name")), 3)).as("blk"))
    val a = p.select(col("blk"), col("id").as("id_a"), col("name").as("name_a"))
    val b = p.select(col("blk"), col("id").as("id_b"), col("name").as("name_b"))
    val cand = a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b") && col("name_a") =!= col("name_b"))
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <= 4)
      .select(col("name_a"), col("name_b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = cand.count()
    val cells = cand
      .agg(sum((length(col("name_a")) * length(col("name_b"))).cast("long")))
      .head().getLong(0)

    def timeNs(f: => Unit): Long = {
      f // warm (fills codegen caches + touches every cached block)
      (0 until reps).map { _ =>
        val t0 = System.nanoTime(); f; System.nanoTime() - t0
      }.min
    }
    val tKernel = timeNs {
      cand.agg(sum(call_function("graft_damerau_levenshtein",
        col("name_a"), col("name_b")).cast("long"))).head()
    }
    val tScan = timeNs {
      cand.agg(sum((length(col("name_a")) + length(col("name_b")))
        .cast("long"))).head()
    }
    val kernelNs = (tKernel - tScan).toDouble
    println(f"""{"profile":"damerau","dir":"$dir","candidates":$n,""" +
      f""""dp_cells":$cells,"t_kernel_ms":${tKernel / 1e6}%.1f,""" +
      f""""t_scan_ms":${tScan / 1e6}%.1f,""" +
      f""""ns_per_candidate":${kernelNs / n}%.1f,""" +
      f""""ns_per_cell":${kernelNs / cells}%.3f}""")
    spark.stop()
  }
}
