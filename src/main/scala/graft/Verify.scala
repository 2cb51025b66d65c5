package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (local iteration only;
    // the driver always runs the full catalog)
    // "--sql-only": dump oracle_sql.json and exit without running any
    // query — feeds tools/oracle_lint.py at authoring time (the type
    // lint needs only the SQL, not the Spark parquet dumps).
    val sqlOnly = args.length > 2 && args(2) == "--sql-only"
    val only: Option[Set[String]] =
      if (args.length > 2 && !sqlOnly) Some(args(2).split(",").toSet)
      else None
    // the engine's own scale contract gates the correctness sweep: the
    // analysis-time ScaleGuard (plans/ScaleGuard.scala) rejects any
    // query plan with an unpartitioned window over raw rows or a
    // condition-free raw×raw join — so all 353 queries are proven
    // scale-safe at RUNTIME every round, not just in PlanSpec
    val builder = Session.builder(scaleGuard = true)
    // SPARK_GRAFT_MASTER: the invariance matrix's task-retry row needs a
    // master that allows retries (local[N] pins maxFailures=1; the conf
    // key is ignored in local mode) — e.g. local[4,4].
    sys.env.get("SPARK_GRAFT_MASTER").foreach(builder.master)
    // SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2": the execution-environment
    // invariance matrix (COVERAGE.md) — the same oracle sweep re-run under
    // a prime shuffle-partition count (results must not depend on
    // parallelism: a cluster resize is not allowed to change answers),
    // AQE disabled (no silent reliance on runtime re-planning), and
    // interpreted expression eval (codegen.factoryMode=NO_CODEGEN +
    // wholeStage=false — every custom Expression's eval() must match its
    // doGenCode(), the classic divergence bug class). Applied LAST so the
    // overrides win.
    val spark = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .foldLeft(builder) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_CHAOS=kill: chaos-kill invariance row — kill the first
    // attempt of every third task mid-flight; killed tasks are rescheduled
    // (kills don't count toward maxFailures) and every answer must still
    // hash-match the oracle. Fails the sweep if no kill actually landed.
    val chaos: Option[graft.tools.ChaosKillListener] =
      if (sys.env.get("SPARK_GRAFT_CHAOS").contains("kill")) {
        val l = new graft.tools.ChaosKillListener(spark.sparkContext)
        spark.sparkContext.addSparkListener(l)
        Some(l)
      } else None
    new java.io.File(outDir).mkdirs()
    // Output-schema guard: an LTZ timestamp column is the one type that can
    // serialize differently from what the session shows (r5 q85: LTZ →
    // legacy INT96 → nanosecond wrap in the driver's reader). With
    // outputTimestampType=TIMESTAMP_MICROS above the write itself is safe,
    // but an LTZ column still signals a query whose semantics depend on the
    // session zone — fail loudly here instead of at driver-compare time.
    def assertNoLtz(name: String, schema: org.apache.spark.sql.types.StructType): Unit = {
      import org.apache.spark.sql.types._
      def hasLtz(dt: DataType): Boolean = dt match {
        case TimestampType => true
        case s: StructType => s.fields.exists(f => hasLtz(f.dataType))
        case a: ArrayType  => hasLtz(a.elementType)
        case m: MapType    => hasLtz(m.keyType) || hasLtz(m.valueType)
        case _             => false
      }
      val bad = schema.fields.filter(f => hasLtz(f.dataType)).map(_.name)
      if (bad.nonEmpty) throw new IllegalStateException(
        s"$name emits session-zone-dependent TIMESTAMP_LTZ column(s) " +
          s"${bad.mkString(",")} — use timestamp_ntz (r5 q85 failure class)")
    }
    SparkEntry.queries
      .filter { case (name, _) => !sqlOnly && only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        assertNoLtz(name, df.schema)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // free frames persisted inside operators (components, embedding
      // dedup) so storage stays flat across the full catalog sweep.
      // BOTH layers are needed: Dataset.persist lives in the session's
      // CacheManager (plan-level — an RDD-level unpersist does NOT evict
      // it, and the next build of the same plan silently reuses the
      // cached copy), while localCheckpoint RDDs live only in
      // persistentRdds (clearCache does not touch them).
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    chaos.foreach { l =>
      System.err.println(
        s"[chaos] kill attempts=${l.attempted.get} landed=${l.landed.get}")
      if (l.landed.get == 0) throw new IllegalStateException(
        "chaos-kill row vacuous: zero task kills landed")
    }
    spark.stop()
  }
}
