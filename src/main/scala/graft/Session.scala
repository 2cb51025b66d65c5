package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built: every main and the test
  * harness start from [[builder]], so the catalog is timed, checked,
  * profiled and unit-tested under the same session policy. */
object Session {

  /** Default core count: `SPARK_GRAFT_CPUS`, else every available core. */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[cores]` builder carrying graft's session policy. Callers may
    * add an app name or override entries on the returned builder.
    *
    * @param scaleGuard turn on the analysis-time [[graft.plans.ScaleGuard]]
    *   (mains run with it; the test session leaves it off so deliberately
    *   unscalable reference plans stay expressible, and opts in per
    *   `newSession()`). */
  def builder(cores: Int = Session.cores, scaleGuard: Boolean): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      // declarative install: functions + the ScaleGuard/FaultInject rules
      .withExtensions(new GraftExtensions)
      .config("spark.graft.scaleGuard", scaleGuard)
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      // never emit legacy INT96: the driver's reader maps INT96 to
      // nanosecond timestamps, where far-future sentinels (9999-12-31)
      // overflow int64-ns and wrap to 1816 — bit-identical values then
      // hash-mismatch (r5 q85). INT64 micros round-trips the full range.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", false)
    // AQE and the HDFS-backed state store are Spark's defaults and need
    // no explicit setting. SPARK_GRAFT_STATESTORE=rocksdb runs every
    // streaming bounded-run query on RocksDBStateStoreProvider — the
    // 100 TB-state production provider — so the oracle gate can exercise
    // that code path too (COVERAGE.md records the RocksDB sweep).
    if (sys.env.get("SPARK_GRAFT_STATESTORE").contains("rocksdb"))
      b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    b
  }
}
