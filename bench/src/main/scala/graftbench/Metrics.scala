package graftbench

/** The benchmark's metric vocabulary, mirrored in BENCHMARK.json (the
  * self-tests check the two agree).
  *
  * End-to-end metrics exist on every workload, each measuring that
  * workload's own user-facing operation:
  *
  * | metric         | loan_train                          | loan_serve                              |
  * |----------------|-------------------------------------|-----------------------------------------|
  * | `setup_s`      | median of 3 data generations        | median of 3 (`Scorer.load` + 1 request) |
  * | `op_ms`        | one ETL-through-save pass           | one `Scorer.scoreBatch` pass            |
  * | `rows_per_s`   | source rows offered to upsert per s | rows scored per s by `SqlScorer`        |
  * | `peak_heap_mb` | heap-pool peaks over the timed body | heap-pool peaks over the timed body     |
  *
  * Per-layer metrics come from the traced run; a layer a workload does not
  * exercise reports 0.
  */
object Metrics {

  final case class Def(name: String, unit: String, better: String)

  val endToEnd: Seq[Def] = Seq(
    Def("setup_s", "s", "lower"),
    Def("op_ms", "ms", "lower"),
    Def("rows_per_s", "1/s", "higher"),
    Def("peak_heap_mb", "MB", "lower"))

  private def spark(prefix: String): Seq[Def] = Seq(
    Def(s"${prefix}_jobs", "count", "lower"),
    Def(s"${prefix}_stages", "count", "lower"),
    Def(s"${prefix}_tasks", "count", "lower"),
    Def(s"${prefix}_util", "ratio", "higher"))

  val perLayer: Seq[Def] = Seq(
    Def("etl.dedup_s", "s", "lower"),
    Def("etl.upsert_s", "s", "lower"),
    Def("etl.rows_offered", "count", "higher"),
    Def("etl.rows_written", "count", "lower"),
    Def("etl.write_ratio", "ratio", "lower"),
    Def("ingest.jdbc_merge_s", "s", "lower"),
    Def("prep.split_s", "s", "lower"),
    Def("fit.rf_s", "s", "lower")) ++ spark("fit.rf") ++ Seq(
    Def("fit.lr_s", "s", "lower")) ++ spark("fit.lr") ++ Seq(
    Def("fit.lr_iters", "count", "lower"),
    Def("eval.report_s", "s", "lower"),
    Def("model.save_s", "s", "lower"),
    Def("score.sql_s", "s", "lower")) ++ spark("score.sql") ++ Seq(
    Def("score.mllib_s", "s", "lower")) ++ spark("score.mllib") ++ Seq(
    Def("score.mllib_rows_per_s", "1/s", "higher"),
    Def("serve.p50_ms", "ms", "lower"),
    Def("serve.jobs_per_req", "count", "lower"),
    Def("serve.tasks_per_req", "count", "lower"),
    Def("serve.util", "ratio", "higher"),
    Def("gc_s", "s", "lower"),
    Def("trace.coverage", "ratio", "higher"),
    Def("trace.overhead_ms", "ms", "lower"))
}
