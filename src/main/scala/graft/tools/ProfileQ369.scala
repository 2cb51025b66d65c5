package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Phase-split profiler for q369_pipeline_e2e (r13 measurement — guide
  * §1.1 "measure first"): times the four phases of
  * [[graft.streaming.BoundedRuns.pipelineSurvivors]] separately —
  * staging write, bounded-ingest stream, end-of-stream flush, and the
  * wordpiece/packing tail — so the per-micro-batch durability cost is a
  * number, not a guess.
  *
  *   sbt "runMain graft.tools.ProfileQ369 [sfDir]"
  */
object ProfileQ369 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.builder(scaleGuard = true)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[q369-profile] $label%-18s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }

    // mirror of pipelineSurvivors(nSlices=4, lateness=5, blockB=4) with
    // per-phase timing (kept in lockstep with BoundedRuns — measurement
    // only, never a query path)
    val work = java.nio.file.Files
      .createTempDirectory("q369prof-").toString
    val blockB = 4
    val lateness = 5L
    t("stage-write") {
      val blockStart = col("doc_id") - pmod(col("doc_id"), lit(blockB))
      graft.sources.Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
        .withColumn("arr",
          blockStart + lit(blockB - 1) - pmod(col("doc_id"), lit(blockB)))
        .repartitionByRange(4, col("arr"))
        .withColumn("slice", spark_partition_id())
        .drop("arr")
        .write.partitionBy("slice").parquet(s"$work/stage")
    }
    // ascending mtimes (same as BoundedRuns.orderSliceMtimes)
    locally {
      val base = System.currentTimeMillis()
      val ds = java.nio.file.Files.list(java.nio.file.Paths.get(s"$work/stage"))
      try ds.forEach { d =>
        val dn = d.getFileName.toString
        if (dn.startsWith("slice=")) {
          val i = dn.stripPrefix("slice=").toLong
          val fs = java.nio.file.Files.list(d)
          try fs.forEach { f =>
            java.nio.file.Files.setLastModifiedTime(f,
              java.nio.file.attribute.FileTime.fromMillis(base + i * 10000L))
          } finally fs.close()
        }
      } finally ds.close()
    }
    // per-micro-batch duration split from the progress events — where
    // inside a batch the time goes (source listing, offset/commit log,
    // or the foreachBatch body)
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        def onQueryStarted(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryStartedEvent): Unit = ()
        def onQueryProgress(e: org.apache.spark.sql.streaming
            .StreamingQueryListener.QueryProgressEvent): Unit =
          println(s"[q369-profile]   batch ${e.progress.batchId} " +
            s"rows=${e.progress.numInputRows} " +
            s"durations=${e.progress.durationMs}")
        def onQueryTerminated(e: org.apache.spark.sql.streaming
          .StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      })
    t("stream-4-batches") {
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING, slice INT")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$work/stage")
        .drop("slice")
      graft.streaming.DedupIngest.initSimhash128State(spark, s"$work/state")
      val q = graft.streaming.DedupIngest.simhash128IngestSinkBounded(stream,
          s"$work/state", s"$work/surv", s"$work/pending",
          "doc_id", "text", lateness)
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    t("flush") {
      graft.streaming.DedupIngest.boundedLatenessFlushAuto(spark,
        s"$work/pending", (released, bid) =>
          graft.streaming.DedupIngest.simhash128IngestBatch(released, bid,
            s"$work/state", s"$work/surv", "doc_id", "text"))
    }
    t("surv-read+tail") {
      val surv = graft.streaming.DedupIngest
        .readSurvivors(spark, s"$work/surv").select(col("doc_id"))
      val n = size(graft.operators.Wordpiece.tokensWith(col("text"),
        graft.operators.Wordpiece.vocab30k)).cast("long")
      graft.operators.Par.fanOut(
          graft.sources.Tables.load(spark, dir, "documents")
            .select(col("doc_id"), col("text")), "doc_id")
        .join(surv, Seq("doc_id"), "left_semi")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), n.as("n_pieces"))
        .agg(count(lit(1)), sum(col("n_pieces"))).head()
    }
    spark.stop()
  }
}
