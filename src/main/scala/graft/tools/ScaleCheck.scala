package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{NearDup, Similarity, TextStats}

/** Scale-linearity check for the round-3 LSH paths (not part of the driver
  * contract): inflates the sf0.1 corpora by replication-with-perturbation
  * and measures how simhash banding (q47) and embedding LSH near-dup (q30)
  * grow with corpus size. The minhash pipeline got the same treatment in
  * round 1 (50k docs, 1000× pairs → 2.2× time).
  *
  * `sbt "runMain graft.tools.ScaleCheck [sfDir]"`
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // optional 2nd arg "skew": run only the round-8 adversarial-skew
    // section (partition-count metrics, timing-insensitive)
    val skewOnly = args.length > 1 && args(1) == "skew"
    // optional 2nd arg "containment": run only the round-9 hot-shingle
    // containment section (the q354 candidate-tier scale record)
    val containmentOnly = args.length > 1 && args(1) == "containment"
    val spark = graft.Session.builder(scaleGuard = true)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$label%-44s ${(System.nanoTime() - t0) / 1e9}%8.2f s  (rows=$n)")
    }

    val docs = graft.sources.Tables.load(spark, dir, "documents")
    // k copies with SHIFTED ids; each copy gets a long distinct prefix
    // (~10 tokens vs ~50 distinct tokens/doc) so cross-copy sketches drift
    // well past Hamming 3 — output pairs grow ~linearly with k and the
    // measurement isolates the banding/verify cost from the (inherently
    // quadratic-in-clique) pair output
    def docsX(k: Int): DataFrame =
      (0 until k).map { i =>
        val prefix = (0 until 10).map(j => s"cp${i}x$j").mkString("", " ", " ")
        docs.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
          (if (i == 0) col("text") else concat(lit(prefix), col("text"))).as("text"))
      }.reduce(_ union _)

    docs.count() // warm

    if (!skewOnly && !containmentOnly) {

    // round-3 additions: token entropy (two hash aggs over token rows)
    // and decontamination (broadcast bench shingle probe) — both should
    // track corpus size ~linearly; the prefix perturbation leaves
    // interior 5-grams intact, so contamination hits also scale with k.
    // The corpus side EXCLUDES the src0 bench partition (as q60 does) —
    // otherwise every bench doc trivially self-matches and the hit
    // counts measure a different operation
    val bench = docs.filter(col("source") === "src0")
      .select(col("doc_id"), col("text"))
    def corpusX(k: Int): DataFrame =
      (0 until k).map { i =>
        val prefix = (0 until 10).map(j => s"cp${i}x$j").mkString("", " ", " ")
        docs.filter(col("source") =!= "src0")
          .select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
            (if (i == 0) col("text") else concat(lit(prefix), col("text"))).as("text"))
      }.reduce(_ union _)
    time("token entropy 1x (5k docs)")(
      TextStats.tokenEntropy(docsX(1), "doc_id", "text").count())
    time("token entropy 10x (50k docs)")(
      TextStats.tokenEntropy(docsX(10), "doc_id", "text").count())
    time("decontamination 1x corpus vs src0 bench")(
      NearDup.contaminationHits(corpusX(1), bench, "doc_id", "text", 5).count())
    time("decontamination 10x corpus vs src0 bench")(
      NearDup.contaminationHits(corpusX(10), bench, "doc_id", "text", 5).count())

    time("simhash pairs 1x (5k docs)")(
      NearDup.simhashNearDupPairs(docsX(1), "doc_id", "text", 3).count())
    time("simhash pairs 10x (50k docs)")(
      NearDup.simhashNearDupPairs(docsX(10), "doc_id", "text", 3).count())

    // Embedding LSH in its actual regime: clustered corpus, high
    // similarity threshold (0.9), selective params (8 planes x 8 tables).
    // The shipped catalog setting (threshold 0.4 over near-uniform
    // vectors) is the information-theoretic worst case — most pairs are
    // moderately similar, so no method can prune much and candidate
    // volume is ~n²; with cluster structure the same operator prunes hard.
    def clustered(n: Int): DataFrame = {
      import spark.implicits._
      (0 until n).map { i =>
        val c = i % 200 // 200 clusters
        val vec = Array.tabulate(32) { d =>
          val center = if (d == c % 32) 10f + (c / 32) else 0.1f * ((c * 7 + d) % 5)
          center + ((i * 13 + d * 3) % 7) * 0.02f
        }
        (i.toLong, vec)
      }.toDF("vec_id", "embedding")
    }

    def lshClustered(n: Int): Long =
      Similarity.lshNearDupPairs(clustered(n), "vec_id", "embedding", 0.9,
        numPlanes = 8, numTables = 8).count()

    time("clustered LSH near-dup 5k vecs")(lshClustered(5000))
    time("clustered LSH near-dup 20k vecs")(lshClustered(20000))

    // round-5 additions: incremental delta-vs-corpus dedup (delta fixed,
    // corpus inflated — cost should track the delta×corpus OVERLAP, not
    // corpus size squared) and the bucketed grouped weighted quantile
    // (fact rows inflated — two map-side-combinable aggs + bounded
    // windows, should track input ~linearly)
    val delta = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    def corpusNoDelta(k: Int): DataFrame =
      (0 until k).map { i =>
        val prefix = (0 until 10).map(j => s"cp${i}x$j").mkString("", " ", " ")
        docs.filter(col("doc_id") % 10 =!= 0)
          .select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
            (if (i == 0) col("text") else concat(lit(prefix), col("text"))).as("text"))
      }.reduce(_ union _)
    time("delta dedup, 1x corpus")(
      NearDup.deltaJaccardPairs(corpusNoDelta(1), delta, "doc_id", "text").count())
    time("delta dedup, 4x corpus")(
      NearDup.deltaJaccardPairs(corpusNoDelta(4), delta, "doc_id", "text").count())

    val li = graft.sources.Tables.load(spark, dir, "lineitem")
      .select(col("l_returnflag").as("flag"), col("l_extendedprice"),
        col("l_quantity"))
    def liX(k: Int): DataFrame = (0 until k).map(_ => li).reduce(_ union _)
    // weighted quantile has its own clean-JVM harness (tools/ProfileWq):
    // this main's earlier heavy sections distort in-JVM timings for it
    time("weighted median, 1x lineitem")(
      graft.operators.WeightedStats.weightedQuantile(
        liX(1), "flag", "l_extendedprice", "l_quantity", 0.5).count())
    time("weighted median, 4x lineitem")(
      graft.operators.WeightedStats.weightedQuantile(
        liX(4), "flag", "l_extendedprice", "l_quantity", 0.5).count())
    // round-6 addition: ER blocking-key selectivity for the q144/q150
    // fuzzy-pair family. Block populations grow linearly with data, so
    // in-block candidate pairs grow quadratically — the width-8 length
    // band folded into the key (r6) multiplies the block count to keep
    // the worst block bounded. Replicated parts land in the SAME blocks
    // (worst case: names repeat), so this measures exactly that cliff.
    val part = graft.sources.Tables.load(spark, dir, "part")
    def partX(k: Int): DataFrame =
      (0 until k).map { i =>
        part.select((col("p_partkey") + lit(i * 10000000L)).as("id"),
          col("p_name"), col("p_brand"))
      }.reduce(_ union _)
    def blockStats(df: DataFrame, banded: Boolean): (Long, Long) = {
      val key =
        if (banded) concat_ws("|", col("p_brand"),
          split(col("p_name"), " ").getItem(0),
          shiftright(length(col("p_name")), 3))
        else concat_ws("|", col("p_brand"),
          split(col("p_name"), " ").getItem(0))
      val sizes = df.groupBy(key.as("blk")).agg(count(lit(1)).as("n"))
      // integer div: Spark's `/` on longs is DOUBLE division
      val r = sizes.agg(max(col("n")).as("worst"),
        sum(expr("n * (n - 1) div 2")).as("pairs")).head()
      (r.getLong(0), r.getLong(1))
    }
    for (k <- Seq(1, 4)) {
      val (w0, p0) = blockStats(partX(k), banded = false)
      val (w1, p1) = blockStats(partX(k), banded = true)
      println(s"ER blocking ${k}x part: no-band worst=$w0 pairs=$p0; " +
        s"with-band worst=$w1 pairs=$p1")
    }

    // exactness at the selective params: LSH output == brute-force output
    val n = 4000
    val exact = graft.operators.Vectors
      .cosineNearDupPairs(clustered(n), "vec_id", "embedding", 0.9).count()
    val lsh = lshClustered(n)
    println(s"clustered exactness @4k: lsh=$lsh exact=$exact equal=${lsh == exact}")
    }

    // round-9 addition: HOT-SHINGLE stress for the containment tiers.
    // A stop-phrase shingle shared by k docs gives the plain inverted
    // index (q147's verify tier) k(k-1)/2 join rows through that one hs
    // key; the prefix-filtered candidate tier (q354) admits a hot
    // shingle only into prefixes where it ranks among a doc's rarest
    // (1-t)·sz+1 — so candidates should grow ~linearly in the number of
    // docs sharing the phrase, while the plain index grows quadratically.
    // Fixture: h docs all opening with the same 6-token stop phrase
    // (4 hot shingles spanning it), each with a long unique tail, plus
    // one planted true containment pair. Output identity is asserted at
    // each scale; the recorded numbers are candidate counts and times.
    if (!skewOnly) locally {
      import spark.implicits._
      def hotCorpus(h: Int): DataFrame = {
        val pairs = Seq(
          (9000001L, "alpha beta gamma delta epsilon zeta"),
          (9000002L, "alpha beta gamma delta epsilon zeta " +
            (1 to 60).map(i => s"tail$i").mkString(" ")))
        ((0 until h).map { i =>
          val unique = (0 until 40).map(j => s"u${i}q$j").mkString(" ")
          (i.toLong, s"the shared stop phrase opens here $unique")
        } ++ pairs).toDF("doc_id", "text")
      }
      for (h <- Seq(500, 2000)) {
        val docs = hotCorpus(h)
        val rows = NearDup.shingleHashRows(docs, "doc_id", "text", 3)
          .persist()
        rows.count()
        // plain-index pair volume through the hot shingles (what q147's
        // self-join materializes before grouping): sum over hs of
        // df*(df-1)/2
        val plainPairs = rows.groupBy(col("hs"))
          .agg(count(lit(1)).as("df"))
          .agg(sum(expr("df * (df - 1) div 2"))).head().getLong(0)
        val t0 = System.nanoTime()
        val nCand = NearDup.containmentCandidates(rows, 0.5).count()
        val tCand = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val exact = NearDup.containmentPairs(docs, "doc_id", "text", 3, 0.5)
        val pf = NearDup.containmentCandidatePairs(docs, "doc_id", "text", 3, 0.5)
        val same = exact.except(pf).count() == 0 && pf.except(exact).count() == 0
        println(f"containment hot-shingle h=$h%-5d plain-index pairs=$plainPairs%9d  " +
          f"prefix candidates=$nCand%6d ($tCand%5.2f s)  output==verify-tier: $same " +
          f"(${(System.nanoTime() - t1) / 1e9}%5.2f s)")
        // frees `rows` and the tables the candidate tier persisted
        spark.catalog.clearCache()
      }
    }

    // round-8 addition: ADVERSARIAL-SKEW stress for the blocked-join
    // path. TPC-H keys are benign (near-uniform), so the recorded scale
    // checks above never exercised the straggler cliff SkewJoin exists
    // for. Here 20% of the fact rows are rerouted to ONE hot key (the
    // "20% identical names/shingles" worst case of ER/near-dup
    // blocking), and the same equi-join runs three ways:
    //   a) unsalted, AQE skew-join ON  — production default; AQE splits
    //      oversized SORT-MERGE partitions at runtime;
    //   b) unsalted, AQE skew-join OFF — the raw cliff (what a
    //      shuffled-hash/pre-partitioned plan would hit);
    //   c) salted (SkewJoin, factor 8), AQE skew-join OFF — the explicit
    //      remedy for the cases AQE can't reach.
    // Metric: per-partition JOIN-OUTPUT row counts (spark_partition_id
    // captured in the join stage, before the audit's own shuffle) —
    // worst, median, and worst/median. Pass = salted worst <= 4x median.
    if (!containmentOnly) locally {
      val o = graft.sources.Tables.load(spark, dir, "orders")
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 5 === 0, lit(1L))
            .otherwise(col("o_custkey")).as("c_custkey"),
          col("o_totalprice"))
      val c = graft.sources.Tables.load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      def partitionStats(out: DataFrame): (Long, Long, Long, Double) = {
        val sizes = out.select(spark_partition_id().as("pid"))
          .groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
          .select(col("cnt")).collect().map(_.getLong(0)).sorted
        val worst = sizes.last
        val med = sizes(sizes.length / 2)
        (sizes.length, worst, med, worst.toDouble / med.max(1L))
      }
      def run(label: String, salted: Boolean, aqeSkew: Boolean): Unit = {
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", aqeSkew)
        // keep AQE's partition coalescing from blurring the comparison
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        // at sf0.1 the 15k-row customer side would BROADCAST, making the
        // join shuffle-free and the stress vacuous — force the shuffled
        // plan this stress exists to measure (at 100 TB the dim side of
        // an ER blocking join is NOT broadcastable)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val joined =
          if (salted) graft.operators.SkewJoin.saltedInnerJoin(
            o, c, Seq("c_custkey"), saltFactor = 8, saltCols = Seq("o_orderkey"))
          else o.join(c, Seq("c_custkey"))
        val t0 = System.nanoTime()
        val (nparts, worst, med, ratio) = partitionStats(joined)
        println(f"skew-stress $label%-34s parts=$nparts worst=$worst " +
          f"median=$med ratio=$ratio%.2f  (${(System.nanoTime() - t0) / 1e9}%.2f s)")
      }
      run("unsalted, AQE skew-join on", salted = false, aqeSkew = true)
      run("unsalted, AQE skew-join off", salted = false, aqeSkew = false)
      run("salted x8, AQE skew-join off", salted = true, aqeSkew = false)
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    spark.stop()
  }
}
