package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate nearest-neighbor search over embedding columns via
  * random-hyperplane LSH (Charikar '02 sign-random-projection): each of
  * `numTables` hash tables assigns a vector to a 2^numPlanes-bucket by the
  * sign pattern of `numPlanes` pseudo-random projections; query and corpus
  * rows meet only inside shared buckets, and exact cosine ranks the
  * candidates.
  *
  * Scale shape (the whole point vs [[Vectors.bruteForceKnn]]): the corpus is
  * never cross-joined — it is hashed (numTables rows per vector, a linear
  * map-side expansion), shuffled once on (table, bucket), and only bucket
  * collisions pay a cosine. Probability a pair with angle θ collides in one
  * table is (1-θ/π)^numPlanes; tables multiply recall, planes divide
  * candidate volume. Tune (planes, tables) to the corpus geometry:
  * clustered real-world embeddings → more planes; near-uniform synthetic
  * data → fewer planes, more tables.
  *
  * The projection coefficients are derived from `xxhash64(table, plane,
  * dim)` — deterministic, seedable, no driver-side randomness and nothing
  * to broadcast.
  */
object Similarity {

  /** Pseudo-random coefficient in [-1, 1] for (table, plane, dim). */
  private def coef(table: Column, plane: Column, dim: Column): Column =
    pmod(xxhash64(table, plane, dim), lit(2001L)).cast("double") / 1000.0 - 1.0

  /** All `numTables` bucket ids (each in [0, 2^numPlanes)) of a vector, as
    * one array<bigint> — the native codegen'd
    * [[graft.functions.HyperplaneBuckets]] expression: a primitive loop
    * inside WholeStageCodegen, one row-scan per vector for the whole hash
    * family. Bit-identical to [[bucketIdHof]] per table (A/B-asserted in
    * SimilaritySpec): same xxhash64-derived coefficients, same left-to-right
    * projection accumulation. */
  def bucketIds(vec: Column, numPlanes: Int, numTables: Int): Column =
    call_function("graft_hyperplane_buckets", vec, lit(numPlanes), lit(numTables))

  /** Interpreted HOF twin of one table's bucket id — the executable spec
    * for [[bucketIds]]; O(numPlanes · dims) boxed lambda calls per vector
    * per table, so never on a hot path. */
  def bucketIdHof(vec: Column, numPlanes: Int, table: Column): Column =
    aggregate(sequence(lit(0), lit(numPlanes - 1)), lit(0L), (acc, p) => {
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, j) => x * coef(table, p, j)),
        lit(0.0), (s, v) => s + v)
      acc * 2 + when(proj >= 0, 1L).otherwise(0L)
    })

  /** (id, table, bucket) rows — numTables rows per input vector, a linear
    * map-side expansion (posexplode of the codegen'd bucket array). */
  def bucketed(df: DataFrame, idCol: String, vecCol: String,
      numPlanes: Int, numTables: Int): DataFrame = {
    val v = Vectors.asDouble(col(vecCol))
    df.select(col(idCol), v.as("__v"))
      .select(col(idCol), posexplode(
        bucketIds(col("__v"), numPlanes, numTables)).as(Seq("table", "bucket")))
  }

  /** Default (planes, tables), tuned to the shipped near-uniform testdata
    * geometry (no cluster structure, worst true top-3 cosine ≈ 0.26 →
    * θ ≈ 1.30 rad): 3 planes keep per-table collision probability
    * (1−θ/π)³ ≈ 0.20 high enough that 24 tables drive the per-pair miss
    * bound below 0.5% even for the worst-ranked true neighbor, and the
    * *deterministic* outcome (fixed hash family, fixed data) is exact —
    * annTopK ≡ bruteForceKnn and candidate coverage is 100% at
    * sf0.001/0.01/0.1 (tools/TuneAnn sweep; pinned by SimilaritySpec and
    * the q34/q30 DuckDB oracles). On this geometry the buckets prune
    * little (~95% of pairs still collide somewhere — uniform data is LSH's
    * worst case); clustered real-world embeddings want MORE planes and
    * fewer tables, which is exactly what the knobs are for. */
  val DefaultPlanes = 3
  val DefaultTables = 24

  /** Approximate top-k neighbors of each query row, searching only LSH
    * bucket collisions. Output contract matches [[Vectors.bruteForceKnn]]
    * (query_id, rank, neighbor_id, sim) — deterministic for fixed params. */
  def annTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, numPlanes: Int = DefaultPlanes,
      numTables: Int = DefaultTables): DataFrame = {
    val qb = bucketed(queries, idCol, vecCol, numPlanes, numTables)
      .select(col(idCol).as("query_id"), col("table"), col("bucket"))
    val cb = bucketed(corpus, idCol, vecCol, numPlanes, numTables)
      .select(col(idCol).as("neighbor_id"), col("table"), col("bucket"))
    val cand = qb.join(cb, Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val qv = queries.select(col(idCol).as("query_id"),
      Vectors.asDouble(col(vecCol)).as("qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"),
      Vectors.asDouble(col(vecCol)).as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    cand.join(broadcast(qv), Seq("query_id")).join(cv, Seq("neighbor_id"))
      .withColumn("sim", Vectors.cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Fit the IVF coarse quantizer: KMeans over the corpus, returned as a
    * PLAIN (cell, centroid array<double>) DataFrame — model-as-data. The
    * centroid table is tiny (nlist × dim) and portable: persist it to
    * parquet and [[ivfSearch]] (or any engine, including the DuckDB
    * oracle) can reproduce the exact same search, because the search half
    * is pure relational arithmetic over (centroids × vectors).
    * Deterministic for a fixed seed. */
  def ivfFitCentroids(corpus: DataFrame, vecCol: String, nlist: Int = 16,
      seed: Long = 42L): DataFrame = {
    val fv = array_to_vector(Vectors.asDouble(col(vecCol)))
    val model = new KMeans().setK(nlist).setSeed(seed)
      .setFeaturesCol("__fv").setPredictionCol("__cell")
      .fit(corpus.select(fv.as("__fv")))
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }
      .toSeq
    corpus.sparkSession.createDataFrame(centroids).toDF("cell", "centroid")
  }

  /** Above this many compiled coefficients (nlist × dim), [[ivfSearch]]
    * switches from literal-compiled cell distances to the relational
    * broadcast-join form. The literal form embeds every centroid
    * coordinate in the plan — fastest at small nlist (one codegen'd map
    * pass, zero joins), but plan size and codegen grow with nlist × dim
    * and production IVF runs nlist in the thousands; past ~10⁴
    * coefficients the compiled plan stops being the right trade. */
  val IvfCompileMaxCoeffs: Long = 10000L

  /** IVF (inverted-file) approximate top-k search against a fitted
    * centroid table ([[ivfFitCentroids]]): every corpus vector is assigned
    * to its nearest cell, each query probes its `nprobe` nearest cells,
    * and only those members are ranked by exact cosine.
    *
    * Complements [[annTopK]]: random-hyperplane LSH needs no training and
    * suits uniform data; IVF learns the cluster structure and dominates on
    * real-world (clustered) embeddings — with `nprobe/nlist` directly
    * controlling the scanned fraction. Scale shape: the centroid table is
    * model metadata (nlist × dim, broadcast), assignment and probing are
    * nlist dot products per vector with the argmin keyed on |c|² − 2·q·c
    * (the per-vector |q|² term cancels in the argmin, so it is never
    * computed), and the probe join is a cell-key equi-join; the corpus is
    * never cross-joined against itself. Deterministic: distance ties
    * break on cell id, rank ties on neighbor id.
    *
    * Two physically different, numerically IDENTICAL evaluations of that
    * arithmetic (equivalence pinned by SimilaritySpec):
    *  - **nlist × dim ≤ `compileMaxCoeffs`** (default
    *    [[IvfCompileMaxCoeffs]]): centroids are collected (bounded model
    *    metadata) and the distance family is compiled into literal
    *    expressions — assignment is a pure map pass, no explode, no
    *    shuffle, no join.
    *  - **above the bound**: the same formula as a broadcast
    *    nested-loop join against the (cell, centroid, |c|²) frame — nlist
    *    narrow (id, d, cell) rows per vector, argmin as a map-side-partial
    *    min(struct(d, cell)) aggregation, vectors re-attached by id
    *    equi-join so they never ride the argmin shuffle. */
  def ivfSearch(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 4,
      compileMaxCoeffs: Long = IvfCompileMaxCoeffs): DataFrame = {
    // |c|² is pre-summed with the same sequential left-to-right
    // accumulation as Vectors.dot / DuckDB's list_dot_product, keeping the
    // arithmetic bit-identical across both physical forms and the oracle.
    val cents: Array[(Int, Array[Double])] = centroids
      .select(col("cell").cast("int"), Vectors.asDouble(col("centroid")))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, "ivfSearch needs a non-empty centroid table")
    val coeffs = cents.length.toLong * cents.head._2.length

    val corpusProj = corpus.select(col(idCol).as("neighbor_id"),
      Vectors.asDouble(col(vecCol)).as("cv"))
    val queriesProj = queries.select(col(idCol).as("query_id"),
      Vectors.asDouble(col(vecCol)).as("qv"))

    val (assigned, probed) =
      if (coeffs <= compileMaxCoeffs) {
        def distCells(v: Column): Column = array(cents.map { case (cell, c) =>
          var c2 = 0.0
          c.foreach(x => c2 += x * x)
          // squared euclidean MINUS the per-vector-constant |v|² term — it
          // cancels in the per-vector argmin, so don't pay nlist extra dots
          struct((lit(c2) - lit(2.0) * Vectors.dot(v, typedlit(c))).as("d"),
            lit(cell).as("c"))
        }: _*)
        // argmin by (distance, cell): struct ordering is lexicographic, so
        // array_min IS the deterministic nearest-cell rule
        val a = corpusProj
          .withColumn("cell", array_min(distCells(col("cv"))).getField("c"))
        val p = queriesProj
          .select(col("query_id"), col("qv"),
            explode(slice(array_sort(distCells(col("qv"))), 1, nprobe)).as("__pc"))
          .select(col("query_id"), col("qv"), col("__pc.c").as("cell"))
        (a, p)
      } else {
        // relational twin: same d = |c|² − 2·v·c, same (d, cell) tie rule
        val centRows = broadcast(centroids
          .select(col("cell").cast("int").as("__cell"),
            Vectors.asDouble(col("centroid")).as("__cc"))
          .withColumn("__c2", Vectors.dot(col("__cc"), col("__cc"))))
        def cellDists(df: DataFrame, id: String, v: String): DataFrame =
          df.select(col(id), col(v)).crossJoin(centRows)
            .select(col(id),
              (col("__c2") - lit(2.0) * Vectors.dot(col(v), col("__cc"))).as("d"),
              col("__cell"))
        // argmin as an aggregation of narrow (id, d, cell) rows —
        // map-side partial min collapses to one row per id per partition
        // before the exchange; the vector joins back by id afterwards
        val a = cellDists(corpusProj, "neighbor_id", "cv")
          .groupBy(col("neighbor_id"))
          .agg(min(struct(col("d"), col("__cell").as("c"))).as("__m"))
          .select(col("neighbor_id"), col("__m.c").as("cell"))
          .join(corpusProj, Seq("neighbor_id"))
          .select(col("neighbor_id"), col("cv"), col("cell"))
        val byDist = Window.partitionBy(col("query_id"))
          .orderBy(col("d"), col("__cell"))
        val p = cellDists(queriesProj, "query_id", "qv")
          .withColumn("__pr", row_number().over(byDist))
          .filter(col("__pr") <= nprobe)
          .select(col("query_id"), col("__cell").as("cell"))
          .join(queriesProj, Seq("query_id"))
          .select(col("query_id"), col("qv"), col("cell"))
        (a, p)
      }

    val bySim = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    probed.join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", Vectors.cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(bySim))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Fit + search in one call — see [[ivfFitCentroids]] / [[ivfSearch]]. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
      seed: Long = 42L): DataFrame =
    ivfSearch(queries, corpus,
      ivfFitCentroids(corpus, vecCol, nlist, seed), idCol, vecCol, k, nprobe)

  /** LSH candidate pairs for embedding near-dup (the scale path feeding
    * [[Vectors.cosineNearDupPairs]]' exact verifier): id-ordered distinct
    * pairs that collide in at least one table. */
  def lshNearDupCandidates(df: DataFrame, idCol: String, vecCol: String,
      numPlanes: Int = DefaultPlanes, numTables: Int = DefaultTables): DataFrame = {
    val b = bucketed(df, idCol, vecCol, numPlanes, numTables)
    val l = b.select(col("table"), col("bucket"), col(idCol).as("id_a"))
    val r = b.select(col("table"), col("bucket"), col(idCol).as("id_b"))
    l.join(r, Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Embedding near-dup pairs the 100 TB way: LSH bucket candidates →
    * exact cosine verify → threshold. Output contract identical to
    * [[Vectors.cosineNearDupPairs]] (id-ordered pairs + sim), but the
    * corpus is never cross-joined: the only joins are the (table, bucket)
    * equi-join producing candidates and two id equi-joins re-attaching
    * vectors for verification. At the default params the candidate set
    * provably contains every pair ≥ the shipped thresholds (see
    * [[DefaultPlanes]]), so the result EQUALS the exact operator's.
    *
    * The (id, vec-as-double) projection is referenced four times (both
    * bucketing sides + both verify sides) and recomputed per reference;
    * it is never persisted. Measured at sf0.1 on 32 cores, caching it is
    * a slight LOSS for a run-once action (2.66 s recomputed vs 3.06 s
    * cached — the projection is scan-speed), the opposite of
    * [[NearDup.minhashNearDupPairs]], whose expensive shingle subtree is
    * persisted. */
  def lshNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      minSim: Double, numPlanes: Int = DefaultPlanes,
      numTables: Int = DefaultTables): DataFrame = {
    val base = df.select(col(idCol).as("id"),
      Vectors.asDouble(col(vecCol)).as("__v"))
    val b = base.select(col("id"), posexplode(
      bucketIds(col("__v"), numPlanes, numTables)).as(Seq("table", "bucket")))
    val cand = b.select(col("table"), col("bucket"), col("id").as("id_a"))
      .join(b.select(col("table"), col("bucket"), col("id").as("id_b")),
        Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("__v").as("__va")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("__v").as("__vb")), Seq("id_b"))
      .withColumn("sim", Vectors.cosine(col("__va"), col("__vb")))
      .filter(col("sim") >= minSim)
      .select(col("id_a"), col("id_b"), col("sim"))
  }
}
