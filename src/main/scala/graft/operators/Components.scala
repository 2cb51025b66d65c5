package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over a pair graph — the exact clustering step of
  * near-duplicate dedup (pairs → dup CLUSTERS → one survivor per
  * cluster). [[NearDup.nearDupSurvivors]]'s one-pass policy equals
  * components only when clusters are cliques; chains (A~B~C with A≁C)
  * need the real thing.
  *
  * Algorithm: iterative min-label propagation — every vertex starts
  * labeled with its own id and repeatedly takes the minimum label among
  * itself and its neighbors, until a fixpoint. Each round is one shuffle
  * (edge⋈label join + min aggregation); rounds needed = graph diameter,
  * which for dup clusters is tiny (they are near-cliques). Each round's
  * result is persisted, the previous round freed, AND the logical plan
  * rebased onto the cached rows — persist alone does not truncate plans,
  * and the body's two references to the running labeling would otherwise
  * double the plan tree per round (analysis OOMs near round 25; pinned by
  * PropertySpec's path-graph test). The rebase truncates the plan but
  * not the RDD lineage: each round's tasks still deserialize every
  * earlier round's cached-plan chain, and a 1000-node path's 30 rounds
  * overflowed the executor thread stack (1 MB default `-Xss`; the same
  * loop overflowed at 20 rounds under 512 KB). So every
  * [[Rebase.Every]]-th round the rebased rows are also locally
  * checkpointed, which bounds that chain. The trade: a lost block past a
  * checkpoint fails the query instead of recomputing (local checkpoints
  * live in executor storage). At 100 TB scale the large-star/small-star
  * variant (Kiveris et al. '14) cuts round count from diameter to
  * ~log(diameter) — not needed for dedup-shaped near-clique graphs.
  *
  * Deterministic: labels are ids, min is order-independent.
  */
object Components {

  /** (id, component) for every node, where component = the smallest id
    * reachable in the undirected pair graph. Nodes absent from `edges`
    * form singleton components.
    *
    * The `edges` frame is persisted and materialized exactly ONCE before
    * the symmetrizing union references it twice — edge pipelines are
    * typically the most expensive subtree of a dedup job (MinHash
    * shingle→band→verify), and Spark recomputes un-persisted subtrees
    * per reference. An empty edge set short-circuits: every node is its
    * own singleton component, no propagation rounds at all.
    *
    * The convergence check is folded into the update pass: each round's
    * frame carries a `chg` flag (did this node's label drop?) computed
    * from columns already present, so deciding convergence is a filter +
    * count over the freshly cached round — no extra join against the
    * previous labeling.
    *
    * Throws if the fixpoint is not reached within `maxIter` rounds (graph
    * diameter exceeds it) — an unconverged labeling is silently WRONG
    * (split clusters), never an acceptable partial answer; raise maxIter
    * for long-chain graphs. The returned frame is persisted
    * (MEMORY_AND_DISK) and all loop intermediates are freed before
    * returning; callers that are done with it should `unpersist()` it in
    * long-lived sessions ([[componentSurvivors]] does). */
  def connectedComponents(nodes: DataFrame, idCol: String,
      edges: DataFrame, maxIter: Int = 30): DataFrame = {
    val e = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialize the edge pipeline once, BEFORE the union below makes two
    // references to it (a cold cache + two concurrent union legs would
    // still compute the subtree twice); the count doubles as the
    // empty-graph early exit
    val nEdges = e.count()
    if (nEdges == 0) {
      val all = nodes.select(col(idCol).as("id"), col(idCol).as("comp"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      e.unpersist()
      return all
    }
    // r13: iterate over the EDGE-TOUCHED vertices only. A vertex with no
    // edge keeps comp = id through every round by construction, yet the
    // round-12 loop re-persisted and re-counted it `diameter` times —
    // on dedup-shaped graphs the edge-touched set is a small fraction of
    // the corpus (pairs are the exception, not the rule), so every
    // per-round persist/scan/convergence-count now runs on |endpoints|
    // rows instead of |V| (guide §1.2 per-row work, §5 cache volume).
    // The node table is scanned and persisted ONCE, flagged by a single
    // left join against the endpoint set (same one-pass cost the old
    // round-0 persist paid); the loop filters the flagged slice and the
    // unflagged singletons rejoin after the fixpoint, labeled comp = id
    // straight off the cache.
    val endpoints = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    // Join-strategy pick from a bound ALREADY in hand (guide §3.1): the
    // endpoint set is ≤ 2·nEdges ids, so when that bound fits the
    // session's own broadcast budget the node/endpoint joins are
    // broadcast joins — the full node table is never exchanged or sorted
    // (at sf0.1 that was an SMJ sort of every node row for a
    // few-hundred-id endpoint set). In that regime the |V|-row `marked`
    // cache itself is also dropped (guide §5 — cache only what beats
    // recompute): the loop slice is a broadcast LEFT-SEMI join and the
    // post-fixpoint singletons a broadcast LEFT-ANTI join, each a cheap
    // narrow re-scan of the node frame, where r14-mid wrote every node
    // row to storage to read it back exactly twice (ProfileClusters:
    // q52's 256-edge/2-round component phase cost ~2 s, overhead-bound).
    // Past the budget (cluster-scale edge sets) the data-sized
    // mark-once-and-cache shape stays: two SMJ probes of a huge endpoint
    // set would cost more than the one cache write it saves.
    val epBudget =
      edges.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val epBroadcastable = epBudget > 0L && 2L * nEdges * 16L <= epBudget
    val nodeIds = nodes.select(col(idCol).as("id"))
    // `marked` (flagged |V| cache) only exists on the non-broadcast path
    val marked: Option[DataFrame] = if (epBroadcastable) None else Some(
      nodeIds.join(endpoints.select(col("id"), lit(true).as("__e")),
        Seq("id"), "left")
        .persist(StorageLevel.MEMORY_AND_DISK))
    var comp = marked.fold(
      nodeIds.join(broadcast(endpoints), Seq("id"), "left_semi"))(
      _.filter(col("__e")).select(col("id")))
      .select(col("id"), col("id").as("comp"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // symmetrized edges, persisted PRE-PARTITIONED on the probe key: r13
    // kept sym as a projection over the e-cache ("cheaper than a second
    // 2× copy"), but r14 profiling showed the per-ROUND cost is what
    // bounds the component queries (q152: 5 rounds ≈ 5 s at sf0.1, the
    // edge build 0.5 s) — and an unpartitioned sym re-exchanged 2|E|
    // rows into the join every round. The cached layout (InMemoryRelation
    // preserves its plan's partitioning) now serves every round's join
    // exchange-free on the edge side; the one-off cost is a single extra
    // 2|E| cache write (guide §2.4 "share one exchange", §2.5).
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var converged = false
    var i = 0
    // the loop body references `comp` TWICE (neighbor scan + update join),
    // so without truncation the logical plan tree doubles every round —
    // ~2^i nodes by round i; Catalyst analysis alone OOMs near round 25 on
    // long-diameter graphs (pinned by PropertySpec's 1000-node path).
    // Caching does NOT truncate plans, so each round's result is rebased
    // onto a LogicalRDD over its cached rows: constant-depth plans, and
    // the scan still serves from the persisted frame ([[Rebase]] also
    // bounds the RDD lineage; trade in the scaladoc).
    val rebase = new Rebase
    var cached = comp // the currently-persisted frame backing `comp`
    // The r13 round was two joins + one aggregation: neighbor-min by src,
    // then a LEFT join back onto comp to keep no-update vertices and
    // compute the chg flag — 4 exchanges a round. r14 fuses them: the
    // neighbor contributions and each vertex's own (id, comp, own=comp)
    // row flow into ONE min/max aggregation, so the round is one join +
    // one aggregation (2 exchanges: comp into the join, the agg) —
    // min(neighbors ∪ self) is the same update, max(own) recovers the
    // old label for chg = comp < own (guide §2.4, §1.2 step 1). The
    // own-IS-NULL filter keeps the old comp-driven semantics exactly:
    // an edge endpoint absent from the node table gains no output row.
    // shuffle_hash on the comp side: both sides are data-sized (never
    // broadcast at scale), and hashing the 16-byte comp rows skips the
    // per-round SORT a sort-merge join would add on both sides.
    val ownType = cached.schema("comp").dataType
    while (!converged && i < maxIter) {
      val contrib = sym
        .join(comp.hint("shuffle_hash"), col("dst") === col("id"))
        .select(col("src").as("id"), col("comp"),
          lit(null).cast(ownType).as("own"))
      val updated = contrib
        .unionByName(comp.select(col("id"), col("comp"), col("comp").as("own")))
        .groupBy(col("id"))
        .agg(min(col("comp")).as("comp"), max(col("own")).as("own"))
        .filter(col("own").isNotNull)
        .select(col("id"), col("comp"), (col("comp") < col("own")).as("chg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val changed = updated.filter(col("chg")).count()
      cached.unpersist()
      cached = updated
      comp = rebase(updated)
      converged = changed == 0
      i += 1
    }
    if (!converged) {
      marked.foreach(_.unpersist())
      cached.unpersist()
      rebase.release()
      sym.unpersist()
      e.unpersist()
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds — " +
          "the graph diameter exceeds maxIter; raise it (rounds are cheap: " +
          "one shuffle each) rather than consuming a split clustering")
    }
    // measurement hook (guide §1): the loop's cost model is rounds ×
    // per-round job overhead, so profiling needs the actual round count
    if (sys.env.contains("GRAFT_PROFILE_ROUNDS"))
      println(s"[components] converged in $i rounds ($nEdges edges)")
    // re-cache the narrow (id, comp) result — singletons (vertices with
    // no edge) rejoin here, labeled comp = id: on the broadcast path by a
    // broadcast LEFT-ANTI probe of a fresh node scan, on the cached path
    // by a cache-local filter of the marked node frame — and free the
    // node/loop/edge caches: the caller sees exactly one persisted frame,
    // served from cache, with nothing else pinned. (The anti join is
    // evaluated during this materialization, while `e` — which
    // `endpoints` reads — is still cached.)
    val singles = marked.fold(
      nodeIds.join(broadcast(endpoints), Seq("id"), "left_anti"))(
      _.filter(col("__e").isNull).select(col("id")))
      .select(col("id"), col("id").as("comp"))
    val result = comp.select(col("id"), col("comp")).union(singles)
      .persist(StorageLevel.MEMORY_AND_DISK)
    result.count()
    marked.foreach(_.unpersist())
    cached.unpersist()
    rebase.release()
    sym.unpersist()
    e.unpersist()
    result
  }

  /** Connected components by alternating large-star / small-star edge
    * rewriting (Kiveris et al. '14, "Connected Components in MapReduce and
    * Beyond") — the long-diameter scale path. [[connectedComponents]]'
    * min-label propagation needs exactly `diameter` rounds (a 1000-node
    * path needs 999); the star operations contract paths toward the
    * component minimum geometrically, converging in O(log² n) rounds on
    * adversarial topologies (the same 1000-node path converges in ~10 —
    * pinned by PropertySpec). Per phase: one window-min shuffle over the
    * symmetrized edges, no joins; the per-node minimum is computed with a
    * partition-local min window (map-side combinable), edges stay (long,
    * long) rows throughout.
    *
    *  - large-star(u): every neighbor v > u re-attaches to
    *    m = min(Γ(u) ∪ {u})
    *  - small-star(u): every neighbor v < u re-attaches to m, and u
    *    itself links to m
    *
    * Both emit (child, m) with child > m, so self-loops vanish and the
    * fixpoint is a star forest: every non-root carries exactly one edge to
    * its component minimum. Convergence = the edge SET is unchanged by a
    * full large+small round (checked exactly: equal counts + empty
    * `exceptAll`, not a hash signature that could collide silently). Same
    * lineage discipline as the label loop: each round's edges are
    * persisted, the previous freed, and the plan rebased onto the cached
    * rows through [[Rebase]]. Deterministic: min is order-independent.
    * Loud-fails past `maxIter` like [[connectedComponents]]. */
  def alternatingComponents(nodes: DataFrame, idCol: String,
      edges: DataFrame, maxIter: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val init = edges
      .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var nEdges = init.count()
    val singletons = nodes.select(col(idCol).as("id"), col(idCol).as("comp"))
    if (nEdges == 0) {
      init.unpersist()
      val out = singletons.persist(StorageLevel.MEMORY_AND_DISK)
      out.count()
      return out
    }
    def phase(e: DataFrame, large: Boolean): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val out = if (large) {
        // large-star(u): m = min(Γ(u) ∪ {u}); every neighbor v > u
        // re-attaches to m
        sym
          .withColumn("m", least(col("src"),
            min(col("dst")).over(Window.partitionBy(col("src")))))
          .filter(col("dst") > col("src"))
          .select(col("dst").as("src"), col("m").as("dst"))
      } else {
        // small-star(u): over the SMALLER neighbors only (the paper's
        // rule), m = min(N⁻(u) ∪ {u}); each v ∈ N⁻(u) and u itself
        // re-attach to m. Local minima emit nothing — their edges
        // reappear from the larger endpoint's perspective.
        val smaller = sym.filter(col("dst") < col("src"))
        val withMin = smaller
          .withColumn("m", min(col("dst")).over(Window.partitionBy(col("src"))))
        withMin.select(col("dst").as("src"), col("m").as("dst"))
          .union(withMin.select(col("src"), col("m")))
      }
      out.filter(col("src") =!= col("dst")).distinct()
    }
    val rebase = new Rebase
    var e = init
    var cached = init
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val next = phase(phase(e, large = true), large = false)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nNext = next.count()
      // exact set equality: counts match and nothing in next is absent
      // from the previous round (both sides are distinct by construction)
      converged = nNext == nEdges && next.exceptAll(e).isEmpty
      cached.unpersist()
      cached = next
      e = rebase(next)
      nEdges = nNext
      i += 1
    }
    if (!converged) {
      cached.unpersist()
      rebase.release()
      throw new IllegalStateException(
        s"alternatingComponents did not converge within $maxIter rounds — " +
          "pathological growth; raise maxIter (rounds contract the graph " +
          "geometrically) rather than consuming a split clustering")
    }
    // Star-forest validation (loud, two cheap jobs over the small final
    // edge set): every child has exactly one parent, and no parent is
    // itself a child. Converts any non-star fixpoint of the composite
    // map — which would silently mislabel — into an error.
    val multiParent = e.groupBy(col("src")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
    val chained = e.alias("x").join(e.alias("y"), col("x.dst") === col("y.src"))
    if (!multiParent.isEmpty || !chained.isEmpty) {
      cached.unpersist()
      rebase.release()
      throw new IllegalStateException(
        "alternatingComponents fixpoint is not a star forest — refusing " +
          "to read off a labeling from a malformed edge set")
    }
    val roots = e.groupBy(col("src").as("id")).agg(min(col("dst")).as("r"))
    val result = singletons.as("n")
      .join(roots, Seq("id"), "left")
      .select(col("id"), coalesce(col("r"), col("comp")).as("comp"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    result.count()
    cached.unpersist()
    rebase.release()
    result
  }

  /** Rebases an iterative loop's per-round frame onto a LogicalRDD over
    * its rows, so the next round's plan has constant depth. Every
    * [[Rebase.Every]]-th rebased RDD is also locally checkpointed: the
    * next round's job materializes it, and from then on no task carries
    * the lineage of the rounds before it. A round's checkpoint is freed
    * once the next checkpoint has been materialized; [[release]] frees
    * whatever is left, after the caller has materialized its result. */
  private final class Rebase {
    private var rounds = 0
    private var marked: Option[RDD[Row]] = None // not yet materialized
    private var held: Option[RDD[Row]] = None

    /** `df` must be persisted and materialized, built by a job that read
      * the previous rebase. */
    def apply(df: DataFrame): DataFrame = {
      rounds += 1
      marked.foreach { m => held.foreach(_.unpersist()); held = Some(m) }
      marked = None
      val rows = df.rdd
      if (rounds % Rebase.Every == 0) {
        rows.localCheckpoint()
        marked = Some(rows)
      }
      df.sparkSession.createDataFrame(rows, df.schema)
    }

    def release(): Unit = {
      marked.foreach(_.unpersist())
      held.foreach(_.unpersist())
    }
  }

  private object Rebase {
    /** Rounds per checkpoint: above the 5 rounds the catalog's dedup
      * graphs take, well below the 20 that overflowed a 512 KB stack. */
    val Every = 10
  }

  /** Exact dedup survivors: the smallest id of every component (the
    * component label itself), one row per cluster — correct for chain
    * topologies where the one-pass policy would over- or under-delete.
    *
    * The (much smaller) cluster table is materialized and the per-node
    * components frame unpersisted before returning, so no per-node cache
    * outlives the call. */
  def componentSurvivors(nodes: DataFrame, idCol: String,
      edges: DataFrame): DataFrame = {
    val comp = connectedComponents(nodes, idCol, edges)
    val out = comp
      .groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
      .select(col("comp").as(idCol), col("cluster_size"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    comp.unpersist()
    out
  }

  /** Quality-aware cluster representative selection: one row per
    * component carrying its best-scoring member (ties → smallest id) —
    * the "keep best" face of dedup. [[componentSurvivors]] (and
    * [[NearDup.nearDupSurvivors]]) keep the smallest id, which is the
    * convention for reproducibility; real training-data pipelines instead
    * keep the highest-QUALITY member of each near-dup cluster so the
    * surviving corpus is the best version of every document.
    *
    * `labeled` is a (member id, component, score) frame — compose from
    * [[connectedComponents]] joined to any scoring pass (token count,
    * quality signals, model scores). One hash-aggregation pass over the
    * component key: the winner is `max(struct(score, −id))`, a total
    * order (score desc, id asc), so the representative is unique and
    * engine-reproducible, with map-side partial aggregation and no
    * window/sort. */
  def representatives(labeled: DataFrame, idCol: String, compCol: String,
      scoreCol: String): DataFrame =
    labeled.groupBy(col(compCol))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col(scoreCol).as("s"), (-col(idCol)).as("negId"))).as("__b"))
      .select(col(compCol), col("n_members"),
        (-col("__b.negId")).as(s"rep_$idCol"),
        col("__b.s").as(s"rep_$scoreCol"))
}
