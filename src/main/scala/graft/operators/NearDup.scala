package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection for LLM training corpora: word-shingling, exact
  * n-gram Jaccard (distributed inverted index), and MinHash + banded LSH as
  * the at-scale candidate pruner.
  *
  * The hot path deliberately avoids higher-order-function expressions:
  * Spark HOFs (`transform`/`aggregate`) have no codegen and run
  * interpreted, measured ~5× slower than the equivalent relational
  * formulation at corpus scale. Shingling is posexplode + window `lead` +
  * `concat_ws` (all codegen'd), MinHash is a hash aggregation — so every
  * stage stays inside WholeStageCodegen and the only data movement is
  * key-partitioned shuffles of (id, hash) rows, never document bodies.
  *
  * Scale notes (the 100 TB picture):
  *  - the exact path shuffles one (shingle, id) tuple per shingle
  *    occurrence — exact but quadratic in hot shingles; use it to *verify*,
  *    not to discover, beyond ~10^7 docs;
  *  - the MinHash path shuffles `numBands` fixed-width (band-hash, id) rows
  *    per document — linear in corpus size — then verifies only bucket
  *    collisions with the exact measure. This is the standard
  *    shingle→minhash→band→bucket-join pipeline (Broder '97; Leskovec,
  *    Rajaraman, Ullman, "Mining of Massive Datasets" ch. 3).
  */
object NearDup {

  /** Whitespace tokens (matches the oracle's `regexp_split_to_array`). */
  def tokens(text: Column): Column = split(trim(text), "[ \\t\\n\\x0B\\f\\r]+")

  /** Scale-adaptive fan-out for kernel-heavy stages rooted at a scan —
    * see [[Par.fanOut]] (shared across the kernel operators; the
    * measured rationale lives there). */
  private def fanOut(df: DataFrame, key: String): DataFrame =
    Par.fanOut(df, key)

  /** Distinct word n-gram shingles from an already-computed token array.
    * Documents shorter than n tokens yield an empty set (Spark's
    * `sequence(1,0)` would count DOWN, so the guard is load-bearing).
    * Column-expression form for ad-hoc use — the pipelines below use the
    * codegen'd row form [[shingleRows]]. */
  def shinglesFromTokens(t: Column, n: Int): Column = {
    val starts = when(size(t) >= n, sequence(lit(1), size(t) - (n - 1)))
      .otherwise(array().cast("array<int>"))
    array_distinct(transform(starts, i => concat_ws(" ", slice(t, i, lit(n)))))
  }

  /** Distinct word n-gram shingles of a text column (see
    * [[shinglesFromTokens]]). */
  def wordShingles(text: Column, n: Int): Column =
    shinglesFromTokens(tokens(text), n)

  /** (id, s): every word n-gram occurrence as ROWS (NOT deduplicated — a
    * span appearing k times in a document yields k rows), via the
    * single-pass [[graft.functions.ShingleUtil]] kernel: one codegen'd
    * expression per document, then `explode` — ZERO exchanges, where the
    * round-12 relational form (posexplode → window `lead` → concat_ws,
    * kept below as [[shingleRowsAllRelational]], the executable spec the
    * NearDupSpec A/B fuzz pins this kernel against) paid a
    * hash-partition + sort of the full token row set per consumer.
    * Documents shorter than n tokens yield an empty array and vanish at
    * the explode, matching the spec's `lead(n−1) IS NULL` semantics.
    *
    * Use this form when the consumer counts occurrences; set-shaped
    * consumers use [[shingleHashRows]], whose kernel also folds in the
    * hash + per-document distinct. */
  def shingleRowsAll(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    fanOut(docs.select(col(idCol).as("id"), col(textCol).as("__text")), "id")
      .select(col("id"),
        explode(call_function("graft_shingle_spans",
          col("__text"), lit(n))).as("s"))

  /** Round-12 relational formulation of [[shingleRowsAll]] — the
    * executable specification the kernel is A/B-fuzzed against (same
    * convention as TextHash's `*Hof` twins). Pays one window exchange +
    * sort over the token rows; not for hot paths. */
  def shingleRowsAllRelational(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val exploded = docs.select(col(idCol).as("id"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "w0")))
    val withLeads = (1 until n).foldLeft(exploded) { (df, k) =>
      df.withColumn(s"w$k", lead(col("w0"), k).over(w))
    }
    withLeads
      .filter(col(s"w${n - 1}").isNotNull)
      .select(col("id"),
        concat_ws(" ", (0 until n).map(k => col(s"w$k")): _*).as("s"))
  }

  /** (id, s): distinct word n-gram shingles as ROWS — [[shingleRowsAll]]
    * plus the per-document distinct. The distinct is a hash shuffle keyed
    * on the span text; consumers that only need span identity (not the
    * text) should prefer [[shingleHashRows]], whose dedup and every
    * downstream exchange carry 16-byte (id, long) rows instead. */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    shingleRowsAll(docs, idCol, textCol, n).distinct()

  /** (id, hs): distinct word n-gram shingles as 64-bit `xxhash64` keys —
    * the at-scale form of [[shingleRows]]. The span text is hashed BEFORE
    * the per-document distinct, so from here on no exchange (dedup,
    * inverted-index self-join, minhash seeding, verify sets) ever moves
    * n-gram text, only fixed-width longs. The price is the 64-bit
    * collision rate: two distinct spans hashing together (~1e-9 per 10^5
    * distinct spans) would overcount one shared shingle — and the exact
    * DuckDB oracles compare against true-text Jaccard, so a collision
    * fails the gate loudly rather than passing silently. */
  def shingleHashRows(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    shingleHashArrays(docs, idCol, textCol, n)
      .select(col("id"), explode(col("sh")).as("hs"))

  /** (id, sh, sz): per-document DISTINCT shingle-hash ARRAY + its
    * cardinality, straight from the [[graft.functions.ShingleUtil]]
    * kernel — zero exchanges. This is the set form consumers previously
    * rebuilt with a `count() over (partition by id)` window (one
    * exchange + sort) and a `collect_list` aggregation (another
    * exchange): both now read THIS frame for free. Documents shorter
    * than n tokens carry an empty array (sz = 0) — row-shaped consumers
    * explode, which drops them exactly as the round-12 pipeline did. */
  def shingleHashArrays(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    fanOut(docs.select(col(idCol).as("id"), col(textCol).as("__text")), "id")
      .select(col("id"),
        call_function("graft_shingle_hashes", col("__text"), lit(n)).as("sh"))
      .withColumn("sz", size(col("sh")).cast("long"))

  /** (id, sh, sz): per-document shingle-hash set + cardinality from an
    * (id, hs) ROW frame, for exact verification (array_intersect over
    * longs) — one collect_list exchange. Pipelines that shingle their
    * own documents read [[shingleHashArrays]] instead (zero exchanges);
    * this form remains for set recovery from warm STATE row tables
    * (delta-ingest paths), whose shape is fixed by the stored state. */
  private def shingleSets(rows: DataFrame): DataFrame =
    rows.groupBy(col("id"))
      .agg(collect_list(col("hs")).as("sh"), count(lit(1)).as("sz"))

  /** (id, sz, hs) rows with the per-document cardinality attached — the
    * explode of [[shingleHashArrays]]. Replaces the round-12
    * `count() over (partition by id)` window (exchange + full sort) with
    * a column already known at shingle time: zero exchanges. */
  private def sizedHashRows(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    shingleHashArrays(docs, idCol, textCol, n)
      .select(col("id"), col("sz"), explode(col("sh")).as("hs"))

  /** Exact all-pairs n-gram Jaccard ≥ minJ via a distributed inverted
    * index: self-join the (id, shingle-hash) rows on the hash (docs
    * sharing none never meet), count co-occurrences, then
    * J = |∩| / (|A|+|B|-|∩|). Deterministic: Jaccard is a ratio of exact
    * integers. The index keys on [[shingleHashRows]]' longs — the widest
    * shuffle of the exact path carries (long, id) tuples, never span
    * text. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minJ: Double = 0.6): DataFrame = {
    val inv = sizedHashRows(docs, idCol, textCol, n)
    // self-join via alias (renames ABOVE the join): both sides canonicalize
    // to the same subtree, so the exchange can be computed once and reused
    inv.alias("a").join(inv.alias("b"),
        col("a.hs") === col("b.hs") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= minJ)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact all-pairs shingle CONTAINMENT ≥ minC in either direction —
    * the asymmetric overlap measure symmetric Jaccard misses: a short
    * document fully quoted inside a much longer one has containment ≈ 1
    * but Jaccard ≈ |short|/|long| ≈ 0, so Jaccard-gated dedup never sees
    * it (Broder '97 distinguishes "resemblance" from "containment" for
    * exactly this case). Same inverted index as [[jaccardPairs]] — the
    * co-occurrence count is shared; only the final ratio differs:
    * cont(A in B) = |∩| / |A|. Both directions are emitted per surviving
    * pair; ratios are exact-integer divisions. Scale notes are
    * [[jaccardPairs]]'s: index carries (long, id) only; verify-tier
    * beyond ~10^7 docs. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minC: Double = 0.15): DataFrame = {
    val inv = sizedHashRows(docs, idCol, textCol, n)
    inv.alias("a").join(inv.alias("b"),
        col("a.hs") === col("b.hs") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("common"))
      .withColumn("cont_a_in_b", col("common").cast("double") / col("sz_a"))
      .withColumn("cont_b_in_a", col("common").cast("double") / col("sz_b"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= minC)
      .select(col("id_a"), col("id_b"), col("common"),
        col("cont_a_in_b"), col("cont_b_in_a"))
  }

  /** Exact all-pairs containment ≥ minC via PREFIX FILTERING — identical
    * output to [[containmentPairs]], but discovery-tier: the quadratic
    * hot-shingle blowup of the plain inverted index is gone. This closes
    * the one scale gap the exact path left open — Jaccard had
    * [[prefixJaccardPairs]]/[[minhashNearDupPairs]] as discover tiers;
    * containment had only the verify-grade index.
    *
    * The asymmetric-threshold variant of the SSJoin prefix theorem:
    * `max(|∩|/|A|, |∩|/|B|) ≥ t ⟺ |∩| ≥ t·min(|A|,|B|)`, so for the
    * SMALLER set S of a qualifying pair, `|∩| ≥ t·|S|` — if none of S's
    * `|S| − ⌊t·|S|⌋ + 1` globally-rarest shingles were shared, the
    * overlap could be at most `⌊t·|S|⌋ − 1 < t·|S|`. Hence joining each
    * document's PREFIX against the FULL index of its larger partners
    * (prefix side = min side) provably surfaces every qualifying pair;
    * candidates are then confirmed with the exact measure, so the output
    * is deterministic and byte-identical to the verify tier. The ⌊⌋ form
    * is ≥ the ⌈⌉ bound — float rounding can only lengthen a prefix,
    * adding candidates, never losing one.
    *
    * Why this kills the hot-shingle cliff: a stop-phrase shingle shared
    * by k documents produced k²/2 join rows in the plain index. Here the
    * full side still holds all k rows, but the PREFIX side holds it only
    * for documents where it ranks among the rarest `(1−t)·sz + 1`
    * shingles — a globally-hot shingle ranks LAST in every document's
    * rarest-first order, so p ≪ k documents carry it in their prefix and
    * the join row count is p·k, not k². (Unlike a df-cap, nothing is
    * dropped: recall stays exact.) Everything shuffles 16-byte
    * (id, long) tuples; the df aggregation and rank window are linear.
    *
    * The shingle-hash table is always persisted: it is referenced four
    * times (df pass, rank pass, full index, verify sets); same measured
    * rationale as [[prefixJaccardPairs]]. */
  def containmentCandidatePairs(docs: DataFrame, idCol: String,
      textCol: String, n: Int = 3, minC: Double = 0.5): DataFrame = {
    require(minC > 0.0 && minC <= 1.0, s"minC must be in (0, 1], got $minC")
    // persist the per-document ARRAY frame (one row per doc), not the
    // exploded rows — same coverage (every downstream reference derives
    // from it), strictly less cached state
    val arrs = shingleHashArrays(docs, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sized = arrs.select(col("id"), col("sz"), explode(col("sh")).as("hs"))
    val cand = containmentCandidatesSized(sized, minC)
    // merge hints here too: the per-doc shingle-SET side is corpus-sized
    // (it carries every shingle hash), so broadcasting it is wrong at
    // scale — and at small SF its cached-size estimate straddles the
    // broadcast threshold, flipping AQE's choice run-to-run (the r9
    // metrics tripwire caught the verify stage flapping after the
    // candidate join was pinned)
    val sets = arrs
    cand.join(sets.alias("sa").hint("merge"), col("id_a") === col("sa.id"))
      .join(sets.alias("sb").hint("merge"), col("id_b") === col("sb.id"))
      .withColumn("common", size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("long"))
      .filter(col("common") >= 1)
      .withColumn("cont_a_in_b", col("common").cast("double") / col("sa.sz"))
      .withColumn("cont_b_in_a", col("common").cast("double") / col("sb.sz"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= minC)
      .select(col("id_a"), col("id_b"), col("common"),
        col("cont_a_in_b"), col("cont_b_in_a"))
  }

  /** The candidate stage of [[containmentCandidatePairs]], exposed for
    * scale audits and delta variants: (id_a, id_b) pairs from the
    * prefix-vs-full index join, over (id, hs) rows ([[shingleHashRows]]).
    * Guaranteed to contain every pair with max-direction containment
    * ≥ minC (prefix theorem in [[containmentCandidatePairs]]'s doc);
    * callers confirm with the exact measure. */
  def containmentCandidates(rows: DataFrame, minC: Double): DataFrame =
    containmentCandidatesSized(
      rows.withColumn("sz",
        count(lit(1)).over(Window.partitionBy(col("id")))), minC)

  /** [[containmentCandidates]] over (id, hs, sz) rows whose per-document
    * cardinality is ALREADY attached (the [[shingleHashArrays]] explode)
    * — skips the window that recomputed it from bare rows. */
  def containmentCandidatesSized(sized: DataFrame, minC: Double): DataFrame = {
    val freq = sized.groupBy(col("hs")).agg(count(lit(1)).as("df"))
    val prefix = sized
      // merge hint: the (hs -> df) frequency table is shingle-
      // vocabulary-sized — never broadcastable at corpus scale, and at
      // small SF its estimate straddles the broadcast threshold (the
      // same measured AQE flip as the candidate/verify joins)
      .join(freq.hint("merge"), Seq("hs"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("hs"))))
      .filter(col("rk") <= col("sz") - floor(lit(minC) * col("sz")) + 1)
      .select(col("id"), col("hs"), col("sz"))
    // prefix side is the MIN side (ties broken by id so each pair fires
    // from exactly one direction); the full side carries no df/rank work.
    // The merge hint pins the scale-correct strategy: BOTH sides are
    // data-sized (at 100 TB neither broadcasts), and without it the
    // small-SF plan sits exactly at the broadcast threshold — AQE's
    // choice flips run-to-run with the cached table's size accounting
    // (caught by the r9 metrics tripwire as a bistable shuffle volume).
    prefix.alias("p").join(sized.alias("f").hint("merge"),
        col("p.hs") === col("f.hs") &&
          (col("p.sz") < col("f.sz") ||
            (col("p.sz") === col("f.sz") && col("p.id") < col("f.id"))))
      .select(least(col("p.id"), col("f.id")).as("id_a"),
        greatest(col("p.id"), col("f.id")).as("id_b"))
      .distinct()
  }

  /** Incremental (delta-vs-corpus) exact Jaccard pairs — the production
    * ingest shape: score a NEW batch against the existing corpus WITHOUT
    * re-pairing the corpus with itself. The inverted index join runs
    * delta-shingles × corpus-shingles only, so daily cost scales with
    * |delta| · overlap, not |corpus|²; the corpus side is the persisted
    * shingle-hash index a real pipeline would keep warm. Same long-keyed
    * exchanges and exact-integer Jaccard as [[jaccardPairs]]. */
  def deltaJaccardPairs(corpus: DataFrame, delta: DataFrame, idCol: String,
      textCol: String, n: Int = 3, minJ: Double = 0.6): DataFrame = {
    val cInv = sizedHashRows(corpus, idCol, textCol, n)
    val dInv = sizedHashRows(delta, idCol, textCol, n)
    dInv.alias("d").join(cInv.alias("c"), col("d.hs") === col("c.hs"))
      .select(col("d.id").as("delta_id"), col("c.id").as("corpus_id"),
        col("d.sz").as("sz_d"), col("c.sz").as("sz_c"))
      .groupBy(col("delta_id"), col("corpus_id"), col("sz_d"), col("sz_c"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("sz_d") + col("sz_c") - col("common")))
      .filter(col("jaccard") >= minJ)
      .select(col("delta_id"), col("corpus_id"), col("jaccard"))
  }

  /** Exact all-pairs Jaccard ≥ minJ via PREFIX FILTERING (the
    * SSJoin/PPJoin family: Chaudhuri et al. ICDE '06, Xiao et al. WWW
    * '08) — identical output to [[jaccardPairs]], but the inverted index
    * holds only each document's PREFIX: its `sz − ⌊minJ·sz⌋ + 1`
    * globally-rarest shingles. The standard theorem (prefix length
    * `|x| − ⌈t·|x|⌉ + 1` under ANY single global element order) says two
    * sets with J ≥ t must collide inside those prefixes; the ⌊⌋ form used
    * here is ≥ the ⌈⌉ bound, so float rounding can only lengthen a prefix
    * — add candidates, never lose one. Candidates are then confirmed with
    * the exact measure, so the output is deterministic even though the
    * candidate set depends on the frequency order.
    *
    * This is the exact-discovery scale path [[jaccardPairs]] lacks: at
    * t = 0.9 the index shrinks ~10×, and rarest-first ordering means hot
    * shingles (the quadratic blowup of the plain inverted index) land in
    * almost nobody's prefix. The extra cost is one (hs → df) aggregation
    * and a per-document rank window over narrow (id, long) rows. Both are
    * linear; everything shuffles 16-byte tuples, never span text.
    *
    * The shingle-hash table is always persisted: it is referenced three
    * times (frequency pass, rank pass, verify sets); same measured
    * rationale as [[minhashNearDupPairs]]. */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minJ: Double = 0.6): DataFrame = {
    require(minJ > 0.0 && minJ <= 1.0, s"minJ must be in (0, 1], got $minJ")
    // persist the per-document ARRAY frame — one row per doc, every
    // reference (freq pass, rank pass, verify sets) derives from it
    val arrs = shingleHashArrays(docs, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rows = arrs.select(col("id"), col("sz"), explode(col("sh")).as("hs"))
    val freq = rows.groupBy(col("hs")).agg(count(lit(1)).as("df"))
    val ranked = rows
      // merge hint: the (hs -> df) frequency table is shingle-
      // vocabulary-sized — never broadcastable at corpus scale, and at
      // small SF its estimate straddles the broadcast threshold (the
      // same measured AQE flip as the candidate/verify joins)
      .join(freq.hint("merge"), Seq("hs"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("hs"))))
    // persist the prefix index too: the candidate self-join references it
    // on BOTH sides, and an unpersisted prefix re-runs the df aggregation,
    // the rows⋈freq merge join and the rank window per side (r14 plan
    // audit: two Window + two SortMergeJoin + two freq HashAggregate
    // subtrees in the q88 plan for one logical prefix pass — guide §5,
    // §2.4). Narrow (id, long, long) rows, a prefix-sized fraction of the
    // shingle index.
    val prefix = ranked
      .filter(col("rk") <= col("sz") - floor(lit(minJ) * col("sz")) + 1)
      .select(col("id"), col("hs"), col("sz"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // merge hint: same rationale (and same measured run-to-run AQE
    // broadcast flip) as containmentCandidates — both sides data-sized
    val cand = prefix.alias("a").join(prefix.alias("b").hint("merge"),
        col("a.hs") === col("b.hs") && col("a.id") < col("b.id"))
      // length filter: J ≤ min/max, and round-to-nearest division is
      // monotone, so this can never prune a pair the verify would keep
      .filter(least(col("a.sz"), col("b.sz")).cast("double")
        / greatest(col("a.sz"), col("b.sz")) >= minJ)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // merge hints: same scale rationale and the same measured AQE
    // broadcast flip as containmentCandidatePairs' verify stage
    val sets = arrs
    cand.join(sets.alias("sa").hint("merge"), col("id_a") === col("sa.id"))
      .join(sets.alias("sb").hint("merge"), col("id_b") === col("sb.id"))
      .withColumn("common", size(array_intersect(col("sa.sh"), col("sb.sh"))))
      .withColumn("jaccard",
        col("common").cast("double") / (col("sa.sz") + col("sb.sz") - col("common")))
      .filter(col("jaccard") >= minJ)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Incremental (delta-ingest) exact containment pairs: every pair with
    * max-direction containment ≥ minC that has AT LEAST ONE side in the
    * delta batch — i.e. exactly the pairs a full recompute over
    * corpus ∪ delta would add to the (unchanged) corpus-only pair set.
    * Covers delta×corpus AND delta×delta (two new docs quoting each
    * other), never corpus×corpus, so daily cost scales with
    * |delta| · overlap like [[deltaJaccardPairs]]. Output columns and
    * canonical (id_a < id_b) ordering match [[containmentPairs]];
    * corpus and delta ids must be disjoint (ingest batches have fresh
    * ids by construction). */
  def deltaContainmentPairs(corpus: DataFrame, delta: DataFrame,
      idCol: String, textCol: String, n: Int = 3,
      minC: Double = 0.5): DataFrame = {
    val dSized = sizedHashRows(delta, idCol, textCol, n)
    val cSized = sizedHashRows(corpus, idCol, textCol, n)
    // delta side vs (corpus ∪ delta): a delta-corpus pair meets once; a
    // delta-delta pair is deduplicated by id order at the JOIN (cheaper
    // than a post-hoc distinct over canonicalized pairs)
    val all = cSized.withColumn("isd", lit(false))
      .unionByName(dSized.withColumn("isd", lit(true)))
    dSized.alias("d").join(all.alias("x"),
        col("d.hs") === col("x.hs") &&
          (!col("x.isd") || col("d.id") < col("x.id")))
      .select(
        least(col("d.id"), col("x.id")).as("id_a"),
        greatest(col("d.id"), col("x.id")).as("id_b"),
        when(col("d.id") < col("x.id"), col("d.sz")).otherwise(col("x.sz")).as("sz_a"),
        when(col("d.id") < col("x.id"), col("x.sz")).otherwise(col("d.sz")).as("sz_b"))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("common"))
      .withColumn("cont_a_in_b", col("common").cast("double") / col("sz_a"))
      .withColumn("cont_b_in_a", col("common").cast("double") / col("sz_b"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= minC)
      .select(col("id_a"), col("id_b"), col("common"),
        col("cont_a_in_b"), col("cont_b_in_a"))
  }

  /** Benchmark decontamination: for each corpus document, the number of
    * distinct word n-grams it shares with ANY document of a benchmark set
    * — the standard eval-contamination check run before training (e.g.
    * 13-gram overlap in GPT-3's decontamination; n is a parameter here).
    * Returns (id, n_shared) for contaminated docs only (n_shared ≥ 1).
    *
    * Scale shape: the benchmark side is tiny compared to the corpus (eval
    * sets vs 100 TB), so its distinct shingle set is BROADCAST and the
    * corpus side is a map-side hash-semi-probe + partial-aggregated count
    * — the corpus never shuffles document bodies, only (id, count) rows.
    */
  def contaminationHits(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    // both sides hash-keyed: the broadcast ships 8-byte hashes (an eval
    // suite's shingle set fits a broadcast at any realistic size) and the
    // corpus-side probe compares longs, not span strings
    val benchShingles = shingleHashRows(bench, idCol, textCol, n)
      .select(col("hs")).distinct()
    shingleHashRows(corpus, idCol, textCol, n)
      .join(broadcast(benchShingles), Seq("hs"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** MinHash signature as a single column expression — the SAME hash
    * family as [[minhashBands]] (`xxhash64(seed, xxhash64(shingle))`), so
    * ad-hoc signatures line up with the pipeline's buckets. Interpreted
    * (column HOFs have no codegen); the pipeline uses [[minhashBands]]'
    * aggregation form instead. */
  def minhashSignature(shingles: Column, numHashes: Int): Column = {
    val hashed = transform(shingles, s => xxhash64(s))
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(hashed, h => xxhash64(i, h))))
  }

  /** (id, band, bhash) LSH bucket rows from (id, hs) shingle-HASH rows
    * ([[shingleHashRows]]), entirely inside WholeStageCodegen.
    *
    * Shape matters twice here: (a) one groupBy(id) with numHashes
    * min-aggregates falls out of codegen (Spark's aggregate codegen gives
    * up past ~dozens of expressions → interpreted per-row processing), so
    * the (shingle, seed) pairs are exploded to rows and each (id, band)
    * group aggregates only `bandRows` conditional mins; (b) map-side
    * partial aggregation collapses the exploded rows before the shuffle,
    * which carries numBands rows of (two ints, long) per document. */
  /** [[minhashBands]] from the per-document shingle-hash ARRAY frame
    * ([[shingleHashArrays]]) — one codegen'd kernel call per document
    * ([[graft.functions.MinhashUtil]]), then posexplode of the finished
    * band hashes: the numHashes-way seed explode, its per-row hash-agg
    * probes and the banding shuffle of partial rows are all gone; the
    * first exchange of the LSH pipeline now carries numBands finished
    * (id, band, bhash) rows per document. Bit-identical to the
    * aggregation form (ShingleKernelSpec A/B), which remains below for
    * ROW-shaped inputs (warm state tables). */
  def minhashBandsFromArrays(arrs: DataFrame, numHashes: Int,
      bandRows: Int): DataFrame =
    arrs.select(col("id"),
      posexplode(call_function("graft_minhash_bands",
        col("sh"), lit(numHashes), lit(bandRows))).as(Seq("band", "bhash")))

  def minhashBands(rows: DataFrame, numHashes: Int, bandRows: Int): DataFrame = {
    val seeded = rows
      // the shingle string was hashed once upstream; the per-seed family
      // hashes the resulting long — numHashes long-hashes instead of
      // numHashes string-hashes per shingle
      .select(col("id"), col("hs").as("h0"))
      .withColumn("seed", explode(sequence(lit(0), lit(numHashes - 1))))
      .select(col("id"),
        (col("seed") / bandRows).cast("int").as("band"),
        pmod(col("seed"), lit(bandRows)).as("slot"),
        xxhash64(col("seed"), col("h0")).as("h"))
    val slotMins = (0 until bandRows).map(r =>
      min(when(col("slot") === r, col("h"))).as(s"__m$r"))
    seeded.groupBy(col("id"), col("band"))
      .agg(slotMins.head, slotMins.tail: _*)
      .select(col("id"), col("band"),
        xxhash64(col("band") +: (0 until bandRows).map(r => col(s"__m$r")): _*)
          .as("bhash"))
  }

  /** Banded-LSH candidate pairs: join documents landing in the same
    * (band, hash) bucket. Default rows=3, bands=64 (192 hashes): a pair
    * with true Jaccard J collides with probability 1-(1-J³)⁶⁴ — ≥ 1-2e-7
    * at J=0.6 (recall indistinguishable from exact above the threshold)
    * while unrelated pairs (J≈0.02) collide at ~5e-4, so false candidates
    * stay rare. */
  def lshCandidates(bands: DataFrame): DataFrame =
    // bucket-grouped pair expansion rather than a self-join: the band
    // pipeline is evaluated ONCE (a self-join would compute it per side —
    // exchange reuse does not dedup alias'd sides in practice). Buckets
    // are overwhelmingly singletons, pruned before any pair is expanded.
    // Degenerate corpora (huge identical-doc buckets) make this quadratic
    // per bucket — same asymptotics as the join formulation, with exact
    // dedup upstream as the standard guard.
    bands.groupBy(col("band"), col("bhash"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()

  /** Full MinHash-LSH near-dup pipeline, candidates verified with the exact
    * Jaccard — so the *output* is exact (same rows as [[jaccardPairs]]) while
    * the *work* is linear: shingle → banded signature → bucket join →
    * verify only colliding pairs against the collected shingle sets. */
  /** The shingle table is always persisted (MEMORY_AND_DISK) — the
    * standard "materialize the signature table" step of production LSH
    * dedup. The shingle subtree (the expensive part) is referenced twice
    * per action (banding side + verify side) and Spark recomputes
    * un-persisted subtrees per reference, so caching wins even for a
    * RUN-ONCE action — measured min-of-3 at sf0.1 on 32 cores: pairs
    * 4.6→1.1 s, survivors 4.5→1.1 s, components 5.8→2.4 s. Callers in
    * long-lived sessions free the cache when done (the Verify/Bench mains
    * clear it between queries). Contrast [[simhashNearDupPairs]] and
    * [[Similarity.lshNearDupPairs]], which never persist: their
    * re-referenced subtrees are scan-speed projections, and caching those
    * measured slightly WORSE (1.8→2.0 s, 2.7→3.1 s). */
  def minhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minJ: Double = 0.6, numHashes: Int = 192,
      bandRows: Int = 3): DataFrame = {
    // persist the per-document ARRAY frame — the banding kernel and the
    // verify sets both derive from it, and it is one row per doc
    val arrs = shingleHashArrays(docs, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = minhashBandsFromArrays(arrs, numHashes, bandRows)
    val cand = lshCandidates(bands)
    val sets = arrs
    // merge hints: the set side is corpus-sized (one row per doc carrying
    // its whole shingle set) — never broadcastable at scale, and at small
    // SF the cached array frame's size estimate straddles the broadcast
    // threshold (the same measured AQE flip the containment/prefix verify
    // joins pin against)
    cand.join(sets.alias("sa").hint("merge"), col("id_a") === col("sa.id"))
      .join(sets.alias("sb").hint("merge"), col("id_b") === col("sb.id"))
      .withColumn("common", size(array_intersect(col("sa.sh"), col("sb.sh"))))
      .withColumn("jaccard",
        col("common").cast("double") / (col("sa.sz") + col("sb.sz") - col("common")))
      .filter(col("jaccard") >= minJ)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** SimHash near-dup pairs — the Hamming-space analog of the MinHash
    * pipeline, for "same content, lightly edited" dedup where what matters
    * is token-set drift rather than shingle overlap.
    *
    * Every document is sketched once (the codegen'd
    * [[graft.functions.SimHash60]] expression), the 60-bit sketch is cut
    * into `maxHamming + 1` equal bit-slices, and only documents sharing a
    * (band, value) pair ever meet. The guarantee is *pigeonhole, not
    * probabilistic* (contrast minhash banding's 1-(1-J^r)^b recall): two
    * sketches within `maxHamming` bits differ in at most `maxHamming`
    * covered bands, so at least one of the `maxHamming + 1` bands matches
    * exactly — the candidate set provably contains every true pair, and
    * the exact `bit_count(xor)` verify makes the output identical to the
    * all-pairs scan. Bits beyond `bands·⌊60/bands⌋` are simply uncovered,
    * which only ever ADDS candidates, so the guarantee survives non-dividing
    * band counts (maxHamming ≤ 29 keeps every band ≥ 2 bits).
    *
    * Scale shape: `maxHamming + 1` (id, sk, band, value) rows per
    * document — linear map-side expansion of 24-byte rows — then the
    * bucket-grouped pair expansion with the 8-byte sketch riding along
    * as a struct member, so the Hamming verify reads it straight off the
    * candidate row: ONE sketch-kernel pass and zero joins (r13; the
    * round-12 shape re-attached sketches via two corpus-sized id
    * equi-joins, each of which also re-ran the unpersisted sketch
    * subtree). Nothing is persisted: the sketch table is referenced
    * exactly once, so there is nothing to cache.
    * Unrelated documents (uniform sketches) collide per band with
    * probability 2^-bits (2^-15 at the default), so false candidates are
    * rare at small n — but the expected false-candidate COUNT is
    * n²/2^bits per band, a quadratic term that turns material around
    * n ≈ 10^5 (measured in the r9 sf1 probe: exponent 1.59 at 50k
    * docs on a pair-dense corpus). At corpus scale either widen the
    * sketch (a 128-bit simhash gives 4×32-bit bands at the same
    * Hamming coverage, pushing the cliff to n ≈ 10^9) or run the
    * cascade with exact/minhash dedup upstream so n here is the
    * residual; identical-content cliques are the output itself, as in
    * every dedup pipeline. */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 29,
      s"maxHamming must be in [0, 29], got $maxHamming")
    val numBands = maxHamming + 1
    val bits = 60 / numBands
    // fan-out before the sketch kernel: the md5-per-token sketch is the
    // expensive stage, and it must not inherit a row-group-starved
    // scan's parallelism (Par.fanOut doc; no-op at scale)
    val sk = fanOut(docs.select(col(idCol).as("id"),
        col(textCol).as("__text")), "id")
      .select(col("id"), TextHash.simhash(col("__text")).as("sk"))
    // NULL sketches (contentless docs, q29's contract) never band: a NULL
    // slice would land every such doc in ONE (band, NULL) bucket — a
    // planted skew key emitting k²/2 doomed candidates for k NULL docs
    // (the verify's `hamming <= max` is never true on NULL, so only the
    // wasted volume is at stake — ~10¹² rows at 0.1% contentless of 10⁹).
    // The docs stay admitted downstream: they never reach a pair, so
    // survivor consumers see them unchanged.
    // r13: the sketch RIDES THROUGH the band buckets as a struct member
    // (8 bytes next to the 8-byte id) instead of being re-attached by two
    // post-candidate id equi-joins — which cost two corpus-sized shuffled
    // joins at scale AND re-ran the md5-per-token sketch kernel twice
    // more here (sk is unpersisted; Spark recomputes per reference). One
    // kernel pass, one bucket exchange, one distinct — no joins. The
    // distinct keys on (id_a, id_b, sk_a, sk_b); sketches are functions
    // of the ids, so it deduplicates exactly the (id_a, id_b) pairs, as
    // before (guide §3.1 join elimination, §2.2 shuffle fewer bytes).
    val banded = sk.filter(col("sk").isNotNull).select(col("id"), col("sk"),
      posexplode(array((0 until numBands).map { i =>
        shiftrightunsigned(col("sk"), i * bits).bitwiseAND(lit((1L << bits) - 1))
      }: _*)).as(Seq("band", "bv")))
    banded.groupBy(col("band"), col("bv"))
      .agg(collect_list(struct(col("id"), col("sk"))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sk").as("sk_a"), col("b.sk").as("sk_b"))
      .distinct()
      .withColumn("hamming", TextHash.hamming(col("sk_a"), col("sk_b")).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Incremental (delta-ingest) MinHash-LSH near-dup pairs over PERSISTED
    * corpus state — the shape a production LSH pipeline actually runs
    * daily: the corpus's banded signature table and shingle-hash table are
    * kept warm (parquet/Delta in production; any DataFrame here), and a
    * new batch only (a) sketches ITSELF and (b) probes its bands against
    * the warm band table. The corpus is never re-shingled, re-hashed or
    * re-banded — its side of the candidate join is a pure scan — so daily
    * cost is |delta| · collision-rate, independent of how the corpus
    * signatures were built and linear in corpus size only through the
    * scan. Contrast [[deltaJaccardPairs]], which re-shingles the corpus
    * each call (fine for one-off audits, wasteful for standing ingest).
    *
    * Emits every pair with exact Jaccard ≥ minJ and ≥ 1 delta side —
    * delta×corpus via the band-table probe, delta×delta via the
    * bucket-grouped expansion over the delta's own bands — i.e. exactly
    * the rows a full [[minhashNearDupPairs]] recompute over
    * corpus ∪ delta adds to the (unchanged) corpus-only pair set.
    * Canonical (id_a < id_b) output; corpus and delta ids must be
    * disjoint (fresh ingest ids, [[deltaContainmentPairs]]'s contract).
    * Recall is minhash banding's 1−(1−J^r)^b, ≥ 1−2e-7 at J = 0.6 under
    * the 192/3 defaults — the same guarantee [[minhashNearDupPairs]]
    * carries against its exact oracle.
    *
    * @param corpusRows  warm (id, hs) shingle-hash table
    *                    ([[shingleHashRows]] output) — verify-tier state
    * @param corpusBands warm (id, band, bhash) signature table
    *                    ([[minhashBands]] output) — discovery-tier state
    *
    * The DELTA's shingle table is always persisted (referenced by banding
    * + verify, as in [[minhashNearDupPairs]]); the corpus state needs no
    * cache — each side is referenced once. */
  def deltaMinhashPairs(corpusRows: DataFrame, corpusBands: DataFrame,
      delta: DataFrame, idCol: String, textCol: String, n: Int = 3,
      minJ: Double = 0.6, numHashes: Int = 192, bandRows: Int = 3): DataFrame = {
    val dArrs = shingleHashArrays(delta, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dRows = dArrs.select(col("id"), explode(col("sh")).as("hs"))
    val dBands = minhashBandsFromArrays(dArrs, numHashes, bandRows)
    deltaMinhashPairsFromRows(corpusRows, corpusBands, dRows, dBands, minJ)
  }

  /** [[deltaMinhashPairs]] with the delta's shingle rows and band
    * signatures ALREADY computed — the ingest-loop form
    * ([[graft.streaming.DedupIngest]]), where the caller shingles each
    * batch once and reuses both frames for the pair probe AND the state
    * append, so a document is shingled exactly once per ingest.
    * `deltaRows`/`deltaBands` are [[shingleHashRows]]/[[minhashBands]]
    * output (the state tables' shapes); ids must be disjoint across
    * corpus and delta. */
  def deltaMinhashPairsFromRows(corpusRows: DataFrame,
      corpusBands: DataFrame, deltaRows: DataFrame, deltaBands: DataFrame,
      minJ: Double = 0.6): DataFrame = {
    val dRows = deltaRows
    val dBands = deltaBands
    // delta × corpus: probe the warm band table. The delta side is tiny
    // next to the corpus state, so the hash join builds on the delta —
    // the corpus side STREAMS through a scan, never shuffles whole.
    val dc = dBands.alias("d").join(corpusBands.alias("c"),
        col("d.band") === col("c.band") && col("d.bhash") === col("c.bhash"))
      .select(least(col("d.id"), col("c.id")).as("id_a"),
        greatest(col("d.id"), col("c.id")).as("id_b"))
    // delta × delta: two new near-dup docs in the same batch
    val dd = lshCandidates(dBands)
    val cand = dc.unionByName(dd).distinct()
    // verify against exact shingle sets: corpus sets from the warm
    // shingle table (one linear scan+group of state), delta sets from
    // the batch — ids disjoint, so the union groups cleanly
    val sets = shingleSets(corpusRows.unionByName(dRows))
    cand.join(sets.alias("sa"), col("id_a") === col("sa.id"))
      .join(sets.alias("sb"), col("id_b") === col("sb.id"))
      .withColumn("common", size(array_intersect(col("sa.sh"), col("sb.sh"))))
      .withColumn("jaccard",
        col("common").cast("double") / (col("sa.sz") + col("sb.sz") - col("common")))
      .filter(col("jaccard") >= minJ)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Incremental (delta-ingest) 128-bit SimHash near-dup pairs over a
    * PERSISTED corpus sketch table — [[deltaMinhashPairs]]'s pattern for
    * the simhash tier, where the warm state is simply the (id, hi, lo)
    * sketch table: unlike minhash there is no separate band table to
    * keep, because band extraction from a 128-bit sketch is scan-speed
    * column arithmetic ([[bandSlice]]) while the expensive step — the
    * per-token hashing of the TEXT — happens only for the delta batch.
    * The corpus text is never re-tokenized; its side of every join reads
    * the sketch state.
    *
    * Emits every pair with 128-bit Hamming ≤ maxHamming and ≥ 1 delta
    * side (delta×corpus via the band probe, delta×delta via the
    * bucket-grouped expansion), i.e. exactly the rows a full
    * [[simhash128NearDupPairs]] recompute over corpus ∪ delta adds to
    * the unchanged corpus-only pair set — sketches are pure functions of
    * the text, so state-vs-recompute identity is exact, and recall is
    * the same maxHamming+1-band pigeonhole guarantee. Canonical
    * (id_a < id_b) output; corpus and delta ids must be disjoint
    * (fresh ingest ids, [[deltaContainmentPairs]]'s contract).
    *
    * @param corpusSketches warm (id, hi, lo) 128-bit sketch table
    *                       ([[simhash128NearDupPairs]]'s sk shape /
    *                       q358's sketch dump) */
  def deltaSimhash128Pairs(corpusSketches: DataFrame, delta: DataFrame,
      idCol: String, textCol: String, maxHamming: Int = 3): DataFrame = {
    val dSk = delta.select(col(idCol).as("id"),
      TextHash.simhash128(col(textCol)).as("sk128"))
      .select(col("id"), col("sk128").getItem(0).as("hi"),
        col("sk128").getItem(1).as("lo"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    deltaSimhash128PairsFromSketches(corpusSketches, dSk, maxHamming)
  }

  /** [[deltaSimhash128Pairs]] with the delta's sketches ALREADY computed
    * — the ingest-loop form ([[graft.streaming.DedupIngest]]), where the
    * caller sketches each batch once and reuses the frame for the pair
    * probe AND the state append, so a document is tokenized exactly once
    * per ingest. Both inputs are (id, hi, lo) sketch frames (q358's dump
    * shape); ids must be disjoint across the two. */
  def deltaSimhash128PairsFromSketches(corpusSketches: DataFrame,
      deltaSketches: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 31,
      s"maxHamming must be in [0, 31], got $maxHamming")
    val numBands = maxHamming + 1
    val bits = math.min(128 / numBands, 63)
    // NULL-sketch guard on BOTH tiers of the probe: the dc equi-join
    // would drop NULL band values anyway (SQL equality), but the dd
    // path's groupBy would pool every NULL sketch into one skew bucket
    // — [[simhashNearDupPairs]]'s planted-skew rationale.
    // The SKETCH RIDES THE BAND ROWS (r13's [[simhash128NearDupPairs]]
    // join elimination, applied to the delta tier in r14): the Hamming
    // verify reads (hi, lo) straight off the candidate row, so the two
    // id equi-joins against the corpus∪delta sketch union — per
    // micro-batch, in the ingest loop — are gone, for +16 B per band
    // row of probe shuffle (guide §3.1 join elimination, §2.2).
    def bands(sk: DataFrame) = sk.filter(col("hi").isNotNull)
      .select(col("id"), col("hi"), col("lo"),
        posexplode(array((0 until numBands).map { i =>
          bandSlice(col("hi"), col("lo"), i * bits, bits)
        }: _*)).as(Seq("band", "bv")))
    val dSk = deltaSketches.select(col("id"), col("hi"), col("lo"))
    val cSk = corpusSketches.select(col("id"), col("hi"), col("lo"))
    // delta × corpus: the delta's bands probe the banded STATE scan —
    // the hash join builds on the (tiny) delta side
    val dc = bands(dSk).alias("d").join(bands(cSk).alias("c"),
        col("d.band") === col("c.band") && col("d.bv") === col("c.bv"))
      .select(least(col("d.id"), col("c.id")).as("id_a"),
        greatest(col("d.id"), col("c.id")).as("id_b"),
        when(col("d.id") < col("c.id"), col("d.hi")).otherwise(col("c.hi"))
          .as("hi_a"),
        when(col("d.id") < col("c.id"), col("d.lo")).otherwise(col("c.lo"))
          .as("lo_a"),
        when(col("d.id") < col("c.id"), col("c.hi")).otherwise(col("d.hi"))
          .as("hi_b"),
        when(col("d.id") < col("c.id"), col("c.lo")).otherwise(col("d.lo"))
          .as("lo_b"))
    // delta × delta: two new near-dups landing in the same batch
    val dd = bands(dSk).groupBy(col("band"), col("bv"))
      .agg(collect_list(struct(col("id"), col("hi"), col("lo"))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.hi").as("hi_a"), col("a.lo").as("lo_a"),
        col("b.hi").as("hi_b"), col("b.lo").as("lo_b"))
    // distinct keys on (ids, sketches) — identical pair set to an
    // ids-only distinct, because each id carries exactly one sketch
    // (both inputs are keyed sketch tables and their ids are disjoint)
    val cand = dc.unionByName(dd).distinct()
    cand
      .withColumn("hamming",
        TextHash.hamming128(col("hi_a"), col("lo_a"), col("hi_b"), col("lo_b"))
          .cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Bits [start, start+bits) of a 128-bit sketch stored as (hi, lo)
    * longs (bit 0 = lo's LSB, bit 64 = hi's LSB), as a non-negative long.
    * Bands that straddle the hi/lo boundary are composed from both words;
    * all arithmetic is codegen'd shift/mask expressions. */
  private def bandSlice(hi: Column, lo: Column, start: Int, bits: Int): Column = {
    require(bits >= 1 && bits <= 63 && start >= 0 && start + bits <= 128)
    val mask = (1L << bits) - 1
    val end = start + bits
    if (end <= 64) shiftrightunsigned(lo, start).bitwiseAND(lit(mask))
    else if (start >= 64) shiftrightunsigned(hi, start - 64).bitwiseAND(lit(mask))
    else {
      val loPart = shiftrightunsigned(lo, start) // top (64 - start) bits of lo
      val hiPart = hi.bitwiseAND(lit((1L << (end - 64)) - 1))
      shiftleft(hiPart, 64 - start).bitwiseOR(loPart)
    }
  }

  /** SimHash near-dup pairs over the 128-bit sketch — same pigeonhole
    * banding, bucket-grouped candidate expansion and exact
    * `bit_count(xor)` verify as [[simhashNearDupPairs]], but the wide
    * sketch removes that operator's measured scale cliff: with
    * `maxHamming + 1` bands of ⌊128/(maxHamming+1)⌋ bits, unrelated
    * documents collide per band with p = 2^-bits — 2⁻³² at the default
    * Hamming ≤ 3 vs the 60-bit sketch's 2⁻¹⁵ — so the expected
    * false-candidate term n²/2^bits per band (exponent 1.59 at 50k docs
    * in the r9 sf1 probe) stays sub-linear out to n ≈ 10⁹. The recall
    * guarantee is unchanged and exact: ≤ maxHamming differing bits touch
    * at most maxHamming of the maxHamming+1 covered bands, so one band
    * matches exactly; uncovered top bits (non-dividing band counts) only
    * ADD candidates. Verify recomputes true 128-bit Hamming, so output ≡
    * the all-pairs scan.
    *
    * Scale shape: maxHamming+1 (id, hi, lo, band, value) rows per
    * document, one bucket-grouped expansion with the 16-byte sketch
    * riding as struct members — one sketch pass, zero joins (r13, same
    * rewrite as [[simhashNearDupPairs]]); nothing is persisted, since
    * the sketch table is referenced once. maxHamming ≤ 31
    * keeps every band ≥ 4 bits (beyond that the collision rate makes
    * banding pointless — use the exact scan). */
  def simhash128NearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 31,
      s"maxHamming must be in [0, 31], got $maxHamming")
    val numBands = maxHamming + 1
    val bits = math.min(128 / numBands, 63)
    // fan-out before the sketch kernel — same rationale as the 60-bit
    // pipeline (Par.fanOut doc; no-op at scale)
    val sk = fanOut(docs.select(col(idCol).as("id"),
        col(textCol).as("__text")), "id")
      .select(col("id"), TextHash.simhash128(col("__text")).as("sk128"))
      .select(col("id"), col("sk128").getItem(0).as("hi"),
        col("sk128").getItem(1).as("lo"))
    // NULL-sketch guard: same skew-key rationale as [[simhashNearDupPairs]]
    // (hi/lo are NULL together — one word's null test covers the sketch)
    // r13: sketch halves ride through the band buckets as struct members
    // — same join-elimination rewrite as [[simhashNearDupPairs]] (one
    // kernel pass, one bucket exchange, one distinct; the two
    // post-candidate id equi-joins and their sketch recomputes are gone)
    val banded = sk.filter(col("hi").isNotNull).select(col("id"), col("hi"),
      col("lo"),
      posexplode(array((0 until numBands).map { i =>
        bandSlice(col("hi"), col("lo"), i * bits, bits)
      }: _*)).as(Seq("band", "bv")))
    banded.groupBy(col("band"), col("bv"))
      .agg(collect_list(struct(col("id"), col("hi"), col("lo"))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.hi").as("hi_a"), col("a.lo").as("lo_a"),
        col("b.hi").as("hi_b"), col("b.lo").as("lo_b"))
      .distinct()
      .withColumn("hamming",
        TextHash.hamming128(col("hi_a"), col("lo_a"), col("hi_b"), col("lo_b"))
          .cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Dedup survivors under a "keep the smallest id of each near-dup
    * cluster" policy: connected components over the pair graph would be
    * exact; the standard streaming-friendly approximation removes any doc
    * that pairs with a smaller id (one pass, no iteration), which equals
    * components when clusters are cliques — true for the planted-dup shape
    * of training corpora. */
  def nearDupSurvivors(docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    docs.join(pairs.select(col("id_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
}
