package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Specs for near-dup detection, content hashing, language id, and BPE-ish
  * token counting.
  */
class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("wordShingles: distinct n-grams, short-doc guard yields empty set") {
    val df = Seq("a b c d", "a b", "x x x x x").toDF("text")
    val out = df.select(NearDup.wordShingles(col("text"), 3).as("s"))
      .collect().map(_.getSeq[String](0).toSet)
    assert(out(0) == Set("a b c", "b c d"))
    assert(out(1) == Set.empty) // 2 tokens < n=3 -> empty, not sequence(1,0)
    assert(out(2) == Set("x x x")) // distinct collapses repeats
  }

  test("jaccardPairs finds the planted near-dup, exact jaccard value") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy cat today"),
      (3L, "completely different text with no overlap at all here")
    ).toDF("doc_id", "text")
    val pairs = NearDup.jaccardPairs(df, "doc_id", "text", n = 3, minJ = 0.3)
      .collect()
    assert(pairs.length == 1)
    val p = pairs.head
    // 8 shingles each, 6 shared -> J = 6 / (8+8-6) = 0.6
    assert((p.getLong(0), p.getLong(1)) == ((1L, 2L)))
    assert(math.abs(p.getDouble(2) - 0.6) < 1e-12)
  }

  test("minhash-LSH pairs equal the exact jaccard pairs on real documents") {
    val docs = graft.sources.Tables.load(spark, sf(), "documents")
    val exact = NearDup.jaccardPairs(docs, "doc_id", "text", 3, 0.6)
    val lsh = NearDup.minhashNearDupPairs(docs, "doc_id", "text", 3, 0.6, 128, 2)
    assert(exact.count() > 0) // 28 planted pairs at sf0.001
    assert(exact.except(lsh).count() == 0 && lsh.except(exact).count() == 0)
  }

  test("prefix-filtered pairs equal the full inverted index at every threshold") {
    val docs = graft.sources.Tables.load(spark, sf(), "documents")
    // 0.6 = the catalog threshold; 0.9 = where the prefix is shortest and
    // an off-by-one in its length would first drop a true pair; 0.31 = a
    // non-representable t where ⌊t·sz⌋ rounding matters
    for (t <- Seq(0.31, 0.6, 0.9)) {
      val exact = NearDup.jaccardPairs(docs, "doc_id", "text", 3, t)
      val pf = NearDup.prefixJaccardPairs(docs, "doc_id", "text", 3, t)
      assert(exact.except(pf).count() == 0 && pf.except(exact).count() == 0,
        s"threshold $t")
    }
    // the prefix index must be strictly smaller than the full one
    val full = NearDup.shingleHashRows(docs, "doc_id", "text", 3).count()
    val rows = NearDup.shingleHashRows(docs, "doc_id", "text", 3)
    val freq = rows.groupBy(col("hs")).agg(count(lit(1)).as("df"))
    val prefixLen = rows
      .withColumn("sz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))))
      .join(freq, Seq("hs"))
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("df"), col("hs"))))
      .filter(col("rk") <= col("sz") - floor(lit(0.6) * col("sz")) + 1)
      .count()
    assert(prefixLen < full / 2, s"prefix $prefixLen vs full $full")
    spark.catalog.clearCache()
  }

  test("containmentPairs flags a doc quoted inside a longer one that jaccard misses") {
    val short = "alpha beta gamma delta epsilon zeta"
    val long = short + " " + (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, short), (2L, long),
      (3L, "unrelated text entirely different words here")).toDF("doc_id", "text")
    val pairs = NearDup.containmentPairs(docs, "doc_id", "text", n = 3, minC = 0.9)
      .collect()
    // short's 4 shingles all appear in long: containment 1.0 one way,
    // 4/64 the other — and symmetric jaccard (0.0625) never sees the pair
    assert(pairs.length == 1)
    val r = pairs(0)
    assert(r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L)
    assert(r.getAs[Double]("cont_a_in_b") == 1.0)
    assert(r.getAs[Double]("cont_b_in_a") < 0.1)
    assert(NearDup.jaccardPairs(docs, "doc_id", "text", 3, 0.5).count() == 0)
  }

  test("containment candidate tier equals the exact inverted index at every threshold") {
    val docs = graft.sources.Tables.load(spark, sf(), "documents")
    // 0.5 = the catalog threshold; 0.9 = shortest prefix (an off-by-one
    // in its length first drops a true pair there); 0.31 = a
    // non-representable t where the ⌊t·sz⌋ rounding matters
    for (t <- Seq(0.31, 0.5, 0.9)) {
      val exact = NearDup.containmentPairs(docs, "doc_id", "text", 3, t)
      val pf = NearDup.containmentCandidatePairs(docs, "doc_id", "text", 3, t)
      assert(exact.count() > 0, s"threshold $t — vacuous fixture")
      assert(exact.except(pf).count() == 0 && pf.except(exact).count() == 0,
        s"threshold $t")
    }
    // the asymmetric case the tier exists for: short-quoted-in-long
    val short = "alpha beta gamma delta epsilon zeta"
    val long = short + " " + (1 to 60).map(i => s"w$i").mkString(" ")
    val planted = Seq((1L, short), (2L, long),
      (3L, "unrelated text entirely different words here")).toDF("doc_id", "text")
    val got = NearDup.containmentCandidatePairs(planted, "doc_id", "text",
      n = 3, minC = 0.9).collect()
    assert(got.length == 1 && got(0).getAs[Double]("cont_a_in_b") == 1.0)
    spark.catalog.clearCache()
  }

  test("containment candidates stay subquadratic on a planted hot shingle") {
    // every doc shares one stop phrase (hot shingles, df = k) but is
    // otherwise unique: the plain inverted index pairs ALL k docs through
    // the hot shingles — k(k-1)/2 candidates — while the rarest-first
    // prefix (t=0.5 → the ~17 rarest of ~33 shingles) excludes the hot
    // shingles from every prefix, so no candidate is generated at all
    val k = 40
    val docs = (0 until k).map { i =>
      val unique = (0 until 30).map(j => s"u${i}x$j").mkString(" ")
      (i.toLong, s"shared stop phrase common here $unique")
    }.toDF("doc_id", "text")
    val rows = NearDup.shingleHashRows(docs, "doc_id", "text", 3)
    val nCand = NearDup.containmentCandidates(rows, 0.5).count()
    val quadratic = k.toLong * (k - 1) / 2
    assert(nCand < k, s"candidates $nCand not subquadratic (all-pairs = $quadratic)")
    // and the verify tier agrees nothing qualifies at t=0.5
    assert(NearDup.containmentPairs(docs, "doc_id", "text", 3, 0.5).count() == 0)
  }

  test("deltaJaccardPairs scores delta vs corpus only — corpus never self-pairs") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq((1L, base), (2L, base + " tail"),
      (3L, "completely different content with no shared trigrams at all")).toDF("doc_id", "text")
    val delta = Seq((4L, base)).toDF("doc_id", "text")
    val got = NearDup.deltaJaccardPairs(corpus, delta, "doc_id", "text",
        n = 3, minJ = 0.5)
      .collect().map(r => (r.getAs[Long]("delta_id"), r.getAs[Long]("corpus_id")))
      .sorted
    // delta doc 4 matches corpus 1 (identical) and 2 (near); the corpus
    // near-pair (1, 2) must NOT appear — that's the whole point
    assert(got.toSeq == Seq((4L, 1L), (4L, 2L)))
  }

  test("nearDupSurvivors keeps exactly one doc per near-dup clique") {
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val kept = NearDup.nearDupSurvivors(docs, pairs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
  }

  test("simhash: equal token sets collide, near sets are close in hamming") {
    val df = Seq(
      ("a", "alpha beta gamma delta epsilon zeta eta theta"),
      ("b", "theta eta zeta epsilon delta gamma beta alpha"), // same set
      ("c", "alpha beta gamma delta epsilon zeta eta iota"),  // 1 token diff
      ("d", "totally unrelated words nothing shared whatsoever kappa lambda")
    ).toDF("id", "text")
    val h = df.select(col("id"), TextHash.simhash(col("text")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(h("a") == h("b")) // order-independent
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(h("a"), h("c")) < ham(h("a"), h("d")))
    assert(h("a") >= 0L && h("a") < (1L << 60))
  }

  test("polyHash matches the hand-computed Rabin-Karp fold") {
    val r = Seq("he").toDF("s")
      .select(TextHash.polyHash(col("s"))).head().getLong(0)
    assert(r == (104L * 131 + 101) % 1000000007L) // == 13725
    val min8 = Seq("abcdefghij").toDF("s")
      .select(TextHash.minGramHash(col("s"), 8)).head().getLong(0)
    assert(min8 >= 0)
    // shorter than k -> null (empty window set)
    val short = Seq("abc").toDF("s")
      .select(TextHash.minGramHash(col("s"), 8)).head()
    assert(short.isNullAt(0))
  }

  test("connectedComponents resolves chains where the one-pass policy differs") {
    import graft.operators.Components
    val nodes = (1L to 7L).map(Tuple1(_)).toDF("id")
    // chain via hub: 1~3, 2~3 (1 and 2 NOT directly paired), clique 4~5~6,
    // singleton 7
    val edges = Seq((1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L))
      .toDF("id_a", "id_b")
    val comp = Components.connectedComponents(nodes, "id", edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 7L))
    // components keep ONE survivor for the chain cluster {1,2,3}; the
    // one-pass policy keeps both 1 and 2 (neither is any pair's id_b)
    val onePass = NearDup.nearDupSurvivors(nodes.withColumnRenamed("id", "doc_id"),
      edges, "doc_id").collect().map(_.getLong(0)).toSet
    assert(onePass == Set(1L, 2L, 4L, 7L))
    val exact = Components.componentSurvivors(nodes, "id", edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(exact == Map(1L -> 3L, 4L -> 3L, 7L -> 1L))
  }

  test("simhashNearDupPairs equals the all-pairs Hamming scan (pigeonhole)") {
    val docs = graft.sources.Tables.load(spark, sf(), "documents")
    val banded = NearDup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute-force truth: sketch every doc, scan every pair
    val sk = docs.select(col("doc_id"), TextHash.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val truth = (for {
      (ia, sa) <- sk; (ib, sb) <- sk if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h.toLong)).toSet
    assert(banded == truth,
      s"banded=${banded.size} truth=${truth.size} missing=${(truth -- banded).take(3)}")
    assert(truth.nonEmpty) // the corpus really contains close sketches
  }

  /** Independent driver-side 128-bit simhash reference: different md5 API
    * (MessageDigest vs commons-codec), different loop structure — pins the
    * engine kernel the way the HOF twin pins the 60-bit sketch. A null
    * token votes −1 on every bit (the kernel's convention). */
  private def simhash128Ref(toks: Seq[String]): (Long, Long) = {
    val votes = new Array[Int](128)
    for (t <- toks) {
      if (t == null) { for (b <- 0 until 128) votes(b) -= 1 }
      else {
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8"))
        val hHi = (0 until 8).foldLeft(0L)((a, k) => (a << 8) | (d(k) & 0xffL))
        val hLo = (8 until 16).foldLeft(0L)((a, k) => (a << 8) | (d(k) & 0xffL))
        for (b <- 0 until 64) {
          votes(b) += (if (((hLo >>> b) & 1L) == 1L) 1 else -1)
          votes(64 + b) += (if (((hHi >>> b) & 1L) == 1L) 1 else -1)
        }
      }
    }
    val lo = (0 until 64).foldLeft(0L)((a, b) =>
      if (votes(b) > 0) a | (1L << b) else a)
    val hi = (0 until 64).foldLeft(0L)((a, b) =>
      if (votes(64 + b) > 0) a | (1L << b) else a)
    (hi, lo)
  }

  test("simhash128 matches an independent driver-side reference on the corpus") {
    val docs = graft.sources.Tables.load(spark, sf(), "documents")
    val got = docs.select(col("doc_id"),
        TextHash.simhash128(col("text")).as("sk"))
      .collect().map { r =>
        r.getLong(0) -> (if (r.isNullAt(1)) null
          else { val a = r.getSeq[Long](1); (a(0), a(1)) })
      }.toMap
    val texts = docs.select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(texts.nonEmpty)
    for ((id, text) <- texts) {
      if (text == null) assert(got(id) == null, s"doc $id: null text")
      else {
        val toks = text.trim.split("\\s+").toSeq.distinct
        assert(got(id) == simhash128Ref(toks), s"doc $id diverges")
      }
    }
    // null token element (unreachable via split, reachable via the SQL
    // function): votes -1 on every bit, like the 60-bit kernel
    val arr = array(lit("a"), lit(null).cast("string"), lit("b"))
    val r = Seq(1).toDF("x")
      .select(call_function("graft_simhash128", arr).as("sk")).head()
    val a = r.getSeq[Long](0)
    assert((a(0), a(1)) == simhash128Ref(Seq("a", null, "b")))
  }

  test("simhash128NearDupPairs equals the all-pairs scan, incl. spanning bands") {
    val docs = graft.sources.Tables.load(spark, sf(), "documents")
    val sk = docs.select(col("doc_id"), TextHash.simhash128(col("text")).as("s"))
      .collect().filterNot(_.isNullAt(1))
      .map(r => r.getLong(0) -> { val a = r.getSeq[Long](1); (a(0), a(1)) })
    def truth(maxH: Int) = (for {
      (ia, (ha, la)) <- sk; (ib, (hb, lb)) <- sk if ia < ib
      h = java.lang.Long.bitCount(ha ^ hb) + java.lang.Long.bitCount(la ^ lb)
      if h <= maxH
    } yield (ia, ib, h.toLong)).toSet
    // default: 4 aligned 32-bit bands
    val got3 = NearDup.simhash128NearDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got3 == truth(3), s"got=${got3.size} truth=${truth(3).size}")
    assert(got3.nonEmpty) // the corpus really contains close 128-bit sketches
    // 3 bands x 42 bits: band 1 covers bits 42..83, straddling the hi/lo
    // boundary — exercises the two-word bandSlice composition; bits
    // 126..127 uncovered (only ADDS candidates, pigeonhole intact)
    val got2 = NearDupairsFor(docs, 2)
    assert(got2 == truth(2), s"spanning-band got=${got2.size} truth=${truth(2).size}")
  }

  private def NearDupairsFor(docs: org.apache.spark.sql.DataFrame, maxH: Int) =
    NearDup.simhash128NearDupPairs(docs, "doc_id", "text", maxHamming = maxH)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("native hash kernels are bit-identical to their interpreted HOF twins") {
    // the codegen'd expressions (SimHash60/PolyHash/MinGramHash) must agree
    // with the aggregate/zip_with formulations everywhere: real corpus +
    // adversarial edges (empty, 1-char, unicode, surrogate pair, repeated
    // whitespace, exactly-k-length strings)
    val edges = Seq("", "a", "  spaced   out  ", "héllo wörld €uro",
      "emoji 😀 pair", "abcdefgh", "abcdefg",
      "same same same", "tab\tand\nnewline sep",
      // adversarial-fixture classes (tools/gen_adversarial.py): NULL text,
      // NFD combining accents, CRLF line endings, ideographic space, RTL
      // script, and a repetition bomb long enough to cross buffer sizes
      null,
      java.text.Normalizer.normalize("café résumé",
        java.text.Normalizer.Form.NFD),
      "line1\r\nline2\r\nline3\r\n",
      "word word word　word", "مرحبا بالعالم هذا نص",
      "the quick spark row scans the fast table. " * 1000).toDF("text")
    val docs = graft.sources.Tables.load(spark, sf(), "documents").select("text")
    for (df <- Seq(edges, docs)) {
      val cmp = df.select(
        TextHash.simhash(col("text")).as("s_native"),
        TextHash.simhashHof(col("text")).as("s_hof"),
        TextHash.polyHash(col("text")).as("p_native"),
        TextHash.polyHashHof(col("text")).as("p_hof"),
        TextHash.minGramHash(col("text"), 8).as("g_native"),
        TextHash.minGramHashHof(col("text"), 8).as("g_hof"))
      val bad = cmp.filter(
        !(col("s_native") <=> col("s_hof")) ||
        !(col("p_native") <=> col("p_hof")) ||
        !(col("g_native") <=> col("g_hof")))
      assert(bad.count() == 0, s"native/HOF mismatch rows: ${bad.take(3).mkString}")
    }
    // null token elements (unreachable via split, reachable via the public
    // SQL function): a null votes -1 on every bit in BOTH formulations
    val arr = array(lit("a"), lit(null).cast("string"), lit("b"))
    val r = Seq(1).toDF("x").select(
      call_function("graft_simhash60", arr).as("native"),
      TextHash.simhashHofTokens(arr).as("hof")).head()
    assert(!r.isNullAt(0) && r.getLong(0) == r.getLong(1))
  }

  test("jaroWinkler matches the DuckDB-pinned known-value table, symmetric") {
    // expected doubles are DuckDB jaro_winkler_similarity outputs, pinned
    // bit-exact offline (4000-pair fuzz, 0 diffs) — these literals ARE the
    // oracle contract for q144
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),     // boost applies at j=0.767
      ("jellyfish", "smellyfish", 0.8962962962962964), // no shared prefix, no boost
      ("crate", "trace", 0.7333333333333334),
      ("dwayne", "duane", 0.8400000000000001),
      ("aaaaaaaaaa", "aaaaaaaaab", 0.96),            // prefix capped at 4
      ("ab", "abcdefghijklmnop", 0.7666666666666667),
      ("abcdefgh", "abzzzzzz", 0.5),                 // j=0.5 <= 0.7: no boost
      ("abc", "abc", 1.0),
      ("", "abc", 0.0), ("", "", 0.0),               // DuckDB: empty is 0, even vs empty
      ("a", "b", 0.0),
      ("zzzzab", "ab", 0.0),                         // match window excludes the shift
      ("ab", "ba", 0.0))                             // window 0: adjacent swap can't match
    for ((a, b, want) <- cases) {
      val got = Seq((a, b)).toDF("a", "b")
        .select(call_function("graft_jaro_winkler", col("a"), col("b")))
        .head().getDouble(0)
      assert(java.lang.Double.doubleToLongBits(got) ==
        java.lang.Double.doubleToLongBits(want), s"($a, $b): got $got want $want")
      val rev = Seq((b, a)).toDF("a", "b")
        .select(call_function("graft_jaro_winkler", col("a"), col("b")))
        .head().getDouble(0)
      assert(java.lang.Double.doubleToLongBits(rev) ==
        java.lang.Double.doubleToLongBits(want), s"asymmetric on ($a, $b)")
    }
    // null propagation + range sanity over real part names
    val p = graft.sources.Tables.load(spark, sf(), "part")
      .select(col("p_name").as("a"))
    val jw = p.crossJoin(p.limit(1).select(col("a").as("b")))
      .select(call_function("graft_jaro_winkler", col("a"), col("b")).as("j"))
    assert(jw.filter(col("j") < 0.0 || col("j") > 1.0).count() == 0)
    val nl = Seq(("x", null: String)).toDF("a", "b")
      .select(call_function("graft_jaro_winkler", col("a"), col("b"))).head()
    assert(nl.isNullAt(0))
  }

  test("damerauLevenshtein: unrestricted transpositions, DuckDB-pinned values") {
    // ('ca','abc') = 2 is THE unrestricted-vs-OSA discriminator (OSA says 3)
    val cases = Seq(
      ("ca", "abc", 2), ("ab", "ba", 1), ("abcdef", "abcfed", 2),
      ("kitten", "sitting", 3), ("", "abc", 3), ("same", "same", 0),
      ("ab", "ab x", 2), ("a", "", 1), ("", "", 0))
    for ((a, b, want) <- cases) {
      val got = Seq((a, b)).toDF("a", "b")
        .select(call_function("graft_damerau_levenshtein", col("a"), col("b")))
        .head().getInt(0)
      assert(got == want, s"($a, $b): got $got want $want")
    }
    // dl <= lev everywhere (transpositions can only help), symmetry
    val p = graft.sources.Tables.load(spark, sf(), "part")
      .select(col("p_name").as("a")).limit(200)
    val x = p.crossJoin(p.limit(30).select(col("a").as("b")))
      .select(
        call_function("graft_damerau_levenshtein", col("a"), col("b")).as("dl"),
        call_function("graft_damerau_levenshtein", col("b"), col("a")).as("dlr"),
        levenshtein(col("a"), col("b")).as("lev"))
    assert(x.filter(col("dl") > col("lev") || col("dl") =!= col("dlr")).count() == 0)
  }

  test("canonicalText unifies Unicode form, case, and whitespace variants") {
    val variants = Seq(
      "café au lait",        // precomposed é
      "café au lait",       // e + combining acute (NFC-normalizes to é)
      "  CAFÉ   au\tlait ",  // case + whitespace + precomposed É
      "unrelated text").toDF("text")
    val keys = variants.select(TextStats.canonicalKey(col("text")).as("k"))
      .collect().map(_.getString(0))
    assert(keys(0) == keys(1) && keys(1) == keys(2)) // all one canonical form
    assert(keys(3) != keys(0))
    // the raw byte key sees all four as distinct
    val raw = variants.select(TextStats.contentKey(col("text")).as("k"))
      .collect().map(_.getString(0))
    assert(raw.distinct.length == 4)
  }

  test("stopwordCount native probe equals the filter-HOF formulation") {
    val docs = graft.sources.Tables.load(spark, sf(), "documents").select("text")
    val edges = Seq("", "THE the The", "no stop words here xyzzy",
      "the  the\tthe\nthe").toDF("text")
    val stopArray = lit(TextStats.Stopwords.toArray)
    for (df <- Seq(edges, docs)) {
      val toks = split(trim(lower(col("text"))), "\\s+")
      val bad = df.select(
          TextStats.stopwordCount(col("text")).as("native"),
          size(filter(toks, t => array_contains(stopArray, t))).as("hof"))
        .filter(!(col("native") <=> col("hof")))
      assert(bad.count() == 0, s"stopword mismatch: ${bad.take(3).mkString}")
    }
  }

  test("LangId.predicted: marker argmax with deterministic tie-break") {
    val out = Seq(
      "the cat and the dog is in a tree",
      "el que la de y los en un dia",
      "zzz qqq www").toDF("text")
      .select(LangId.predicted(col("text")).as("l"))
      .collect().map(_.getString(0))
    assert(out.toSeq == Seq("en", "es", "und"))
  }

  test("LangId.predictedByTrigrams scores char n-gram profiles") {
    val out = Seq(
      "the king is singing and the nation",  // the/ing/and/ion/tio
      "aquellos que han llegado a los montes", // que/los/ado
      "zzz qqq").toDF("text")
      .select(LangId.predictedByTrigrams(col("text")).as("l"))
      .collect().map(_.getString(0))
    assert(out.toSeq == Seq("en", "es", "und"))
    val c = Seq("abcabcab").toDF("t")
      .select(LangId.substringCount(col("t"), "abc").as("c")).head()
    assert(c.getDouble(0) == 2.0)
  }

  test("tokenEntropy: uniform tokens hit log2(n), constant doc hits 0") {
    val df = Seq(
      (1L, "a b c d"),      // 4 distinct of 4 -> H = log2(4) = 2
      (2L, "x x x x"),      // constant -> H = 0
      (3L, "a a b b")       // two classes at 1/2 -> H = 1
    ).toDF("doc_id", "text")
    val out = TextStats.tokenEntropy(df, "doc_id", "text")
      .orderBy("id").collect()
    assert(out.map(_.getDouble(3)).toSeq == Seq(2.0, 0.0, 1.0))
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((4L, 4L), (4L, 1L), (4L, 2L)))
  }

  test("redactPii scrubs planted emails/phones and counts match") {
    val df = Seq(
      (1L, "write to a.user+tag@sub.example.org or call +1-202-555-0100 now"),
      (2L, "no pii here at all"),
      (3L, "two mails x@y.com z@w.net and 12-345-678-9012 digits")
    ).toDF("id", "text")
    val out = df.select(col("id"), TextStats.redactPii(col("text")).as("r"),
        TextStats.emailCount(col("text")).as("e"),
        TextStats.phoneCount(col("text")).as("p"))
      .orderBy("id").collect()
    assert(out(0).getString(1) == "write to <EMAIL> or call <PHONE> now")
    assert((out(0).getInt(2), out(0).getInt(3)) == ((1, 1)))
    assert(out(1).getString(1) == "no pii here at all")
    assert((out(1).getInt(2), out(1).getInt(3)) == ((0, 0)))
    assert(out(2).getString(1) == "two mails <EMAIL> <EMAIL> and <PHONE> digits")
  }

  test("contaminationHits finds exactly the corpus docs sharing a 3-gram") {
    val bench = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "zz alpha beta gamma yy"),   // shares "alpha beta gamma"
      (2L, "beta gamma delta tail here"), // shares "beta gamma delta"
      (3L, "nothing in common at all")
    ).toDF("doc_id", "text")
    val hits = NearDup.contaminationHits(corpus, bench, "doc_id", "text", n = 3)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hits.toSeq == Seq((1L, 1L), (2L, 1L)))
  }

  test("near-dup exchanges are long-keyed: span text never rides a shuffle") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy cat today"),
      (3L, "completely different text with no overlap at all here")
    ).toDF("doc_id", "text")
    val bench = Seq((9L, "the quick brown fox")).toDF("doc_id", "text")
    // the raw shingle column is `s` (string); every exchange downstream of
    // shingleHashRows must key on `hs` longs / doc ids instead — the
    // at-scale contract that made q27/q28/q60's widest shuffles narrow
    val plans = Seq(
      NearDup.jaccardPairs(docs, "doc_id", "text", 3, 0.3),
      NearDup.minhashNearDupPairs(docs, "doc_id", "text", 3, 0.3, 16, 2),
      NearDup.prefixJaccardPairs(docs, "doc_id", "text", 3, 0.3),
      NearDup.contaminationHits(docs, bench, "doc_id", "text", 3))
    plans.foreach { df =>
      val explained = df.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      val exchanges = "Exchange hashpartitioning\\(([^)]*)\\)".r
        .findAllMatchIn(explained).map(_.group(1)).toList
      assert(exchanges.nonEmpty, explained)
      exchanges.foreach { keys =>
        assert(!"""\bs#\d+""".r.findFirstIn(keys).isDefined,
          s"string shingle column in exchange keys: $keys\n$explained")
      }
    }
    spark.catalog.clearCache()
  }

  test("bpeTokenCount matches the DuckDB-checked GPT-2-ish segmentation") {
    val r = Seq("Hello, world! 42 times").toDF("t")
      .select(TextStats.bpeTokenCount(col("t"))).head().getInt(0)
    assert(r == 6) // [Hello][,][ world][!][ 42][ times]
  }

  test("Wordpiece.tokens: greedy longest-match segmentation, ## marks, " +
      "[UNK] for out-of-alphabet and oversize words") {
    def toks(t: String): Seq[String] =
      Seq(t).toDF("t").select(Wordpiece.tokens(col("t")).as("w"))
        .head().getSeq[String](0)
    // longest match wins: "table" is a full piece, never tab + ##le
    assert(toks("table") == Seq("table"))
    assert(toks("window customer query") ==
      Seq("win", "##dow", "cust", "##omer", "qu", "##ery"))
    // single-char fallback keeps alphanumerics total
    assert(toks("xyz 42") == Seq("x", "##y", "##z", "4", "##2"))
    // out-of-alphabet (uppercase, punctuation, emoji) → one [UNK] per
    // word — never a partial piece list
    assert(toks("THE") == Seq("[UNK]"))
    assert(toks("a!b") == Seq("[UNK]"))
    assert(toks("🙂ab") == Seq("[UNK]"))
    // HuggingFace max_input_chars_per_word: >100 codepoints → [UNK]
    assert(toks("a" * 101) == Seq("[UNK]"))
    assert(toks("a" * 100).length == 100)
    // empty / whitespace-only → no tokens; NULL propagates
    assert(toks("") == Seq.empty)
    assert(toks("  \n\t ") == Seq.empty)
    val n = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "t")
      .select(Wordpiece.tokens(col("t")).as("w")).head()
    assert(n.isNullAt(0))
  }

  test("Wordpiece.wordCount drops the empty fragments Spark's split " +
      "keeps on separator runs (hostile whitespace-only doc)") {
    val r = Seq("a b  c", "", "  \n\t ", "one").toDF("t")
      .select(Wordpiece.wordCount(col("t")).as("n"))
      .collect().map(_.getLong(0)).toSeq
    assert(r == Seq(3L, 0L, 0L, 1L))
  }
}
