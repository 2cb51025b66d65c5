package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{AudioStats, CosineSimilarity, DamerauLevenshtein, DotProduct, HyperplaneBuckets, ImageStats, JaroWinkler, MinGramHash, MinhashBands, NfcNormalize, PolyHash, ShingleHashes, ShingleSpans, SimHash128, SimHash60, StopwordCount, TopKAgg, VideoStats, WordpieceTokenize}

/** graft's engine extensions: native codegen'd SQL functions.
  *
  * Two installation paths:
  *  - declarative (the library way): `spark.sql.extensions=graft.GraftExtensions`
  *    or `SparkSession.builder.withExtensions(new GraftExtensions)` — what
  *    graft's own mains and specs use, through [[Session.builder]];
  *  - imperative: [[GraftFunctions.register]] — idempotent, works on any
  *    live session; `sources.Tables.load` calls it so driver-owned
  *    sessions that never saw the config still resolve the functions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // analysis-time rejection of unscalable plan shapes, opt-in via
    // spark.graft.scaleGuard=true (see graft.plans.ScaleGuard)
    ext.injectCheckRule(graft.plans.ScaleGuard.checkRule)
    // task-retry fault injection for the invariance matrix, opt-in via
    // spark.graft.faultInject=true (see graft.plans.FaultInject)
    ext.injectQueryStagePrepRule(graft.plans.FaultInject.rule)
  }
}

object GraftFunctions {

  type Builder = Seq[Expression] => Expression

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  val all: Seq[(String, ExpressionInfo, Builder)] = Seq(
    ("graft_dot",
      info("graft_dot", "graft_dot(a, b) - dot product of two array<double>"),
      { case Seq(a, b) => DotProduct(a, b) }: Builder),
    ("graft_cosine",
      info("graft_cosine", "graft_cosine(a, b) - cosine similarity of two array<double>"),
      { case Seq(a, b) => CosineSimilarity(a, b) }: Builder),
    ("graft_simhash60",
      info("graft_simhash60", "graft_simhash60(tokens) - 60-bit SimHash sketch of array<string>"),
      { case Seq(t) => SimHash60(t) }: Builder),
    ("graft_simhash128",
      info("graft_simhash128",
        "graft_simhash128(tokens) - 128-bit SimHash sketch of array<string> as [hi, lo] bigints"),
      { case Seq(t) => SimHash128(t) }: Builder),
    ("graft_polyhash",
      info("graft_polyhash", "graft_polyhash(str) - Rabin-Karp polynomial fingerprint"),
      { case Seq(s) => PolyHash(s) }: Builder),
    ("graft_mingram_hash",
      info("graft_mingram_hash", "graft_mingram_hash(str, k) - min rolling hash over k-char windows"),
      { case Seq(s, k) => MinGramHash(s, k) }: Builder),
    ("graft_hyperplane_buckets",
      info("graft_hyperplane_buckets",
        "graft_hyperplane_buckets(vec, planes, tables) - LSH bucket ids per table"),
      { case Seq(v, p, t) => HyperplaneBuckets(v, p, t) }: Builder),
    ("graft_stopword_count",
      info("graft_stopword_count",
        "graft_stopword_count(tokens, stopwords) - tokens present in the stopword set"),
      { case Seq(t, s) => StopwordCount(t, s) }: Builder),
    ("graft_wordpiece",
      info("graft_wordpiece",
        "graft_wordpiece(text, vocab) - greedy longest-match WordPiece tokens"),
      { case Seq(t, v) => WordpieceTokenize(t, v) }: Builder),
    ("graft_nfc",
      info("graft_nfc", "graft_nfc(str) - Unicode NFC normalization"),
      { case Seq(s) => NfcNormalize(s) }: Builder),
    ("graft_jaro_winkler",
      info("graft_jaro_winkler",
        "graft_jaro_winkler(a, b) - Jaro-Winkler similarity in [0, 1]"),
      { case Seq(a, b) => JaroWinkler(a, b) }: Builder),
    ("graft_damerau_levenshtein",
      info("graft_damerau_levenshtein",
        "graft_damerau_levenshtein(a, b) - unrestricted Damerau-Levenshtein edit distance"),
      { case Seq(a, b) => DamerauLevenshtein(a, b) }: Builder),
    ("graft_topk",
      info("graft_topk",
        "graft_topk(ord, key, k) - bounded-heap top-k aggregate: k largest " +
          "(ord, key) pairs per group, ord desc / key asc, O(k) state"),
      { case Seq(o, ky, kk) => TopKAgg(o, ky, kk) }: Builder),
    ("graft_minhash_bands",
      info("graft_minhash_bands",
        "graft_minhash_bands(sh, numHashes, bandRows) - per-document MinHash " +
          "band hashes over a distinct shingle-hash array, indexed by band"),
      { case Seq(sh, nh, br) => MinhashBands(sh, nh, br) }: Builder),
    ("graft_shingle_spans",
      info("graft_shingle_spans",
        "graft_shingle_spans(text, n) - every word n-gram span (duplicates kept), " +
          "single-pass kernel form of split/lead/concat_ws shingling"),
      { case Seq(t, n) => ShingleSpans(t, n) }: Builder),
    ("graft_shingle_hashes",
      info("graft_shingle_hashes",
        "graft_shingle_hashes(text, n) - distinct xxhash64 keys of every word " +
          "n-gram span, single-pass kernel form of shingle+hash+distinct"),
      { case Seq(t, n) => ShingleHashes(t, n) }: Builder),
    ("graft_image_stats",
      info("graft_image_stats",
        "graft_image_stats(payload) - decoded width/height/channels + exact " +
          "pixel-sum aggregates of a PNG/JPEG binary, NULL if undecodable"),
      { case Seq(p) => ImageStats(p) }: Builder),
    ("graft_audio_stats",
      info("graft_audio_stats",
        "graft_audio_stats(payload) - decoded rate/channels/frames + exact " +
          "sample-sum aggregates of a WAV/PCM binary, NULL if undecodable"),
      { case Seq(p) => AudioStats(p) }: Builder),
    ("graft_video_stats",
      info("graft_video_stats",
        "graft_video_stats(payload) - MJPEG-AVI frame census + exact " +
          "pixel aggregates over decodable frames, NULL if the container " +
          "is undecodable"),
      { case Seq(p) => VideoStats(p) }: Builder))

  /** Idempotently register the functions on a live session. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, inf, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.registerFunction(FunctionIdentifier(name), inf, builder)
    }
  }
}
