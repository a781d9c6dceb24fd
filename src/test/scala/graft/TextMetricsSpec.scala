package graft

import org.apache.spark.sql.functions._

import graft.ops.TextAnalysis

/** Corpus-statistics contracts for the round-11 text metrics: character
  * entropy (native expression), n-gram novelty, Zipf fit, Heaps growth,
  * source overlap, PMI collocations — each against hand-computed values
  * on degenerate fixtures.
  */
class TextMetricsSpec extends SparkSpec {
  import spark.implicits._

  test("graft_entropy: closed-form values, empty string, null contract") {
    val rows = Seq(
      (0L, "aaaa"),   // one symbol -> 0 bits
      (1L, "ab"),     // two equiprobable -> 1 bit
      (2L, "abcd"),   // four equiprobable -> 2 bits
      (3L, ""),       // empty -> 0 by convention
      (4L, "aab")     // 2/3,1/3 -> hand fold below
    ).toDF("doc_id", "text")
      .select(col("doc_id"), call_function("graft_entropy", col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows(0L) == 0.0)
    assert(rows(1L) == 1.0)
    assert(rows(2L) == 2.0)
    assert(rows(3L) == 0.0)
    val p1 = 2.0 / 3.0; val p2 = 1.0 / 3.0
    val want = -(p1 * math.log(p1) + p2 * math.log(p2)) / math.log(2.0)
    assert(approx(rows(4L), want))
    val n = Seq(Option.empty[String]).toDF("text")
      .select(call_function("graft_entropy", col("text"))).collect()
    assert(n(0).isNullAt(0))
  }

  test("graft_entropy: sum order is value-determined (permuted string, same bits)") {
    val out = Seq(("xyzzy"), ("zyzxy"), ("yzxzy"))
      .toDF("text")
      .select(call_function("graft_entropy", col("text")).as("h"))
      .collect().map(_.getDouble(0)).distinct
    assert(out.length == 1) // anagrams are bit-identical, not just close
  }

  test("graft_normalize: NFC composition, Zs/control cleanup, collapse, trim, idempotence, null") {
    val rows = Seq(
      (0L, "\t  hello  world    x \n\n"), // full cleanup
      (1L, "café"),              // NFC: e + U+0301 -> U+00E9
      (2L, "ab"),                // control BETWEEN letters joins them
      (3L, "a  b"),              // control between spaces -> one space
      (4L, "　wide　space　"), // ideographic space is Zs
      (5L, ""),
      (6L, "already clean")
    ).toDF("doc_id", "text")
      .select(col("doc_id"), call_function("graft_normalize", col("text")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(0L) == "hello world x")
    assert(rows(1L) == "café")
    assert(rows(1L).length == 4, "NFC composed to one code point")
    assert(rows(2L) == "ab")
    assert(rows(3L) == "a b")
    assert(rows(4L) == "wide space")
    assert(rows(5L) == "")
    assert(rows(6L) == "already clean")
    // idempotence: a normalized string is its own normalization
    val twice = Seq(rows(0L), rows(1L), rows(4L)).toDF("text")
      .select(call_function("graft_normalize", col("text"))).collect().map(_.getString(0))
    assert(twice.toSeq == Seq(rows(0L), rows(1L), rows(4L)))
    val n = Seq(Option.empty[String]).toDF("text")
      .select(call_function("graft_normalize", col("text"))).collect()
    assert(n(0).isNullAt(0))
  }

  test("charEntropy op: flags the repeated-char doc below natural prose") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.charEntropy(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(2L) == 0.0)
    assert(out(1L) > 3.0)
  }

  test("ngramNovelty: exact dup of an earlier doc scores 0, first doc 1, partial in between") {
    val docs = Seq(
      (1L, "a b c d e"),   // shingles: abc bcd cde — all first here
      (2L, "a b c d e"),   // exact dup -> novelty 0
      (3L, "a b c x y z")  // abc seen; bcx cxy xyz new -> 3/4
    ).toDF("doc_id", "text")
    val out = TextAnalysis.ngramNovelty(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((3L, 3L, 1.0)))
    assert(out(2L) == ((3L, 0L, 0.0)))
    assert(out(3L) == ((4L, 3L, 0.75)))
  }

  test("zipfSlope: two-type corpus with 4:2 counts fits slope exactly -1") {
    // ranks: a -> (r=1, c=4), b -> (r=2, c=2); log2 points (0,2),(1,1)
    val docs = Seq((1L, "a a b", "en"), (2L, "a a b", "en"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.zipfSlope(docs).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getString(0) == "en" && r.getLong(1) == 2L)
    assert(approx(r.getDouble(2), -1.0))
    assert(approx(r.getDouble(3), 2.0)) // intercept = log2 c at rank 1
  }

  test("vocabGrowth: cumulative tokens and first-seen types per bucket") {
    // 4 docs, 2 buckets (ids 0,1 -> b1; 2,3 -> b2)
    val docs = Seq(
      (0L, "a b"), (1L, "a c"),   // b1: 4 tokens, types {a,b,c}
      (2L, "a d"), (3L, "b d")    // b2: 4 tokens, new type {d}
    ).toDF("doc_id", "text")
    val out = TextAnalysis.vocabGrowth(docs, nBuckets = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out(1L) == ((4L, 3L, 4L, 3L)))
    assert(out(2L) == ((4L, 1L, 8L, 4L)))
  }

  test("sourceOverlap: hand-computed Jaccard; zero-overlap pairs are absent") {
    val docs = Seq(
      (1L, "a b", "s1"), (2L, "b c", "s2"), (3L, "z", "s3")
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.sourceOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(out.size == 1) // s3 shares nothing -> no row (inner join)
    assert(out(("s1", "s2")) == ((1L, 2L, 2L, 1.0 / 3.0)))
  }

  test("pmiPairs: positional marginals keep pairs whose w2 never starts a bigram") {
    // 6x "a b" + 6x "c d": b and d never occupy the left slot.
    val docs = (1L to 6L).map(i => (i, "a b")) ++ (7L to 12L).map(i => (i, "c d"))
    val out = TextAnalysis.pmiPairs(docs.toDF("doc_id", "text"), minCount = 5L, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // N = 12, c12 = 6, c1 = 6 (left), c2 = 6 (right) -> ratio 2, pmi 1
    assert(out.size == 2)
    assert(out(("a", "b")) == ((6L, 1.0)))
    assert(out(("c", "d")) == ((6L, 1.0)))
  }
}
