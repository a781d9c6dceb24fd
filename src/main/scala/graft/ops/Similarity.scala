package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Governed refusal from an exact all-pairs miner's candidate-mass
  * preflight ([[Similarity.allPairsJaccard]] /
  * [[Similarity.allPairsCosine]] with a finite `maxCandidatePairs`):
  * the estimated candidate-join mass exceeds the caller's budget, so
  * the miner fails in seconds — with the estimate, so the caller can
  * route to an LSH/banded plan or raise the budget deliberately —
  * instead of launching a join the r16 stress run measured dying after
  * 767 s and >69 GB of shuffle spill on the 30× flat-df corpus.
  */
final case class CandidateMassExceeded(operator: String,
    estimatedPairs: Long, maxCandidatePairs: Long)
  extends RuntimeException(
    s"$operator preflight: ~$estimatedPairs candidate pairs estimated, " +
      s"over the budget of $maxCandidatePairs. The corpus is too " +
      "collision-heavy for this exact pairing at the given budget; use " +
      "a bounded plan (the LSH/banded miners; for the semantic tier, " +
      "nlist ∝ n or the capped/hier forms), or raise the budget knowingly.")

/** A governed pairing run's decision + lineage
  * ([[Similarity.neardupGovernedResult]] /
  * [[Similarity.cosineGovernedResult]] and the incremental face): which
  * arm ran (`"exact"` — the measured candidate mass cleared the budget —
  * or `"banded"`, the LSH fallback), the MEASURED mass the decision was
  * made on, and the budget it was judged against. `pairs` is the verified
  * pair frame of whichever arm ran. The driver-facing `neardupGoverned` /
  * `cosineGoverned` flatten this into constant lineage columns; pipelines
  * that need the decision without executing the pairs (logging, routing a
  * downstream stage) read it here, where it costs nothing beyond the
  * preflight aggregate already paid.
  */
final case class GovernedPairing(method: String, estimatedPairs: Long,
    maxCandidatePairs: Long, pairs: DataFrame)

/** Deduplication + similarity-search operators for the LLM-data-pipeline
  * tier: exact dedup, MinHash+banded-LSH near-dup, SimHash, n-gram
  * Jaccard, embedding cosine top-k, and hyperplane-LSH approximate NN.
  *
  * Scale design notes (the whole point of this file):
  *  - Near-dup detection NEVER does an all-pairs crossJoin. MinHash
  *    signatures are banded; candidates come from a self equi-join on
  *    (band_idx, band_key) — per-bucket joins whose cost tracks the true
  *    duplicate density, not n². At 100 TB the band join is an ordinary
  *    shuffled equi-join Spark already knows how to distribute.
  *  - All hashing is deterministic (xxhash64 + fixed affine family, md5)
  *    — identical results on every run/partitioning, no Math.random.
  *  - Everything is built-in or higher-order expressions (codegen'd);
  *    zero UDFs.
  */
object Similarity {

  // ---------------------------------------------------------------- dedup

  /** Exact-dedup survey per source: total, distinct texts (by value and by
    * md5 content key), duplicate count. `count(DISTINCT md5)` is the
    * shuffle-cheap form at scale: the 128-bit key shuffles instead of the
    * full document payload.
    */
  def exactDedupStats(documents: DataFrame): DataFrame =
    documents
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct_text"),
        countDistinct(md5(col("text"))).as("n_distinct_md5"),
        (count(lit(1)) - countDistinct(col("text"))).as("n_dupes"))

  /** Canonical text key for normalization-insensitive dedup: lowercase,
    * strip everything but `[a-z0-9 ]`, collapse whitespace, trim. Catches
    * the re-encoded/re-wrapped duplicates exact byte-dedup misses — the
    * standard first pass of corpus canonicalization (cheap codegen string
    * ops, no tokenization).
    */
  def normalizedKey(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(c), "[^a-z0-9 ]", ""), "\\s+", " "))

  /** Per-source dedup survey on the normalized key vs the raw byte key:
    * `formatting_dupes` counts documents that are normalization-equal but
    * byte-distinct. Both keys travel as md5 — payloads never shuffle.
    */
  def normalizedDedupStats(documents: DataFrame): DataFrame =
    documents
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("distinct_raw"),
        countDistinct(md5(normalizedKey(col("text")))).as("distinct_norm"),
        (countDistinct(md5(col("text"))) -
          countDistinct(md5(normalizedKey(col("text"))))).as("formatting_dupes"))

  /** Cardinality at scale: exact `count(DISTINCT md5)` vs HyperLogLog++
    * `approx_count_distinct` — the approx form is the only affordable
    * dedup-survey primitive at 100 TB (no distinct shuffle; fixed-size
    * sketch merges). Tests pin the estimate within rsd of exact.
    */
  def approxDedupStats(documents: DataFrame, rsd: Double = 0.05): DataFrame =
    documents
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("exact_distinct"),
        approx_count_distinct(md5(col("text")), rsd).as("approx_distinct"))

  /** Exact dedup itself: one canonical row (min doc_id) per distinct text.
    * groupBy on the md5 content key — the aggregate carries only the key
    * and the winning doc_id, never the payload, then a semi-join pulls the
    * surviving rows. This is the 100 TB-safe shape (dropDuplicates("text")
    * would shuffle full texts).
    */
  def exactDedup(documents: DataFrame): DataFrame = {
    val canonical = documents
      .groupBy(md5(col("text")).as("k"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    documents.join(canonical, Seq("doc_id"), "left_semi")
  }

  /** [[exactDedup]] with a QUALITY winner instead of the first-id winner —
    * the production curation shape: among normalization-equal copies keep
    * the highest-scoring one (cleanest formatting, fullest text), not
    * whichever happened to crawl first. Winner = max (score, −doc_id) per
    * normalized content key, so exact score ties break to the LOWEST
    * doc_id deterministically. Same payload discipline as [[exactDedup]]:
    * the aggregate carries (key, score, doc_id) — never text — and the
    * surviving rows rejoin by a doc_id semi-join.
    */
  def dedupKeepBest(documents: DataFrame, scoreCol: String): DataFrame = {
    val winners = documents
      .groupBy(md5(normalizedKey(col("text"))).as("k"))
      .agg(max(struct(col(scoreCol).as("s"), (-col("doc_id")).as("nid"))).as("w"))
      .select((-col("w.nid")).as("doc_id"))
    documents.join(winners, Seq("doc_id"), "left_semi")
  }

  /** Write the corpus content-key artifact for [[dedupIncremental]]: one
    * md5 per distinct text, as parquet. At 100 TB this is the standing
    * "seen set" of a continuous ingest — tiny relative to the corpus
    * (16 bytes/distinct doc) and mergeable by plain append.
    */
  def writeCorpusKeys(corpus: DataFrame, keysDir: String): Unit =
    corpus.select(md5(col("text")).as("k")).distinct()
      .write.mode("overwrite").parquet(keysDir)

  /** Incremental-ingest dedup — the production shape of [[exactDedup]]
    * for a continuously growing corpus: the NEW batch is deduped
    * (a) within itself (min-doc_id canonical per content key) and
    * (b) against the persisted corpus key artifact by anti-join on the
    * md5 key. Only 16-byte keys ever shuffle; the batch payload moves
    * once, in the final semi-join. Survivors' keys are appended to the
    * artifact by the caller (plain parquet append — no rewrite).
    */
  def dedupIncremental(newDocs: DataFrame, keysDir: String): DataFrame = {
    val spark = newDocs.sparkSession
    val seen = spark.read.parquet(keysDir)
    val keyed = newDocs.select(col("doc_id"), md5(col("text")).as("k"))
    val canonical = keyed
      .groupBy(col("k")).agg(min(col("doc_id")).as("doc_id"))
      .join(seen, Seq("k"), "left_anti")
      .select(col("doc_id"))
    newDocs.join(canonical, Seq("doc_id"), "left_semi")
  }

  /** [[dedupIncremental]] with a Bloom pre-gate — the shape that wins when
    * the standing corpus is huge and the overlap is small (the common
    * continuous-ingest case): one scan of the key artifact folds into a
    * fixed-size Bloom sketch (Spark's own `BloomFilterAggregate`, exposed
    * via [[graft.functions.GraftFunctions]]), the sketch ships to every
    * task as a literal, and only the `might_contain` survivors — true
    * dupes plus the sized false-positive fraction — pay the exact
    * anti-join shuffle. Definitely-new keys (no false negatives) never
    * shuffle at all. Result is row-identical to [[dedupIncremental]]
    * (parity spec) because every Bloom "maybe" is exactly verified.
    *
    * At 100 TB: persist the sketch next to the key artifact and update it
    * incrementally instead of re-aggregating per batch; `expectedItems`
    * sizes fpp (8 bits/key ≈ 2% — tune to taste, correctness is
    * unaffected).
    */
  def dedupIncrementalBloom(newDocs: DataFrame, keysDir: String,
                            expectedItems: Long = 1000000L): DataFrame = {
    val spark = newDocs.sparkSession
    val seen = spark.read.parquet(keysDir)
    val bloomBytes = seen
      .agg(call_function("graft_bloom_agg", xxhash64(col("k")),
        lit(expectedItems), lit(expectedItems * 8)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val canonical = newDocs
      .select(col("doc_id"), md5(col("text")).as("k"))
      .groupBy(col("k")).agg(min(col("doc_id")).as("doc_id"))
    val gated =
      if (bloomBytes == null) canonical // empty artifact: everything is new
      else {
        val maybeSeen = call_function("graft_might_contain",
          lit(bloomBytes), xxhash64(col("k")))
        canonical.filter(!maybeSeen)
          .unionByName(canonical.filter(maybeSeen)
            .join(seen, Seq("k"), "left_anti"))
      }
    newDocs.join(gated.select(col("doc_id")), Seq("doc_id"), "left_semi")
  }

  // ------------------------------------------------------------- shingles

  /** Shingles as ROWS via arrays_zip + slice + concat_ws — every operator
    * codegen'd (the `transform` lambda above runs interpreted). Emits
    * duplicates: fine for any min/collect_set consumer, which is exactly
    * the MinHash path. `extra` columns (e.g. `lang` for the diversity
    * rollup) ride along unchanged.
    */
  private[ops] def shingleRows(documents: DataFrame,
                               extra: Seq[String] = Nil): DataFrame =
    documents
      .withColumn("w", split(lower(col("text")), " "))
      .filter(size(col("w")) >= 3)
      .withColumn("w1", slice(col("w"), lit(2), size(col("w"))))
      .withColumn("w2", slice(col("w"), lit(3), size(col("w"))))
      .select(col("doc_id") +: extra.map(col) :+
        explode(arrays_zip(col("w"), col("w1"), col("w2"))).as("z"): _*)
      .filter(col("z.w2").isNotNull)
      .select(col("doc_id") +: extra.map(col) :+
        concat_ws(" ", col("z.w"), col("z.w1"), col("z.w2")).as("s"): _*)

  // -------------------------------------------------------------- minhash

  /** Deterministic affine hash family over a Mersenne prime. a_i/b_i are
    * derived from the index itself (odd multipliers), so signatures are
    * reproducible everywhere with no seed plumbing.
    */
  private val MinhashP = 2147483647L // 2^31 - 1

  private def hashParam(i: Int): Long = (2 * i + 1) * 2654435761L % MinhashP

  /** MinHash signatures (k columns mh_0..mh_{k-1}) per doc_id.
    *
    * Shape matters at scale: shingles are EXPLODED to rows, each hashed
    * once (codegen'd `xxhash64`), then a single hash aggregate computes
    * all k `min(a_i*h + b_i mod p)` columns. All of it is whole-stage
    * codegen; map-side combine collapses each doc to one row before the
    * shuffle, so the exchange carries docs × k longs, never the shingles.
    * (The tempting higher-order form — `transform(params, a ->
    * array_min(transform(sh, ...)))` — runs interpreted per element and
    * re-hashes every shingle k times: ~200× slower, measured.)
    */
  def minhashSignatureCols(documents: DataFrame, k: Int): DataFrame = {
    val hashes = shingleRows(documents)
      .withColumn("h", pmod(xxhash64(col("s")), lit(MinhashP)))
    val aggs = (0 until k).map { i =>
      val a = hashParam(i)
      min(pmod(lit(a) * col("h") + lit(a + 13L), lit(MinhashP))).as(s"mh_$i")
    }
    hashes.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash signatures per document (k=16): the reusable dedup key
    * artifact a pipeline would persist (plus a whole-signature hash).
    */
  def minhashSignatures(documents: DataFrame, k: Int = 16): DataFrame = {
    val sig = minhashSignatureCols(documents, k)
    sig.select(col("doc_id"), col("mh_0"), col("mh_1"), col(s"mh_${k - 1}"),
      xxhash64(concat_ws(",", (0 until k).map(i => col(s"mh_$i")): _*)).as("sig_hash"))
  }

  /** MinHash + banded LSH near-duplicate pairs, verified with exact
    * Jaccard ≥ `threshold`.
    *
    * Bands of r=1 over k=32 hashes ⇒ candidate-recall 1-(1-j)^32 (≈1 for
    * j ≥ 0.3, the registered threshold), so the verified output equals the
    * exact all-pairs answer — which is what the DuckDB oracle computes.
    * (r/k are parameters: at higher scale/thresholds use r=2..4 to cut
    * candidate volume; the verify step keeps the output exact either way.)
    */
  def minhashNearDup(documents: DataFrame, k: Int = 32,
                     threshold: Double = 0.3): DataFrame =
    // One tokenize/shingle/hash pass, materialized (localCheckpoint) and
    // shared by BOTH the signature branch and the verification branch.
    // In-memory variant for interactive use; pipelines should prefer
    // [[minhashNearDupPersisted]] — localCheckpoint pins blocks to
    // executor storage, which doesn't survive executor loss at scale.
    nearDupFromHashes(shingleHashes(documents).localCheckpoint(), k, threshold)

  /** The persistable signature input: hashed-shingle rows (doc_id, h).
    * Only longs — the shingle strings never leave the first stage.
    */
  def shingleHashes(documents: DataFrame): DataFrame =
    shingleRows(documents)
      .select(col("doc_id"), pmod(xxhash64(col("s")), lit(MinhashP)).as("h"))

  /** Production shape of [[minhashNearDup]]: the hashed-shingle table is
    * WRITTEN ONCE as a lake artifact (parquet) and re-read by both the
    * band join and the verification branch — the artifact survives
    * executor loss, is shareable across jobs (incremental dedup reuses
    * yesterday's signatures), and caps the recompute at one scan instead
    * of re-tokenizing 100 TB per consumer.
    */
  def minhashNearDupPersisted(documents: DataFrame, artifactDir: String,
                              k: Int = 32, threshold: Double = 0.3): DataFrame = {
    shingleHashes(documents).write.mode("overwrite").parquet(artifactDir)
    minhashNearDupFromArtifact(documents.sparkSession, artifactDir, k, threshold)
  }

  /** The consumer face of the artifact split (r18-opt): mine near-dup
    * pairs from an ALREADY-WRITTEN [[shingleHashes]] parquet artifact.
    * At 100 TB the corpus is tokenized ONCE per curation run and every
    * governance consumer (pair mining, the cluster closure, the
    * source-redundancy rollup) reads the artifact — re-tokenizing per
    * consumer was the single largest redundant cost in the bench's
    * minhash tier (three identical artifact builds per pass).
    */
  def minhashNearDupFromArtifact(spark: org.apache.spark.sql.SparkSession,
                                 artifactDir: String, k: Int = 32,
                                 threshold: Double = 0.3): DataFrame =
    nearDupFromHashes(spark.read.parquet(artifactDir), k, threshold)

  /** r=1 banded signature rows (doc_id, band_idx, band_key) from hashed
    * shingles: each signature position is its own band. Shared by the
    * one-shot near-dup path and the persisted incremental index.
    */
  private def bandRows(hashes: DataFrame, k: Int): DataFrame = {
    val sigAggs = (0 until k).map { i =>
      val a = hashParam(i)
      min(pmod(lit(a) * col("h") + lit(a + 13L), lit(MinhashP))).as(s"mh_$i")
    }
    hashes.groupBy(col("doc_id")).agg(sigAggs.head, sigAggs.tail: _*)
      .select(col("doc_id"),
        posexplode(array((0 until k).map(i => col(s"mh_$i")): _*))
          .as(Seq("band_idx", "band_key")))
  }

  private def nearDupFromHashes(hashes: DataFrame, k: Int,
                                threshold: Double): DataFrame = {
    // r=1 banding via [[bandRows]]. The candidate join carries ONLY
    // (band, key, id) — never the shingle payload. With a skewed shingle
    // distribution a popular min-value makes big buckets whose m² pairs
    // would otherwise drag two ~kB arrays each through the shuffle; as id
    // pairs the same candidates are 16 bytes.
    val bands = bandRows(hashes, k)
    val candIds = bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    verifyPairs(candIds, hashes, threshold)
  }

  /** Exact-Jaccard verification of LSH candidate id pairs. Joins the
    * hashed shingle SETS by id — primitive long arrays (fast-path set
    * ops), shuffled once per side proportional to the candidate id set,
    * not its square. |A∪B| = |A|+|B|-|A∩B| avoids materializing the
    * union. Hash-set Jaccard equals string-set Jaccard up to 64-bit
    * collisions (~1e-13 per pair — far below any tolerance).
    */
  private def verifyPairs(candIds: DataFrame, hashes: DataFrame,
                          threshold: Double): DataFrame = {
    val hsets = hashes.groupBy(col("doc_id"))
      .agg(collect_set(col("h")).as("hs"))
      .withColumn("n", size(col("hs")))
    candIds
      .join(hsets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(hsets.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("inter",
        size(array_intersect(col("sa.hs"), col("sb.hs"))).cast("double"))
      .withColumn("jaccard",
        col("inter") / (col("sa.n") + col("sb.n") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Build the standing fuzzy-dedup index for incremental ingest: the
    * base corpus's hashed shingles AND its banded signature rows, each
    * persisted as a parquet artifact (`<dir>/hashes`, `<dir>/bands`).
    * Tomorrow's batch probes the bands without re-reading — let alone
    * re-tokenizing — the 100 TB base corpus; the hashes are kept because
    * exact verification of a candidate pair needs the base side's
    * shingle set.
    */
  def writeNearDupIndex(base: DataFrame, artifactDir: String,
                        k: Int = 32): Unit = {
    // explicit fan-out keyed by doc_id (r18-opt): the tokenize pipeline
    // inherits the doc table's split count, so an unrepartitioned
    // artifact can land as ONE file and serialize every consumer's
    // partial aggregate (band mins, verify collect_set) onto a single
    // task. Keyed, not round-robin — consumers aggregate by doc_id, and
    // a round-robin scatter gives every task a corpus-sized partial-agg
    // hash map (measured 5x at the sf1 decade). defaultParallelism
    // scales with the session; order-free aggregates, results unchanged.
    val hashes = shingleHashes(base)
      .repartition(base.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
    hashes.write.mode("overwrite").parquet(s"$artifactDir/hashes")
    val spark = base.sparkSession
    bandRows(spark.read.parquet(s"$artifactDir/hashes"), k)
      .write.mode("overwrite").parquet(s"$artifactDir/bands")
  }

  /** Incremental MinHash-LSH near-dup: dedup an arriving batch against
    * the persisted [[writeNearDupIndex]] artifact AND within itself,
    * without touching base-corpus text. The contract mirrors
    * [[minhashNearDup]] restricted to pairs whose LARGER id is new —
    * exactly "every near-dup pair the new batch introduces" under
    * append-only monotone ids (the base index holds the smaller ids).
    *
    * Scale shape: only the NEW batch is tokenized; its bands probe the
    * union of persisted base bands and its own (new×base and new×new
    * candidates in one join — the probe side is batch-sized, the build
    * side streams from the artifact). Verification unions the two hash
    * tables and aggregates per-doc sets once; everything shuffled is
    * longs keyed by id or (band, key). Per nightly batch the cost is
    * O(batch + matched base postings), not O(corpus).
    */
  def minhashNearDupIncremental(newDocs: DataFrame, artifactDir: String,
                                k: Int = 32, threshold: Double = 0.3): DataFrame =
    minhashIncrementalFromHashes(shingleHashes(newDocs).localCheckpoint(),
      artifactDir, k, threshold)

  /** [[minhashNearDupIncremental]] from an already-tokenized new-batch
    * hash frame — the seam the governed incremental router uses so a
    * banded decision re-tokenizes nothing.
    */
  private def minhashIncrementalFromHashes(newHashes: DataFrame,
      artifactDir: String, k: Int, threshold: Double): DataFrame = {
    val spark = newHashes.sparkSession
    val newBands = bandRows(newHashes, k)
    val allBands = spark.read.parquet(s"$artifactDir/bands").unionByName(newBands)
    val candIds = allBands.as("a")
      .join(newBands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val allHashes = spark.read.parquet(s"$artifactDir/hashes").unionByName(newHashes)
    verifyPairs(candIds, allHashes, threshold)
  }

  /** Near-duplication attributed to SOURCE pairs: the verified
    * [[minhashNearDup]] pair set rolled up to (source, source) cells with
    * pair counts and mean overlap — the redundancy matrix a mixing
    * pipeline reads before weighting sources (two crawls of the same site
    * light up one off-diagonal cell; a source that templates its own
    * pages lights up its diagonal). Unordered cells: (s1 ≤ s2) by
    * least/greatest, so A×B and B×A accumulate together.
    *
    * Cost = the near-dup miner + two id-keyed joins of the (small)
    * verified pair set against the doc→source projection + one tiny
    * aggregate; the rollup adds no payload shuffle.
    */
  def nearDupBySource(documents: DataFrame, k: Int = 32,
                      threshold: Double = 0.3): DataFrame =
    nearDupBySourceFromPairs(documents, minhashNearDup(documents, k, threshold))

  /** [[nearDupBySource]] over an already-mined pair list — the artifact
    * split's rollup face (r18-opt): pairs typically come from
    * [[minhashNearDupFromArtifact]] so the corpus is tokenized once per
    * run, not once per governance consumer.
    */
  def nearDupBySourceFromPairs(documents: DataFrame,
                               pairs: DataFrame): DataFrame = {
    val src = documents.filter(col("source").isNotNull)
      .select(col("doc_id"), col("source"))
    pairs
      .join(src.as("xa"), col("doc_a") === col("xa.doc_id"))
      .join(src.as("xb"), col("doc_b") === col("xb.doc_id"))
      .select(least(col("xa.source"), col("xb.source")).as("s1"),
        greatest(col("xa.source"), col("xb.source")).as("s2"),
        col("jaccard"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("n_pairs"), avg(col("jaccard")).as("avg_jaccard"))
  }

  /** Exact n-gram Jaccard over a bounded id-range (the brute-force
    * baseline the LSH path is verified against). Shingle SETS are carried
    * as hashed longs, not strings — primitive-array set ops in the m²
    * pair loop instead of string comparisons. The FULL 64-bit xxhash64
    * value is kept (no mod-p fold — that would shrink the space to 2^31
    * and make within-set birthday collisions material for 10k+-shingle
    * docs), so this equals string-set Jaccard up to genuine 64-bit
    * collisions, ~n²/2^65 per pair; |A∪B| = |A|+|B|−|A∩B| avoids
    * materializing the union array per pair.
    */
  def ngramJaccard(documents: DataFrame, maxDocId: Long,
                   threshold: Double): DataFrame = {
    val sh = shingleRows(documents.filter(col("doc_id") < maxDocId))
      .groupBy(col("doc_id"))
      .agg(collect_set(xxhash64(col("s"))).as("sh"))
      .withColumn("n", size(col("sh")))
    sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("inter",
        size(array_intersect(col("a.sh"), col("b.sh"))).cast("double"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (col("inter") / (col("a.n") + col("b.n") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Distinct (doc_id, h) shingle-hash rows — the primitive both the
    * prefix table and the verify sets of [[allPairsJaccard]] are built
    * from (one definition so they can never disagree on the set space).
    */
  private[graft] def jaccardShingleHashes(documents: DataFrame): DataFrame =
    shingleRows(documents)
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
      .distinct()

  /** The (doc_id, h, n) PREFIX table of [[allPairsJaccard]] (see its
    * scaladoc for the lossless-prune argument): each doc's p = n −
    * ⌈t·n⌉ + 1 rarest shingles under the global (dfreq, h) order.
    * private[graft] so the preflight spec can count the true candidate
    * join mass against the estimator over the identical table.
    */
  private[graft] def jaccardPrefix(documents: DataFrame,
                                   threshold: Double): DataFrame =
    jaccardPrefixFrom(jaccardShingleHashes(documents), threshold)

  /** [[jaccardPrefix]] from an already-built (doc_id, h) hash frame —
    * the seam that lets the budget-given path of [[allPairsJaccard]]
    * (and the governed router) stable-cut the shingle frame ONCE and
    * derive prefix AND verify sets from it, instead of re-tokenizing
    * the corpus per consumer.
    */
  private[graft] def jaccardPrefixFrom(sh: DataFrame,
                                       threshold: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("dfreq"), col("h"))
    val dfreq = sh.groupBy(col("h")).agg(count(lit(1)).as("dfreq"))
    // merge-hint the corpus-sized joins: post-aggregate size estimates
    // can mislead the planner into BUILDING a broadcast from a
    // million-row side (observed OOM at the 500k-doc stress point);
    // sort-merge never holds a side in memory and the sort keys are the
    // join keys anyway
    sh.join(dfreq.hint("merge"), "h")
      .withColumn("rnk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
      .filter(col("rnk") <=
        col("n") - ceil(lit(threshold) * col("n") - lit(1e-9)) + 1)
      .select(col("doc_id"), col("h"), col("n"))
  }

  /** Σ_k C(cnt_k, 2) over a one-column key frame `k` — the EXACT number
    * of (unordered) row pairs an equi-self-join on `k` emits, i.e. the
    * candidate mass of a prefix-filter join BEFORE its residual filters.
    * One hash aggregate: per-key counts (map-side combined), then one
    * scalar sum — cost is one pass over the prefix table, never a join.
    * Overflow discipline: the per-key c·(c−1) fits a BIGINT until one
    * key holds >3×10⁹ rows, but the SUM across keys can exceed 2⁶³ long
    * before that — and with ANSI off Spark's BIGINT sum wraps SILENTLY,
    * so a monstrous mass could come back negative and sail under any
    * budget. The cross-key sum therefore runs in DECIMAL(38,0) (38
    * digits ≈ 10³⁸ — unreachable: it would take ~10¹⁹ input rows), and
    * a result beyond Long range caps at Long.MaxValue, which refuses
    * against every finite budget — exactly the right failure direction
    * for a guard.
    */
  private def candidatePairMass(keys: DataFrame): Long = {
    val m2 = keys.groupBy(col("k")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c").cast("decimal(38,0)") * (col("c") - lit(1L))).as("m2"))
      .head().getAs[java.math.BigDecimal]("m2")
    if (m2 == null) 0L
    else {
      val half = m2.toBigInteger.shiftRight(1)
      if (half.bitLength >= 63) Long.MaxValue else half.longValueExact()
    }
  }

  /** EXACT corpus-wide all-pairs Jaccard via prefix filtering (Bayardo,
    * Ma & Srikant, "Scaling Up All Pairs Similarity Search", WWW 2007;
    * the SSJoin/PPJoin family) — the exact-recall complement to the LSH
    * miners: [[minhashNearDup]] trades recall for pruning, while this
    * returns EVERY pair with Jaccard ≥ t and still never goes m² on the
    * corpus.
    *
    * The lossless prune: order every document's shingle set by one
    * GLOBAL canonical order (ascending document frequency, rarest
    * first — the paper's candidate-minimizing order; ties on the hash),
    * and keep only each document's first p = n − ⌈t·n⌉ + 1 shingles as
    * its PREFIX. Two sets with J ≥ t must overlap within their
    * prefixes (if all shared tokens hid in the suffixes, the overlap
    * would be ≤ n − p < t-feasible), so the equi-join of prefixes on
    * the shingle hash yields a guaranteed SUPERSET of true pairs; a
    * size filter (t·max(n_a,n_b) ≤ min(n_a,n_b), since J ≤ min/max)
    * shrinks it further, and the exact set verify decides membership.
    * Both prune bounds carry a 1e-9 slack so double rounding can only
    * ADMIT extra candidates, never drop a true pair — exactness is
    * decided by the verify alone.
    *
    * Shape at 100 TB: document frequencies are one hash aggregate; the
    * per-doc rank window partitions by doc_id (never global); prefixes
    * carry (doc_id, h, n) only; the candidate join keys on the shingle
    * hash where rarest-first prefixes keep per-key groups small (a
    * common token enters a prefix only for documents too small to have
    * rarer ones); the verify joins hashed-shingle SETS by id — the
    * candidate list, not the corpus, pays the set intersection.
    */
  def allPairsJaccard(documents: DataFrame, threshold: Double,
                      maxCandidatePairs: Long = Long.MaxValue): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    if (maxCandidatePairs == Long.MaxValue) {
      // Budget-free (the default): ONE stable-cut tokenize+distinct
      // serves prefix AND verify sets — the same shape the budget path
      // below and the governed router run. The r16-era lazy form re-ran
      // the (doc, h) subtree per consumer: the r18-opt AQE-final plan
      // (plans/r18/jaccard_allpairs_before.txt) shows THREE full corpus
      // scans+explodes — exchange reuse recovers the candidate legs and
      // the verify-set legs, but the dfreq branch's subtree differs
      // canonically (an isnotnull(doc_id) pushed into only the window
      // branches), so the tokenize itself never unified. Measured at
      // sf0.1: 5.60 s → see OPTIMIZATION_r18.md for the after number.
      val sh = Checkpoints.stable(jaccardShingleHashes(documents))
      val pref = Checkpoints.stable(jaccardPrefixFrom(sh, threshold))
      allPairsJaccardCore(pref, sh, threshold)
    } else {
      // Candidate-mass PREFLIGHT (opt-in via a finite budget): the r16
      // stress run MEASURED what an ungoverned launch costs — the
      // flat-df 30× corpus died after 767 s and >69 GB of shuffle spill
      // (bench/r16_stress_scaling.json) — so a caller-bounded run counts
      // the join mass FIRST (one hash aggregate over the prefix table:
      // Σ_h C(cnt_h, 2), exactly the rows the candidate self-join will
      // emit before its size filter) and refuses with the estimate
      // instead of launching the death march. The SHINGLE frame is
      // stable-cut once (r17 verdict #1: cutting only the prefix made
      // the verify sets re-scan + re-tokenize the corpus) so prefix,
      // preflight and sets all derive from ONE tokenize+distinct; the
      // prefix gets its own cut on top because three consumers (the
      // mass aggregate and both candidate legs) would otherwise re-run
      // the dfreq join + rank window.
      val sh = Checkpoints.stable(jaccardShingleHashes(documents))
      val pref = Checkpoints.stable(jaccardPrefixFrom(sh, threshold))
      val mass = candidatePairMass(pref.select(col("h").as("k")))
      if (mass > maxCandidatePairs) {
        // a refusal must leave zero resident state (r17 ADVICE #3)
        Checkpoints.release(pref)
        Checkpoints.release(sh)
        throw CandidateMassExceeded("allPairsJaccard", mass, maxCandidatePairs)
      }
      allPairsJaccardCore(pref, sh, threshold)
    }
  }

  /** Candidate join + exact-set verify of [[allPairsJaccard]] from a
    * prepared prefix table and (doc_id, h) shingle frame (see its
    * scaladoc for the lossless-prune argument). The seam the governed
    * router and the budget-given path share with the default path.
    */
  private def allPairsJaccardCore(pref: DataFrame, sh: DataFrame,
                                  threshold: Double,
                                  bIds: Option[DataFrame] = None): DataFrame = {
    // Optional b-leg restriction (r18-opt, the incremental router's
    // seam): when only pairs whose LARGER id lies in `bIds` are wanted,
    // a batch-sized semi-join on the PREFIX leg prunes the candidate
    // join's b side before it runs — byte-identical output to filtering
    // the full pair set afterwards (doc_a < doc_b, so doc_b ∈ bIds is
    // decided entirely by the b leg), without paying the base×base
    // candidate mass just to discard it.
    val prefB = bIds.fold(pref)(ids =>
      pref.join(ids.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi"))
    val cand = pref.as("a").join(prefB.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n"), col("b.n")).cast("double") >=
            lit(threshold) * greatest(col("a.n"), col("b.n")) - lit(1e-9))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sets = sh.groupBy(col("doc_id"))
      .agg(collect_set(col("h")).as("sh"))
      .withColumn("n", size(col("sh")))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sa"),
        col("n").as("na")).hint("merge"), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sb"),
        col("n").as("nb")).hint("merge"), "doc_b")
      .withColumn("inter",
        size(array_intersect(col("sa"), col("sb"))).cast("double"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Asymmetric containment near-dup — the subset case symmetric Jaccard
    * misses: a short document quoted wholesale inside a long one has
    * J = |A|/|B| (tiny when |B| ≫ |A|) but containment
    * C = |A∩B| / min(|A|, |B|) ≈ 1. Flags the pair when either side is
    * nearly contained in the other — the "quote inclusion / superset
    * page" family a training-corpus dedup must catch that [[ngramJaccard]]
    * and the LSH path (tuned for symmetric overlap) score far below
    * threshold.
    *
    * Same bounded brute-force contract as [[ngramJaccard]] (an id-capped
    * labeled baseline, not a production path — the production route is
    * the banded-LSH candidate join with this containment formula swapped
    * into the verify step): 3-gram shingle SETS as primitive long arrays
    * of FULL 64-bit xxhash64 values (collision odds ~n²/2^65 per pair,
    * vs material birthday collisions in a mod-2^31 fold), |A∩B| via one
    * array_intersect per pair, min via `least`.
    */
  def containmentPairs(documents: DataFrame, maxDocId: Long,
                       threshold: Double): DataFrame = {
    val sh = shingleRows(documents.filter(col("doc_id") < maxDocId))
      .groupBy(col("doc_id"))
      .agg(collect_set(xxhash64(col("s"))).as("sh"))
      .withColumn("n", size(col("sh")))
    sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("inter",
        size(array_intersect(col("a.sh"), col("b.sh"))).cast("double"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"),
        (col("inter") / least(col("a.n"), col("b.n"))).as("containment"))
      .filter(col("containment") >= threshold)
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash over whitespace tokens: per bit, sum ±1 weighted by
    * token multiplicity; bit set iff the sum is positive. Near-dup docs
    * land within small Hamming distance.
    *
    * Same shape rule as MinHash: tokens EXPLODE to rows, one codegen'd
    * xxhash64 each, then a single hash aggregate computes the 64
    * bit-vote sums (map-side combined), and the signature folds from the
    * 64 columns. No interpreted higher-order functions in the hot path.
    */
  def simhash(documents: DataFrame): DataFrame = {
    val votes = documents
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("t"))
      .withColumn("h", xxhash64(col("t")))
    val bitAggs = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"v_$b")
    }
    val sig = (0 until 64).map { b =>
      when(col(s"v_$b") > 0L, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    votes.groupBy(col("doc_id")).agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
      .withColumn("popcount", bit_count(col("simhash")))
  }

  /** Engine-agnostic SimHash: 32-bit signature whose per-token hash is
    * the first 8 hex chars of md5 — reproducible by ANY engine (DuckDB:
    * `CAST('0x'||substr(md5(t),1,8) AS BIGINT)`), so unlike the
    * xxhash64-seeded [[simhash]] this one is fully oracle-able. Same
    * scale shape: explode → one codegen'd hash per token → single
    * hash aggregate of 32 bit-vote sums, map-side combined.
    */
  def simhashMd5(documents: DataFrame): DataFrame = {
    val votes = documents
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("t"))
      // graft_md5u32 = conv(substring(md5(t),1,8),16,10)::LONG with a
      // reused digest and no hex/substring/parse string churn per token
      .withColumn("h", call_function("graft_md5u32", col("t")))
    val bitAggs = (0 until 32).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"v_$b")
    }
    val sig = (0 until 32).map { b =>
      when(col(s"v_$b") > 0L, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    votes.groupBy(col("doc_id")).agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id"), sig.as("simhash32"))
  }

  /** Engine-agnostic MinHash: k signature columns, each the MINIMUM md5
    * over the doc's 3-gram shingles under a distinct salt (`"$i:" ++
    * shingle`). Hex-string min == unsigned numeric min, and md5 is
    * universal, so the whole signature matrix is exactly reproducible in
    * SQL — the oracle-able twin of [[minhashSignatures]] (which stays
    * the fast path: one xxhash64 + k affine remixes beats k md5s).
    * Duplicates need no dedup: min() absorbs them.
    */
  def minhashSignaturesMd5(documents: DataFrame, k: Int = 8): DataFrame = {
    // The salted digest runs as graft_md5pre (one REUSED MessageDigest,
    // raw 16-byte output) and the min aggregates over BINARY — unsigned
    // lexicographic, the same order as the hex string — with the hex
    // spelling reconstructed once per (doc, i) at the end. Same winner,
    // same output strings, ~1/8 the aggregated bytes and none of the
    // per-(row, salt) concat + fresh-digest + hex-encode churn the
    // md5(concat(...)) spelling pays.
    val aggs = (0 until k).map { i =>
      min(call_function("graft_md5pre", lit(s"$i:"), col("s"))).as(s"bin_$i")
    }
    shingleRows(documents).groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id") +: (0 until k).map(i =>
        lower(hex(col(s"bin_$i"))).as(s"mh_$i")): _*)
  }

  /** SimHash near-dup PAIR MINING — [[simhash]]'s missing second half
    * (the analogue of [[minhashNearDup]]'s band join). The 64-bit
    * signature splits into 4 16-bit bands; docs sharing any band value
    * become candidates (pigeonhole: Hamming ≤ 3 ⇒ at least one clean
    * band, so recall at the default radius is EXACT, not probabilistic);
    * candidates verify by popcount of XOR. The band join carries only
    * (band, key, id, sig) longs — like every near-dup op here, payloads
    * never shuffle, and candidate volume tracks signature collisions,
    * never n².
    */
  def simhashNearDup(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sigs = simhash(documents).select(col("doc_id"), col("simhash"))
    val bands = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL)).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    // A pair colliding in several bands is emitted ONLY at its first
    // colliding band: both signatures are in the joined row, so "no
    // earlier band collides" is a codegen'd filter — same unique pair
    // set as a distinct(), without re-shuffling the full candidate mass.
    val firstBand = (0 until 4).foldRight(lit(4)) { (b, acc) =>
      when(shiftright(col("a.simhash"), b * 16).bitwiseAND(lit(0xFFFFL)) ===
        shiftright(col("b.simhash"), b * 16).bitwiseAND(lit(0xFFFFL)),
        lit(b)).otherwise(acc)
    }
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter(col("a.band") === firstBand)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** [[simhashNearDup]]'s oracle-able twin: the same banded pair mining
    * over the engine-agnostic 32-bit [[simhashMd5]] signature — 4 bands
    * of 8 bits (pigeonhole: Hamming ≤ 3 ⇒ one clean band, recall exact
    * at the default radius), XOR-popcount verify. Every number on the
    * path — per-token hash, bit votes, band keys, Hamming — is integer
    * arithmetic any engine reproduces, so unlike the xxhash64-seeded
    * fast path the full pair list is DuckDB-checkable. Same scale shape:
    * only (band, key, id, sig) longs enter the join, payloads never
    * shuffle, candidate volume tracks signature collisions, never n².
    */
  def simhashNearDupMd5(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sigs = simhashMd5(documents)
    val bands = sigs.select(col("doc_id"), col("simhash32"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash32"), b * 8).bitwiseAND(lit(0xFFL)).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("simhash32"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    // first-colliding-band emission replaces the distinct() — see
    // simhashNearDup; at 8-bit bands the collision mass is ~n²/256 per
    // band, so skipping its second shuffle is the dominant saving.
    val firstBand = (0 until 4).foldRight(lit(4)) { (b, acc) =>
      when(shiftright(col("a.simhash32"), b * 8).bitwiseAND(lit(0xFFL)) ===
        shiftright(col("b.simhash32"), b * 8).bitwiseAND(lit(0xFFL)),
        lit(b)).otherwise(acc)
    }
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter(col("a.band") === firstBand)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash32").bitwiseXOR(col("b.simhash32"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Benchmark-contamination detection against an EXPLICIT benchmark
    * table (the production shape: the eval set is its own corpus, not a
    * predicate over the training one): training docs sharing ≥
    * `minShared` distinct 3-gram shingles with any benchmark document.
    * The benchmark shingle set — tiny by construction, real eval sets
    * are thousands of docs against a 100 TB corpus — is distinct-hashed
    * and BROADCAST, so the corpus side streams map-only: hash shingle,
    * probe, count. md5 keys make the match set engine-exact
    * (oracle-able), and only 32-hex keys travel, never shingle text.
    */
  def contaminationAgainst(documents: DataFrame, benchmark: DataFrame,
                           minShared: Long = 2L): DataFrame = {
    val sh = shingleRows(documents)
      .select(col("doc_id"), md5(col("s")).as("bh"))
    val bench = shingleRows(benchmark)
      .select(md5(col("s")).as("bh")).distinct()
    sh.join(broadcast(bench), Seq("bh"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("bh")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** [[contaminationAgainst]] with the benchmark membership derived from
    * a doc_id predicate over the same table (the self-contained fixture
    * form; kept for the oracle query that has only one table).
    */
  def contamination(documents: DataFrame, benchmarkMod: Long = 97L,
                    minShared: Long = 2L): DataFrame =
    contaminationAgainst(
      documents.filter(col("doc_id") % benchmarkMod =!= 0L),
      documents.filter(col("doc_id") % benchmarkMod === 0L),
      minShared)

  // ------------------------------------------------------------ embeddings

  private def asDouble(c: Column): Column =
    transform(c, x => x.cast("double"))

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def l2(c: Column): Column = sqrt(dot(c, c))

  // Codegen'd native dot product (graft.functions.DotProductFloat) over
  // the raw float arrays — bit-identical to the cast-then-multiply HOF
  // form above, ~10x cheaper per row.
  private def dotF(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  private def l2F(c: Column): Column = sqrt(dotF(c, c))

  /** Per-vector norm/stat sanity layer (also the array-numeric oracle). */
  def embeddingStats(embeddings: DataFrame): DataFrame = {
    val e = asDouble(col("embedding"))
    embeddings.select(
      col("vec_id"), col("label"),
      size(col("embedding")).as("dim"),
      l2(e).as("l2norm"),
      aggregate(e, lit(0.0), (acc, x) => acc + x).as("sum_vals"))
  }

  /** Brute-force cosine top-k against the vector with id `queryId` — the
    * exact baseline. One broadcast of the single query row, one pass over
    * the corpus, TakeOrderedAndProject for the top-k: no shuffle of the
    * embedding payload at any point.
    */
  def cosineTopK(embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    embeddings.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        (dotF(col("embedding"), col("q_emb")) /
          (l2F(col("embedding")) * l2F(col("q_emb"))))
          .as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Cross-modal near-dup adjudication: lexical candidate pairs (n-gram
    * Jaccard) annotated with the SEMANTIC similarity of the same
    * documents' embeddings — the multi-signal curation stage that
    * separates true near-dups (high overlap AND high cosine) from
    * template/boilerplate collisions (high overlap, low cosine —
    * shared scaffolding around different content). Runs on the bounded
    * lexical baseline here; in production the pair source is the
    * banded-LSH miner and this stage is one id-equi-join per side
    * against the embedding table — pairs carry (ids, jaccard, cosine)
    * only, never two payloads.
    */
  def dedupEnsemble(documents: DataFrame, embeddings: DataFrame,
                    maxDocId: Long, threshold: Double): DataFrame =
    dedupEnsembleFromPairs(ngramJaccard(documents, maxDocId, threshold),
      embeddings)

  /** [[dedupEnsemble]] over an already-mined lexical pair list — the
    * artifact split's adjudication face (r18-opt): the bounded brute
    * baseline is mined once per curation run; its pair list is then
    * annotated here and closed by the cluster governance consumers,
    * instead of each consumer re-running the m² mine.
    */
  def dedupEnsembleFromPairs(pairs: DataFrame,
                             embeddings: DataFrame): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding"))
    pairs
      .join(e.as("ea"), col("doc_a") === col("ea.vec_id"))
      .join(e.as("eb"), col("doc_b") === col("eb.vec_id"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        (dotF(col("ea.embedding"), col("eb.embedding")) /
          (l2F(col("ea.embedding")) * l2F(col("eb.embedding")))).as("cosine"))
  }

  /** Batched top-k cosine retrieval — the production shape of similarity
    * scoring: MANY query vectors against the corpus at once, each keeping
    * its own top `k`. [[cosineTopK]]'s single-query TakeOrderedAndProject
    * doesn't generalize (one global heap can't hold per-query ranks);
    * the per-query group-limit does: a `row_number` window PARTITIONED BY
    * the query id, which Spark executes as WindowGroupLimit — every
    * partition keeps only its running top-k, nothing global.
    *
    * The query set rides ONE broadcast into a scored map over the corpus
    * (|Q|·n scored pairs carrying (q_id, vec_id, cosine) only — the
    * corpus embedding is read once and never shuffles; only the ranked
    * ≤ |Q|·k survivors leave the map). This registered form scores
    * brute-force — the labeled-oracle baseline; at 100 TB each query
    * routes through an ANN candidate stage first ([[annMd5]] buckets,
    * [[graft.ops.Ivf.annPq]] codes) and this operator ranks the
    * candidates, same plan either way.
    */
  def cosineTopKBatch(embeddings: DataFrame, queryMod: Long, k: Int): DataFrame = {
    val q = embeddings.filter(pmod(col("vec_id"), lit(queryMod)) === 0L)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    embeddings
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("label"),
        (dotF(col("embedding"), col("q_emb")) /
          (l2F(col("embedding")) * l2F(col("q_emb"))))
          .as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Int8-quantized cosine top-k: scalar quantization (symmetric absmax
    * scale, q = round(127·x/absmax)) shrinks the scanned payload 4× vs
    * float32 — at 100 TB of embeddings the scan is bandwidth-bound, so the
    * byte width of the hot column IS the latency — then an integer-dot
    * candidate pass picks `rerankFactor·k` ids and the exact float cosine
    * re-ranks only those. Same scan/broadcast shape as [[cosineTopK]]
    * (query row + 1-row absmax broadcast, TakeOrderedAndProject, no
    * embedding shuffle).
    *
    * Engine-exactness: absmax is an order-free max; the quantization
    * expression (one multiply, one divide, half-away round) and the
    * integer dot (exact BIGINTs, order-free sum) reproduce bit-for-bit in
    * any engine, so the DuckDB oracle mirrors the two-stage algorithm and
    * hash-matches REGARDLESS of quantization recall; recall itself
    * (top-k equal to the exact brute force) is pinned in SimilaritySpec
    * against [[cosineTopK]] on the testdata.
    *
    * Degenerate corpora: an all-zero corpus (absmax 0 — quantization
    * scale undefined) fails with a NAMED in-plan error rather than an
    * opaque ANSI cast failure; an empty corpus returns an empty result
    * when the optimizer folds it away (LocalRelation) and the named
    * error otherwise.
    */
  def annQuantized(embeddings: DataFrame, queryId: Long, k: Int,
                   rerankFactor: Int = 4): DataFrame = {
    val embD = transform(col("embedding"), x => x.cast("double"))
    // Degenerate-corpus guard: an empty or all-zero corpus gives a
    // null/0 absmax, and 127.0/am would then ANSI-throw deep inside the
    // quantize cast with an opaque message. The guard lives INSIDE the
    // consumed column (not a separate assert column Catalyst could
    // prune away), so the failure is immediate and named.
    val am = embeddings.agg(
        max(array_max(transform(col("embedding"), x => abs(x.cast("double")))))
          .as("am0"))
      .select(when(col("am0").isNotNull && col("am0") > 0.0, col("am0"))
        .otherwise(raise_error(concat(
          lit("annQuantized: empty or all-zero embedding corpus (absmax="),
          coalesce(col("am0").cast("string"), lit("null")),
          lit(") — quantization scale undefined"))).cast("double"))
        .as("am"))
    val quantized = embeddings
      .crossJoin(broadcast(am))
      .select(col("vec_id"), col("label"), col("embedding"),
        transform(embD, x => round(x * lit(127.0) / col("am")).cast("long"))
          .as("qv"))
    val q = quantized.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"), col("qv").as("q_qv"))
    val candidates = quantized.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("int_dot",
        aggregate(zip_with(col("qv"), col("q_qv"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x))
      .orderBy(col("int_dot").desc, col("vec_id").asc)
      .limit(rerankFactor * k)
    candidates
      .select(col("vec_id"), col("label"),
        (dotF(col("embedding"), col("q_emb")) /
          (l2F(col("embedding")) * l2F(col("q_emb"))))
          .as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Embedding-cosine near-dup PAIR MINING (all-corpus, not single-query):
    * bucket every vector by hyperplane signature, pairwise-verify cosine
    * only WITHIN buckets — candidate volume tracks cluster density, never
    * n². The embedding analogue of [[minhashNearDup]]. Pairs at cosine ≥
    * `threshold` within a shared bucket are reported; like all LSH, recall
    * of weakly-similar pairs is traded for pruning (tests pin high recall
    * on genuinely clustered corpora).
    */
  /** Hyperplane count sized FROM THE DATA: 2^nPlanes buckets such that
    * the expected bucket population stays ≈ `targetBucketRows`. This is
    * the invariant that keeps [[embNearDup]] scale-safe — within-bucket
    * pairing is m², so a FIXED plane count silently degrades to
    * near-all-pairs as the corpus grows; the plane count must grow as
    * log2(n). Cardinality comes from one HLL++ scan
    * (`approx_count_distinct`, fixed-size sketch); on a lake table,
    * substitute the catalog row-count statistic and skip the scan.
    */
  def planesFor(embeddings: DataFrame, targetBucketRows: Long = 64L): Int = {
    val n = embeddings.agg(approx_count_distinct(col("vec_id")).as("n"))
      .head.getLong(0)
    val p = math.ceil(
      math.log(math.max(n.toDouble / targetBucketRows, 1.0)) / math.log(2.0)).toInt
    math.min(math.max(p, 2), 24)
  }

  /** Embedding width from one LIMIT-1 peek: a plane family narrower
    * than the data silently ignores the tail dimensions (two vectors
    * differing only past the plane width always co-bucket) - the same
    * silent-truncation class the PQ dim guard closes.
    */
  private def derivedDim(embeddings: DataFrame): Int = {
    val h = embeddings.select(size(col("embedding")).as("d")).head(1)
    require(h.nonEmpty, "embNearDup: embeddings input is empty - cannot derive dim")
    h(0).getInt(0)
  }

  /** [[embNearDup]] with the plane count derived via [[planesFor]] and
    * the plane WIDTH derived from the data. */
  def embNearDupAuto(embeddings: DataFrame, threshold: Double,
                     targetBucketRows: Long = 64L): DataFrame =
    embNearDup(embeddings, threshold, planesFor(embeddings, targetBucketRows),
      derivedDim(embeddings))

  def embNearDup(embeddings: DataFrame, threshold: Double,
                 nPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val bucketed = embeddings
      .select(col("vec_id"), col("embedding"),
        hyperplaneBucket("embedding", nPlanes, dim).as("bucket"))
    bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        (dotF(col("a.embedding"), col("b.embedding")) /
          (l2F(col("a.embedding")) * l2F(col("b.embedding")))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** BANDED (multi-table) hyperplane near-dup mining — the amplification
    * step [[embNearDup]]'s single table lacks: one signature of r planes
    * catches a cosine-t pair with probability only pᵣ = (1 − θ(t)/π)^r
    * (measured 0.092 recall at t = 0.4, r = 5 on the sf0.1 corpus —
    * exactly the closed form), while L independent tables OR-amplify to
    * 1 − (1 − pᵣ)^L. This is the same band discipline
    * [[minhashNearDup]] applies to Jaccard, ported to the cosine
    * family: table t owns plane slice [t·r, (t+1)·r) of the shared
    * deterministic sequence.
    *
    * Shape at scale: the per-table tagging explodes to (vec_id, tbl,
    * bucket) rows — ids only, L rows per vector, the embedding payload
    * NEVER rides the candidate join; candidates dedupe on (vec_a,
    * vec_b) before the exact-cosine verify joins the payload back once
    * per side. Precision is 1.0 by construction (every candidate is
    * verified with the exact cosine); recall is the L-table
    * amplification bound.
    */
  /** Exact skew-balanced within-group id-pair enumeration — the
    * [[Ivf]] partner-bucket decomposition applied to candidate
    * generation: a plain self-join on the group key sends ALL of a hot
    * group's pairs to ONE reducer (hyperplane sign buckets skew hard on
    * clustered corpora — planes through the origin cannot split a tight
    * cluster). Each group of size sz splits into ceil(sz/pairTarget)
    * MONOTONE id-range sub-buckets; the y side keys by its own
    * sub-bucket, the x side replicates to partner sub-buckets at-or-
    * above its own, so every unordered (idA < idB) pair meets exactly
    * once and per-task pair work is bounded by ~sz·pairTarget. `tagged`
    * is cut ([[Checkpoints.stable]]) because it feeds both join sides —
    * without it the (expensive) bucket computation runs twice.
    */
  private def balancedIdPairs(tagged: DataFrame, keys: Seq[String],
                              pairTarget: Int = 1250,
                              pairFilter: Option[Column] = None): DataFrame = {
    val keyCols = keys.map(col)
    val sizes = tagged.groupBy(keyCols: _*)
      .agg(count(lit(1)).as("gsz"),
        min(col("vec_id")).as("gmin"), max(col("vec_id")).as("gmax"))
      .select(keyCols ++ Seq(
        ceil(col("gsz").cast("double") / pairTarget).cast("int").as("nb"),
        col("gmin"), col("gmax")): _*)
    val g = Checkpoints.stable(tagged.join(sizes, keys))
    val bk = least(col("nb") - lit(1),
      floor((col("vec_id") - col("gmin")).cast("double")
        / (col("gmax") - col("gmin") + lit(1L)).cast("double")
        * col("nb")).cast("int")).as("bk")
    val x = g.withColumn("bk", bk)
      .withColumn("pb", explode(sequence(col("bk"), col("nb") - 1)))
      .drop("bk")
    val y = g.withColumn("pb", bk)
    val cond = (keys :+ "pb").map(k => col(s"x.$k") === col(s"y.$k"))
      .reduce(_ && _) && col("x.vec_id") < col("y.vec_id")
    // pairFilter (referencing x.* / y.* — any non-key column of `tagged`
    // rides both sides) is applied BEFORE the pair projection, so
    // Catalyst folds it into the join condition: the banded miners'
    // first-colliding-table verdict kills the ~L× cross-table candidate
    // multiplicity inside the join instead of shuffling it into a
    // distinct() (bench/r15_md5_twins.json: that cut dominates the
    // 192.5→17.9 s twin rewrite).
    val joined = x.as("x").join(y.as("y").hint("shuffle_hash"), cond)
    pairFilter.fold(joined)(joined.filter)
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
  }

  /** Packed per-table signature words for a banded family: word w packs
    * tables [w·tpw, (w+1)·tpw), tpw = ⌊63/r⌋ tables per word (bit 63
    * unused), table t's bucket at bit offset (t − w·tpw)·r — the layout
    * [[graft.functions.FirstMatchedGroup]] walks. One projection computes
    * ALL nTables·r plane sign bits per row (each a codegen'd dot over
    * `signBit`), so the signature rides the candidate join in
    * ⌈L/tpw⌉ longs instead of L separate bucket rows' worth of state.
    */
  private def packedSignature(signBit: Int => Column, nTables: Int,
                              planesPerTable: Int): Column = {
    require(planesPerTable >= 1 && planesPerTable <= 63,
      s"packedSignature: planesPerTable must be in [1,63], got $planesPerTable")
    val tpw = 63 / planesPerTable
    val nWords = (nTables + tpw - 1) / tpw
    array((0 until nWords).map { w =>
      val tmax = math.min((w + 1) * tpw, nTables)
      (w * tpw until tmax).flatMap { t =>
        (0 until planesPerTable).map { j =>
          when(signBit(t * planesPerTable + j),
            lit(1L << ((t - w * tpw) * planesPerTable + j))).otherwise(lit(0L))
        }
      }.reduce(_ + _)
    }: _*)
  }

  /** Per-table bucket columns extracted from a packed `sig` word array
    * (the [[packedSignature]] layout): bucket(t) = the r-bit group t.
    */
  private def sigBuckets(sig: Column, nTables: Int,
                         planesPerTable: Int): Seq[Column] = {
    val tpw = 63 / planesPerTable
    val mask = (1L << planesPerTable) - 1
    (0 until nTables).map { t =>
      shiftright(element_at(sig, t / tpw + 1), (t % tpw) * planesPerTable)
        .bitwiseAND(lit(mask))
    }
  }

  /** The shared banded candidate miner: tag each vector into its L
    * per-table buckets, enumerate within-bucket id pairs with the skew-
    * balanced split, and emit each pair ONLY at its FIRST colliding
    * table — `graft_firstmatch` over the packed signatures both sides
    * carry, evaluated inside the join, so the cross-table multiplicity
    * (a true near-dup collides in ~all L tables on a cluster-heavy
    * corpus) never shuffles. Used by both the production float-plane
    * form and the md5 oracle twin — one copy of the pairing scaffold,
    * one place to retune pairTarget.
    */
  private def bandedFirstCollidePairs(packed: DataFrame, nTables: Int,
                                      planesPerTable: Int): DataFrame = {
    val tagged = packed.select(col("vec_id"), col("sig"),
      posexplode(array(sigBuckets(col("sig"), nTables, planesPerTable): _*))
        .as(Seq("tbl", "bucket")))
    balancedIdPairs(tagged, Seq("tbl", "bucket"),
      pairFilter = Some(call_function("graft_firstmatch",
        col("x.sig"), col("y.sig"),
        lit(planesPerTable), lit(nTables)) === col("x.tbl")))
  }

  def embNearDupBanded(embeddings: DataFrame, threshold: Double,
                       nTables: Int, planesPerTable: Int,
                       dim: Int = 64): DataFrame = {
    // ONE projection computes all L·r plane dots per row as codegen'd
    // graft_fddot sign bits packed into ⌈L·r/63⌉ signature words — the
    // r15 md5-twin rewrite (192.5→17.9 s same-box at sf1) ported to the
    // production float-plane family. Bucket assignment is bit-identical
    // to the old per-(table, plane) interpreted HOF chain (same widened-
    // double in-order accumulation), so recall is unchanged; the twin's
    // single-long pk generalizes to a word ARRAY because the Auto sizing
    // picks up to L=64 tables × r planes (e.g. 57×7 = 399 sign bits at
    // sf1 — no single long holds them).
    val nPlanes = nTables * planesPerTable
    val planes = planesArrayAt(0, nPlanes, dim)
    // ONE native expression (graft_packsig) computes and packs all L·r
    // sign bits per row in a fixed-size codegen'd loop: the per-plane
    // column composition (L·r `when(graft_fddot ≥ 0, bit)` terms)
    // generated code linear in the plane count inside one unsplittable
    // expression tree, and at the sf1 Auto sizing (252 planes) janino's
    // 64 KB method limit kicked Spark back to INTERPRETED execution for
    // exactly this hot projection (measured in the r17 sf1 run: "Code
    // grows beyond 64 KB" once per pass). Measured under the full sf1
    // subset protocol: 17.2 s interpreted → 10.26 s at HEAD (0.60×,
    // of which ~0.8× is session calmness shared by every arm — net
    // ~1.3× from the codegen restore; bench/r17_sf1_notes.md). The
    // deeper point is STRUCTURAL: the packing stays inside whole-stage
    // codegen at ANY sizing, where the composition's generated size
    // grows with the corpus until it falls out. Buckets bit-identical
    // (DotProductSpec parity incl. ragged/NaN; ANN_RECALL
    // byte-identical).
    val packed = embeddings.select(col("vec_id"),
      call_function("graft_packsig", col("embedding"),
        typedLit(planes.map(_.toSeq).toSeq),
        lit(planesPerTable), lit(nTables)).as("sig"))
    val cand = bandedFirstCollidePairs(packed, nTables, planesPerTable)
    val e = embeddings.select(col("vec_id"), col("embedding"))
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        (dotF(col("ea"), col("eb")) / (l2F(col("ea")) * l2F(col("eb"))))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Joint (planesPerTable, nTables) sizing for [[embNearDupBandedAuto]]:
    * among every r whose amplification 1 − (1 − pᵣ)^L reaches
    * `targetRecall` within the table cap (pᵣ = (1 − θ/π)^r, the standard
    * hyperplane-LSH collision probability), pick the one minimizing the
    * per-row cost model L·r (bucket hashing: r plane dots per table) +
    * L·n/2^(r+1) (expected within-bucket pair combos per row). Returns
    * (r, L, predicted recall).
    *
    * Fixing r from a bucket-size target alone (the first cut) is a trap
    * BOTH ways: r too high makes pᵣ collapse so L hits the cap and
    * recall SILENTLY degrades (measured 0.645 predicted at 20k vectors /
    * threshold 0.4 where the target was 0.9), r too low drowns in m²
    * bucket combos. The optimizer keeps the recall target FEASIBILITY
    * first, cost second; if no r reaches the target under the cap it
    * returns the max-recall configuration — callers get the best
    * achievable point, and the predicted recall says what that is.
    */
  private[graft] def bandedSizing(n: Long, threshold: Double,
                                  targetRecall: Double,
                                  maxTables: Int = 64): (Int, Int, Double) = {
    val pPlane = 1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    def recallOf(r: Int, l: Int): Double =
      1.0 - math.pow(1.0 - math.pow(pPlane, r), l)
    val candidates = (2 to 24).map { r =>
      val pTable = math.pow(pPlane, r)
      val need = math.ceil(math.log1p(-targetRecall) / math.log1p(-pTable))
      val l = math.min(math.max(need, 1.0), maxTables.toDouble).toInt
      val cost = l.toDouble * r + l.toDouble * n.toDouble / (1L << math.min(r + 1, 62))
      (r, l, recallOf(r, l), cost)
    }
    val feasible = candidates.filter(_._3 >= targetRecall)
    val (r, l, rec, _) =
      if (feasible.nonEmpty) feasible.minBy(_._4)
      else candidates.maxBy(_._3)
    (r, l, rec)
  }

  /** [[embNearDupBanded]] sized FROM THE DATA via [[bandedSizing]]
    * (corpus cardinality from one HLL++ scan). The chosen L is the
    * HONEST cost of the requested (threshold, recall) point: weak
    * thresholds at high recall demand many tables (the c-approximate-NN
    * hardness made visible as a knob), which is why production semantic
    * dedup runs at high thresholds.
    */
  def embNearDupBandedAuto(embeddings: DataFrame, threshold: Double,
                           targetRecall: Double = 0.9): DataFrame = {
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall must be in (0,1), got $targetRecall")
    val n = embeddings.agg(approx_count_distinct(col("vec_id")).as("n"))
      .head.getLong(0)
    val (r, l, _) = bandedSizing(n, threshold, targetRecall)
    embNearDupBanded(embeddings, threshold, l, r, derivedDim(embeddings))
  }

  // ---------------------------------------------- md5-seeded ANN twins
  //
  // The L33 precedent (simhashMd5 / minhashSignaturesMd5) applied to the
  // hyperplane tier: the fast paths above derive planes from a
  // splitmix64-style mix no SQL engine reproduces, so ann_lsh /
  // emb_neardup could only ever be rows-only checked. These twins make
  // BUCKET ASSIGNMENT engine-exact:
  //   component(p, d) = (uint32(first 8 hex of md5("p:d")) mod 2001) − 1000
  //     — an integer in [−1000, 1000] any engine computes bit-for-bit;
  //   embeddings quantize by floor(x · 2^20), also exact in any engine;
  //   the plane dot is then PURE BIGINT arithmetic — order-independent,
  //     overflow-free (≤ 64 · 10^3 · 10^7 ≪ 2^63), no float summation
  //     that could flip a sign at the bucket boundary between engines.
  // The xxhash64-seeded forms stay the production fast path (one hash +
  // affine remixes beat 6 md5-seeded 64-term dots); the twins exist so
  // the DuckDB oracle can reproduce the candidate sets hash-exactly.

  private[ops] def md5PlaneComp(p: Int, d: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$p:$d".getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex, 16) % 2001L - 1000L
  }

  /** Sign-pattern bucket over the md5-seeded integer plane family —
    * exact BIGINT arithmetic end-to-end (see block comment above).
    */
  private[ops] def md5Bucket(embCol: String, nPlanes: Int, dim: Int): Column =
    md5BucketAt(embCol, 0, nPlanes, dim)

  /** Per-table md5 bucket over planes [startPlane, startPlane+nPlanes) —
    * the banded twin's table t owns a disjoint slice of the md5 plane
    * sequence, mirroring [[hyperplaneBucketAt]].
    */
  private[ops] def md5BucketAt(embCol: String, startPlane: Int,
                               nPlanes: Int, dim: Int): Column = {
    val qEmb = transform(col(embCol),
      x => floor(x.cast("double") * lit(1048576.0)))
    (0 until nPlanes).map { p =>
      val comps = array((0 until dim).map(d =>
        lit(md5PlaneComp(startPlane + p, d))): _*)
      val dotI = aggregate(zip_with(qEmb, comps, (x, y) => x * y),
        lit(0L), (acc, x) => acc + x)
      when(dotI >= 0L, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** [[annLsh]]'s oracle-able twin: same in-plan multi-probe search, md5
    * plane family. Fixed `nPlanes` (the oracle SQL inlines the same
    * constant); radius-1 probes touch (nPlanes+1)/2^nPlanes of buckets.
    */
  def annMd5(embeddings: DataFrame, queryId: Long, k: Int,
             nPlanes: Int = 6, probeRadius: Int = 1,
             dim: Int = 64): DataFrame = {
    val bucketed = embeddings
      .withColumn("bucket", md5Bucket("embedding", nPlanes, dim))
    val q = bucketed.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"), col("bucket").as("q_bucket"))
    bucketed.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .filter(bit_count(col("bucket").bitwiseXOR(col("q_bucket"))) <= probeRadius)
      .select(col("vec_id"), col("label"),
        (dotF(col("embedding"), col("q_emb")) /
          (l2F(col("embedding")) * l2F(col("q_emb")))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** [[embNearDup]]'s oracle-able twin: same-bucket pair mining over the
    * md5 plane family + exact cosine verify.
    */
  def embNearDupMd5(embeddings: DataFrame, threshold: Double,
                    nPlanes: Int = 6, dim: Int = 64): DataFrame = {
    val bucketed = embeddings
      .select(col("vec_id"), col("embedding"),
        md5Bucket("embedding", nPlanes, dim).as("bucket"))
    bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        (dotF(col("a.embedding"), col("b.embedding")) /
          (l2F(col("a.embedding")) * l2F(col("b.embedding")))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** [[embNearDupBanded]]'s oracle-able twin: the same per-table tag →
    * candidate-dedup → exact-verify shape over the md5 plane family
    * (bucket assignment pure BIGINT arithmetic — any engine reproduces
    * the candidate set bit-for-bit). Fixed (nTables, planesPerTable):
    * the oracle SQL inlines the same constants.
    */
  def embNearDupBandedMd5(embeddings: DataFrame, threshold: Double,
                          nTables: Int = 8, planesPerTable: Int = 3,
                          dim: Int = 64): DataFrame = {
    // ONE quantization + nPlanes native integer dots per row, packed via
    // the SHARED [[packedSignature]] layout (8 tables × 3 bits fit one
    // word — the same bit positions the r15 single-long pk used, so
    // per-table buckets are bit-for-bit the old md5BucketAt values and
    // the DuckDB oracle is untouched), then the shared
    // [[bandedFirstCollidePairs]] scaffold: the production float-plane
    // form and this twin now differ ONLY in their sign-bit arithmetic.
    val nPlanes = nTables * planesPerTable
    require(nPlanes <= 63, s"md5 twin packs one word: <= 63 planes, got $nPlanes")
    val qeDf = embeddings.select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * lit(1048576.0))).as("qe"))
    val packed = qeDf.select(col("vec_id"),
      packedSignature(p => call_function("graft_ldot", col("qe"),
        array((0 until dim).map(d => lit(md5PlaneComp(p, d))): _*)) >= 0L,
        nTables, planesPerTable).as("sig"))
    val cand = bandedFirstCollidePairs(packed, nTables, planesPerTable)
    val e = embeddings.select(col("vec_id"), col("embedding"))
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        (dotF(col("ea"), col("eb")) / (l2F(col("ea")) * l2F(col("eb"))))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** The production LAYOUT for [[annLsh]]: the corpus written to parquet
    * partitioned by its hyperplane bucket. At 100 TB this is the whole
    * point of the LSH — a query then touches only the probe buckets'
    * partitions (directory-level partition pruning at the scan), i.e.
    * sum(C(nPlanes, i), i ≤ probeRadius) / 2^nPlanes of the data, instead
    * of filtering every row after reading it.
    */
  def writeAnnLayout(embeddings: DataFrame, layoutDir: String,
                     nPlanes: Int = 4, dim: Int = 64): Unit = {
    embeddings.withColumn("bucket", hyperplaneBucket("embedding", nPlanes, dim))
      // cluster by the partition key before the partitioned write: one
      // task owns one bucket, so the layout is one file per bucket
      // instead of (tasks × buckets) small files — at many-plane counts
      // the unclustered write is the dominant build cost (measured 3×
      // at 2048 buckets in graft.Stress)
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(layoutDir)
  }

  /** Incremental index maintenance for the hyperplane-LSH layout — the
    * [[graft.ops.Ivf.appendToLayout]] counterpart for [[writeAnnLayout]]
    * directories, and strictly CHEAPER than IVF's: the plane family is
    * deterministic and data-INDEPENDENT (fixed splitmix64 mix of
    * (plane, dim) — nothing was trained on the resident corpus), so an
    * appended batch hashes into exactly the buckets a from-scratch
    * rebuild would put it in, there is no centroid-drift failure mode,
    * and no retrain trigger needs monitoring. New rows append
    * partition-wise (cost ∝ batch, the corpus is never touched);
    * probes ([[annLshProbe]] / [[annLshProbeAdaptive]]) see old+new
    * rows immediately through the same partition-pruned scan.
    *
    * `nPlanes`/`dim` must match the layout's build parameters — the same
    * caller-owns-params contract every probe already carries. The
    * too-FEW-planes mistake is caught structurally (a cheap directory
    * listing: an existing `bucket=` partition ≥ 2^nPlanes proves the
    * layout was built with more planes); the converse (appending with
    * more planes than the build) is indistinguishable from a sparse
    * layout and stays on the documented contract.
    *
    * Returns the per-bucket append report `(bucket, n_appended)` — the
    * observability row a lake maintenance job logs (bucket-occupancy
    * skew of appends is the only drift-shaped signal this family has).
    */
  def appendToAnnLayout(newVectors: DataFrame, layoutDir: String,
                        nPlanes: Int = 4, dim: Int = 64): DataFrame = {
    val spark = newVectors.sparkSession
    val path = new org.apache.hadoop.fs.Path(layoutDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    // contract-grade errors, not raw Hadoop stack traces (r17 ADVICE
    // #2): a typo'd dir and an empty-but-existing dir both mean "this
    // is not a writeAnnLayout output" — appending would fabricate a
    // layout no build ever produced.
    require(fs.exists(path) && fs.getFileStatus(path).isDirectory,
      s"appendToAnnLayout: $layoutDir does not exist (or is a file) — " +
        "append maintains an EXISTING writeAnnLayout directory; build " +
        "one first with writeAnnLayout")
    val existing = fs.listStatus(path).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("bucket="))
      .map(_.stripPrefix("bucket=").toLong)
    require(existing.nonEmpty,
      s"appendToAnnLayout: $layoutDir contains no bucket= partitions — " +
        "not a writeAnnLayout output; appending here would fabricate a " +
        "layout no build produced (build one first with writeAnnLayout)")
    val over = existing.filter(_ >= (1L << nPlanes))
    require(over.isEmpty,
      s"appendToAnnLayout: layout $layoutDir has bucket partitions " +
        s"${over.sorted.take(3).mkString(",")}… outside 2^$nPlanes — it was " +
        "built with more planes than this append declares; matching " +
        "nPlanes is required or probes would miss the appended rows")
    // stable-cut so the write and the report share one bucketing pass
    val bucketed = Checkpoints.stable(newVectors
      .withColumn("bucket", hyperplaneBucket("embedding", nPlanes, dim)))
    bucketed
      .repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(layoutDir)
    bucketed.groupBy(col("bucket")).agg(count(lit(1)).as("n_appended"))
  }

  /** [[annLsh]] against a [[writeAnnLayout]] directory: the probe-bucket
    * filter is a partition predicate, so Catalyst prunes non-probe bucket
    * directories out of the scan (the plan's PartitionFilters — proven in
    * the spec). Query vector comes from the layout itself by id.
    */
  def annLshBucketed(spark: org.apache.spark.sql.SparkSession,
                     layoutDir: String, queryId: Long, k: Int,
                     nPlanes: Int = 4, probeRadius: Int = 1): DataFrame = {
    val corpus = spark.read.parquet(layoutDir)
    // the by-id lookup scans only the (vec_id, embedding) columns; at
    // production scale the query vector arrives from outside the layout
    // — use annLshProbe directly and skip this scan entirely
    val q = corpus.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
      .head()
    val qEmb = q.getAs[scala.collection.Seq[Float]]("q_emb").toArray
    annLshProbe(spark, layoutDir, qEmb, k, nPlanes, probeRadius,
      excludeId = Some(queryId))
  }

  /** The steady-state probe: the query VECTOR is given (an external
    * embedding — the production case), its bucket is computed driver-side
    * from the shared plane family, and the scan touches ONLY the probe
    * buckets' directories (literal IN-list on the partition column →
    * PartitionFilters prune everything else before any row is read). No
    * full-layout lookup anywhere — this is the latency `ann_probe` and
    * the Stress embeddings section pin.
    */
  def annLshProbe(spark: org.apache.spark.sql.SparkSession,
                  layoutDir: String, qEmb: Array[Float], k: Int,
                  nPlanes: Int = 4, probeRadius: Int = 1,
                  dim: Int = 64,
                  excludeId: Option[Long] = None): DataFrame = {
    val qBucket = bucketOf(qEmb, nPlanes, dim)
    val probes = (0L until (1L << nPlanes))
      .filter(m => java.lang.Long.bitCount(m) <= probeRadius)
      .map(_ ^ qBucket)
    val qCol = array(qEmb.toSeq.map(v => lit(v)): _*)
    val base = spark.read.parquet(layoutDir)
      .filter(col("bucket").isin(probes: _*))
    excludeId.fold(base)(id => base.filter(col("vec_id") =!= id))
      .select(col("vec_id"), col("label"), col("bucket"),
        (dotF(col("embedding"), qCol) /
          (l2F(col("embedding")) * l2F(qCol))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Query-DIRECTED multi-probe bucket selection (Lv et al., "Multi-Probe
    * LSH", VLDB 2007, adapted to the sign-pattern family): a neighbor that
    * lands in a different bucket most likely differs on the planes where
    * the QUERY's own margin |q·plane| is smallest, so buckets are probed
    * in ascending order of the total margin of their flipped planes —
    * strictly better recall per scanned bucket than Hamming-radius
    * probing, which treats a barely-positive plane and an emphatic one as
    * equally likely to flip. `scanBudget` caps the probe set at
    * ⌈budget·2^nPlanes⌉ buckets; the query's own bucket (cost 0) always
    * probes first. Pure driver-side arithmetic over the shared plane
    * family — no Spark job; the result feeds the same partition-pruning
    * IN-list as the fixed-radius probe.
    */
  private[graft] def adaptiveProbeBuckets(qEmb: Array[Float], nPlanes: Int,
                                          dim: Int,
                                          scanBudget: Double): Seq[Long] = {
    require(scanBudget > 0.0 && scanBudget <= 1.0,
      s"scanBudget must be in (0, 1], got $scanBudget")
    val planes = planesArray(nPlanes, dim)
    val margins = Array.tabulate(nPlanes) { p =>
      var s = 0.0
      var i = 0
      while (i < math.min(dim, qEmb.length)) { s += qEmb(i) * planes(p)(i); i += 1 }
      math.abs(s)
    }
    val qBucket = bucketOf(qEmb, nPlanes, dim)
    val nProbes = math.max(1, math.ceil(scanBudget * (1L << nPlanes)).toInt)
    (0L until (1L << nPlanes))
      .sortBy(m => (0 until nPlanes)
        .collect { case p if (m & (1L << p)) != 0 => margins(p) }.sum)
      .take(nProbes)
      .map(_ ^ qBucket)
  }

  /** [[annLshProbe]] with query-directed ADAPTIVE probing — the
    * production registration for `ann_lsh` / `ann_probe`: same
    * directory-pruned scan (the probe set is still a literal IN-list on
    * the partition column), but the probe set comes from
    * [[adaptiveProbeBuckets]] under an explicit scan budget instead of a
    * fixed Hamming radius. The r14 fixed radius-1 route measured
    * recall@10 = 0.8 on the weakly-clustered sf0.1 corpus; the margin-
    * ordered probe buys the tail neighbors that sit just across a
    * low-margin plane (see ANN_RECALL_r15 `ann_lsh_curve` for the
    * measured recall-vs-budget trade).
    */
  def annLshProbeAdaptive(spark: org.apache.spark.sql.SparkSession,
                          layoutDir: String, qEmb: Array[Float], k: Int,
                          nPlanes: Int = 6, scanBudget: Double = 0.375,
                          dim: Int = 64,
                          excludeId: Option[Long] = None): DataFrame = {
    val probes = adaptiveProbeBuckets(qEmb, nPlanes, dim, scanBudget)
    val qCol = array(qEmb.toSeq.map(v => lit(v)): _*)
    val base = spark.read.parquet(layoutDir)
      .filter(col("bucket").isin(probes: _*))
    excludeId.fold(base)(id => base.filter(col("vec_id") =!= id))
      .select(col("vec_id"), col("label"), col("bucket"),
        (dotF(col("embedding"), qCol) /
          (l2F(col("embedding")) * l2F(qCol))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** [[annLshBucketed]] on the adaptive probe route — by-id query lookup
    * then [[annLshProbeAdaptive]].
    */
  def annLshBucketedAdaptive(spark: org.apache.spark.sql.SparkSession,
                             layoutDir: String, queryId: Long, k: Int,
                             nPlanes: Int = 6, scanBudget: Double = 0.375,
                             dim: Int = 64): DataFrame = {
    val corpus = spark.read.parquet(layoutDir)
    val q = corpus.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
      .head()
    val qEmb = q.getAs[scala.collection.Seq[Float]]("q_emb").toArray
    annLshProbeAdaptive(spark, layoutDir, qEmb, k, nPlanes, scanBudget,
      dim, excludeId = Some(queryId))
  }

  /** The deterministic hyperplane family (splitmix64-style mix of
    * (plane, dim) — no RNG state): shared by the bucket EXPRESSION that
    * lays out the corpus and the driver-side bucket of a single query
    * vector, so both sides always agree.
    */
  private def planesArrayAt(startPlane: Int, nPlanes: Int,
                            dim: Int): Array[Array[Double]] = {
    def mix(z0: Long): Double = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      (java.lang.Math.floorMod(z, 2000001L) - 1000000L).toDouble / 1000000.0
    }
    Array.tabulate(nPlanes, dim)((p, d) =>
      mix((startPlane + p).toLong * 1000003L + d))
  }

  private def planesArray(nPlanes: Int, dim: Int): Array[Array[Double]] =
    planesArrayAt(0, nPlanes, dim)

  /** Shared bucket expression: sign pattern of `nPlanes` deterministic
    * hyperplanes (same plane family as [[annLsh]]).
    */
  private[ops] def hyperplaneBucket(embCol: String, nPlanes: Int,
                                    dim: Int): Column =
    hyperplaneBucketAt(embCol, 0, nPlanes, dim)

  /** Same sign-pattern bucket over planes [startPlane, startPlane +
    * nPlanes) — the per-TABLE bucket of the banded (multi-table) LSH
    * family: table t owns a disjoint slice of the shared deterministic
    * plane sequence, so tables are independent hash functions.
    */
  private[ops] def hyperplaneBucketAt(embCol: String, startPlane: Int,
                                      nPlanes: Int, dim: Int): Column = {
    // codegen'd widened float×double dot (graft_fddot) — bit-identical
    // to the old cast-then-multiply HOF chain (same in-order double
    // accumulation), so every historical bucket and the driver-side
    // bucketOf twin are unchanged, at ~10x less per (row, plane); the
    // banded miner pays this nTables×planesPerTable times per row.
    // Planes ship as one array Literal each (typedLit), not CreateArray
    // of dim element literals — the per-element form codegens dim
    // assignments per plane and overflows janino's 64 KB method limit
    // at many-plane counts (see embNearDupBanded). Values identical.
    val planes = planesArrayAt(startPlane, nPlanes, dim)
    (0 until nPlanes).map { p =>
      when(call_function("graft_fddot", col(embCol),
        typedLit(planes(p).toSeq)) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Driver-side bucket of ONE query vector — plain arithmetic over the
    * same plane family, no Spark job. A ragged vector (length ≠ dim) maps
    * to bucket 0, mirroring the expression path exactly: graft_fddot
    * returns NULL on a length mismatch, NULL ≥ 0 is NULL, and the
    * `otherwise(0)` branch zeroes every plane bit — so both sides agree
    * on malformed embeddings too, not just well-formed ones.
    */
  private[ops] def bucketOf(emb: Array[Float], nPlanes: Int, dim: Int): Long = {
    if (emb.length != dim) return 0L
    val planes = planesArray(nPlanes, dim)
    (0 until nPlanes).map { p =>
      var s = 0.0
      var i = 0
      while (i < dim) { s += emb(i) * planes(p)(i); i += 1 }
      if (s >= 0) 1L << p else 0L
    }.sum
  }

  /** Hyperplane-LSH bucketed ANN: `nPlanes` deterministic pseudo-random
    * hyperplanes → 2^nPlanes sign-pattern buckets; multi-probe search of
    * every bucket within Hamming distance `probeRadius` of the query's.
    * The scale path: bucketing is a map; at 100 TB the corpus is written
    * partitioned by `bucket`, so a query scans sum(C(nPlanes,i), i ≤ r) /
    * 2^nPlanes of the data instead of all of it.
    *
    * Recall depends on the data's geometry: for a neighbor at angle θ each
    * plane agrees with probability 1−θ/π, so strongly-similar neighbors
    * (near-dups, cosine ≥ 0.9) are found with high probability, while on
    * uniformly random vectors (no true near neighbors — this corpus'
    * top-10 sit at cosine ≈ 0.3) any sublinear method must trade recall
    * for pruning. Defaults (4 planes, radius 1) scan ~31% of buckets;
    * tighten for clustered corpora.
    */
  def annLsh(embeddings: DataFrame, queryId: Long, k: Int,
             nPlanes: Int = 4, probeRadius: Int = 1, dim: Int = 64): DataFrame = {
    // Hyperplane components are fixed literals baked into the plan
    // (deterministic splitmix64-style mix of (plane, dim) — no RNG state),
    // so bucketing is pure codegen'd arithmetic per row.
    val bucketed = embeddings
      .withColumn("bucket", hyperplaneBucket("embedding", nPlanes, dim))
    val q = bucketed.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"), col("bucket").as("q_bucket"))
    // All XOR masks with popcount ≤ probeRadius, enumerated at plan time.
    val masks = (0L until (1L << nPlanes))
      .filter(m => java.lang.Long.bitCount(m) <= probeRadius)
    val probes = array(masks.map(m => col("q_bucket").bitwiseXOR(lit(m))): _*)
    bucketed.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .filter(array_contains(probes, col("bucket")))
      .select(col("vec_id"), col("label"), col("bucket"),
        (dotF(col("embedding"), col("q_emb")) /
          (l2F(col("embedding")) * l2F(col("q_emb"))))
          .as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** EXACT corpus-wide all-pairs TF-IDF COSINE via suffix-bound prefix
    * filtering — the sparse-VECTOR complement to [[allPairsJaccard]]'s
    * set join (Bayardo et al. WWW'07, the cosine/index-join variant):
    * every document pair whose tf-idf cosine ≥ t, no id cap, no recall
    * loss, never m² on the corpus. Catches the "same topic, reordered/
    * rephrased" family whose shingle-set Jaccard collapses (shingles
    * break under reordering; the bag-of-words vector does not).
    *
    * Engine-exactness by INTEGER quantization (the md5-ANN-twin
    * philosophy): every corpus-wide SUM in the pipeline runs over
    * BIGINTs, so no result ever depends on float summation order —
    *  - tf·idf weights use the Robertson log-free idf
    *    (N − df + 0.5)/(df + 0.5) (pure IEEE ±,/ — identical
    *    everywhere), capped at 2^20 and floor-quantized ×16 to BIGINT;
    *  - the norm is an integer Σwq² (order-free), and each normalized
    *    weight floor-quantizes to wnq ∈ (0, 2^20] through exact-rounded
    *    sqrt/divide and an EXACT ×2^20 (power of two) — bit-identical
    *    in any engine;
    *  - similarity is the integer dot Σ wnq_a·wnq_b ≥ tq = ⌊t·2^40⌋,
    *    so threshold membership is integer-decided (reported cosine_q =
    *    dot/2^40 is one exact division).
    * Overflow is excluded by construction: wq ≤ 2^24 ⇒ Σwq² ≤ 2^57 at
    * 512-term docs; wnq·maxw ≤ 2^40 ⇒ suffix sums and dots ≤ 2^49.
    *
    * The lossless prune: order each document's terms by one GLOBAL
    * canonical order (ascending document frequency, rarest first; ties
    * on the term); with S(j) = Σ_{k≥j} wnq(t_k)·maxw(t_k) (suffix sums
    * over the per-doc window, maxw = corpus max of wnq per term), a
    * qualifying pair's EARLIEST shared term t* — the same term on both
    * sides, because both docs restrict the ONE global order — satisfies
    * dot ≤ S_x(pos_x(t*)) and dot ≤ S_y(pos_y(t*)), so t* lies in the
    * PREFIX {j : S(j) ≥ tq} of BOTH sides: the candidate join is
    * prefix × prefix, and rarest-first keeps the joined postings short
    * (prefix terms are the rare ones under a Zipfian vocabulary).
    *
    * Shape at 100 TB: tf/df/norms are token-volume hash aggregates;
    * the rank/suffix windows partition by doc_id (never global); the
    * candidate join carries (doc_id, term-hash) only; the verify joins
    * feature rows by (doc, term) for candidate pairs only — the
    * candidate list, not the corpus, pays the dot products.
    */
  /** The stable-cut (feats, pref) pair of [[allPairsCosine]] — the
    * normalized-quantized feature rows and the suffix-bound prefix table
    * (see its scaladoc). private[graft] so the preflight spec can count
    * the true candidate-join mass over the identical prefix table the
    * estimator aggregates.
    */
  private[graft] def cosineFeatsAndPrefix(documents: DataFrame,
      threshold: Double): (DataFrame, DataFrame) =
    cosineFeatsAndPrefixImpl(documents, threshold, cutPref = true)

  /** `cutPref=false` (r19-opt) skips the prefix stable-cut: the cut is a
    * value-neutral materialization barrier that pays off only when pref
    * has MULTIPLE consumers (both candidate legs). The preflight-only
    * path ([[cosinePreflight]], data_card's `estimated_pair_mass`)
    * aggregates pref exactly once, so the eager cut job was pure
    * overhead there — one full pass of the prefix build whose output was
    * then re-read once.
    */
  private def cosineFeatsAndPrefixImpl(documents: DataFrame,
      threshold: Double, cutPref: Boolean): (DataFrame, DataFrame) = {
    val W = org.apache.spark.sql.expressions.Window
    val tq = math.floor(threshold * math.pow(2.0, 40)).toLong
    // Stable-cut (r18-opt): tf feeds THREE consumers (dfreq, the corpus
    // size, the weight join) and lazily each re-ran the tokenize+count
    // — the explode never unified across the branches (the dfreq
    // branch's subtree picks up different pushed constraints, the
    // jaccard_allpairs pattern). One token-volume materialization; the
    // feats/pref cuts below are unchanged.
    val tf = Checkpoints.stable(documents
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("t"))
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val nDocs = tf.agg(countDistinct(col("doc_id")).cast("double").as("n"))
    val idf = (col("n") - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    // corpus-sized joins merge-hinted (the allPairsJaccard OOM lesson)
    val wq = tf.join(dfreq.hint("merge"), "t")
      .crossJoin(broadcast(nDocs))
      .withColumn("wq",
        floor(least(col("tf").cast("double") * idf, lit(1048576.0)) * lit(16.0))
          .cast("long"))
      .filter(col("wq") > 0)
    val norms = wq.groupBy(col("doc_id"))
      .agg(sum(col("wq") * col("wq")).as("nx"))
    // Materialization cut: feats feeds SIX consumers (maxw, the prefix
    // window, both candidate legs, both verify vector sides), and
    // without a barrier each consumer re-runs the tokenize→tf→idf→norm
    // subtree — the physical plan shows the corpus scan replicated per
    // branch. One token-volume materialization replaces six passes
    // (reliable checkpoint when a dir is configured, else local — the
    // Checkpoints.stable contract).
    val feats = Checkpoints.stable(wq.join(norms.hint("merge"), "doc_id")
      .withColumn("wnq",
        floor((col("wq").cast("double") / sqrt(col("nx").cast("double"))) *
          lit(1048576.0)).cast("long"))
      .filter(col("wnq") > 0)
      .select(col("doc_id"), col("t"), col("wnq"), col("df")))
    // tf is dead the moment feats materializes (pref derives from feats,
    // not tf) — release it NOW so neither the accepted path nor a
    // downstream CandidateMassExceeded refusal leaves its blocks pinned
    // (the SimilaritySpec refusal-hygiene contract).
    Checkpoints.release(tf)
    val maxw = feats.groupBy(col("t")).agg(max(col("wnq")).as("mw"))
    val suffixW = W.partitionBy(col("doc_id")).orderBy(col("df"), col("t"))
      .rowsBetween(W.currentRow, W.unboundedFollowing)
    // Second cut: both candidate legs consume pref — (id, term) rows,
    // far smaller than feats — so the maxw join + suffix window run once.
    // (Skipped on the single-consumer preflight path: cutPref=false.)
    val prefLazy = feats.join(maxw.hint("merge"), "t")
      .withColumn("s_bound", sum(col("wnq") * col("mw")).over(suffixW))
      .filter(col("s_bound") >= tq)
      .select(col("doc_id"), col("t"))
    val pref = if (cutPref) Checkpoints.stable(prefLazy) else prefLazy
    (feats, pref)
  }

  /** The [[allPairsCosine]] candidate-mass estimate as a ONE-ROW frame
    * `(estimated_pairs)` — the standalone face of the preflight, for
    * capacity planning and governance dashboards ("what would the exact
    * join cost on this corpus?") without ever launching the join. The
    * whole pipeline below the tokenize is BIGINT arithmetic (the
    * [[allPairsCosine]] quantization discipline), so unlike the
    * xxhash64-ranked Jaccard prefix this estimate is ENGINE-EXACT and
    * oracle-able: Σ_t C(cnt_t, 2) over the suffix-bound prefix table is
    * the same number in any engine. Cost: the linear prefix build plus
    * one hash aggregate — never a join.
    */
  def cosinePreflight(documents: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // cutPref=false (r19-opt): the estimate aggregates pref ONCE, so the
    // eager prefix materialization the two-consumer miner path needs is
    // skipped here — the maxw join + suffix window stream straight into
    // the count aggregate. Values identical (the cut was value-neutral).
    val (_, pref) = cosineFeatsAndPrefixImpl(documents, threshold,
      cutPref = false)
    cosinePreflightFromPrefix(pref)
  }

  /** [[cosinePreflight]] over an already-built (typically persisted)
    * prefix table — the artifact split's estimator face (r18-opt): one
    * tf-idf feature build per curation run serves the capacity
    * estimate, the exact miner and the governed router.
    */
  def cosinePreflightFromPrefix(pref: DataFrame): DataFrame =
    // cross-key sum in DECIMAL(38,0) — a silent BIGINT wraparound here
    // would publish a negative "estimate" (r17 ADVICE #1; see
    // candidatePairMass); the output column folds back to BIGINT.
    pref.groupBy(col("t")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c").cast("decimal(38,0)") * (col("c") - lit(1L))),
        lit(java.math.BigDecimal.ZERO)).as("m2"))
      .selectExpr("CAST(m2 DIV 2 AS BIGINT) AS estimated_pairs")

  def allPairsCosine(documents: DataFrame, threshold: Double = 0.5,
                     maxCandidatePairs: Long = Long.MaxValue): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val tq = math.floor(threshold * math.pow(2.0, 40)).toLong
    val (feats, pref) = cosineFeatsAndPrefix(documents, threshold)
    // Candidate-mass PREFLIGHT (opt-in via a finite budget; the
    // allPairsJaccard rationale, and THIS operator is the one the r16
    // stress run measured dying ungoverned — 767 s, >69 GB spill, at
    // only 30× on the flat-df corpus): Σ_t C(cnt_t, 2) over the prefix
    // table is exactly the unordered candidate-pair mass the prefix
    // self-join emits, and `pref` is already stable-cut for the join, so
    // the preflight costs one hash aggregate over it — the governed
    // refusal lands in seconds where the launch took minutes to die.
    if (maxCandidatePairs != Long.MaxValue) {
      val mass = candidatePairMass(pref.select(col("t").as("k")))
      if (mass > maxCandidatePairs) {
        // a refusal must leave zero resident state (r17 ADVICE #3):
        // both cosineFeatsAndPrefix cuts are abandoned by the throw
        Checkpoints.release(pref)
        Checkpoints.release(feats)
        throw CandidateMassExceeded("allPairsCosine", mass, maxCandidatePairs)
      }
    }
    cosineVerifyPairs(cosineCandidates(pref), feats, tq)
  }

  /** [[allPairsCosine]] over already-built (typically persisted)
    * feature/prefix tables — the artifact split's miner face (r18-opt).
    * `pref` must have been built by [[cosineFeatsAndPrefix]] at the SAME
    * threshold (the suffix bound is threshold-dependent); `feats` is
    * threshold-free. Integer-exact end-to-end, so a parquet round-trip
    * changes no value.
    */
  def allPairsCosineFromFeatures(feats: DataFrame, pref: DataFrame,
                                 threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val tq = math.floor(threshold * math.pow(2.0, 40)).toLong
    // hinted=false (r19-opt): artifact-fed tables carry REAL size
    // statistics (parquet file sizes), so the static merge pin that
    // protects the in-memory faces from estimator-invisible post-window
    // sizes is not needed here — the planner broadcasts when the files
    // are provably small and AQE's DynamicJoinSelection re-checks at
    // runtime; a lake-sized artifact keeps the sort-merge plan.
    cosineVerifyPairs(cosineCandidates(pref, hinted = false), feats, tq,
      hinted = false)
  }

  /** The prefix×prefix candidate join of [[allPairsCosine]]. Lossless
    * BECAUSE the order is global: all of a pair's shared terms sort by
    * the one canonical (df, t) key, so the EARLIEST shared term t* is
    * the same on both sides, and dot ≤ S_x(pos_x(t*)) and
    * dot ≤ S_y(pos_y(t*)) put t* inside both prefixes of a qualifying
    * pair. (With per-doc orders this would NOT hold — the two
    * earliest-shared terms could differ.) Merge-hinted when `hinted`:
    * the in-memory faces' prefix sizes are estimator-invisible
    * (post-window filters), and a mis-chosen hash/broadcast join there
    * is the OOM path at scale. Artifact-fed faces pass hinted=false —
    * parquet scans carry real sizes, so the decision is stats-driven
    * (static below the broadcast threshold, AQE DynamicJoinSelection at
    * runtime otherwise) instead of statically pinned.
    */
  private def cosineCandidates(pref: DataFrame,
                               hinted: Boolean = true): DataFrame = {
    val b = if (hinted) pref.as("b").hint("merge") else pref.as("b")
    pref.as("a")
      .join(b,
        col("a.t") === col("b.t") && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
  }

  /** Exact integer-quantized cosine verify of candidate (doc_a, doc_b)
    * id pairs against the [[cosineFeatsAndPrefix]] feature rows — shared
    * by the exact miner and the governed router's banded fallback (same
    * scorer on both arms, so precision is 1 either way and only recall
    * is traded). Verifies against PER-DOC sorted sparse vectors (one
    * ~|terms| row per doc), not per-(doc, term) feature rows: a row-form
    * verify join multiplies every candidate by the doc's term count —
    * measured 4×10⁹ intermediate rows (≈100 GB of shuffle) on the
    * 50k-doc worst-case stress corpus — where this form shuffles nothing
    * but the candidate list plus one vector per doc, and each
    * candidate's dot is ONE codegen'd sorted-merge walk (`graft_sdot`,
    * [[graft.functions.SparseDotSorted]]: O(|a|+|b|), exact string
    * keys). Integer arithmetic unchanged — same exact dot, any
    * summation order.
    */
  private def cosineVerifyPairs(cand: DataFrame, feats: DataFrame,
                                tq: Long, hinted: Boolean = true): DataFrame = {
    val vecs = feats.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("t"), col("wnq")))).as("v"))
    // hinted=false on the artifact faces (r19-opt): `vecs` descends from
    // a parquet scan whose size the planner KNOWS, so the vector attach
    // broadcasts when the feature artifact is small (one doc-keyed hash
    // probe per candidate instead of two candidate-list sorts) and AQE
    // falls back to sort-merge from runtime sizes at lake scale. The
    // in-memory faces keep the static merge pin — their post-aggregate
    // estimates are the documented OOM path.
    def h(df: DataFrame): DataFrame = if (hinted) df.hint("merge") else df
    cand
      .join(h(vecs.select(col("doc_id").as("doc_a"), col("v").as("va"))), "doc_a")
      .join(h(vecs.select(col("doc_id").as("doc_b"), col("v").as("vb"))), "doc_b")
      .withColumn("dot_q", call_function("graft_sdot", col("va"), col("vb")))
      .filter(col("dot_q") >= tq)
      .select(col("doc_a"), col("doc_b"), col("dot_q"),
        (col("dot_q").cast("double") / lit(1099511627776.0)).as("cosine_q"))
  }

  // ------------------------------------------- governed-degradation router

  /** Governed-degradation router over the Jaccard pairing tier — the
    * production compose of the L151 candidate-mass preflight with the
    * two miner families: MEASURE the exact prefix-filter join's
    * candidate mass first (one tokenize + one hash aggregate, linear),
    * then run the EXACT [[allPairsJaccard]] join when the mass clears
    * the caller's budget, or DEGRADE to the banded-LSH miner
    * ([[minhashNearDup]]) when it doesn't — completing either way, with
    * the decision and the measured mass in the returned lineage. This is
    * the pattern a 100 TB curation pipeline actually runs: "exact if
    * affordable, banded otherwise", decided per-corpus by measurement
    * instead of per-incident by a 767 s death march
    * (bench/r16_stress_scaling.json) or a hand-written try/catch around
    * [[CandidateMassExceeded]].
    *
    * Contract: `maxCandidatePairs` must be finite — an unbounded router
    * is just [[allPairsJaccard]]; call that directly. On the exact arm
    * the result is the full exact pair set (the stable-cut shingle frame
    * serves prefix, preflight AND verify sets from one tokenize); on the
    * banded arm it is [[minhashNearDup]]'s exact-verified pair set
    * (precision 1; recall 1−(1−j)^k per pair — ≈1 at the registered
    * thresholds). Cost of a banded decision: the preflight's linear
    * prefix build, released before the fallback runs.
    */
  def neardupGovernedResult(documents: DataFrame, threshold: Double,
                            maxCandidatePairs: Long,
                            k: Int = 32): GovernedPairing = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(maxCandidatePairs > 0L && maxCandidatePairs < Long.MaxValue,
      "neardupGoverned requires a finite positive budget — the router " +
        "exists to decide against it; for an ungoverned exact run call " +
        "allPairsJaccard directly")
    val sh = Checkpoints.stable(jaccardShingleHashes(documents))
    val pref = Checkpoints.stable(jaccardPrefixFrom(sh, threshold))
    val mass = candidatePairMass(pref.select(col("h").as("k")))
    if (mass <= maxCandidatePairs)
      GovernedPairing("exact", mass, maxCandidatePairs,
        allPairsJaccardCore(pref, sh, threshold))
    else {
      // the decision leaves zero resident state behind it — the banded
      // miner builds its own (mod-p folded) hash space
      Checkpoints.release(pref)
      Checkpoints.release(sh)
      GovernedPairing("banded", mass, maxCandidatePairs,
        minhashNearDup(documents, k, threshold))
    }
  }

  /** [[neardupGovernedResult]] flattened for query registration: the
    * verified pairs with the routing decision as constant lineage
    * columns `(method, estimated_pairs)` — a result frame that carries
    * its own provenance ("these pairs are exact" / "these are the
    * banded degrade, and this is the mass that forced it").
    */
  def neardupGoverned(documents: DataFrame, threshold: Double,
                      maxCandidatePairs: Long, k: Int = 32): DataFrame = {
    val g = neardupGovernedResult(documents, threshold, maxCandidatePairs, k)
    g.pairs.withColumn("method", lit(g.method))
      .withColumn("estimated_pairs", lit(g.estimatedPairs))
  }

  /** The governed router's incremental/maintenance face: dedup an
    * arriving batch against the persisted [[writeNearDupIndex]] artifact
    * with the SAME measure-then-route contract — per batch, a
    * maintenance job measures what the EXACT prefix-filter refresh over
    * (base ∪ batch) would cost (the prefix builds on the artifact's
    * hashed shingles, so the 100 TB base corpus is never re-tokenized;
    * cost is one artifact scan + one hash aggregate) and runs it when it
    * clears the budget, else degrades to the banded probe
    * ([[minhashNearDupIncremental]]'s plan, reusing the batch's already-
    * tokenized hashes). Result contract on BOTH arms mirrors
    * [[minhashNearDupIncremental]]: exactly the near-dup pairs whose
    * LARGER id is new, under append-only monotone ids — the exact arm
    * restricts the full join with a batch-sized left-semi on doc_b.
    *
    * This is the L33+L151 compose: yesterday's index makes the nightly
    * batch cheap; the preflight makes the periodic "can we afford a full
    * exact refresh?" question a measured per-batch decision instead of
    * an ops incident, and [[GovernedPairing.estimatedPairs]] is the
    * number a data card publishes as the corpus's pairing mass.
    */
  def neardupGovernedIncrementalResult(newDocs: DataFrame,
      artifactDir: String, threshold: Double, maxCandidatePairs: Long,
      k: Int = 32): GovernedPairing = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(maxCandidatePairs > 0L && maxCandidatePairs < Long.MaxValue,
      "neardupGovernedIncremental requires a finite positive budget — " +
        "for the ungoverned banded probe call minhashNearDupIncremental")
    val spark = newDocs.sparkSession
    val newHashes = shingleHashes(newDocs).localCheckpoint()
    val allHashes = Checkpoints.stable(
      spark.read.parquet(s"$artifactDir/hashes").unionByName(newHashes))
    val pref = Checkpoints.stable(jaccardPrefixFrom(allHashes, threshold))
    val mass = candidatePairMass(pref.select(col("h").as("k")))
    if (mass <= maxCandidatePairs) {
      // exact refresh, measured affordable: the prefix-filter join over
      // the union hash space (identical mod-p space on both sides, so
      // exact-arm and banded-arm jaccard values agree), restricted to
      // the pairs the batch introduces. r18-opt: the restriction now
      // prunes the candidate join's b LEG (a batch-sized semi on the
      // prefix table) instead of semi-joining the FULL pair set after
      // the fact — the base×base candidate mass (the bulk of the union
      // join at any realistic batch share) is never generated or
      // verified. Identical pair set out: doc_a < doc_b, so membership
      // of the larger id is decided entirely on the b leg. The MEASURED
      // mass is unchanged — it still prices the full exact refresh,
      // which is the governance question the preflight answers.
      val newIds = newDocs.select(col("doc_id")).distinct()
      GovernedPairing("exact", mass, maxCandidatePairs,
        allPairsJaccardCore(pref, allHashes, threshold, Some(newIds))
          .select(col("doc_a"), col("doc_b"), col("jaccard")))
    } else {
      Checkpoints.release(pref)
      Checkpoints.release(allHashes)
      GovernedPairing("banded", mass, maxCandidatePairs,
        minhashIncrementalFromHashes(newHashes, artifactDir, k, threshold))
    }
  }

  /** [[neardupGovernedIncrementalResult]] flattened for query
    * registration (the [[neardupGoverned]] convention).
    */
  def neardupGovernedIncremental(newDocs: DataFrame, artifactDir: String,
      threshold: Double, maxCandidatePairs: Long, k: Int = 32): DataFrame = {
    val g = neardupGovernedIncrementalResult(newDocs, artifactDir, threshold,
      maxCandidatePairs, k)
    g.pairs.withColumn("method", lit(g.method))
      .withColumn("estimated_pairs", lit(g.estimatedPairs))
  }

  /** Governed-degradation router over the tf-idf cosine pairing tier —
    * [[neardupGovernedResult]]'s vector-space twin. Exact arm:
    * [[allPairsCosine]]'s prefix-filter join. Banded arm: SimHash IS the
    * hyperplane-LSH family for angular similarity, so candidates come
    * from [[simhashNearDup]]'s banded Hamming mining (bounded by
    * construction: 16-bit band keys cap bucket sizes on any vocabulary,
    * including the flat-df corpus that kills the exact join) and are
    * verified by the SAME integer-quantized exact scorer the exact arm
    * uses, against the one stable-cut feature frame — the verify side
    * re-tokenizes nothing (the SimHash candidate pass does its own
    * explode: signatures need raw token multiplicities, which the
    * normalized feature rows no longer carry) and every emitted pair is
    * truly ≥ t (precision 1; recall is the traded quantity, governed by
    * `maxHamming`).
    */
  def cosineGovernedResult(documents: DataFrame, threshold: Double,
                           maxCandidatePairs: Long,
                           maxHamming: Int = 3): GovernedPairing = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(maxCandidatePairs > 0L && maxCandidatePairs < Long.MaxValue,
      "cosineGoverned requires a finite positive budget — for an " +
        "ungoverned exact run call allPairsCosine directly")
    val tq = math.floor(threshold * math.pow(2.0, 40)).toLong
    val (feats, pref) = cosineFeatsAndPrefix(documents, threshold)
    val mass = candidatePairMass(pref.select(col("t").as("k")))
    if (mass <= maxCandidatePairs)
      GovernedPairing("exact", mass, maxCandidatePairs,
        cosineVerifyPairs(cosineCandidates(pref), feats, tq))
    else {
      // release only the prefix: the banded arm still verifies against
      // the stable-cut feature frame (no second tokenize)
      Checkpoints.release(pref)
      val cand = simhashNearDup(documents, maxHamming)
        .select(col("doc_a"), col("doc_b"))
      GovernedPairing("banded", mass, maxCandidatePairs,
        cosineVerifyPairs(cand, feats, tq))
    }
  }

  /** [[cosineGovernedResult]] flattened for query registration — unlike
    * the Jaccard router, BOTH lineage columns here are oracle-exact
    * (the cosine preflight is integer arithmetic end-to-end), so the
    * full frame including the estimate is hash-checkable in any engine.
    */
  def cosineGoverned(documents: DataFrame, threshold: Double,
                     maxCandidatePairs: Long, maxHamming: Int = 3): DataFrame = {
    val g = cosineGovernedResult(documents, threshold, maxCandidatePairs,
      maxHamming)
    g.pairs.withColumn("method", lit(g.method))
      .withColumn("estimated_pairs", lit(g.estimatedPairs))
  }

  /** [[cosineGoverned]] over already-built (typically persisted)
    * feature/prefix tables — the artifact split's router face (r18-opt):
    * the measure-then-route contract is unchanged (the mass aggregate
    * runs over the SAME prefix table the exact join would consume), but
    * the tf-idf build is paid once per curation run instead of once per
    * governance consumer. `documents` is still required for the banded
    * fallback's SimHash candidate pass (signatures need raw token
    * multiplicities the normalized features no longer carry).
    */
  def cosineGovernedFromFeatures(documents: DataFrame, feats: DataFrame,
                                 pref: DataFrame, threshold: Double,
                                 maxCandidatePairs: Long,
                                 maxHamming: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(maxCandidatePairs > 0L && maxCandidatePairs < Long.MaxValue,
      "cosineGovernedFromFeatures requires a finite positive budget")
    val tq = math.floor(threshold * math.pow(2.0, 40)).toLong
    val mass = candidatePairMass(pref.select(col("t").as("k")))
    // hinted=false on both arms: feats/pref are artifact-fed here (real
    // parquet stats), so join strategy is stats/AQE-driven — see
    // [[allPairsCosineFromFeatures]].
    val g =
      if (mass <= maxCandidatePairs)
        GovernedPairing("exact", mass, maxCandidatePairs,
          cosineVerifyPairs(cosineCandidates(pref, hinted = false), feats, tq,
            hinted = false))
      else
        GovernedPairing("banded", mass, maxCandidatePairs,
          cosineVerifyPairs(simhashNearDup(documents, maxHamming)
            .select(col("doc_a"), col("doc_b")), feats, tq, hinted = false))
    g.pairs.withColumn("method", lit(g.method))
      .withColumn("estimated_pairs", lit(g.estimatedPairs))
  }
}
