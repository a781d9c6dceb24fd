package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text-analysis operators for the LLM-data-pipeline tier (north star in
  * BASELINE.json): token counting, quality scoring, language-ID heuristic,
  * document fingerprinting.
  *
  * All row-level math is built-in / higher-order functions — no UDFs — so
  * every query stays inside WholeStageCodegen and scales as a pure map
  * over document partitions (embarrassingly parallel at 100 TB; the only
  * shuffles are the final small aggregates).
  */
object TextAnalysis {

  /** Whitespace tokens of the lowercased text. */
  private def toks = split(lower(col("text")), " ")

  /** Per-document token/char statistics (the token-counting surface). */
  def textStats(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      col("lang"),
      length(col("text")).as("n_chars_calc"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_uniq_tokens"),
      (length(regexp_replace(col("text"), "\\s+", "")).cast("double") /
        size(toks)).as("avg_token_len"))

  /** BPE-ish tokenizer: regex token classes (letter runs / digit runs /
    * single non-alnum symbols), the standard pre-tokenization shape.
    */
  def tokenBpe(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      size(regexp_extract_all(lower(col("text")),
        lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("n_bpe_tokens"),
      size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).as("n_digit_runs"))

  /** BM25 relevance of every document against a small query term set —
    * the retrieval-style scorer a curation pipeline uses to pull topical
    * slices out of a corpus ("give me the docs about X, best first").
    *
    * Scale shape: per-term stats come from CONDITIONAL aggregates over
    * the token explode (`sum(when(t == term))`), so only one doc-keyed
    * hash aggregate runs and non-query tokens die in the map stage; the
    * corpus-level constants (N, avg doclen, per-term doc frequencies)
    * are one tiny aggregate row cross-joined back as a broadcast. No
    * shuffle ever carries more than (doc_id, k term counts).
    *
    * Engine-exactness (the oracle hashes doubles bit-for-bit):
    *  - idf is the log-free Robertson fraction (N − df + 0.5)/(df + 0.5)
    *    — pure IEEE +,−,/ reproduces identically everywhere, unlike
    *    libm `ln` which may differ in the last ulp across engines;
    *  - avg doclen divides an integer-exact sum once (no running mean);
    *  - the per-term scores are summed as FIXED-ORDER column addition
    *    (term0 + term1 + …), never a row-order-dependent aggregate.
    */
  def bm25(documents: DataFrame, queryTerms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty)
    val qt = queryTerms.map(_.toLowerCase)
    // per-doc conditional term counts (one aggregate, map-side combined)
    val tfCols = qt.zipWithIndex.map { case (t, i) =>
      sum(when(col("t") === t, 1L).otherwise(0L)).as(s"tf_$i")
    }
    val tf = documents
      .select(col("doc_id"), explode(toks).as("t"))
      .filter(col("t").isin(qt: _*)) // non-query tokens never shuffle
      .groupBy(col("doc_id"))
      .agg(tfCols.head, tfCols.tail: _*)
    // corpus constants: one row — N, integer-exact avgdl, per-term df
    val dfCols = qt.zipWithIndex.map { case (t, i) =>
      sum(when(array_contains(toks, t), 1L).otherwise(0L))
        .cast("double").as(s"df_$i")
    }
    val constCols = Seq(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(size(toks)).cast("double") /
        count(lit(1)).cast("double")).as("avgdl")) ++ dfCols
    val consts = documents.agg(constCols.head, constCols.tail: _*)
    val scored = documents
      .select(col("doc_id"), size(toks).cast("double").as("dl"))
      .join(tf, Seq("doc_id"))
      .crossJoin(broadcast(consts))
    val termScore = qt.indices.map { i =>
      val tfD = col(s"tf_$i").cast("double")
      ((col("n_docs") - col(s"df_$i") + lit(0.5)) / (col(s"df_$i") + lit(0.5))) *
        (tfD * lit(k1 + 1.0)) /
        (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    }.reduceLeft(_ + _) // fixed order: term0 + term1 + ...
    scored.select(
      col("doc_id"),
      qt.indices.map(i => col(s"tf_$i")).reduceLeft(_ + _).as("n_hits"),
      termScore.as("bm25"))
  }

  /** [[bm25]] top-k: best-scoring docs, deterministic tie-break. */
  def bm25TopK(documents: DataFrame, queryTerms: Seq[String],
               k: Int): DataFrame =
    bm25(documents, queryTerms)
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(k)

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Per-doc token counts, as a standalone frame — the shareable
    * derived-column artifact behind [[lengthBuckets]] (and anything else
    * that needs corpus length statistics): tokenize once, persist the
    * tiny (doc_id, n_tokens) table, let every consumer read THAT instead
    * of re-splitting the full text column.
    */
  def tokenCounts(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      size(toks).cast("double").as("n_tokens"))

  /** Quality scoring: stopword ratio, length, lexical diversity — the
    * standard cheap pre-filter heuristics of a training-data pipeline.
    */
  def qualityScore(documents: DataFrame): DataFrame = {
    val stopList = stopwords.map(w => s"'$w'").mkString(", ")
    documents
      .withColumn("n_tokens", size(toks))
      .withColumn("n_stop",
        expr(s"size(filter(split(lower(text), ' '), w -> w IN ($stopList)))"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("diversity",
        size(array_distinct(toks)).cast("double") / col("n_tokens"))
      .withColumn("quality",
        col("stop_ratio") * lit(0.3) + col("diversity") * lit(0.5) +
          least(col("n_tokens").cast("double") / lit(100.0), lit(1.0)) * lit(0.2))
      .select(col("doc_id"), col("n_tokens"), col("n_stop"),
        col("stop_ratio"), col("diversity"), col("quality"))
  }

  /** Per-language corpus breakdown. */
  def langBreakdown(documents: DataFrame): DataFrame =
    documents
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        avg(col("n_chars")).as("avg_chars"),
        avg(size(toks)).as("avg_tokens"),
        countDistinct(col("source")).as("n_sources"))

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "la", "que", "los", "una"))

  /** Language-ID heuristic: count marker-word hits per candidate language,
    * predict the argmax (first language in fixed order wins ties, 'und' —
    * undetermined — when nothing matches). The classic cheap n-gram/
    * stopword LID shape; one pass, no shuffle.
    */
  def langId(documents: DataFrame): DataFrame = {
    val withHits = langMarkers.foldLeft(documents.withColumn("w", toks)) {
      case (df, (l, markers)) =>
        val list = markers.map(w => s"'$w'").mkString(", ")
        df.withColumn(s"hits_$l",
          expr(s"size(filter(w, x -> x IN ($list)))"))
    }
    val best = langMarkers.map { case (l, _) => col(s"hits_$l") }
      .reduce((a, b) => greatest(a, b))
    // Build the when-chain right-to-left so it tests langMarkers order
    // first — ties resolve to the earliest language in the list.
    val pred = langMarkers.foldRight(lit("und")) { case ((l, _), acc) =>
      when(col(s"hits_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
    withHits.select(
      (Seq(col("doc_id"), col("lang")) ++
        langMarkers.map { case (l, _) => col(s"hits_$l") } :+
        pred.as("predicted")): _*)
  }

  /** Repetition signals — the Gopher/C4-style boilerplate heuristics:
    * within-document duplicate-token and duplicate-3-gram fractions. A
    * page of templated spam repeats its n-grams; clean prose doesn't.
    * Shingles via arrays_zip + slice (whole-stage codegen, like
    * [[fingerprint]]); one doc-keyed hash aggregate, then a doc_id
    * equi-join of two doc-level aggregates — co-partitioned, payload-free,
    * embarrassingly parallel at any corpus size.
    */
  def repetitionScore(documents: DataFrame): DataFrame = {
    val ngrams = documents
      .withColumn("w", toks)
      .filter(size(col("w")) >= 3)
      .withColumn("w1", slice(col("w"), lit(2), size(col("w"))))
      .withColumn("w2", slice(col("w"), lit(3), size(col("w"))))
      .select(col("doc_id"),
        explode(arrays_zip(col("w"), col("w1"), col("w2"))).as("z"))
      .filter(col("z.w2").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", col("z.w"), col("z.w1"), col("z.w2")).as("s"))
      // two-level aggregate instead of count + countDistinct in one agg:
      // the combined form plans an Expand that doubles every shingle row
      // before aggregating (13.9 s → 12.0 s at 500k docs / 19M shingles)
      .groupBy(col("doc_id"), col("s"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      // counts stay LONG through the aggregate (a pathological >2^31-token
      // doc must not silently wrap); the int cast is only the registered
      // projection's oracle-schema concession below
      .agg(sum(col("c")).as("n_ngrams"),
        count(lit(1)).as("n_uniq_ngrams"))
    documents
      .select(col("doc_id"), size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_uniq_tokens"))
      .join(ngrams, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        (lit(1.0) - col("n_uniq_tokens").cast("double") / col("n_tokens"))
          .as("dup_token_frac"),
        col("n_ngrams").cast("int").as("n_ngrams"),
        (lit(1.0) - col("n_uniq_ngrams").cast("double") / col("n_ngrams"))
          .as("dup_ngram_frac"))
  }

  /** Length-percentile bucketing for inference/training batching: docs
    * grouped into quartile buckets of token count, with the boundaries
    * computed by the scale-safe range-sort percentiles
    * ([[graft.ops.Stats.exactPercentilesScale]]) and BROADCAST into a
    * codegen'd bucket map — never a global ntile window (single-task at
    * scale). Boundaries at p ∈ {.25,.5,.75} over integer token counts
    * interpolate to exact binary fractions, so any engine reproduces the
    * same cut points bit-for-bit.
    *
    * `counts` / `bounds`: optional precomputed (doc_id, n_tokens) rows
    * and 1-row (p25, p50, p75) cuts from shared artifacts — a curation
    * run should tokenize the corpus and sort the counts once, not once
    * per consumer (SparkEntry persists both via its scratch cache).
    */
  def lengthBuckets(documents: DataFrame,
                    counts: Option[DataFrame] = None,
                    bounds: Option[DataFrame] = None): DataFrame = {
    val t = counts.getOrElse(tokenCounts(documents))
    val q = bounds.getOrElse(
      Stats.exactPercentilesScale(t, "n_tokens",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
        .select("p25", "p50", "p75"))
    t.crossJoin(broadcast(q))
      .select(col("doc_id"), col("n_tokens"),
        when(col("n_tokens") <= col("p25"), lit("q1"))
          .when(col("n_tokens") <= col("p50"), lit("q2"))
          .when(col("n_tokens") <= col("p75"), lit("q3"))
          .otherwise(lit("q4")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        avg(col("n_tokens")).as("avg_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"))
  }

  /** Per-language n-gram diversity — the "how repetitive is this slice of
    * the corpus" curation metric that drives per-language sampling
    * weights: distinct 3-gram shingles, total shingle occurrences, and
    * their type-token ratio (1.0 = every shingle unique; → 0 = highly
    * repetitive / boilerplate-heavy).
    *
    * Scale shape: shingles explode once (codegen'd arrays_zip pipeline,
    * shared with MinHash), and only 32-hex md5 keys enter the distinct
    * aggregate — Spark's two-phase distinct shuffles (lang, key) pairs
    * with map-side partial dedup; shingle TEXT never shuffles. md5 keys
    * also make the counts engine-exact (collisions at 128 bits are
    * ~1e-22 even at 100 TB shingle cardinalities).
    */
  def ngramDiversity(documents: DataFrame): DataFrame =
    Similarity.shingleRows(documents, Seq("lang"))
      .select(col("lang"), md5(col("s")).as("h"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("h")).as("n_distinct"),
        count(lit(1)).as("n_shingles"))
      .withColumn("ttr",
        col("n_distinct").cast("double") / col("n_shingles"))

  /** Quality-tier partitioning — the data-mixing table every curation
    * pipeline ends on (how many docs / chars of each quality tier per
    * language, e.g. to upsample t4 and cap t1): corpus-wide quality
    * quartile boundaries via the scale-safe range-sort percentiles,
    * broadcast into a codegen tier map, then one hash aggregate on
    * (lang, tier). Same boundary-parity contract as [[lengthBuckets]]
    * (identical quality doubles → identical interpolated cuts in any
    * engine).
    *
    * `scores` / `tierBounds`: optional precomputed (doc_id, quality) rows
    * and 1-row (p25, p50, p75) cuts — without them the quality formula
    * runs twice (once under the bounds sort, once for the tier map);
    * a persisted per-doc score artifact collapses that to one pass.
    */
  def qualityTiers(documents: DataFrame,
                   scores: Option[DataFrame] = None,
                   tierBounds: Option[DataFrame] = None): DataFrame = {
    val q = scores.getOrElse(
      qualityScore(documents).select(col("doc_id"), col("quality")))
    val docs = documents.select(col("doc_id"), col("lang"), col("n_chars"))
      .join(q, Seq("doc_id"))
    val bounds = tierBounds.getOrElse(
      Stats.exactPercentilesScale(q, "quality",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75))
        .select("p25", "p50", "p75"))
    docs.crossJoin(broadcast(bounds))
      .select(col("lang"), col("n_chars"), col("quality"),
        when(col("quality") <= col("p25"), lit("t1"))
          .when(col("quality") <= col("p50"), lit("t2"))
          .when(col("quality") <= col("p75"), lit("t3"))
          .otherwise(lit("t4")).as("tier"))
      .groupBy(col("lang"), col("tier"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        avg(col("quality")).as("avg_quality"))
  }

  /** Unigram-LM perplexity proxy (the CCNet-style quality signal): score
    * every document by its mean token negative-log-likelihood under the
    * corpus's OWN unigram distribution — junk (rare-token soup, mangled
    * encodings) scores high, repetitive boilerplate scores low, typical
    * prose sits in the middle band a curation pipeline keeps.
    *
    * Scale shape: one token explode feeds a (doc_id, token) hash
    * aggregate (map-side combined — duplicates die before the shuffle);
    * the corpus vocabulary re-aggregates THOSE rows (never the raw
    * explode) to token counts; the corpus total is one broadcast row.
    * The per-doc score joins doc-token rows to the vocabulary on token —
    * a plain equi-join AQE splits if a head word skews a partition — so
    * nothing wider than (doc_id, token, count) ever shuffles. At 100 TB
    * the vocabulary table is the natural persist/broadcast candidate
    * (hundreds of millions of rows vs the corpus's trillions of tokens).
    *
    * −log2 p(t) = log2(N) − log2(cnt t): per-TERM doubles are correctly
    * rounded; per-doc summation rides float tolerance like every avg in
    * this library.
    */
  def unigramLogProb(documents: DataFrame): DataFrame = {
    val docTok = documents
      .select(col("doc_id"), explode(toks).as("t"))
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("c"))
    val vocab = docTok.groupBy(col("t")).agg(sum(col("c")).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).cast("double").as("n_total"))
    docTok.join(vocab, Seq("t"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        sum(col("c").cast("double") *
          (log2(col("n_total")) - log2(col("cnt").cast("double")))).as("sum_nll"))
      .withColumn("bits_per_token", col("sum_nll") / col("n_tokens"))
  }

  /** Interpolated bigram-LM perplexity proxy — the v2 of
    * [[unigramLogProb]]: per-document bits per bigram position under the
    * Jelinek–Mercer mixture λ·p(t|prev) + (1−λ)·p(t), the standard
    * fluency/quality signal that separates coherent prose from shuffled
    * or templated token soup the unigram model scores identically
    * (unigram bits are permutation-INVARIANT; bigram bits are exactly
    * what reordering perturbs). p(t|prev) = c(prev,t)/c1(prev) with the
    * left positional marginal c1 = Σ_t c(prev,t) (the [[pmiPairs]]
    * marginal — every bigram's context mass, not the raw token count,
    * so the mixture is a proper distribution per context); p(t) is the
    * corpus unigram MLE. λ·pbi + (1−λ)·puni > 0 whenever the pair
    * occurs (c12 ≥ 1), so the log never sees zero.
    *
    * Scale shape mirrors [[unigramLogProb]]: one adjacent-zip explode →
    * (doc, bigram) hash aggregate (map-side combined); corpus pair
    * stats, left marginals and the vocabulary all re-aggregate THOSE
    * rows in TYPE space; the scored pair table joins back on the bigram
    * string — plain equi-joins AQE splits under Zipf-head skew; the
    * grand total is one broadcast row. Per-PAIR bits are elementary
    * IEEE-754 binary64 ops on exact integer ratios (engine-identical);
    * the per-doc summation rides float tolerance like every score here.
    * Single-token documents have no bigram position and drop out, as in
    * the DuckDB mirror.
    */
  def bigramLogProb(documents: DataFrame, lambda: Double = 0.75): DataFrame = {
    require(lambda > 0.0 && lambda < 1.0, s"need 0 < lambda < 1, got $lambda")
    // Materialization cuts (r18-opt): docPair feeds the pair-count
    // branch AND the final per-doc score join, and uniCnt feeds the
    // grand total AND the smoothing join — lazily each consumer re-ran
    // its own corpus explode (4 Generate-explode passes in the
    // AQE-final plan, plans/r18/bigram_logprob_before.txt). One bigram
    // explode + one token explode now serve everything; pairCnt also
    // cuts (pair-TYPE-sized — Zipf+Heaps small next to the exploded
    // corpus) so leftCnt and the scored join don't each re-aggregate
    // the doc-pair rows.
    val docPair = Checkpoints.stable(documents
      .select(col("doc_id"), explode(bigrams).as("g"))
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("c")))
    val pairCnt = Checkpoints.stable(
      docPair.groupBy(col("g")).agg(sum(col("c")).as("c12"))
        .withColumn("prev", split(col("g"), " ").getItem(0))
        .withColumn("t", split(col("g"), " ").getItem(1)))
    val leftCnt = pairCnt.groupBy(col("prev")).agg(sum(col("c12")).as("c1"))
    val uniCnt = Checkpoints.stable(documents.select(explode(toks).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("cnt")))
    val total = uniCnt.agg(sum(col("cnt")).cast("double").as("n_total"))
    val scored = pairCnt.join(leftCnt, "prev").join(uniCnt, "t")
      .crossJoin(broadcast(total))
      .select(col("g"),
        (-log2(lit(lambda) *
            (col("c12").cast("double") / col("c1").cast("double")) +
          lit(1.0 - lambda) *
            (col("cnt").cast("double") / col("n_total")))).as("bits"))
    // merge-hinted: the scored pair table is pair-TYPE-sized, which
    // under Zipf+Heaps grows with the corpus — a mis-estimated
    // broadcast is the 8g OOM path (jaccard_allpairs precedent)
    docPair.join(scored.hint("merge"), "g")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        sum(col("c").cast("double") * col("bits")).as("sum_nll"))
      .withColumn("bits_per_bigram", col("sum_nll") / col("n_bigrams"))
  }

  /** Per-slice corpus drift: KL divergence (bits) of each slice's token
    * distribution from the corpus-wide one — the monitoring metric that
    * catches a source going off-distribution (scraper broke, new domain
    * mix, language shift) before it poisons a training run. KL(q‖p) =
    * Σ_t q(t)·log2(q(t)/p(t)) over the slice's tokens; p > 0 wherever
    * q > 0 because the corpus distribution includes every slice.
    *
    * Scale shape mirrors [[unigramLogProb]]: one explode → (slice, token)
    * hash aggregate (map-side combined), vocabulary re-aggregated from
    * those rows, per-slice totals and the grand total broadcast; the only
    * real shuffle joins slice-token rows to the vocabulary on token.
    */
  def klDrift(documents: DataFrame, sliceCol: String = "source"): DataFrame = {
    // explicit null filter BEFORE the aggregate: the totals join would
    // add isnotnull(slice) to only one branch, making the three st
    // consumers canonically different — with it up front they all ride
    // ONE ReusedExchange and the corpus explodes exactly once
    val st = documents
      .filter(col(sliceCol).isNotNull)
      .select(col(sliceCol), explode(toks).as("t"))
      .groupBy(col(sliceCol), col("t"))
      .agg(count(lit(1)).as("c"))
    val vocab = st.groupBy(col("t")).agg(sum(col("c")).as("cnt"))
    val totals = st.groupBy(col(sliceCol)).agg(sum(col("c")).as("n_slice"))
    val grand = vocab.agg(sum(col("cnt")).cast("double").as("n_total"))
    val q = col("c").cast("double") / col("n_slice").cast("double")
    val p = col("cnt").cast("double") / col("n_total")
    st.join(vocab, Seq("t"))
      .join(broadcast(totals), Seq(sliceCol))
      .crossJoin(broadcast(grand))
      .groupBy(col(sliceCol))
      .agg(sum(col("c")).as("n_tokens"),
        sum(q * log2(q / p)).as("kl_bits"))
  }

  /** Per-language distinctive terms — "what characterizes this slice":
    * for each (lang, term), keyness = share of the term inside the
    * language over its (add-one-smoothed) share in the REST of the
    * corpus; top-k terms per language by (keyness DESC, term ASC). The
    * tf-idf idea with a log-free odds-ratio score, so every number is a
    * product/quotient of exact integer counts — cross-engine exact where
    * `log`-weighted tf-idf is not.
    *
    * Scale shape is the [[klDrift]] template: one token explode into a
    * (lang, term) hash aggregate; term totals and per-language totals
    * re-aggregate THOSE rows (all three consumers ride one
    * ReusedExchange — the explicit null filter keeps the subtrees
    * canonically identical); the final top-k is a window over (lang,
    * term) score rows, never over token rows.
    */
  def distinctiveTerms(documents: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lt = documents
      .filter(col("lang").isNotNull)
      .select(col("lang"), explode(toks).as("t"))
      .groupBy(col("lang"), col("t"))
      .agg(count(lit(1)).as("c"))
    val tot = lt.groupBy(col("t")).agg(sum(col("c")).as("ct"))
    val nl = lt.groupBy(col("lang")).agg(sum(col("c")).as("nl"))
    val grand = tot.agg(sum(col("ct")).cast("double").as("n_all"))
    val keyness =
      (col("c").cast("double") / col("nl").cast("double")) /
        ((col("ct") - col("c") + 1).cast("double") /
          (col("n_all") - col("nl").cast("double") + 1))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("keyness").desc, col("t").asc)
    lt.join(tot, Seq("t"))
      .join(broadcast(nl), Seq("lang"))
      .crossJoin(broadcast(grand))
      .select(col("lang"), col("t"), keyness.as("keyness"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("lang"), col("rank"), col("t"), col("keyness"))
  }

  /** Fixed-width token chunking with overlap — the context-window
    * preparation step of an embedding/retrieval pipeline: windows of
    * `width` tokens advancing by `width − overlap`, the last window
    * keeping its natural (shorter) tail. Start offsets stop once
    * coverage reaches the end (`start < n − overlap`), so no chunk is
    * fully contained in its predecessor.
    *
    * Scale shape: starts come from one codegen'd `sequence()` explode
    * (chunk_idx = start/stride — no positional window needed), the
    * slice+concat runs per output row, and nothing shuffles at all —
    * chunking is a pure flatMap over document partitions; the output is
    * `docs × chunks/doc` rows of bounded width.
    */
  def chunkOverlap(documents: DataFrame, width: Int, overlap: Int): DataFrame = {
    require(width > 0 && overlap >= 0 && overlap < width,
      s"need 0 <= overlap < width, got width=$width overlap=$overlap")
    val stride = width - overlap
    documents
      .select(col("doc_id"), toks.as("w"))
      .withColumn("n", size(col("w")))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("w"), col("n"),
        explode(sequence(lit(0),
          greatest(col("n") - overlap - 1, lit(0)), lit(stride))).as("start"))
      .select(
        col("doc_id"),
        (col("start") / stride).cast("int").as("chunk_idx"),
        least(lit(width), col("n") - col("start")).cast("int")
          .as("n_chunk_tokens"),
        concat_ws(" ", slice(col("w"), col("start") + 1, lit(width)))
          .as("chunk"))
  }

  /** Per-language top-k vocabulary by document frequency — the corpus
    * top-terms staple. Two-level aggregate (token rows → per-(lang, t)
    * doc counts, map-side combined) then a per-lang top-k window over the
    * SMALL term-stats table, never the token rows. Integer scores +
    * lexicographic tie-break keep the ranking engine-exact.
    */
  def topTerms(documents: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val termStats = documents
      .select(col("doc_id"), col("lang"), explode(array_distinct(toks)).as("t"))
      .groupBy(col("lang"), col("t"))
      .agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("df").desc, col("t").asc)
    termStats
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("lang"), col("rank"), col("t"), col("df"))
  }

  /** Per-document top-k salient terms — TF-IDF with a RATIONAL inverse
    * document frequency: score = tf · (N+1)/(df+1). Skipping the `ln`
    * keeps the per-doc ranking identical (log is monotone) while making
    * the score bit-reproducible across engines: tf·(N+1) and df+1 are
    * exact BIGINTs (well under 2^53) and one IEEE double division is
    * correctly rounded everywhere, unlike transcendental `ln` whose
    * last-ulp differences between libm implementations could flip
    * near-tied ranks. Ties break on the term string.
    *
    * Scale shape: tf is one map-side-combined aggregate over the token
    * rows; df aggregates the already-distinct (doc, term) table (≪ token
    * rows); the corpus size joins as a one-row broadcast; the top-k
    * window runs over per-doc term stats partitioned by doc_id — never a
    * global sort, never the raw token rows twice.
    */
  def salientTerms(documents: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = documents
      .select(col("doc_id"), explode(toks).as("t"))
      .groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val n = documents.agg(count_distinct(col("doc_id")).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("t").asc)
    tf.join(dft, Seq("t"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf") * (col("n_docs") + 1)).cast("double") / (col("df") + 1))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("t"), col("tf"), col("df"),
        col("score"))
  }

  /** Inverted-index build: per term, the document frequency and a
    * bounded posting-list sample (the k smallest doc ids, ascending) —
    * the retrieval-index corpus op. Token rows deduplicate per doc
    * map-side (`array_distinct` BEFORE explode, so a repeated word never
    * leaves its document as more than one pair), then ONE hash aggregate
    * per term computes df and the sample together via the bounded
    * [[graft.agg.MinK]] aggregator — partials carry ≤ k ids, so a
    * stopword with a billion postings shuffles k values per map task,
    * not its full posting list (the `collect_list`-then-truncate and
    * windowed-`row_number` spellings both drag the hot term's every row
    * to one place first). Full posting lists at 100 TB are a partitioned
    * parquet SINK of the pair stream, not a driver-visible aggregate;
    * this op is the index STATS build.
    */
  def postings(documents: DataFrame, k: Int = 10): DataFrame =
    documents
      .select(col("doc_id"), explode(array_distinct(toks)).as("t"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("df"),
        graft.agg.MinK.minKLongs(col("doc_id"), k).as("doc_sample"))

  /** Document fingerprints: whole-text md5 plus a rolling-shingle
    * fingerprint (min md5 over 3-word shingles — a 1-hash MinHash, the
    * building block of content-defined dedup keys).
    */
  def fingerprint(documents: DataFrame): DataFrame = {
    // Shingle rows via arrays_zip + slice (whole-stage codegen; the
    // transform() lambda spelling runs interpreted), then md5 per row
    // with a map-side-combined min aggregate.
    val shingleFp = documents
      .withColumn("w", toks)
      .filter(size(col("w")) >= 3)
      .withColumn("w1", slice(col("w"), lit(2), size(col("w"))))
      .withColumn("w2", slice(col("w"), lit(3), size(col("w"))))
      .select(col("doc_id"),
        explode(arrays_zip(col("w"), col("w1"), col("w2"))).as("z"))
      .filter(col("z.w2").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", col("z.w"), col("z.w1"), col("z.w2")).as("s"))
      .groupBy(col("doc_id"))
      .agg(min(md5(col("s"))).as("shingle_fp"),
        count(lit(1)).cast("int").as("n_shingles"))
    documents
      .select(col("doc_id"), md5(col("text")).as("text_md5"))
      .join(shingleFp, Seq("doc_id"))
      .select(col("doc_id"), col("text_md5"), col("shingle_fp"), col("n_shingles"))
  }

  /** Corpus-level span dedup — the C4/RefinedWeb "remove repeated
    * boilerplate" stage: documents split into fixed `spanTokens`-token
    * spans (the tail keeps its natural shorter length), any span whose
    * text occurs in MORE than one place across the whole corpus is
    * dropped from every document, and survivors reassemble in order.
    * Returns (doc_id, clean_text, n_spans, n_dropped).
    *
    * Shape at 100 TB: spans EXPLODE to rows carrying (doc_id, ordinal,
    * md5) — never the span text twice; the corpus-wide multiplicity is
    * one hash aggregate on the 16-byte key; the verdict joins back to
    * the spans by key (ids + hashes shuffle, payload reassembles with
    * one `collect_list` per document — bounded by document length, the
    * same bound the input row already carries).
    */
  def dedupSpans(documents: DataFrame, spanTokens: Int = 10): DataFrame = {
    val spans = documents
      .select(col("doc_id"), posexplode(spanArray(spanTokens)).as(Seq("ord", "span")))
      .withColumn("h", md5(col("span")))
    val multiplicity = spans.groupBy(col("h")).agg(count(lit(1)).as("occ"))
    val verdicts = spans.join(multiplicity, Seq("h"))
    verdicts
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("occ") === 1, struct(col("ord"), col("span"))))),
          x => x.getField("span"))).as("clean_text"),
        count(lit(1)).cast("int").as("n_spans"),
        sum(when(col("occ") > 1, 1).otherwise(0)).cast("int").as("n_dropped"))
  }

  /** FastText-style hashed bag-of-features (Joulin et al., "Bag of
    * Tricks for Efficient Text Classification", 2016): unigrams AND
    * adjacent bigrams hash into a fixed `dim`-bucket feature space —
    * the featurizer a quality/topic classifier trains on when the
    * vocabulary is unbounded. Emitted in SPARSE long form (doc_id,
    * bucket, tf) — the shape that shuffles and stores efficiently at
    * corpus scale (≤ dim rows per document regardless of length); the
    * dense vector assembly is a trivial per-row client transform.
    * Buckets ride the engine-portable md5→BIGINT arithmetic (the CMS
    * discipline), so the whole feature map is hash-oracle-able.
    */
  def hashFeatures(documents: DataFrame, dim: Int = 64): DataFrame = {
    require(dim >= 2, s"need dim >= 2 buckets, got $dim")
    documents
      .select(col("doc_id"), explode(concat(toks, bigrams)).as("g"))
      .withColumn("bucket", featureBucket(col("g"), dim))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("tf"))
  }

  /** The hashed-feature bucket of one gram — engine-portable md5→BIGINT
    * arithmetic (15 hex digits < 2^60, Long-exact; the CMS discipline).
    * ONE definition shared by [[hashFeatures]] and [[dsirWeights]]: the
    * DSIR q/p bucket distributions are joined against the per-doc tf
    * buckets, so a hash change applied to one site but not the other
    * would silently corrupt every weight without any small-corpus test
    * tripping — sharing the Column makes that divergence unrepresentable.
    */
  private def featureBucket(g: org.apache.spark.sql.Column,
      dim: Int): org.apache.spark.sql.Column =
    pmod(conv(substring(md5(g), 1, 15), 16, 10).cast("long"), lit(dim.toLong))

  /** Integer doc embeddings by signed random projection of the hashed
    * feature map (Achlioptas 2003 / the SimHash projection family, kept
    * UNQUANTIZED): emb_j = Σ_b tf_b · sign_j(b) with ±1 signs drawn from
    * md5 — the cheap, training-free featurizer that turns the text tier
    * into ANN-tier INPUT (brute/batched cosine, IVF, LSH all take any
    * vector column). Components are exact BIGINTs — engine-exact like
    * every md5 twin, and JL-style distance-preserving in expectation.
    *
    * Scale shape: one corpus explode ([[hashFeatures]]); the k
    * projections are k map-side-combinable sums inside ONE hash
    * aggregate over the (doc, bucket, tf) rows — no join at all (the
    * sign is a codegen'd md5 of (j, bucket), not a table); output is one
    * k-element array per doc.
    */
  def featureEmbed(documents: DataFrame, dim: Int = 64, k: Int = 16): DataFrame = {
    require(k >= 2 && k <= 64, s"need 2 <= k <= 64 projections, got $k")
    // The sign matrix has only dim×k distinct entries; evaluating
    // md5("p:j:bucket") per ROW would repeat those k·dim hashes once per
    // (doc, bucket) — millions of times for a 1024-value table. Compute
    // the same md5 parity ONCE driver-side (bit-identical to the
    // oracle's SQL md5 path: 15 hex digits < 2^60, Long-exact) and ship
    // it as k map literals the aggregate reads with element_at.
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def sign(j: Int): org.apache.spark.sql.Column = typedLit(
      (0L until dim.toLong).map(b => b ->
        (if (java.lang.Long.parseLong(md5hex(s"p:$j:$b").take(15), 16) % 2 == 0) 1L
         else -1L)).toMap)
    val comps = (0 until k).map(j =>
      sum(col("tf") * element_at(sign(j), col("bucket"))).as(s"e$j"))
    hashFeatures(documents, dim)
      .groupBy(col("doc_id"))
      .agg(comps.head, comps.tail: _*)
      .select(col("doc_id"),
        array((0 until k).map(j => col(s"e$j")): _*).as("emb"))
  }

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * every document by how much more likely its hashed n-gram features
    * are under a TARGET distribution than under the raw-corpus one —
    * log w(d) = Σ_b tf_b(d)·(log p_b − log q_b), the recipe used to
    * select pretraining data "like Wikipedia/books" from a crawl. The
    * target here is a corpus slice (`source = targetSource`); p and q
    * are add-1-smoothed bucket distributions over [[hashFeatures]]'s
    * uni+bigram map, so the weights compose directly with the
    * weight-biased exact-k sampler ([[Sampling.sampleWeighted]]) for the
    * resampling step.
    *
    * Scale shape: token volume is exploded ONCE per consuming pass, and
    * `source` rides the explode as a groupBy key (it is functionally
    * dependent on doc_id, so the (doc, bucket) cardinality is
    * unchanged) — NO corpus-sized join anywhere. The r15 form attached
    * the source tag with a merge-hinted doc_id join instead, which
    * SORTED the exploded feature side (~40M rows at 500k docs); once
    * that sort outgrew memory the spill turned the second stress decade
    * super-linear (16.4×, bench/r15_stress_scaling.json — the one
    * un-annotated >10× resident; the r16 artifact records the
    * before/after). The bucket table is `dim` rows: the log-ratio join
    * is an explicit broadcast, and the per-doc reduce is one map-side
    * combinable aggregate. Per-BUCKET log ratios are correctly-rounded
    * doubles of exact integers (log2(pc+1) − log2(qc+1)); the add-1
    * normalizers (log2(q_n+dim) − log2(p_n+dim)) multiply n_feats once
    * per doc; per-doc summation rides float tolerance like every score
    * in this library. Buckets absent from the raw corpus cannot occur in
    * any document (q counts every doc), so smoothing only ever fires on
    * the target side.
    */
  def dsirWeights(documents: DataFrame, targetSource: String,
      dim: Int = 64): DataFrame = {
    // ONE corpus explode serves the per-doc tf rows AND the q/p bucket
    // distributions (r18-opt; the previous form ran hashFeatures' explode
    // and a second source-carrying explode — 3 Generate passes in the
    // AQE-final plan, plans/r18/dsir_weights_before.txt, zero reuse):
    // source is constant per doc, so carrying it through the (doc,
    // bucket) aggregate changes no group, and Σ tf per bucket IS the
    // exploded gram count the second pass recounted. The cut pins the
    // (doc, bucket, tf) table for its two consumers (buckets, score join).
    val feats = Checkpoints.stable(documents
      .select(col("doc_id"), col("source"),
        explode(concat(toks, bigrams)).as("g"))
      .withColumn("bucket", featureBucket(col("g"), dim))
      .groupBy(col("doc_id"), col("source"), col("bucket"))
      .agg(count(lit(1)).as("tf")))
    val buckets = feats
      .groupBy(col("bucket"))
      .agg(sum(col("tf")).as("qc"),
        sum(when(col("source") === targetSource, col("tf"))
          .otherwise(lit(0L))).as("pc"))
    val totals = buckets.agg(sum(col("qc")).as("q_n"), sum(col("pc")).as("p_n"))
    feats
      .join(broadcast(buckets.select(col("bucket"),
        (log2(col("pc") + lit(1L)) - log2(col("qc") + lit(1L))).as("lr"))),
        "bucket")
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_feats"),
        sum(col("tf").cast("double") * col("lr")).as("sum_lr"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("n_feats"),
        (col("sum_lr") + col("n_feats").cast("double") *
          (log2(col("q_n") + lit(dim.toLong)) -
            log2(col("p_n") + lit(dim.toLong)))).as("log_w"))
  }

  /** Linear-classifier INFERENCE over the hashed feature map — the
    * fastText-style quality/topic filter pass every production curation
    * pipeline runs after training such a model offline (the classifier
    * behind "model-based quality filtering" in the GPT-3/LLaMA/CCNet
    * recipes). The model here is a weight per hash bucket; scoring is
    * the sparse dot  score = Σ_b tf_b · w_b / Σ_b tf_b  (fastText's
    * mean-of-features linear layer).
    *
    * Engine-exactness: weights live as INTEGERS wq ∈ [−1000, 1000]
    * (this synthetic model derives them from md5(bucket) — a real
    * deployment would join a trained weight table in the same quantized
    * form); the accumulation Σ tf·wq is a BIGINT sum — order-free, so
    * no result depends on float summation order — and the reported
    * score is ONE exact division  score_q / (1000 · n_terms)  ∈ [−1, 1].
    *
    * Scale shape: one explode → (doc, bucket) hash-agg (map-side
    * combined, ≤ dim rows per doc), weights attach as a pure codegen'd
    * md5 map (a trained table would broadcast — dim rows), then one
    * per-doc agg. Token volume is touched exactly once; nothing joins
    * in text space.
    */
  def classifierScore(documents: DataFrame, dim: Int = 64): DataFrame = {
    val feats = hashFeatures(documents, dim)
    val wq = pmod(conv(substring(md5(concat(lit("w:"), col("bucket"))), 1, 15),
      16, 10).cast("long"), lit(2001L)) - 1000L
    feats
      .withColumn("wq", wq)
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_terms"),
        sum(col("tf") * col("wq")).as("score_q"))
      .withColumn("score",
        col("score_q").cast("double") / (lit(1000.0) * col("n_terms").cast("double")))
  }

  /** Count–Min sketch frequency profile (Cormode & Muthukrishnan,
    * J. Algorithms 2005) — the point-query complement to the Misra–Gries
    * heavy-hitter path: where MG answers "which terms are frequent", CMS
    * answers "how frequent is THIS term" for any term, with the one-sided
    * guarantee estimate ≥ exact (collisions only ever ADD) and
    * estimate ≤ exact + εN with probability 1−δ for d = ⌈ln 1/δ⌉ rows of
    * w = ⌈e/ε⌉ counters.
    *
    * Spark-first formulation: the d×w counter matrix IS a bounded-
    * cardinality hash aggregate — each token explodes to its d (row,
    * bucket) coordinates and ONE `groupBy` builds every counter with
    * map-side combine, O(d·w) state per task regardless of vocabulary
    * (the same bound that makes MG viable). No custom Aggregator needed:
    * the sketch's merge IS the aggregate's partial merge. Probing joins
    * the (tiny) probe×d bucket table against the ≤ d·w counters and takes
    * `min` per term.
    *
    * Bucket hashing is md5-derived (`row:token` → first 15 hex chars →
    * BIGINT mod w) — engine-portable arithmetic, so unlike classically
    * seeded sketches the WHOLE estimate path is hash-oracle-able.
    * Returns (term, exact_count, cms_estimate, overestimate ≥ 0) per
    * probe term; `exact_count` comes from a filtered recount of the ≤
    * |probe| terms (the MG-style recount discipline).
    */
  def cmsProfile(documents: DataFrame, probe: Seq[String],
                 d: Int = 4, w: Int = 64): DataFrame = {
    require(d >= 1 && w >= 2, s"need d >= 1 rows and w >= 2 counters, got d=$d w=$w")
    val spark = documents.sparkSession
    import spark.implicits._
    def bucket(t: org.apache.spark.sql.Column, j: Int) =
      pmod(conv(substring(md5(concat(lit(s"$j:"), t)), 1, 15), 16, 10)
        .cast("long"), lit(w.toLong))
    val tokens = documents.select(explode(toks).as("t"))
    val counters = tokens
      .select(posexplode(array((0 until d).map(j => bucket(col("t"), j)): _*))
        .as(Seq("j", "b")))
      .groupBy(col("j"), col("b")).agg(count(lit(1)).as("c"))
    val probeRows = probe.toDF("term")
      .select(col("term"),
        posexplode(array((0 until d).map(j => bucket(col("term"), j)): _*))
          .as(Seq("j", "b")))
    val est = probeRows.join(counters, Seq("j", "b"), "left")
      .groupBy(col("term"))
      .agg(min(coalesce(col("c"), lit(0L))).as("cms_estimate"))
    val exact = tokens.filter(col("t").isin(probe: _*))
      .groupBy(col("t").as("term")).agg(count(lit(1)).as("exact_count"))
    est.join(exact, Seq("term"), "left")
      .select(col("term"),
        coalesce(col("exact_count"), lit(0L)).as("exact_count"),
        col("cms_estimate"),
        (col("cms_estimate") - coalesce(col("exact_count"), lit(0L)))
          .as("overestimate"))
  }

  /** xxhash64 fast path of [[cmsProfile]] — identical sketch semantics
    * (d independent rows, min-of-counters point estimate, one-sided
    * estimate ≥ exact), different row-hash family. The md5 form exists
    * to be DuckDB-oracle-able; its cost at scale is d×token-volume
    * MD5-of-string + hex→decimal conversions, whose allocation churn is
    * the measured single-box ceiling in the stress artifact (18.7× wall
    * per 10× data at 5M docs — GC, not asymptotics). xxhash64(seed, t)
    * is Spark's native codegen'd hash — no intermediate strings at all —
    * so this is the variant a 100 TB profile run uses; the spec pins it
    * to the md5 twin's exact counts and sketch guarantees.
    */
  def cmsProfileX(documents: DataFrame, probe: Seq[String],
                  d: Int = 4, w: Int = 64): DataFrame = {
    require(d >= 1 && w >= 2, s"need d >= 1 rows and w >= 2 counters, got d=$d w=$w")
    val spark = documents.sparkSession
    import spark.implicits._
    def bucket(t: org.apache.spark.sql.Column, j: Int) =
      pmod(xxhash64(lit(j), t), lit(w.toLong))
    val tokens = documents.select(explode(toks).as("t"))
    val counters = tokens
      .select(posexplode(array((0 until d).map(j => bucket(col("t"), j)): _*))
        .as(Seq("j", "b")))
      .groupBy(col("j"), col("b")).agg(count(lit(1)).as("c"))
    val probeRows = probe.toDF("term")
      .select(col("term"),
        posexplode(array((0 until d).map(j => bucket(col("term"), j)): _*))
          .as(Seq("j", "b")))
    val est = probeRows.join(counters, Seq("j", "b"), "left")
      .groupBy(col("term"))
      .agg(min(coalesce(col("c"), lit(0L))).as("cms_estimate"))
    val exact = tokens.filter(col("t").isin(probe: _*))
      .groupBy(col("t").as("term")).agg(count(lit(1)).as("exact_count"))
    est.join(exact, Seq("term"), "left")
      .select(col("term"),
        coalesce(col("exact_count"), lit(0L)).as("exact_count"),
        col("cms_estimate"),
        (col("cms_estimate") - coalesce(col("exact_count"), lit(0L)))
          .as("overestimate"))
  }

  /** Cross-document duplicated-substring profile — the exact-substring
    * dedup stage of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (ACL 2022), at token-window granularity:
    * every `k`-token sliding window is fingerprinted, a window is
    * DUPLICATED iff its text occurs in ≥ 2 distinct documents (within-doc
    * repetition is [[repetitionNgram]]'s job), and each document reports
    * how much of it is covered by duplicated spans. Where [[dedupSpans]]
    * drops disjoint fixed spans, the sliding window catches duplicated
    * passages at ANY alignment — the case C4-style span dedup misses.
    *
    * Returns (doc_id, n_tokens, n_windows, dup_windows, covered_tokens,
    * dup_frac) for every document with ≥ k tokens; `covered_tokens` is
    * the exact size of the union of the duplicated [s, s+k) intervals,
    * computed from one `lag` over dup window starts: a window whose
    * predecessor starts g < k positions back contributes g new tokens,
    * otherwise k — no interval list ever materializes.
    *
    * Shape at 100 TB: the window fingerprints ride ONE array `transform`
    * per document and explode to (doc_id, start, 16-byte key) rows — the
    * window text itself never leaves the row it was sliced from. The
    * cross-corpus multiplicity is a hash aggregate on the key (map-side
    * combined after the per-doc dedup), the coverage pass is a window
    * partitioned BY DOCUMENT (never a global funnel), and the final join
    * back to per-doc token counts is id+ints only. A full suffix-array
    * (the paper's exact construction) orders all corpus positions
    * globally; the k-gram formulation trades sub-k-token matches for an
    * embarrassingly parallel plan — the standard production trade.
    */
  /** (doc_id, s) rows of every k-token window start whose window text
    * occurs in ≥ 2 distinct documents — the shared discovery stage of
    * [[substringDedup]] (profile) and [[substringDedupApply]] (rewrite).
    */
  /** (doc_id, s, h) rows: every k-window start and its md5 fingerprint —
    * carried as the RAW 16 bytes (`unhex`), not the 32-char hex string:
    * the exploded window frame is ~33 rows/doc and its shuffle bytes are
    * the substring family's measured single-box ceiling at the 5M-doc
    * stress point, so halving the key halves the spill. Equality
    * structure is unchanged (unhex is a bijection on md5 output), so
    * every downstream count — and every oracle — is byte-identical.
    */
  private def windowRows(base: DataFrame, k: Int): DataFrame =
    base
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("w")) - (k - 1)),
          s => unhex(md5(concat_ws(" ", slice(col("w"), s, lit(k)))))))
          .as(Seq("pos", "h")))
      .select(col("doc_id"), (col("pos") + 1).as("s"), col("h"))

  /** (doc_id, s) starts of windows whose key occurs in ≥ 2 distinct docs
    * of the SAME frame — the `min(doc_id) != max(doc_id)` verdict.
    *
    * Three interchangeable physical forms (same rows out, so every
    * downstream hash is identical); `SPARK_GRAFT_SUBSTRING_VERDICT`
    * picks one, default `routed`:
    *
    *  - `routed` (the production default — [[crossDocDupStartsRouted]]):
    *    the single-pass window verdict, made skew-immune by a fixed-seed
    *    1% document-sample pre-pass that detects hot fingerprints and
    *    SALTS only their window groups. Measured at the 5M-doc stress
    *    point (bench/r15_substring_hotkey.json): +12% over the plain
    *    window form on the skew-free corpus (the pre-pass re-scans the
    *    doc table once — scan-bound, not explode-bound), and FLAT on the
    *    planted 5M-occurrence boilerplate key (1.39× vs its own uniform
    *    wall, of which 1.24× is the corpus's extra window rows). At this
    *    scale the unsalted window survives the 5M-row group too (160 MB
    *    buffer, a visible-but-modest straggler); the salt is priced for
    *    the regime the single box cannot reach — a 100×-corpus template
    *    key whose one group is tens of GB on one task, the Lee et al.
    *    web-crawl shape where an unsalted verdict turns into an
    *    hours-long straggler or an executor OOM.
    *
    *  - `window` ([[crossDocDupStartsWindow]], single-pass): two
    *    unbounded-frame WINDOW aggregates over h on the exploded frame
    *    itself — one explode, one shuffle, one WindowExec pass. Fastest
    *    on skew-free corpora, but groups are key-multiplicity-sized: ONE
    *    hot boilerplate fingerprint (the template-heavy web-crawl shape
    *    Lee et al. dedup hits) buffers its whole group in the window
    *    buffer (ExternalAppendOnlyUnsafeRowArray rotation + spill) on a
    *    single task — the classic straggler cliff.
    *
    *  - `agg` ([[crossDocDupStartsAgg]]): min/max hash aggregate per key
    *    (partial+final = the map-side-combined two-level form) followed
    *    by a SHUFFLE_HASH left-semi join of the exploded frame against
    *    the cross-doc key set. Never buffers a group anywhere, but pays
    *    the explode + md5 twice and the frame shuffle twice — measured
    *    2.0× the window form on the skew-free 500k-doc corpus (32.5 s vs
    *    16.0 s), which is why `routed` is the default instead.
    */
  /** Sample-routed skew-immune verdict — see the form inventory above.
    *
    * The pre-pass explodes a fixed-seed 1% document sample with the same
    * fingerprints and keeps keys that are BOTH (a) hot — sampled count ≥
    * 512, i.e. ≳50k corpus occurrences w.h.p., far below the ~1M-row
    * point where a window group's buffer starts to hurt but high enough
    * that a miss leaves only benign group sizes — and (b) PROVEN
    * cross-document: sampled rows are real corpus rows, so min(doc_id)
    * != max(doc_id) within the sample is an exact lower-bound witness,
    * never an estimate. Hot keys' window groups are then salted 256 ways
    * (bounded buffers; the per-group min/max is meaningless across salt
    * shards, but unnecessary — the verdict for those keys is already
    * proven), while every cold key keeps the exact single-pass verdict.
    * The driver-side key list is capped at the 1024 hottest (a key
    * missing the cap falls back to the cold path, correct but grouped);
    * with no hot keys the plan IS the plain window plan.
    *
    * Routing is sampling-based but correctness is not: a missed hot key
    * degrades only the group size, a false-positive salt degrades only
    * the shard count — the emitted (doc_id, s) set is identical in every
    * case, so the DuckDB oracles and the persisted-artifact consumers
    * never see the difference.
    *
    * NOT LAZY: the pre-pass is an EAGER Spark job (sample → aggregate →
    * 1024-row collect) that runs at DataFrame-CONSTRUCTION time — a
    * caller that only builds the plan (plan-shape inspection, .explain,
    * deferred pipelines) still triggers the sampling job. The routing
    * decision is also environment-sensitive (Bernoulli sampling seeds
    * per PARTITION, so a different input split can flip a near-threshold
    * key between the hot and cold routes) even though the emitted row
    * set is provably invariant — callers that need a construction-pure
    * transformation should call [[crossDocDupStartsWindow]] /
    * [[crossDocDupStartsAgg]] via the explicit `form` parameter of the
    * public entry points instead.
    */
  private[graft] def crossDocDupStartsRouted(base: DataFrame, k: Int,
                                             sampleFrac: Double = 0.01,
                                             hotMin: Long = 512L): DataFrame =
    crossDocDupStartsRoutedFromWin(base, windowRows(base, k), k,
      sampleFrac, hotMin)

  /** [[crossDocDupStartsRouted]] with the full window frame supplied by
    * the caller (the [[dupWindowStartsFromWin]] seam); the hot-key
    * sample pre-pass still explodes its own 1% of `base`.
    */
  private def crossDocDupStartsRoutedFromWin(base: DataFrame, win: DataFrame,
                                             k: Int,
                                             sampleFrac: Double = 0.01,
                                             hotMin: Long = 512L): DataFrame = {
    val hot = windowRows(base.sample(withReplacement = false, sampleFrac, seed = 42L), k)
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n"),
        min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("n") >= hotMin && col("mn") =!= col("mx"))
      .orderBy(col("n").desc, col("h").asc)
      .limit(1024)
      .select(col("h"))
      .collect().map(_.getAs[Array[Byte]]("h")).toIndexedSeq
    if (hot.isEmpty) crossDocDupStartsWindow(win)
    else {
      val isHot = col("h").isInCollection(hot)
      val byKey = org.apache.spark.sql.expressions.Window
        .partitionBy(col("h"), col("hsalt"))
      win
        .withColumn("hsalt",
          when(isHot, pmod(hash(col("doc_id"), col("s")), lit(256)))
            .otherwise(lit(0)))
        .withColumn("mn", min(col("doc_id")).over(byKey))
        .withColumn("mx", max(col("doc_id")).over(byKey))
        .filter(col("mn") =!= col("mx") || isHot)
        .select(col("doc_id"), col("s"))
    }
  }

  private def crossDocDupStartsWindow(win: DataFrame): DataFrame = {
    val byKey = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    win
      .withColumn("mn", min(col("doc_id")).over(byKey))
      .withColumn("mx", max(col("doc_id")).over(byKey))
      .filter(col("mn") =!= col("mx"))
      .select(col("doc_id"), col("s"))
  }

  /** The skew-immune two-level verdict — see [[crossDocDupStarts]].
    *
    * The two levels are Spark's own partial + final hash aggregate: the
    * partial level collapses a hot key to ONE (mn, mx) partial per map
    * task before the shuffle (exactly the salted first level a manual
    * (h, salt) pre-aggregate would add — an explicit salt layer on top
    * measured only a second pass over the same 165M rows for no extra
    * bound, so it was dropped). The semi-join back is hinted
    * SHUFFLE_HASH: sort-merge would re-SORT the exploded probe side —
    * the very corpus-sized sort this form exists to avoid — while the
    * hash build side is only the cross-doc KEY set (≈ dup mass / k,
    * 16-byte keys), which AQE splits across reducers; no driver-side
    * broadcast, so the shape survives a 1B-doc corpus where the key set
    * outgrows any broadcast threshold.
    */
  private def crossDocDupStartsAgg(win: DataFrame): DataFrame = {
    val crossDocKeys = win
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("h"))
    win.join(crossDocKeys.hint("SHUFFLE_HASH"), Seq("h"), "left_semi")
      .select(col("doc_id"), col("s"))
  }

  private def dupWindowStarts(base: DataFrame, k: Int): DataFrame =
    dupWindowStartsFromWin(base, windowRows(base, k), k)

  /** [[dupWindowStarts]] over an already-built (and typically stable-cut)
    * window frame — the seam that lets [[substringDedupIncremental]]
    * share ONE window explode between the artifact semi-join and the
    * in-batch verdict (r18-opt).
    */
  private def dupWindowStartsFromWin(base: DataFrame, win: DataFrame,
                                     k: Int): DataFrame =
    sys.env.getOrElse("SPARK_GRAFT_SUBSTRING_VERDICT", "routed") match {
      case "window" => crossDocDupStartsWindow(win)
      case "agg"    => crossDocDupStartsAgg(win)
      case _        => crossDocDupStartsRoutedFromWin(base, win, k)
    }

  /** The per-document coverage profile over a (doc_id, s) dup-start
    * frame — the shared tail of the substring-dedup family.
    */
  private def coverageProfile(base: DataFrame, starts: DataFrame,
                              k: Int): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("s"))
    val cov = starts
      .withColumn("gap", col("s") - lag(col("s"), 1).over(byDoc))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("dup_windows"),
        sum(when(col("gap").isNull || col("gap") >= k, k)
          .otherwise(col("gap"))).cast("int").as("covered_tokens"))
    base
      .select(col("doc_id"), size(col("w")).as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - (k - 1)).as("n_windows"),
        coalesce(col("dup_windows"), lit(0)).as("dup_windows"),
        coalesce(col("covered_tokens"), lit(0)).as("covered_tokens"),
        (coalesce(col("covered_tokens"), lit(0)).cast("double") /
          col("n_tokens")).as("dup_frac"))
  }

  def substringDedup(documents: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 2, s"window must span at least 2 tokens, got $k")
    val base = documents
      .withColumn("w", toks)
      .filter(size(col("w")) >= k)
    coverageProfile(base, dupWindowStarts(base, k), k)
  }

  /** [[substringDedup]] pinned to the single-pass WINDOW verdict
    * regardless of the env switch — the stress harness's contrast arm
    * (see [[crossDocDupStarts]] for the trade).
    */
  private[graft] def substringDedupWindowVerdict(documents: DataFrame,
                                                 k: Int = 8): DataFrame = {
    require(k >= 2, s"window must span at least 2 tokens, got $k")
    val base = documents
      .withColumn("w", toks)
      .filter(size(col("w")) >= k)
    coverageProfile(base, crossDocDupStartsWindow(windowRows(base, k)), k)
  }

  /** Persist the discovery stage shared by [[substringDedup]] and
    * [[substringDedupApply]]: the (doc_id, s) dup-window-start frame.
    * In the paper's pipeline the profile is computed ONCE and both the
    * report and the rewrite consume it — at 100 TB the fingerprint
    * explode + key aggregate is the dominant cost, and re-running it per
    * consumer doubles the bill. Ints + 16-byte keys only.
    */
  def writeDupWindowStarts(documents: DataFrame, dir: String, k: Int = 8): Unit = {
    require(k >= 2, s"window must span at least 2 tokens, got $k")
    val base = documents.withColumn("w", toks).filter(size(col("w")) >= k)
    // The artifact is only meaningful at the k it was built with: stamp
    // it as a constant column so a mismatched reader fails loud instead
    // of silently producing wrong coverage spans.
    // Explicit fan-out keyed by doc_id (r19-opt, the shingleHashesDir /
    // writeNearDupIndex precedent): the routed-agg verdict's semi-join
    // output inherits its reducer count, which AQE can coalesce to ONE
    // partition at bench scale — the artifact then lands as a single
    // file and every consumer's doc-keyed work (the coverage window,
    // the rewrite's per-doc spans) starts from a one-task scan. Keyed,
    // not round-robin, so per-doc rows stay co-located for the
    // consumers' doc_id windows; row order inside the artifact is
    // irrelevant (consumers window/aggregate by doc_id).
    dupWindowStarts(base, k).withColumn("k", lit(k))
      .repartition(documents.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .write.mode("overwrite").parquet(dir)
  }

  /** Read a [[writeDupWindowStarts]] artifact, asserting its k stamp
    * matches the k the consumer is about to apply (a mismatch means
    * wrong window extents — silently, without this check). An empty
    * artifact (no cross-doc dup windows) passes trivially.
    */
  private def readDupStarts(spark: org.apache.spark.sql.SparkSession,
                            dir: String, k: Int): DataFrame = {
    val df = spark.read.parquet(dir)
    require(df.columns.contains("k"),
      s"dup-starts artifact at $dir carries no k stamp — rewrite it with writeDupWindowStarts")
    df.select(col("k")).limit(1).collect().headOption.foreach { r =>
      val wrote = r.getInt(0)
      require(wrote == k,
        s"dup-starts artifact at $dir was written with k=$wrote; reader requested k=$k")
    }
    df.select(col("doc_id"), col("s"))
  }

  /** [[substringDedup]] over a persisted [[writeDupWindowStarts]] frame. */
  def substringDedupFromStarts(documents: DataFrame, startsDir: String,
                               k: Int = 8): DataFrame = {
    val base = documents.withColumn("w", toks).filter(size(col("w")) >= k)
    coverageProfile(base, readDupStarts(documents.sparkSession, startsDir, k), k)
  }

  /** Write the corpus's DISTINCT k-window fingerprints as a parquet
    * artifact (16-byte keys only — the standing "seen spans" set of a
    * continuous ingest, the substring analogue of
    * [[graft.ops.Similarity.writeCorpusKeys]]).
    */
  def writeWindowHashes(documents: DataFrame, dir: String, k: Int = 8): Unit =
    windowRows(documents.withColumn("w", toks).filter(size(col("w")) >= k), k)
      .select(col("h")).distinct().withColumn("k", lit(k))
      .write.mode("overwrite").parquet(dir)

  /** Incremental substring dedup — the continuous-ingest form of
    * [[substringDedup]]: a NEW batch's window is duplicated iff its text
    * already exists in the persisted corpus artifact (one semi-join of
    * 16-byte keys against the artifact scan — the resident corpus is
    * never re-tokenized) OR occurs in ≥ 2 distinct docs within the batch
    * itself. Returns the same per-document coverage profile, over the
    * new batch only.
    */
  def substringDedupIncremental(newDocs: DataFrame, artifactDir: String,
                                k: Int = 8): DataFrame = {
    require(k >= 2, s"window must span at least 2 tokens, got $k")
    val spark = newDocs.sparkSession
    // Stable-cuts (r18-opt): `base` feeds the window explode, the routed
    // verdict's sample pre-pass AND the coverage profile; `win` feeds the
    // artifact semi-join AND the in-batch verdict — lazily each consumer
    // re-scanned and re-tokenized the batch (4 scans in the AQE-final
    // plan, plans/r18/substring_dedup_incremental_before.txt, zero
    // reuse). Both cuts are batch-sized by the operator's own contract
    // (only the ARRIVING batch is ever tokenized), so at 100 TB they pin
    // nightly-batch rows, never the resident corpus.
    val base = Checkpoints.stable(
      newDocs.withColumn("w", toks).filter(size(col("w")) >= k)
        .select(col("doc_id"), col("w")))
    val win = Checkpoints.stable(windowRows(base, k))
    val corpus = spark.read.parquet(artifactDir)
    // Same HARD k-stamp guard as readDupStarts. The stamp doubles as the
    // format version: a pre-stamp artifact also predates the hex→binary
    // fingerprint change in windowRows, and a soft check would let its
    // string `h` silently join zero rows against the binary keys instead
    // of failing loud — rewrite old artifacts with writeWindowHashes.
    require(corpus.columns.contains("k"),
      s"window-hash artifact at $artifactDir carries no k stamp (pre-binary-" +
        "fingerprint format) — rewrite it with writeWindowHashes")
    corpus.select(col("k")).limit(1).collect().headOption.foreach { r =>
      require(r.getInt(0) == k,
        s"window-hash artifact at $artifactDir was written with k=${r.getInt(0)}; reader requested k=$k")
    }
    val corpusHits = win
      .join(corpus.select(col("h")), Seq("h"), "left_semi")
      .select(col("doc_id"), col("s"))
    val batchHits = dupWindowStartsFromWin(base, win, k)
    coverageProfile(base,
      corpusHits.unionByName(batchHits).dropDuplicates("doc_id", "s"), k)
  }

  /** The removal step of Lee et al.'s exact-substring dedup — the
    * transform [[substringDedup]] profiles: every token position covered
    * by a cross-document duplicated k-window is DROPPED and survivors
    * reassemble in order (the sliding-window analogue of
    * [[dedupSpans]]'s fixed-span removal). Returns (doc_id, clean_text,
    * n_tokens, removed_tokens); a fully-duplicated document yields ''.
    *
    * Shape: coverage is decided by a per-document range ANTI-join of
    * token positions against the dup window starts (`s ∈ [p−k+1, p]`) —
    * equi on doc_id, so the theta part evaluates within one join key,
    * bounded by document length; reassembly is one `collect_list` per
    * document, the same bound the input row already carries.
    */
  def substringDedupApply(documents: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 2, s"window must span at least 2 tokens, got $k")
    val base = documents
      .withColumn("w", toks)
      .filter(size(col("w")) >= k)
    substringDedupApplyWithStarts(base, dupWindowStarts(base, k), k)
  }

  /** [[substringDedupApply]] over a persisted [[writeDupWindowStarts]]
    * frame (see there for the shared-discovery rationale).
    */
  def substringDedupApplyFromStarts(documents: DataFrame, startsDir: String,
                                    k: Int = 8): DataFrame = {
    val base = documents.withColumn("w", toks).filter(size(col("w")) >= k)
    substringDedupApplyWithStarts(base,
      readDupStarts(documents.sparkSession, startsDir, k), k)
  }

  private def substringDedupApplyWithStarts(base: DataFrame,
                                            dupStarts: DataFrame,
                                            k: Int): DataFrame = {
    val starts = dupStarts.withColumnRenamed("doc_id", "sd")
    val tokRows = base
      .select(col("doc_id"), posexplode(col("w")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("tok"))
    val kept = tokRows.join(starts,
        col("sd") === col("doc_id") &&
          col("s").between(col("p") - (k - 1), col("p")),
        "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("p"), col("tok")))),
          x => x.getField("tok"))).as("clean_text"),
        count(lit(1)).as("kept"))
    base.select(col("doc_id"), size(col("w")).as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("kept"), lit(0L)))
          .cast("int").as("removed_tokens"))
  }

  /** Fixed-width token spans of the lowercased text: full `n`-token
    * chunks plus the natural-length tail. Pure codegen'd slice/concat.
    */
  private def spanArray(n: Int) =
    transform(
      sequence(lit(0), floor((size(toks) - 1) / n).cast("int")),
      i => concat_ws(" ", slice(toks, i * n + 1, lit(n))))

  /** Adjacent-token bigram rows of the lowercased text — codegen'd
    * slice + zip_with, no UDF.
    */
  private def bigrams = {
    val ts = toks
    zip_with(
      slice(ts, lit(1), size(ts) - 1),
      slice(ts, lit(2), size(ts) - 1),
      (a, b) => concat_ws(" ", a, b))
  }

  /** Exact top-k heavy hitters over an unbounded-vocabulary token stream
    * (bigrams here), mined the way it must be done at 100 TB:
    *
    *   pass 1 — a Misra–Gries summary ([[graft.agg.MisraGries]], capacity
    *     `m`) over the token rows: O(m) state per partial, map-side
    *     combined, NO shuffle of the distinct-term space. Its output is a
    *     guaranteed superset of every term with frequency > N/(m+1).
    *   pass 2 — exact recount of only those ≤ m candidates: the token
    *     scan repeats, but the aggregate key space is now bounded by m,
    *     and the candidate list rides a broadcast semi-join.
    *
    * Whenever the true top-k all clear the N/(m+1) survival bound (top-10
    * bigrams here sit 1.7× above it at the gate scale, and the bound is
    * deterministic — not probabilistic), the output EQUALS exact global
    * top-k, which is what the DuckDB oracle pins. A groupBy over all
    * terms would give the same answer while shuffling a key space that at
    * corpus scale is billions of n-grams; this shape never materializes
    * more than m candidate counts past the map side.
    */
  def heavyHitters(documents: DataFrame, m: Int = 1024, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokenRows = documents.select(explode(bigrams).as("t"))
    val candidates = tokenRows
      .agg(graft.agg.MisraGries.misraGries(col("t"), m).as("summary"))
      .select(explode(map_keys(col("summary"))).as("t"))
    val exact = tokenRows
      .join(broadcast(candidates), Seq("t"), "left_semi")
      .groupBy(col("t"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("cnt").desc, col("t").asc)
    exact
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("rank"), col("t"), col("cnt"))
  }

  /** Per-document character-entropy quality signal (bits per character):
    * the standard cheap gibberish/boilerplate detector (a run of one
    * repeated character scores 0 bits, natural prose ~4) — the
    * character-level complement to [[qualityScore]]'s token ratios.
    *
    * Scale shape: the whole statistic is ONE native codegen'd expression
    * ([[graft.functions.CharEntropyExpr]]) inside the scan stage — no
    * per-character explode (which would multiply shuffled rows by the
    * document LENGTH), no shuffle at all until the caller aggregates.
    * At 100 TB this is a pure map over document partitions.
    */
  def charEntropy(documents: DataFrame): DataFrame = {
    documents.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_ent"),
      call_function("graft_entropy", col("text")).as("h_bits"))
  }

  /** Canonical text normalization — NFC + Unicode-space/control cleanup
    * + whitespace collapse — as ONE native codegen'd pass per document
    * ([[graft.functions.NormalizeTextExpr]]): the transform every
    * ingestion front-end runs before hashing, deduping or tokenizing
    * (un-normalized text makes byte-identical prose hash differently —
    * NFC composition, NBSP vs space, stray controls from broken
    * encodings). Returns the cleaned text with before/after lengths, so
    * the dirt VOLUME per doc is itself a diagnostic.
    *
    * Scale shape: pure map inside the scan's codegen stage — the
    * statistic of interest at 100 TB is bytes-per-second, and this pass
    * reads each code point once with no intermediate strings (the SQL
    * spelling is a four-deep regexp_replace chain materializing three
    * copies per row).
    */
  def normalizeText(documents: DataFrame): DataFrame = {
    documents.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_raw"),
      call_function("graft_normalize", col("text")).as("clean_text"))
      .withColumn("n_chars_clean", length(col("clean_text")).cast("long"))
  }

  /** Per-document n-gram NOVELTY against everything that came before it
    * in corpus order (RefinedWeb/FineWeb-style dataset-diversity curve):
    * of a document's distinct 3-token shingles, the fraction whose
    * corpus-wide FIRST occurrence (min doc_id) is this document. A
    * near-duplicate of an earlier document scores ~0; fresh content ~1 —
    * the per-document signal behind "is this crawl snapshot adding
    * anything new?".
    *
    * Scale shape: one shingle explode → md5 → distinct (doc, h) rows;
    * first-seen via a groupBy(h) min — the h-keyed aggregate and the
    * h-keyed join ride the SAME partitioning (one real shuffle on h,
    * map-side combined), then one doc-keyed aggregate. Shuffles carry
    * (h, doc_id) pairs only; text never leaves the scan stage.
    */
  def ngramNovelty(documents: DataFrame): DataFrame = {
    val sh = Similarity.shingleRows(documents)
      .select(col("doc_id"), md5(col("s")).as("h"))
      .distinct()
    val firstSeen = sh.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(firstSeen, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_distinct"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", col("n_novel").cast("double") / col("n_distinct"))
  }

  /** Per-language Zipf rank–frequency fit: slope and intercept of
    * log2(freq) against log2(rank) over the token vocabulary — the
    * corpus-health diagnostic (natural language sits near slope −1;
    * template/boilerplate corpora flatten, spam steepens; a slope SHIFT
    * between snapshots flags a scraper or mix change).
    *
    * Scale shape: one token explode into a (lang, token) hash aggregate
    * (map-side combined — the only token-volume shuffle), then ranking
    * and regression run in TYPE space (vocabulary rows, orders of
    * magnitude smaller). The per-language rank is a window over type
    * rows; regr_slope/regr_intercept are single-pass moment aggregates.
    */
  def zipfSlope(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = documents
      .filter(col("lang").isNotNull)
      .select(col("lang"), explode(toks).as("t"))
      .groupBy(col("lang"), col("t"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("lang")).orderBy(col("c").desc, col("t").asc)
    val rk = tok.withColumn("r", row_number().over(w))
    val lf = log2(col("c").cast("double"))
    val lr = log2(col("r").cast("double"))
    rk.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_types"),
        regr_slope(lf, lr).as("zipf_slope"),
        regr_intercept(lf, lr).as("zipf_intercept"))
  }

  /** Heaps'-law vocabulary-growth curve: cumulative token count vs
    * cumulative DISTINCT-type count over `nBuckets` equal doc_id ranges
    * in corpus order — "how fast does new vocabulary arrive", the
    * saturation diagnostic behind dedup/mixing decisions (a flat tail
    * says more of this source adds tokens but no new types).
    *
    * Scale shape: the bucket id is integer arithmetic against a
    * broadcast (min, max) row — no global row-numbering. The cumulative
    * distinct count needs no distinct-so-far state: each type counts at
    * its FIRST bucket (groupBy(t).min(b)), so the token-volume work is
    * two hash aggregates; the final running sums window over ≤ nBuckets
    * rows (bounded, single-partition by construction).
    */
  def vocabGrowth(documents: DataFrame, nBuckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bounds = documents.agg(
      min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    val d = documents
      .crossJoin(broadcast(bounds))
      .withColumn("b",
        least(lit(nBuckets),
          expr(s"((doc_id - lo) * $nBuckets) DIV (hi - lo + 1)") + lit(1)))
    val tok = d.select(col("b"), explode(toks).as("t"))
    val perBucket = tok.groupBy(col("b")).agg(count(lit(1)).as("n_tokens"))
    val newTypes = tok.groupBy(col("t")).agg(min(col("b")).as("fb"))
      .groupBy(col("fb")).agg(count(lit(1)).as("n_new"))
      .withColumnRenamed("fb", "b")
    val w = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket.join(newTypes, Seq("b"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_types", sum(col("n_new")).over(w))
      .select(col("b").as("bucket"), col("n_tokens"), col("n_new"),
        col("cum_tokens"), col("cum_types"))
  }

  /** Pairwise vocabulary overlap between sources (Jaccard over distinct
    * token sets): the redundancy matrix a mixing pipeline consults
    * before weighting sources — two crawls of the same site show near-1
    * overlap and should not be double-counted.
    *
    * Scale shape: distinct (source, token) rows first (one token-volume
    * aggregate), then the pair join runs in TYPE space keyed on the
    * token; per-token groups are bounded by the SOURCE count (≤ s rows
    * → ≤ s²/2 pairs per token), never by corpus size, so the join
    * output is |vocab|·O(s²) — s is tens, not millions. Set sizes ride
    * in as one broadcast.
    */
  def sourceOverlap(documents: DataFrame): DataFrame = {
    val v = documents
      .filter(col("source").isNotNull)
      .select(col("source"), explode(toks).as("t"))
      .distinct()
    val sizes = v.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = v.as("a")
      .join(v.as("b"),
        col("a.t") === col("b.t") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.withColumnRenamed("source", "s1")
        .withColumnRenamed("n", "n1")), Seq("s1"))
      .join(broadcast(sizes.withColumnRenamed("source", "s2")
        .withColumnRenamed("n", "n2")), Seq("s2"))
      .select(col("s1"), col("s2"), col("n_common"), col("n1"), col("n2"),
        (col("n_common").cast("double") /
          (col("n1") + col("n2") - col("n_common"))).as("jaccard"))
  }

  /** Adjacent-token PMI collocations: top-k token bigrams by pointwise
    * mutual information log2(c12·N / (c1·c2)) with a minimum-count
    * floor — the classic collocation miner (phrase detection for
    * tokenizer vocab building, template detection when PMI ≈ max).
    *
    * Marginals are POSITIONAL (the textbook bigram model): c1 counts w1
    * in the left slot, c2 counts w2 in the right slot, N is the bigram
    * total — all three derive from the one bigram aggregate, and every
    * pair keeps both its marginals by construction (a left-only count
    * would silently drop any pair whose second word never starts a
    * bigram). Engine-exactness in
    * the ORDERING (the distinctive_terms precedent): ranking uses the
    * log-free ratio (c12·N)/(c1·c2) — products/quotients of exact
    * integer counts, identical doubles in any engine — with (w1, w2) as
    * the total tie-break; the log2 of that same ratio ships as the
    * reported PMI. Top-k is TakeOrdered (per-partition k, no global
    * sort).
    *
    * Scale shape: one adjacent-zip explode (codegen'd, no UDF) into a
    * (w1, w2) hash aggregate; unigram counts re-aggregate THOSE rows;
    * N is a 1-row broadcast. Shuffles carry pair-count rows only.
    */
  def pmiPairs(documents: DataFrame, minCount: Long = 5L, k: Int = 50): DataFrame = {
    val bg = documents
      .withColumn("w", split(lower(col("text")), " "))
      .filter(size(col("w")) >= 2)
      .withColumn("wn", slice(col("w"), lit(2), size(col("w"))))
      .select(explode(arrays_zip(col("w"), col("wn"))).as("z"))
      .filter(col("z.wn").isNotNull)
      .select(col("z.w").as("w1"), col("z.wn").as("w2"))
    val bc = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val uniL = bc.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val uniR = bc.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
    val n = bc.agg(sum(col("c12")).cast("double").as("n_big"))
    val ratio = (col("c12").cast("double") * col("n_big")) /
      (col("c1").cast("double") * col("c2").cast("double"))
    // the marginals are VOCABULARY-sized — never broadcast them; both
    // lookups are word-keyed shuffle joins over (pair, count) rows, and
    // AQE may still elect a broadcast when the vocabulary is actually
    // small.
    bc.filter(col("c12") >= minCount)
      .join(uniL, Seq("w1"))
      .join(uniR, Seq("w2"))
      .crossJoin(broadcast(n))
      .withColumn("ratio", ratio)
      .orderBy(col("ratio").desc, col("w1").asc, col("w2").asc)
      .limit(k)
      .select(col("w1"), col("w2"), col("c12"), log2(col("ratio")).as("pmi"))
  }
}
