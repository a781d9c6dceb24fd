package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the coarse-quantizer
  * counterpart to the hyperplane-LSH path in [[Similarity]]. Where LSH
  * buckets by random projections (data-independent), IVF learns `nlist`
  * centroids FROM the corpus and partitions by nearest centroid, which
  * adapts to clustered embedding distributions: probes touch the `nprobe`
  * nearest cells instead of Hamming-ball neighbors.
  *
  * Every stage is declarative DataFrame code over the codegen'd
  * `graft_dot` expression — no per-row UDF anywhere:
  *
  *  - **assign**: nearest centroid via a BROADCAST join of the corpus
  *    against the (nlist)-row centroid table; argmin(‖x−c‖²) =
  *    argmin(‖c‖² − 2·x·c) needs only the dot product, so ‖x‖² is never
  *    computed. Ties (exactly equidistant centroids) break on the lower
  *    cid via `min(struct(score, cid))` — a deterministic total order.
  *  - **update**: per-dimension means via `posexplode` + one hash
  *    aggregate; only (nlist × dim) numbers ever return to the driver.
  *  - **layout**: corpus written parquet-partitioned by cell id, one file
  *    per cell (repartition on the key first); centroids persist as a
  *    tiny sibling parquet — the "catalog artifact" a lake deployment
  *    would register.
  *  - **probe**: the query's `nprobe` nearest cells are computed
  *    DRIVER-side from the centroid artifact (nlist rows), and the scan
  *    filters on the partition column — directory pruning
  *    (PartitionFilters), so a probe reads ~nprobe/nlist of the corpus.
  *
  * At 100 TB: training runs on a hash-sample (centroid quality needs
  * thousands of points per cell, not the full corpus); assignment is one
  * broadcast-join pass (the centroid table is KBs); the layout write is
  * the same one-shuffle clustered write the LSH path uses. `nlist` scales
  * as √n (the FAISS rule of thumb) — cells stay probe-sized while the
  * per-probe centroid scan stays a driver-side array pass.
  */
object Ivf {

  /** Deterministic k-means: seeds = the `nlist` vectors with the smallest
    * `md5(vec_id)` (a uniform, engine-agnostic, order-stable sample),
    * then `iters` Lloyd rounds. Returns (cid → centroid) as float arrays.
    *
    * `sampleRate` < 1 trains on a deterministic [[Sampling.hashSample]]
    * of the corpus — centroid quality needs thousands of points per cell,
    * not all of them, so at 100 TB this turns iters× full-corpus
    * broadcast-join passes into iters× passes over the sample (the one
    * full-corpus assignment happens exactly once, in the layout write).
    * `sampleRate = 1.0` is bit-identical to training on everything.
    *
    * Input contract: `embeddings` should be a MATERIALIZED source (a scan
    * or cached frame). The assignment join replicates each input row
    * logically nlist× — a computed/derived embedding column would be
    * re-evaluated per (vector, centroid) pair (measured 130× at
    * nlist=316 on an expression-generated corpus in `graft.Stress`).
    */
  def trainCentroids(embeddings: DataFrame, nlist: Int, iters: Int,
                     sampleRate: Double = 1.0): Array[Array[Float]] = {
    require(sampleRate > 0.0 && sampleRate <= 1.0,
      s"sampleRate must be in (0, 1], got $sampleRate")
    val spark = embeddings.sparkSession
    val train =
      if (sampleRate >= 1.0) embeddings
      else Sampling.hashSample(embeddings, "vec_id", sampleRate)
    var centroids: Array[Array[Float]] = train
      .select(col("vec_id"), col("embedding"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(nlist)
      .collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
    require(centroids.length == nlist,
      s"training sample has only ${centroids.length} vectors for nlist=$nlist " +
        "seeds — raise sampleRate or lower nlist")
    for (_ <- 0 until iters) {
      val assigned = assignCells(train, centroids, spark)
      val upd = assigned
        .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cid"), col("pos"))
        .agg(avg(col("v")).as("m"))
        .collect()
      val byCell = upd.groupBy(_.getInt(0))
      centroids = centroids.indices.map { cid =>
        byCell.get(cid) match {
          case Some(rows) =>
            val c = new Array[Float](rows.length)
            rows.foreach(r => c(r.getInt(1)) = r.getDouble(2).toFloat)
            c
          case None => centroids(cid) // empty cell keeps its seed
        }
      }.toArray
    }
    centroids
  }

  /** Nearest-centroid assignment as one broadcast join + hash aggregate.
    * Keeps every corpus column and adds `cid`.
    *
    * Payload discipline: the ×nlist blowup of the broadcast join carries
    * ONLY (vec_id, score, cid) — the embedding feeds `graft_dot` and is
    * projected away in the same select, so map-side partial aggregation
    * shrinks the blowup back to one best-cell row per vector before
    * anything shuffles. The payload re-attaches with one equi-join on
    * vec_id. (The first cut carried the 64-float array through all nlist
    * copies and the aggregate — measured 80× slower at nlist=316.)
    */
  private def assignCells(embeddings: DataFrame,
                          centroids: Array[Array[Float]],
                          spark: SparkSession): DataFrame = {
    import spark.implicits._
    val cents = centroids.zipWithIndex
      .map { case (c, i) => (i, c, c.map(v => v.toDouble * v).sum) }
      .toSeq.toDF("cid", "c_emb", "c_norm2")
    val best = embeddings.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), struct(
        (col("c_norm2") - lit(2.0) * expr("graft_dot(embedding, c_emb)"))
          .as("score"),
        col("cid")).as("sc"))
      .groupBy(col("vec_id"))
      .agg(min(col("sc")).as("best"))
      .select(col("vec_id").as("bid"), col("best.cid").as("cid"))
    embeddings.join(best, col("vec_id") === col("bid")).drop("bid")
  }

  /** Train + write the cell-partitioned corpus layout; the centroid table
    * persists as a sibling parquet artifact (`<dir>_centroids`). Returns
    * the centroids for callers that probe in the same session.
    */
  def writeIvfLayout(embeddings: DataFrame, layoutDir: String,
                     nlist: Int = 16, iters: Int = 3,
                     trainSampleRate: Double = 1.0): Array[Array[Float]] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val centroids = trainCentroids(embeddings, nlist, iters, trainSampleRate)
    assignCells(embeddings, centroids, spark)
      .repartition(col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(layoutDir)
    centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("cid", "c_emb")
      .coalesce(1)
      .write.mode("overwrite").parquet(centroidsDir(layoutDir))
    centroids
  }

  def centroidsDir(layoutDir: String): String = layoutDir + "_centroids"

  /** Incremental index maintenance: append a new vector batch to an
    * existing IVF layout. The batch assigns against the PERSISTED
    * centroid artifact — no retraining, no touch of the resident data —
    * and appends cell-partitioned files, so probes see old+new rows
    * immediately and the write cost is proportional to the batch, not
    * the corpus. This is the lake steady state: one training run, then
    * append-only maintenance; centroid DRIFT is the documented limit —
    * when the appended data stops matching the trained cells, probes
    * read ever-larger mismatched cells and recall decays, so the drift
    * must be MEASURED, not assumed.
    *
    * Returns the drift report that makes the retrain trigger observable:
    * one row per touched cell — `(cid, n_appended, drift)` where `drift`
    * = ‖mean(batch members of the cell) − persisted centroid‖₂, the
    * standard k-means residual displacement. An i.i.d. batch re-centers
    * each cell near its centroid (drift ≈ the noise floor); a shifted
    * distribution shows up as drift of the order of the shift itself.
    * Alert on e.g. `max(drift)` or the appended-count-weighted mean
    * against the layout's typical intra-cell radius; retrain via
    * [[writeIvfLayout]] when it fires. Cost: the per-cell means fall out
    * of one posexplode + hash aggregate over the batch (nlist×dim rows —
    * nothing proportional to the resident corpus), and the final
    * distance is computed on the nlist-row centroid join.
    */
  def appendToLayout(newVectors: DataFrame, layoutDir: String): DataFrame = {
    val spark = newVectors.sparkSession
    import spark.implicits._
    val centroids = readCentroids(spark, layoutDir)
    val assigned = Checkpoints.stable(assignCells(newVectors, centroids, spark))
    assigned
      .repartition(col("cid"))
      .write.mode("append").partitionBy("cid").parquet(layoutDir)
    val cents = centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("ccid", "c_emb")
    assigned
      .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("cid"), col("pos"))
      .agg(avg(col("v")).as("m"), count(lit(1)).as("n"))
      .groupBy(col("cid"))
      .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("mean_emb"),
        max(col("n")).as("n_appended"))
      .join(broadcast(cents), col("cid") === col("ccid"))
      .select(col("cid"), col("n_appended"),
        sqrt(aggregate(
          zip_with(col("mean_emb"), col("c_emb"),
            (m, c) => (m.getField("m") - c.cast("double"))
              * (m.getField("m") - c.cast("double"))),
          lit(0.0), (acc, x) => acc + x)).as("drift"))
  }

  /** Load the centroid artifact back (nlist rows — a driver-side array). */
  def readCentroids(spark: SparkSession, layoutDir: String): Array[Array[Float]] =
    spark.read.parquet(centroidsDir(layoutDir))
      .orderBy(col("cid"))
      .collect()
      .map(_.getAs[scala.collection.Seq[Float]]("c_emb").toArray)

  /** Oracle-able IVF twin (the md5-twin precedent applied to the coarse
    * quantizer): centroids are the `nlist` vectors with the smallest
    * `md5(vec_id)` — the SAME seed rule [[trainCentroids]] starts from,
    * minus the Lloyd rounds whose float means no two engines reproduce
    * bit-for-bit — embeddings floor-quantized by 2^20, and cell
    * assignment the argmin of the INTEGER squared distance, encoded as
    * one `min(d2·nlist + cid)` so the lower-cid tie-break is part of the
    * same exact arithmetic. The probe selects the `nprobe` cells nearest
    * the query by the same integer metric and ranks candidates by exact
    * cosine. Everything before the final cosine is BIGINT arithmetic any
    * engine reproduces, so cell membership — and hence the candidate
    * set — is hash-checkable where [[ivfProbe]] over trained centroids
    * can only be rows-only checked.
    *
    * Fully in-plan (no layout write, no driver collect): the centroid
    * frame and the query row ride as broadcasts; the ×nlist assignment
    * blowup carries only (vec_id, m) per the payload discipline above.
    */
  /** 2^20 floor-quantization of the embedding to BIGINT coordinates —
    * the arithmetic any engine reproduces bit-for-bit (see [[annIvfMd5]]).
    */
  private def quantized(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), col("embedding"),
      transform(col("embedding"),
        x => floor(x.cast("double") * lit(1048576.0)).cast("long")).as("qe"))

  /** Integer squared distance over the quantized coordinates — the
    * codegen'd [[graft.functions.L2SquaredLong]] native expression. The
    * interpreted HOF spelling (`aggregate(zip_with(...))`) measured
    * ~14 µs per 64-dim evaluation; the assignment stages evaluate this
    * n·nlist times, so the evaluator IS the operator's cost at scale.
    * Identical long arithmetic either way — oracles unaffected.
    */
  private def intD2(a: org.apache.spark.sql.Column,
                    b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    call_function("graft_l2q", a, b)

  /** md5-seeded deterministic cells: the `nlist` vectors with the
    * smallest `md5(vec_id)` become (cid, ce=quantized centroid). The
    * row_number window is bounded by nlist — never the corpus.
    */
  private def md5SeedCells(quant: DataFrame, nlist: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    quant
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(nlist)
      .withColumn("cid", row_number().over(w).cast("long") - 1L)
      .select(col("cid"), col("qe").as("ce"))
  }

  /** Nearest-cell assignment by INTEGER squared distance, the lower-cid
    * tie-break as a struct-ordered `min(struct(d2, cid))` — lexicographic
    * on exact BIGINTs, so it is the same total order the earlier
    * `min(d2·nlist + cid)` packing encoded WITHOUT the packing's silent
    * Long overflow once nlist·dim·2^42 exceeds 2^63 (the documented
    * nlist ∝ n/target sizing crosses that at ~40M 64-dim vectors).
    * DuckDB orders structs by field order the same way, so the oracle
    * mirrors it exactly. Payload discipline: the ×nlist blowup carries
    * only (vec_id, struct(d2, cid)). Returns (aid, cid).
    */
  private def md5CellAssign(quant: DataFrame, cents: DataFrame): DataFrame =
    quant.select(col("vec_id"), col("qe"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"),
        struct(intD2(col("qe"), col("ce")).as("d2"), col("cid")).as("m"))
      .groupBy(col("vec_id")).agg(min(col("m")).as("m"))
      .select(col("vec_id").as("aid"), col("m.cid").as("cid"))

  def annIvfMd5(embeddings: DataFrame, queryId: Long = 0L, k: Int = 10,
                nlist: Int = 8, nprobe: Int = 2): DataFrame = {
    import org.apache.spark.sql.Column
    val quant = quantized(embeddings)
    val cents = md5SeedCells(quant, nlist)
    def d2(a: Column, b: Column): Column = intD2(a, b)
    val assigned = md5CellAssign(quant, cents)
    val qrow = quant.filter(col("vec_id") === queryId)
      .select(col("qe").as("q_qe"), col("embedding").as("q_emb"))
    val qcells = cents.crossJoin(broadcast(qrow))
      .orderBy(d2(col("q_qe"), col("ce")), col("cid"))
      .limit(nprobe)
      .select(col("cid"))
    def dotF(a: Column, b: Column) = call_function("graft_dot", a, b)
    embeddings.filter(col("vec_id") =!= queryId)
      .join(assigned, col("vec_id") === col("aid"))
      .join(broadcast(qcells), Seq("cid"))
      .crossJoin(broadcast(qrow))
      .select(col("vec_id"), col("label"),
        (dotF(col("embedding"), col("q_emb")) /
          (sqrt(dotF(col("embedding"), col("embedding"))) *
            sqrt(dotF(col("q_emb"), col("q_emb"))))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** SemDeDup semantic deduplication (Abbas et al., "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication",
    * 2023): cluster the embedding space, then prune near-identical
    * vectors WITHIN each cluster — the within-cell m² pairing makes
    * web-scale semantic dedup tractable where corpus-wide all-pairs
    * cosine is not, at the cost of missing duplicates the clustering
    * splits across cells (the paper's accepted approximation).
    *
    * This form is deterministic end-to-end so the whole path is
    * hash-oracle-able (the md5-twin discipline of [[annIvfMd5]], whose
    * integer-exact cell machinery it shares): md5-seeded cells, BIGINT
    * quantized assignment, then exact double cosine within cells. The
    * dedup contract is greedy-by-id: a vector is REMOVED iff some
    * lower-id vector in its cell has cosine ≥ `threshold` with it
    * (chains prune transitively: in a~b~c with a≁c, both b and c go —
    * each duplicates a lower-id survivor-or-casualty, matching the
    * paper's "keep one representative per near-dup neighborhood").
    * Returns the removal list (vec_id, cid, dup_of = lowest duplicated
    * partner, max_cosine = tightest duplication), ready to anti-join
    * against the corpus.
    *
    * Shape at 100 TB: assignment is the one broadcast-join pass; the
    * pair join is an EQUI-join on cid (sort-merge, never a cartesian)
    * whose per-cell m² cost is bounded by sizing nlist ∝ n/target —
    * the same knob [[Similarity.embNearDupAuto]] documents — and the
    * embedding rides into exactly one join, with only (ids, cid,
    * cosine) surviving the pairing.
    */
  /** The SemDeDup candidate-pair mass as a ONE-ROW frame
    * `(estimated_pairs)` — Σ_cid C(cnt, 2) over the md5-seeded
    * integer-exact cell assignment: exactly the unordered pairs the
    * within-cell m² phase will score, computed by the (cheap, n·nlist)
    * assignment plus one hash aggregate — the [[graft.ops.Similarity
    * .cosinePreflight]] governance pattern applied to the semantic
    * tier. The whole path below the floats' 2^20 quantization is BIGINT
    * arithmetic (the [[annIvfMd5]] machinery), so the estimate is
    * engine-exact and oracle-able.
    *
    * The regime this exists for: [[semanticDedup]] with an UNDERSIZED
    * `nlist` (the paper form's documented trap — a default-8 call on a
    * million-vector corpus puts ~n/8 vectors in each cell, ~6×10¹⁰
    * pairs) pays a pairing that grows ~n²/nlist while the assignment
    * the preflight needs stays ~n·nlist — the refusal is cheap exactly
    * where the launch is fatal. The answer to a refusal is nlist ∝ n
    * ([[graft.ops.Similarity.embNearDupAuto]]'s sizing note) or the
    * capped/hier production forms, whose per-task work is bounded by
    * construction.
    */
  def semanticPreflight(embeddings: DataFrame, nlist: Int = 8): DataFrame = {
    val quant = Checkpoints.stable(
      quantized(embeddings).select(col("vec_id"), col("qe")))
    val assigned = md5CellAssign(quant, md5SeedCells(quant, nlist))
    // cross-cell sum in DECIMAL(38,0) so an enormous mass can never
    // wrap a BIGINT silently (ANSI off; r17 ADVICE #1 discipline); the
    // published column folds back to BIGINT — by the time a corpus
    // could overflow IT (≥2⁶³ pairs) no budget on earth accepts anyway.
    assigned.groupBy(col("cid")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c").cast("decimal(38,0)") * (col("c") - lit(1L))),
        lit(java.math.BigDecimal.ZERO)).as("m2"))
      .selectExpr("CAST(m2 DIV 2 AS BIGINT) AS estimated_pairs")
  }

  /** Σ_cid C(size, 2) over a cell-assignment frame — the within-cell
    * pair mass the SemDeDup m² phase will pay, as ONE driver-side Long.
    * Cross-cell sum in DECIMAL(38,0): with ANSI off a BIGINT sum wraps
    * silently, and a wrapped-negative mass would sail under any budget
    * (r17 ADVICE #1 — same discipline as Similarity.candidatePairMass);
    * beyond-Long caps to MaxValue, which refuses against every finite
    * budget. Shared by the [[semanticDedup]] guard and the governed
    * router so the two can never disagree on the estimate.
    */
  private def cellPairMass(assigned: DataFrame): Long = {
    val m2 = assigned.groupBy(col("cid")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c").cast("decimal(38,0)") * (col("c") - lit(1L))).as("m2"))
      .head().getAs[java.math.BigDecimal]("m2")
    if (m2 == null) 0L
    else {
      val half = m2.toBigInteger.shiftRight(1)
      if (half.bitLength >= 63) Long.MaxValue else half.longValueExact()
    }
  }

  /** Persist the flat md5-seeded cell assignment (aid, cid) as a parquet
    * artifact — the shared prelude of the flat SemDeDup tier (r19-opt).
    * Four registered consumers (semantic_dedup, semantic_clusters,
    * semantic_governed, semantic_preflight) run the SAME
    * quantize→seed→assign subtree at nlist=8; before the split each
    * rebuilt it per query. Integer-exact end-to-end (BIGINT quantized
    * argmin, md5 seeds), so the parquet round-trip changes no value and
    * every consumer's oracle is untouched. Keyed fan-out by `aid` (the
    * writeNearDupIndex discipline): consumers join embeddings on
    * vec_id = aid, and a single-file artifact would start every
    * consumer from a one-task scan.
    */
  def writeSemanticAssign(embeddings: DataFrame, dir: String,
                          nlist: Int = 8): Unit = {
    val quant = Checkpoints.stable(
      quantized(embeddings).select(col("vec_id"), col("qe")))
    md5CellAssign(quant, md5SeedCells(quant, nlist))
      .repartition(embeddings.sparkSession.sparkContext.defaultParallelism,
        col("aid"))
      .write.mode("overwrite").parquet(dir)
    // the quant cut is dead once the assignment persists
    Checkpoints.release(quant)
  }

  /** [[semanticDedup]] (budget-free form) over an already-built
    * assignment artifact — the consumer face of [[writeSemanticAssign]].
    */
  def semanticDedupFromAssign(embeddings: DataFrame, assigned: DataFrame,
                              threshold: Double): DataFrame = {
    val cells = embeddings
      .join(assigned, col("vec_id") === col("aid"))
      .select(col("vec_id"), col("cid"), col("embedding"))
    greedyPairRemoval(cells, Seq("cid"), "cid", threshold)
  }

  /** [[semanticClusters]] over an already-built assignment artifact. */
  def semanticClustersFromAssign(embeddings: DataFrame, assigned: DataFrame,
                                 threshold: Double): DataFrame = {
    val cells = embeddings
      .join(assigned, col("vec_id") === col("aid"))
      .select(col("vec_id"), col("cid"), col("embedding"))
    graft.ops.Clustering
      .dedupClusters(cellPairs(cells, Seq("cid"), "cid", threshold),
        "vec_a", "vec_b")
      .withColumnRenamed("doc_id", "vec_id")
  }

  /** [[semanticPreflight]] over an already-built assignment artifact —
    * one hash aggregate, the estimator face of the split.
    */
  def semanticPreflightFromAssign(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("cid")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c").cast("decimal(38,0)") * (col("c") - lit(1L))),
        lit(java.math.BigDecimal.ZERO)).as("m2"))
      .selectExpr("CAST(m2 DIV 2 AS BIGINT) AS estimated_pairs")

  /** [[semanticDedupGoverned]] over an already-built assignment artifact
    * — measure-then-route unchanged (the mass aggregate runs over the
    * SAME assignment the exact arm consumes); the hier fallback builds
    * its own two-level assignment exactly as before.
    */
  def semanticDedupGovernedFromAssign(embeddings: DataFrame,
      assigned: DataFrame, threshold: Double, maxPairs: Long,
      coarse: Int = 8, fine: Int = 8): DataFrame = {
    require(maxPairs > 0L && maxPairs < Long.MaxValue,
      "semanticDedupGoverned requires a finite positive budget — for an " +
        "ungoverned flat run call semanticDedup directly")
    val mass = cellPairMass(assigned)
    def decisions(df: DataFrame) =
      df.select(col("vec_id"), col("dup_of"), col("max_cosine"))
    val g =
      if (mass <= maxPairs) {
        val cells = embeddings
          .join(assigned, col("vec_id") === col("aid"))
          .select(col("vec_id"), col("cid"), col("embedding"))
        GovernedPairing("exact", mass, maxPairs,
          decisions(greedyPairRemoval(cells, Seq("cid"), "cid", threshold)))
      } else
        GovernedPairing("hier", mass, maxPairs,
          decisions(semanticDedupHier(embeddings, threshold, coarse, fine)))
    g.pairs.withColumn("method", lit(g.method))
      .withColumn("estimated_pairs", lit(g.estimatedPairs))
  }

  def semanticDedup(embeddings: DataFrame, threshold: Double = 0.4,
                    nlist: Int = 8,
                    maxPairs: Long = Long.MaxValue): DataFrame = {
    // Materialized (vec_id, qe): without the cut, the derived transform
    // re-evaluates inside every consumer — seed selection AND each of
    // the ×nlist assignment copies (see [[semanticDedupHierCells]]).
    val quant = Checkpoints.stable(
      quantized(embeddings).select(col("vec_id"), col("qe")))
    val rawAssigned = md5CellAssign(quant, md5SeedCells(quant, nlist))
    // opt-in pair-mass preflight (see [[semanticPreflight]]): the cut
    // is taken only on the guarded path so the default plan is
    // byte-identical; on acceptance the pairing reuses it, so the
    // preflight costs one aggregate, not a second assignment pass
    val assigned =
      if (maxPairs == Long.MaxValue) rawAssigned
      else {
        val cut = Checkpoints.stable(rawAssigned)
        val mass = cellPairMass(cut)
        if (mass > maxPairs) {
          // a refusal must leave zero resident state (r17 ADVICE #3)
          Checkpoints.release(cut)
          Checkpoints.release(quant)
          throw graft.ops.CandidateMassExceeded("semanticDedup", mass, maxPairs)
        }
        cut
      }
    val cells = embeddings
      .join(assigned, col("vec_id") === col("aid"))
      .select(col("vec_id"), col("cid"), col("embedding"))
    greedyPairRemoval(cells, Seq("cid"), "cid", threshold)
  }

  /** Governed-degradation router for the SEMANTIC tier — the
    * [[graft.ops.Similarity.neardupGovernedResult]] pattern closing the
    * L151 semantic preflight's consumer gap the same way the text tier's
    * router closed the all-pairs miners': MEASURE the flat form's
    * within-cell pair mass first (the linear n·nlist assignment + one
    * hash aggregate, stable-cut so the accepted path reuses it), run the
    * paper-form [[semanticDedup]] at `nlist` when it clears `maxPairs`,
    * and DEGRADE to the hierarchical form ([[semanticDedupHier]] at
    * `coarse`×`fine` leaves — per-task pair work bounded by the two-level
    * split) when it doesn't — completing either way, decision + measured
    * mass in the lineage. This governs the tier's documented trap (the
    * default-undersized nlist whose mass the r17 stress run measured at
    * 9.655e10 pairs at 1M vectors — an 837 s ungoverned death) the way a
    * production job wants: routed, not thrown.
    *
    * Both arms project the shared removal-decision schema
    * (vec_id, dup_of, max_cosine) — the group key (flat `cid` vs hier
    * `cell`) is arm-specific diagnostics and stays internal. The arms
    * can remove DIFFERENT near-duplicate witnesses for the same
    * neighborhood (cell partitions differ — the recall trade of the
    * degrade, like the text router's banded arm); each arm individually
    * is its registered, oracled operator.
    */
  def semanticDedupGovernedResult(embeddings: DataFrame,
      threshold: Double, nlist: Int, maxPairs: Long,
      coarse: Int = 8, fine: Int = 8): graft.ops.GovernedPairing = {
    require(maxPairs > 0L && maxPairs < Long.MaxValue,
      "semanticDedupGoverned requires a finite positive budget — for an " +
        "ungoverned flat run call semanticDedup directly")
    val quant = Checkpoints.stable(
      quantized(embeddings).select(col("vec_id"), col("qe")))
    val cut = Checkpoints.stable(
      md5CellAssign(quant, md5SeedCells(quant, nlist)))
    val mass = cellPairMass(cut)
    def decisions(df: DataFrame) =
      df.select(col("vec_id"), col("dup_of"), col("max_cosine"))
    if (mass <= maxPairs) {
      val cells = embeddings
        .join(cut, col("vec_id") === col("aid"))
        .select(col("vec_id"), col("cid"), col("embedding"))
      graft.ops.GovernedPairing("exact", mass, maxPairs,
        decisions(greedyPairRemoval(cells, Seq("cid"), "cid", threshold)))
    } else {
      // the decision leaves zero resident state; the hier arm builds its
      // own two-level assignment from scratch
      Checkpoints.release(cut)
      Checkpoints.release(quant)
      graft.ops.GovernedPairing("hier", mass, maxPairs,
        decisions(semanticDedupHier(embeddings, threshold, coarse, fine)))
    }
  }

  /** [[semanticDedupGovernedResult]] flattened for query registration
    * (the text routers' convention) — both lineage columns are
    * integer-exact here too, so the full frame is hash-oracled.
    */
  def semanticDedupGoverned(embeddings: DataFrame, threshold: Double,
      nlist: Int, maxPairs: Long, coarse: Int = 8,
      fine: Int = 8): DataFrame = {
    val g = semanticDedupGovernedResult(embeddings, threshold, nlist,
      maxPairs, coarse, fine)
    g.pairs.withColumn("method", lit(g.method))
      .withColumn("estimated_pairs", lit(g.estimatedPairs))
  }

  /** Within-group greedy pair phase shared by the SemDeDup family.
    * `cells` must carry (vec_id, joinKeys..., embedding). Each vector's
    * norm is computed ONCE per row here (n sqrt-of-dots, not 2 per m²
    * pair) and pairs multiply the two precomputed norms — the SAME IEEE
    * operations in the same order as inlining `sqrt(dot(x,x))` per pair,
    * so results (and every oracle) are bit-identical while the dominant
    * m² phase drops from 3 dot products per pair to 1.
    */
  /** The raw within-group pair list (vec_a < vec_b, group key, cosine ≥
    * threshold) — the SemDeDup neighborhood graph, shared by the greedy
    * removal and the cluster composition.
    *
    * Execution shape — exact TRIANGLE (bucket×bucket) decomposition: a
    * plain self-join on the group key sends ALL of a group's pairs to
    * ONE reducer (sz² row combos in a single task — 64M for the largest
    * md5-seeded leaf at the 1M-vector stress point, a straggler no
    * cluster width can absorb). Each group of size sz splits into
    * `nb = ceil(sz / pairTarget)` MONOTONE id-range buckets and the
    * join key becomes the ORDERED BUCKET PAIR (i ≤ j): the x side
    * replicates each row of bucket i to every pair (i, j≥i), the y
    * side replicates each row of bucket j to every pair (i≤j, j), and
    * task (i, j) joins exactly bucket i against bucket j. Every
    * unordered row pair meets exactly once (cross-bucket pairs satisfy
    * vec_a < vec_b by bucket monotonicity; the diagonal i=j dedups on
    * the id inequality), so the RESULT is identical to the naive
    * self-join (no oracle change) — while per-task pair work is bounded
    * at ~pairTarget² REGARDLESS of group size (the r11 partner-bucket
    * form bounded it at sz·pairTarget, which left a 141M-cosine task
    * in the 113k-row Zipf-tail leaf at the 10M-vector stress point —
    * measured as semantic_dedup_hier's 16.8×/decade). Replication is
    * Σ sz²/pairTarget ≈ 2·pairs/pairTarget rows split evenly across
    * both sides. Groups at-or-under pairTarget keep nb = 1: single
    * copies, the exact old plan.
    */
  private[graft] def cellPairs(cells: DataFrame, joinKeys: Seq[String],
                        outKey: String, threshold: Double,
                        pairTarget: Int = 1250): DataFrame = {
    def dotF(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("graft_dot", a, b)
    val keyCols = joinKeys.map(col)
    // Zero-norm guard: cosine against a zero vector is 0/0 = NaN, and
    // both Spark and DuckDB order NaN ABOVE all numbers, so NaN >=
    // threshold would report a zero vector as a duplicate of every
    // cell-mate. A zero vector has no direction — it can be neither a
    // duplicate nor a keeper, so both join sides drop it.
    //
    val withNorm = cells.withColumn("nrm",
      sqrt(dotF(col("embedding"), col("embedding"))))
      .filter(col("nrm") > lit(0.0))
    // Group census → bucket count + id range. Un-hinted join: group
    // count tracks n/pairTarget, so AQE broadcasts it at bench scale
    // and shuffles at lake scale. The joined frame feeds BOTH join
    // sides — cut it so the upstream (cell assignment) runs once.
    val sizes = withNorm.groupBy(keyCols: _*)
      .agg(count(lit(1)).as("gsz"),
        min(col("vec_id")).as("gmin"), max(col("vec_id")).as("gmax"))
      .select(keyCols ++ Seq(
        ceil(col("gsz").cast("double") / pairTarget).cast("int").as("nb"),
        col("gmin"), col("gmax")): _*)
    val g = Checkpoints.stable(withNorm.join(sizes, joinKeys))
    // MONOTONE range buckets (vec_a < vec_b ⟹ bucket(a) ≤ bucket(b)):
    // the x side replicates only to partner buckets AT-OR-ABOVE its own
    // — half the replication and half the cross-bucket join iterations
    // of an id-hash bucketing. FP note: x/c and x·nb are weakly
    // monotone under rounding, and the `least` guard caps the
    // top-of-range row, so the ordering invariant is exact.
    val bk = least(col("nb") - lit(1),
      floor((col("vec_id") - col("gmin")).cast("double")
        / (col("gmax") - col("gmin") + lit(1L)).cast("double")
        * col("nb")).cast("int")).as("bk")
    // x carries (own bucket bk, partner pb ≥ bk); y carries (partner
    // pa ≤ bk, own bucket bk). Task key = (group, i=x.bk=y.pa,
    // j=x.pb=y.bk) — bucket i meets bucket j, nothing else.
    val x = g.withColumn("bk", bk)
      .withColumn("pb", explode(sequence(col("bk"), col("nb") - 1)))
    val y = g.withColumn("bk", bk)
      .withColumn("pa", explode(sequence(lit(0), col("bk"))))
    val cond = joinKeys.map(k => col(s"x.$k") === col(s"y.$k"))
      .reduce(_ && _) &&
      col("x.bk") === col("y.pa") && col("x.pb") === col("y.bk") &&
      col("x.vec_id") < col("y.vec_id")
    // SORT-MERGE, not shuffled-hash: both sides now explode (the y side
    // replicates per partner bucket), so a per-partition hash build of
    // the embedding-carrying y side is the OOM path at the 10M-vector
    // stress point (measured: heap death in UnsafeHashedRelation.get at
    // 28g). SMJ buffers one join-key group at a time — a single bucket,
    // ~pairTarget embedding rows — and spills its sorts to disk.
    x.as("x").join(y.as("y").hint("merge"), cond)
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        col(s"x.$outKey").as(outKey),
        (dotF(col("x.embedding"), col("y.embedding")) /
          (col("x.nrm") * col("y.nrm"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  private def greedyPairRemoval(cells: DataFrame, joinKeys: Seq[String],
                                outKey: String, threshold: Double,
                                pairTarget: Int = 1250): DataFrame =
    cellPairs(cells, joinKeys, outKey, threshold, pairTarget)
      .select(col("vec_b").as("vec_id"), col(outKey),
        col("vec_a").as("keep_id"), col("cosine"))
      .groupBy(col("vec_id"), col(outKey))
      .agg(min(col("keep_id")).as("dup_of"), max(col("cosine")).as("max_cosine"))

  /** SemDeDup neighborhood graph → connected components: where the
    * greedy removal keeps "one per lower-id chain", the cluster view
    * names every semantic near-dup FAMILY (the [[graft.ops.Clustering]]
    * terminal stage the LSH lexical path already ends on), with the
    * canonical min-id representative as `keep`. Components only ever
    * span within cells — the SemDeDup approximation carried through.
    */
  def semanticClusters(embeddings: DataFrame, threshold: Double = 0.4,
                       nlist: Int = 8): DataFrame = {
    val quant = Checkpoints.stable(
      quantized(embeddings).select(col("vec_id"), col("qe")))
    val assigned = md5CellAssign(quant, md5SeedCells(quant, nlist))
    val cells = embeddings
      .join(assigned, col("vec_id") === col("aid"))
      .select(col("vec_id"), col("cid"), col("embedding"))
    graft.ops.Clustering
      .dedupClusters(cellPairs(cells, Seq("cid"), "cid", threshold),
        "vec_a", "vec_b")
      .withColumnRenamed("doc_id", "vec_id")
  }

  /** Hierarchical SemDeDup — the scale fix for [[semanticDedup]]'s
    * assignment cost, measured super-linear in the stress harness
    * (flat nearest-of-nlist assignment is n·nlist work; with the
    * linearity knob nlist ∝ n that's quadratic — 6.6× wall per 10× data
    * at 1M vectors). Two-level routing in the IMI / hierarchical-k-means
    * style: `coarse` md5-seeded top-level cells (n·coarse assignment),
    * then `fine` seeds chosen PER coarse cell (the cell's smallest-md5
    * members — a doc-partitioned row_number, never global) and each
    * vector refines only against its own cell's seeds (n·fine work,
    * joined on the coarse id — an EQUI-join, so the fine stage never
    * broadcasts the corpus against all seeds). Total assignment
    * n·(coarse+fine) = n·2√nlist with leaves the same ~n/(coarse·fine)
    * target size, so the within-leaf m² pair stage stays linear.
    *
    * Same deterministic contract as [[semanticDedup]] (md5 seeds,
    * BIGINT quantized argmin, greedy-by-id removal); `cell` in the
    * output is the flattened leaf id `cid·fine + fid`. Leaf membership
    * differs from the flat form's (any balanced partition is a valid
    * SemDeDup clustering — the paper's k-means is itself only a
    * partitioner), so both forms carry their own oracle.
    */
  /** The two-level cell-assignment stage of [[semanticDedupHier]],
    * exposed for skew diagnostics and the capped variant: returns
    * (vec_id, cell, embedding) with `cell = cid·fine + fid`.
    */
  private[graft] def semanticDedupHierCells(embeddings: DataFrame,
                                            coarse: Int, fine: Int): DataFrame = {
    // Materialization cuts ([[Checkpoints.stable]]): Spark shares no
    // sub-plan across DataFrame branches, so without them (a) the
    // derived `qe` transform re-evaluates inside every consumer —
    // including each of the ×coarse assignment copies — and (b) the
    // whole coarse-assignment DAG recomputes once per downstream branch
    // (fine-seed window AND fine assignment). Measured at 1M vectors in
    // the stress harness: 152 s uncut → the cut form is the one that
    // scales.
    val quant = Checkpoints.stable(
      quantized(embeddings).select(col("vec_id"), col("qe")))
    val a1 = md5CellAssign(quant, md5SeedCells(quant, coarse))
    val q1 = Checkpoints.stable(
      quant.join(a1, col("vec_id") === col("aid")).drop("aid"))
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cid"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    // Seed SELECTION sorts only (cid, vec_id, md5) — ~90 bytes/row
    // through the window shuffle; the dim-long `qe` payload joins back
    // for just the coarse·fine seed ROWS via a broadcast hash join,
    // instead of dragging n·dim longs through the sort.
    val fIds = q1.select(col("cid"), col("vec_id"))
      .withColumn("fid", row_number().over(wf).cast("long") - 1L)
      .filter(col("fid") < fine)
      .select(col("vec_id").as("fvid"), col("fid"))
    val f = q1.join(broadcast(fIds), col("vec_id") === col("fvid"))
      .select(col("cid"), col("fid"), col("qe").as("fe"))
    val a2 = q1.select(col("vec_id"), col("cid"), col("qe"))
      .join(broadcast(f), Seq("cid"))
      .select(col("vec_id"), col("cid"),
        struct(intD2(col("qe"), col("fe")).as("d2"), col("fid")).as("m"))
      .groupBy(col("vec_id"), col("cid")).agg(min(col("m")).as("m"))
      .select(col("vec_id").as("bid"),
        (col("cid") * fine + col("m.fid")).as("cell"))
    embeddings
      .join(a2, col("vec_id") === col("bid"))
      .select(col("vec_id"), col("cell"), col("embedding"))
  }

  def semanticDedupHier(embeddings: DataFrame, threshold: Double,
                        coarse: Int, fine: Int): DataFrame =
    greedyPairRemoval(semanticDedupHierCells(embeddings, coarse, fine),
      Seq("cell"), "cell", threshold)

  /** Size-capped SemDeDup — the skew guard on top of
    * [[semanticDedupHier]]: md5-data-point seeds make leaf sizes Zipf-ish
    * (measured at 1M vectors / 841 leaves: median 661, max 11,331 — one
    * leaf = ~64M ordered pairs in a SINGLE sort-merge task, since all
    * pairs of one join key land on one reducer). Any leaf larger than
    * `cap` splits into `ceil(size/cap)` salted sub-leaves, bounding
    * per-task pair work at ~cap² REGARDLESS of the seed distribution —
    * the worst-case guarantee a 100 TB run needs, where "usually
    * balanced" is not a plan.
    *
    * The salt hashes the QUANTIZED CONTENT (md5 over the comma-joined
    * 2^20-quantized coordinates), not the vector id: byte-identical
    * embeddings always share a salt, so exact-duplicate recall survives
    * capping unconditionally; only near-dups inside an oversized leaf
    * can split across salts — the documented recall trade, bounded by
    * how far above `cap` the leaf was. All salt arithmetic is the
    * engine-portable md5→BIGINT path (the CMS bucket discipline), so
    * the whole operator stays hash-oracle-able.
    */
  def semanticDedupCapped(embeddings: DataFrame, threshold: Double,
                          coarse: Int, fine: Int, cap: Int): DataFrame = {
    require(cap >= 2, s"cap must be >= 2, got $cap")
    // The cell assignment feeds BOTH the leaf-size census and the salted
    // pairing — cut it, or the whole hier-cells DAG runs twice (measured
    // as capped slower than the uncapped hier form at 1M vectors).
    val cells = Checkpoints.stable(
      semanticDedupHierCells(embeddings, coarse, fine))
    val nsalt = cells.groupBy(col("cell")).agg(count(lit(1)).as("cnt"))
      .select(col("cell"), expr(s"(cnt + ${cap - 1}) div $cap").as("nsalt"))
    val contentKey = concat_ws(",", transform(col("embedding"),
      x => floor(x.cast("double") * lit(1048576.0)).cast("long").cast("string")))
    // Salt only where it can matter: pmod(anything, 1) = 0, so rows in
    // leaves at-or-under the cap short-circuit to salt 0 without paying
    // the ~dim·20-char content-key md5 — that is nearly every row in a
    // healthy (non-Zipf-tail) leaf distribution.
    val salted = cells.join(broadcast(nsalt), Seq("cell"))
      .withColumn("salt",
        when(col("nsalt") > 1L,
          pmod(conv(substring(md5(contentKey), 1, 15), 16, 10).cast("long"),
            col("nsalt")))
          .otherwise(lit(0L)))
      .select(col("vec_id"), col("cell"), col("salt"), col("embedding"))
    // pairTarget = cap: the salt already bounds groups at ~cap, so a
    // smaller inner pair target would just re-split them (replication
    // without balance benefit).
    greedyPairRemoval(salted, Seq("cell", "salt"), "cell", threshold, cap)
  }

  /** Product-quantization ANN (Jégou, Douze & Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011) with
    * asymmetric distance computation (ADC): the embedding splits into
    * `m` subvectors, each encoded as the id of its nearest codebook
    * entry — `m · log2(codes)` BITS per vector (8 bytes here vs 256 for
    * the raw floats, a 32× hot-column compression) — and the query
    * scores candidates through an m×codes lookup table of
    * query-to-codeword distances instead of ever touching the raw
    * corpus vectors. At 100 TB the candidate scan is bandwidth-bound,
    * so the PQ code width IS the scan latency; the exact-cosine re-rank
    * then touches only the `candidates` survivors.
    *
    * Deterministic end-to-end (the md5-twin discipline): codewords are
    * the subvector slices of the `codes` seed vectors with the smallest
    * `md5(vec_id)`, all distances are BIGINT arithmetic over the 2^20
    * quantized coordinates, and encode/ADC ties break to the lower
    * code/id inside the same integer encoding — so the candidate set is
    * hash-checkable in any engine, like [[annIvfMd5]] and unlike a
    * trained (float-Lloyd) codebook. Recall vs brute force is pinned in
    * the spec; the oracle mirrors the algorithm and hash-matches
    * regardless of recall.
    *
    * Shape: encode explodes to (vec_id, j, 8-long subvector) rows — m
    * rows per vector, never m×codes with payload; the ×codes blowup
    * carries only (vec_id, j, m-encoded d2) into a map-side-combined
    * min. ADC joins the (m·codes)-row query lookup table — a broadcast —
    * and one hash aggregate sums the m per-subspace terms.
    *
    * Measured recall frontier (8-query sweep, sf0.1, m=8 — the r18
    * sizing grid; the registered point is codes=32/candidates=800):
    * {{{
    *   codes=16: cand 200 → 0.675   400 → 0.838   800 → 0.913
    *   codes=32: cand 200 → 0.800   400 → 0.888   800 → 0.988
    * }}}
    * Both knobs matter (the ann_ivfpq r16 lesson holds on the plain PQ
    * route): finer codewords sharpen the ADC ranking, survivors buy
    * back what quantization still mis-ranks. The single-query
    * registered point read 0.9 even at 16/200 — sweep before trusting
    * any one vector's lottery.
    */
  /** (j, subvector) rows of a quantized vector: m slices of width ds. */
  private def pqSubs(v: org.apache.spark.sql.Column, m: Int, ds: Int) =
    posexplode(transform(sequence(lit(0), lit(m - 1)),
      j => slice(v, j * ds + 1, lit(ds))))

  /** Embedding width derived from the data (one LIMIT-1 driver peek).
    * The PQ slices hardcoding a width would silently null out narrower
    * vectors (slice past the end → short subvector → zip_with nulls)
    * and silently ignore the tail of wider ones.
    */
  private def derivedDim(embeddings: DataFrame): Int = {
    val h = embeddings.select(size(col("embedding")).as("d")).head(1)
    require(h.nonEmpty, "pq: embeddings input is empty - cannot derive dim")
    h(0).getInt(0)
  }

  /** In-plan width guard: any row whose quantized embedding differs from
    * the derived width fails LOUDLY instead of vanishing from the
    * candidate set. The `when` sits on the data path (`qe` feeds every
    * downstream slice), so the optimizer cannot prune it.
    */
  private def widthChecked(quant: DataFrame, dim: Int, op: String): DataFrame =
    quant.withColumn("qe",
      when(size(col("qe")) === dim, col("qe")).otherwise(raise_error(
        concat(lit(s"$op: embedding width "), size(col("qe")).cast("string"),
          lit(s" != expected $dim at vec_id="), col("vec_id").cast("string")))))

  def annPq(embeddings: DataFrame, queryId: Long = 0L, k: Int = 10,
            m: Int = 8, codes: Int = 16, candidates: Int = 40): DataFrame = {
    val dim = derivedDim(embeddings)
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val quant = widthChecked(quantized(embeddings), dim, "annPq")
    val ds = dim / m
    def subs(v: org.apache.spark.sql.Column) = pqSubs(v, m, ds)
    // codebook: (j, code, cw) — the seed vectors' subvector slices
    val cb = md5SeedCells(quant, codes)
      .select(col("cid").as("code"), subs(col("ce")).as(Seq("j", "cw")))
    // corpus subvectors (m rows per vector), encoded per subspace
    val sub = quant.select(col("vec_id"), subs(col("qe")).as(Seq("j", "sv")))
    val enc = sub.join(broadcast(cb), Seq("j"))
      .select(col("vec_id"), col("j"),
        struct(intD2(col("sv"), col("cw")).as("d2"), col("code")).as("mm"))
      .groupBy(col("vec_id"), col("j")).agg(min(col("mm")).as("mm"))
      .select(col("vec_id"), col("j"), col("mm.code").as("code"))
    // query-side ADC lookup table: d2(query subvector, every codeword)
    val qsub = sub.filter(col("vec_id") === queryId)
      .select(col("j").as("qj"), col("sv").as("qv"))
    val qlut = cb.join(broadcast(qsub), col("j") === col("qj"))
      .select(col("j"), col("code"), intD2(col("qv"), col("cw")).as("qd2"))
    val adc = enc.join(broadcast(qlut), Seq("j", "code"))
      .groupBy(col("vec_id")).agg(sum(col("qd2")).as("adc"))
    val cand = adc.filter(col("vec_id") =!= queryId)
      .orderBy(col("adc").asc, col("vec_id").asc)
      .limit(candidates)
      .select(col("vec_id"))
    val qrow = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    def dotF(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("graft_dot", a, b)
    embeddings.join(cand, Seq("vec_id"))
      .crossJoin(broadcast(qrow))
      .select(col("vec_id"), col("label"),
        (dotF(col("embedding"), col("q_emb")) /
          (sqrt(dotF(col("embedding"), col("embedding"))) *
            sqrt(dotF(col("q_emb"), col("q_emb"))))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** One INTEGER Lloyd round over the quantized coordinates — the trick
    * that makes a TRAINED coarse quantizer hash-oracle-able: assignment
    * is the BIGINT argmin of [[md5CellAssign]], and the new centroid is
    * the per-dimension `floor(sum / count)` computed as
    * `floor(CAST(sum AS DOUBLE) / count)` — exact and engine-identical
    * while |per-cell coordinate sum| < 2^53 (coordinates are < 2^21
    * after quantization, so that holds to ~4×10^9 vectors per cell;
    * far beyond any sane nlist sizing). Empty cells keep their previous
    * centroid, like [[trainCentroids]]. The round's result MATERIALIZES
    * TO THE DRIVER and returns as a local table (nlist rows of exact
    * BIGINTs — the [[readCentroids]] catalog-artifact pattern): each
    * round feeds BOTH the next assignment and the empty-cell fallback
    * join, so an uncut lineage would re-run the whole training prefix
    * 2^rounds times, and a localCheckpoint cut would hide the bound
    * from the plan (an RDD scan is not recognizably nlist-row; a
    * LocalTableScan is).
    */
  private def intLloydRound(quant: DataFrame, cents: DataFrame): DataFrame = {
    val spark = quant.sparkSession
    import spark.implicits._
    val assigned = md5CellAssign(quant, cents)
    val means = quant.join(assigned, col("vec_id") === col("aid"))
      .select(col("cid"), posexplode(col("qe")).as(Seq("pos", "v")))
      .groupBy(col("cid"), col("pos"))
      .agg(floor(sum(col("v")).cast("double") / count(lit(1))).cast("long").as("mv"))
      .groupBy(col("cid"))
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("mv")))),
        x => x.getField("mv")).as("ce2"))
    cents.join(means, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("ce2"), col("ce")).as("ce"))
      .collect()
      .map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Long]]("ce").toArray))
      .toSeq.toDF("cid", "ce")
  }

  /** IVF-PQ — the composition FAISS ships as its production index
    * (coarse inverted file × product quantizer, Jégou et al. TPAMI'11
    * §V): the query routes to its nearest coarse cells, the PQ-ADC pass
    * scores ONLY those cells' vectors through the lookup table, and the
    * exact-cosine re-rank touches the `candidates` survivors. At 100 TB
    * this is the index shape that works: the coarse route prunes the
    * scan (directory pruning in the layout form, [[ivfProbe]]), the PQ
    * codes cut the scanned bytes 32×, and the raw vectors are read only
    * for the top-`candidates` rows.
    *
    * The coarse quantizer is TRAINED — md5 seeds refined by
    * `lloydRounds` [[intLloydRound]]s — and the probe is the ADAPTIVE
    * integer twin of [[adaptiveProbeCells]]: probe every cell whose
    * integer d2 to the query is within 1.3² (encoded exactly as the
    * rational 169/100) of the nearest cell's, floored at `minProbe`,
    * capped at `maxScanFrac`·nlist. Untrained seeds at a fixed nprobe
    * measured recall@10 = 0.6 on the weakly-clustered sf0.1 corpus
    * (ANN_RECALL_r13); the trained cells + adaptive probe measured 1.0
    * on the registered query, with the 8-query-point mean committed as
    * `ann_ivfpq_sweep` in the ANN_RECALL artifact (r15+). That sweep is
    * what the r16 defaults are sized for: at (candidates=400,
    * maxScanFrac=0.5) the registered point read 1.0 but the sweep mean
    * was 0.825 — the EXPECTED recall of the route, not one vector's
    * cell lottery, is the production figure — and the measured frontier
    * (r16, sf0.1, 8 query points) was 400/0.5 → 0.825, 800/0.5 → 0.838,
    * 400/0.75 → 0.850, 800/0.625 → 0.925, 800/0.75 → 0.950: BOTH more
    * ADC survivors and a wider probe cap are needed, each alone stalls
    * below 0.9. The 0.75 cap only binds when the adaptive slack already
    * wants >12 of 16 cells (a weakly-clustered corpus); on separated
    * corpora the slack rule stays narrow and the cap is idle (IvfSpec
    * pins that), which is what keeps the same defaults honest at a
    * production nlist where maxScanFrac·nlist is hundreds of cells.
    *
    * Still deterministic end-to-end — integer Lloyd means, BIGINT
    * distances, struct-min tie-breaks — so the candidate set stays
    * hash-checkable in any engine (the property [[trainCentroids]]'s
    * float means cannot give).
    */
  def annIvfPq(embeddings: DataFrame, queryId: Long = 0L, k: Int = 10,
               nlist: Int = 16, lloydRounds: Int = 2,
               m: Int = 8, codes: Int = 32, candidates: Int = 800,
               minProbe: Int = 2, maxScanFrac: Double = 0.75): DataFrame = {
    val dim = derivedDim(embeddings)
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    // Stable-cut (r18-opt): quant feeds ~9 consumers (seed cells, two
    // Lloyd rounds at two scans each, the assignment, the probe side,
    // the PQ codebook, the query rows) and lazily EACH re-scanned the
    // embedding table and re-ran the ×2^20 quantization
    // (plans/r18/ann_ivfpq_before.txt: 8 parquet scans). One
    // materialization replaces them; at 100 TB that is 8 corpus scans
    // → 1 (the other IVF routes already cut here). Projected to
    // (vec_id, qe) FIRST: no IVF-PQ consumer reads the raw embedding
    // from quant (the rerank re-reads the table), and pinning the float
    // array would double the cut's bytes for nothing.
    val quant = Checkpoints.stable(
      widthChecked(quantized(embeddings), dim, "annIvfPq")
        .select(col("vec_id"), col("qe")))
    val ds = dim / m
    def subs(v: org.apache.spark.sql.Column) = pqSubs(v, m, ds)
    // coarse route: integer-Lloyd-trained cells + adaptive integer probe
    val cents = (0 until lloydRounds)
      .foldLeft(md5SeedCells(quant, nlist))((c, _) => intLloydRound(quant, c))
    val assigned = md5CellAssign(quant, cents)
    val qrowQ = quant.filter(col("vec_id") === queryId)
      .select(col("qe").as("q_qe"))
    val cap = math.max(minProbe, math.round(nlist * maxScanFrac).toInt)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val wOrd = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
      .orderBy(col("qd2"), col("cid"))
    // nlist rows total: the windows are driver-trivial, never corpus-wide
    val qcells = cents.crossJoin(broadcast(qrowQ))
      .select(col("cid"), intD2(col("q_qe"), col("ce")).as("qd2"))
      .withColumn("dmin", min(col("qd2")).over(wAll))
      .withColumn("wide", sum(when(col("qd2") * lit(100L) <= col("dmin") * lit(169L),
        1L).otherwise(0L)).over(wAll))
      .withColumn("rn", row_number().over(wOrd))
      .filter(col("rn") <= least(lit(cap.toLong),
        greatest(lit(minProbe.toLong), col("wide"))))
      .select(col("cid"))
    // the pruned scan: only probed cells' vectors reach the PQ pass
    val probed = quant.filter(col("vec_id") =!= queryId)
      .join(assigned, col("vec_id") === col("aid"))
      .join(broadcast(qcells), Seq("cid"))
      .select(col("vec_id"), col("qe"))
    val cb = md5SeedCells(quant, codes)
      .select(col("cid").as("code"), subs(col("ce")).as(Seq("j", "cw")))
    val enc = probed.select(col("vec_id"), subs(col("qe")).as(Seq("j", "sv")))
      .join(broadcast(cb), Seq("j"))
      .select(col("vec_id"), col("j"),
        struct(intD2(col("sv"), col("cw")).as("d2"), col("code")).as("mm"))
      .groupBy(col("vec_id"), col("j")).agg(min(col("mm")).as("mm"))
      .select(col("vec_id"), col("j"), col("mm.code").as("code"))
    val qsub = quant.filter(col("vec_id") === queryId)
      .select(subs(col("qe")).as(Seq("qj", "qv")))
    val qlut = cb.join(broadcast(qsub), col("j") === col("qj"))
      .select(col("j"), col("code"), intD2(col("qv"), col("cw")).as("qd2"))
    val adc = enc.join(broadcast(qlut), Seq("j", "code"))
      .groupBy(col("vec_id")).agg(sum(col("qd2")).as("adc"))
    val cand = adc.orderBy(col("adc").asc, col("vec_id").asc)
      .limit(candidates)
      .select(col("vec_id"))
    val qrow = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    def dotF(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("graft_dot", a, b)
    embeddings.join(cand, Seq("vec_id"))
      .crossJoin(broadcast(qrow))
      .select(col("vec_id"), col("label"),
        (dotF(col("embedding"), col("q_emb")) /
          (sqrt(dotF(col("embedding"), col("embedding"))) *
            sqrt(dotF(col("q_emb"), col("q_emb"))))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Steady-state probe: nearest `nprobe` cells chosen driver-side from
    * the centroid array, then a cosine top-k over ONLY those cells'
    * directories (the `cid IN (...)` literal is a partition predicate —
    * PartitionFilters in the plan, proven in the spec).
    */
  def ivfProbe(spark: SparkSession, layoutDir: String,
               centroids: Array[Array[Float]], qEmb: Array[Float],
               k: Int, nprobe: Int = 2,
               excludeId: Option[Long] = None): DataFrame =
    ivfProbeCells(spark, layoutDir,
      centroidDists(centroids, qEmb).take(nprobe).map(_._2), qEmb, k,
      excludeId)

  /** Squared L2 distance of every centroid to the query, ascending —
    * the driver-side routing table both the fixed and adaptive probes
    * read (nlist-bounded; never a Spark job).
    */
  private def centroidDists(centroids: Array[Array[Float]],
                            qEmb: Array[Float]): Array[(Double, Int)] = {
    val qNorm2 = qEmb.map(v => v.toDouble * v).sum
    centroids.zipWithIndex.map { case (c, cid) =>
      val dot = c.zip(qEmb).map { case (a, b) => a.toDouble * b.toDouble }.sum
      (qNorm2 - 2.0 * dot + c.map(v => v.toDouble * v).sum, cid)
    }.sorted
  }

  /** Data-ADAPTIVE probe-cell selection: probe every cell whose centroid
    * distance is within `slack` of the nearest cell's (compared on
    * squared L2, hence slack²), floored at `minProbe` and capped at
    * `maxScanFrac` of nlist. On a well-separated corpus the query's own
    * cell dominates and the probe stays narrow (the cheap path IVF is
    * for); on a weakly-clustered corpus the centroids are near-
    * equidistant and the rule widens toward the cap — which is exactly
    * when a narrow fixed nprobe silently loses recall (measured on the
    * real testdata: fixed nprobe=2 scanned 12.5% for 0.30 recall@10
    * while the curve needs a 50% scan for ≥0.8 — ANN_RECALL_r11).
    * The cap keeps the worst case an explicit scan-budget knob.
    */
  def adaptiveProbeCells(centroids: Array[Array[Float]], qEmb: Array[Float],
                         slack: Double = 1.3, minProbe: Int = 2,
                         maxScanFrac: Double = 0.5): Seq[Int] = {
    require(slack >= 1.0, s"slack $slack must be >= 1")
    val d = centroidDists(centroids, qEmb)
    val cap = math.max(minProbe,
      math.round(centroids.length * maxScanFrac).toInt)
    val dmin = math.max(d.head._1, 0.0)
    val wide = d.count(_._1 <= dmin * slack * slack)
    d.take(math.min(cap, math.max(minProbe, wide))).map(_._2).toSeq
  }

  /** [[ivfProbe]] with [[adaptiveProbeCells]] routing — the registered
    * steady-state probe.
    */
  def ivfProbeAdaptive(spark: SparkSession, layoutDir: String,
                       centroids: Array[Array[Float]], qEmb: Array[Float],
                       k: Int, slack: Double = 1.3, minProbe: Int = 2,
                       maxScanFrac: Double = 0.5,
                       excludeId: Option[Long] = None): DataFrame =
    ivfProbeCells(spark, layoutDir,
      adaptiveProbeCells(centroids, qEmb, slack, minProbe, maxScanFrac),
      qEmb, k, excludeId)

  /** The pruned scan under both probes: a cosine top-k over ONLY the
    * routed cells' directories (the `cid IN (...)` literal is a
    * partition predicate — PartitionFilters in the plan, proven in the
    * spec).
    */
  def ivfProbeCells(spark: SparkSession, layoutDir: String,
                    cells: Seq[Int], qEmb: Array[Float], k: Int,
                    excludeId: Option[Long] = None): DataFrame = {
    val qNorm2 = qEmb.map(v => v.toDouble * v).sum
    val qCol = array(qEmb.toSeq.map(v => lit(v)): _*)
    def dotF(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("graft_dot", a, b)
    val base = spark.read.parquet(layoutDir)
      .filter(col("cid").isin(cells.map(Integer.valueOf): _*))
    excludeId.fold(base)(id => base.filter(col("vec_id") =!= id))
      .select(col("vec_id"), col("label"), col("cid"),
        (dotF(col("embedding"), qCol) /
          (sqrt(dotF(col("embedding"), col("embedding"))) *
            math.sqrt(qNorm2))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }
}
