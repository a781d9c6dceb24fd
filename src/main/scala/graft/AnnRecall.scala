package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Driver-visible recall artifact for the ANN/sketch fast paths (the
  * rows-only queries of the correctness gate): each approximate route's
  * result at sf0.1 scored against the EXACT brute-force answer on the
  * same corpus.
  *
  * The gate's DuckDB oracle can hash-check the md5-twin routes but only
  * row-counts the xxhash64-seeded fast paths (`ann_lsh`, `ann_probe`,
  * `ann_ivf`, `ann_ivf_probe`, `ann_pq`, `ann_ivfpq`, `ann_quantized`,
  * `emb_neardup`); their recall-vs-brute contracts live in ScalaTest.
  * This main re-derives those numbers as a committed JSON artifact —
  * the STREAM_PARITY precedent applied to ANN quality — so a reviewer
  * audits recall from the repo, not from trust in the spec suite.
  *
  *  - top-k routes: recall@k = |approx top-k ∩ exact top-k| / k against
  *    [[graft.ops.Similarity.cosineTopK]] (the registered exact brute
  *    baseline) for the same query vector.
  *  - pair mining (`emb_neardup`): pair recall vs the exact all-pairs
  *    cosine ≥ threshold set, plus precision (the LSH route verifies
  *    candidates with the exact cosine, so precision is 1.0 by
  *    construction — asserted, not assumed).
  *
  * Usage: `sbt 'runMain graft.AnnRecall [sfDir]'` — prints one
  * `ANN_RECALL {json}` line per query and a final summary line;
  * redirect to `ANN_RECALL_r{N}.json` for the committed artifact.
  */
object AnnRecall {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.localBuilder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val emb = io.Tables.embeddings(spark, sfDir).cache()
    val n = emb.count()

    // exact brute-force top-10 for the standard query vector (vec_id 0)
    val k = 10
    val exactTopK = ops.Similarity.cosineTopK(emb, 0L, k)
      .collect().map(_.getLong(0)).toSet
    require(exactTopK.size == k)

    val results = scala.collection.mutable.LinkedHashMap[String, String]()
    val topkQueries = Seq("ann_lsh", "ann_probe", "ann_ivf",
      "ann_ivf_probe", "ann_pq", "ann_ivfpq", "ann_quantized")
    topkQueries.foreach { name =>
      val got = SparkEntry.queries(name)(spark, sfDir)
        .collect().map(_.getLong(0)).toSet
      val recall = got.intersect(exactTopK).size.toDouble / k
      results(name) =
        f""""$name":{"kind":"topk","k":$k,"recall_at_k":$recall%.3f,"returned":${got.size}}"""
      println(f"""ANN_RECALL {"query":"$name","k":$k,"recall_at_k":$recall%.3f}""")
    }

    // ann_ivf recall-vs-scan-fraction curve, plus the ADAPTIVE routing
    // point the queries actually register (cells within 1.3x of the
    // nearest centroid distance, capped at a 50% scan budget): on this
    // weakly-clustered sf0.1 corpus deep probes are needed for high
    // recall — a data property the adaptive rule detects and pays for,
    // while staying narrow on planted clustered corpora (IvfSpec).
    {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_recall_ivf").toString + "/layout"
      val cents = ops.Ivf.writeIvfLayout(emb, dir, nlist = 16, iters = 3)
      val q = emb.filter(col("vec_id") === 0L).select(col("embedding"))
        .head().getAs[scala.collection.Seq[Float]](0).toArray
      val curve = Seq(2, 4, 8, 16).map { nprobe =>
        val got = ops.Ivf.ivfProbe(spark, dir, cents, q, k, nprobe = nprobe,
          excludeId = Some(0L)).collect().map(_.getLong(0)).toSet
        val rec = got.intersect(exactTopK).size.toDouble / k
        f""""nprobe_$nprobe":{"scan_fraction":${nprobe / 16.0}%.3f,"recall_at_k":$rec%.3f}"""
      }
      val adCells = ops.Ivf.adaptiveProbeCells(cents, q)
      val adGot = ops.Ivf.ivfProbeCells(spark, dir, adCells, q, k,
        excludeId = Some(0L)).collect().map(_.getLong(0)).toSet
      val adRec = adGot.intersect(exactTopK).size.toDouble / k
      val adaptive =
        f""""adaptive":{"cells":${adCells.size},"scan_fraction":${adCells.size / 16.0}%.3f,"recall_at_k":$adRec%.3f}"""
      results("ann_ivf_curve") =
        s""""ann_ivf_curve":{"kind":"curve","nlist":16,${curve.mkString(",")},$adaptive}"""
      println(s"""ANN_RECALL {"query":"ann_ivf_curve",${curve.mkString(",")},$adaptive}""")
    }

    // ann_lsh recall-vs-scan-budget curve for the query-directed
    // adaptive probe the queries register (margin-ordered buckets over
    // the 2^6-bucket layout), plus the r14 fixed radius-1 point for
    // contrast — the documented operating-point evidence.
    {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_recall_lsh").toString + "/layout"
      ops.Similarity.writeAnnLayout(emb, dir, nPlanes = 6)
      val curve = Seq(0.125, 0.25, 0.375, 0.5).map { budget =>
        val got = ops.Similarity.annLshBucketedAdaptive(spark, dir, 0L, k,
          nPlanes = 6, scanBudget = budget).collect().map(_.getLong(0)).toSet
        val rec = got.intersect(exactTopK).size.toDouble / k
        f""""budget_$budget%.3f":{"scan_fraction":$budget%.3f,"recall_at_k":$rec%.3f}"""
      }
      val r1 = ops.Similarity.annLshBucketed(spark, dir, 0L, k, nPlanes = 6)
        .collect().map(_.getLong(0)).toSet
      val r1Rec = r1.intersect(exactTopK).size.toDouble / k
      val fixed =
        f""""fixed_radius1":{"scan_fraction":${7 / 64.0}%.3f,"recall_at_k":$r1Rec%.3f}"""
      results("ann_lsh_curve") =
        s""""ann_lsh_curve":{"kind":"curve","n_planes":6,${curve.mkString(",")},$fixed}"""
      println(s"""ANN_RECALL {"query":"ann_lsh_curve",${curve.mkString(",")},$fixed}""")
    }

    // ann_ivfpq multi-query sweep: the registered query point is one
    // vector's lottery over 16 cells; the 8-point mean is the committed
    // robustness figure the Ivf.annIvfPq doc cites (previously a side
    // measurement no artifact recorded).
    {
      val qids = (0 until 8).map(i => i * (n / 8))
      val recalls = qids.map { qid =>
        val exact = ops.Similarity.cosineTopK(emb, qid, k)
          .collect().map(_.getLong(0)).toSet
        val got = ops.Ivf.annIvfPq(emb, qid, k)
          .collect().map(_.getLong(0)).toSet
        got.intersect(exact).size.toDouble / k
      }
      val mean = recalls.sum / recalls.size
      results("ann_ivfpq_sweep") =
        f""""ann_ivfpq_sweep":{"kind":"sweep","n_queries":${qids.size},"recalls":[${recalls.map(r => f"$r%.2f").mkString(",")}],"mean_recall_at_k":$mean%.3f}"""
      println(f"""ANN_RECALL {"query":"ann_ivfpq_sweep","n_queries":${qids.size},"mean_recall_at_k":$mean%.3f}""")
    }

    // ann_pq multi-query sweep (r17 verdict #4): the ivfpq lesson
    // applied to the PLAIN PQ route — r16 proved a single registered
    // point can flatter (ivfpq read 1.0 single vs 0.825 sweep before
    // sizing), and the r18 sweep caught exactly that here too: the old
    // 16-code/200-survivor registration read 0.9 single but 0.675 mean.
    // This is the committed 8-query robustness figure for ann_pq at its
    // sweep-sized registered knobs (m=8, codes=32, 800 survivors —
    // measured grid in Ivf.annPq scaladoc).
    {
      val qids = (0 until 8).map(i => i * (n / 8))
      val recalls = qids.map { qid =>
        val exact = ops.Similarity.cosineTopK(emb, qid, k)
          .collect().map(_.getLong(0)).toSet
        val got = ops.Ivf.annPq(emb, qid, k, codes = 32, candidates = 800)
          .collect().map(_.getLong(0)).toSet
        got.intersect(exact).size.toDouble / k
      }
      val mean = recalls.sum / recalls.size
      results("ann_pq_sweep") =
        f""""ann_pq_sweep":{"kind":"sweep","n_queries":${qids.size},"recalls":[${recalls.map(r => f"$r%.2f").mkString(",")}],"mean_recall_at_k":$mean%.3f}"""
      println(f"""ANN_RECALL {"query":"ann_pq_sweep","n_queries":${qids.size},"mean_recall_at_k":$mean%.3f}""")
    }

    // pair-mining recall: exact all-pairs cosine >= threshold baseline
    val threshold = 0.4
    def dotF(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("graft_dot", a, b)
    val wn = emb.select(col("vec_id"), col("embedding"))
      .withColumn("nrm", sqrt(dotF(col("embedding"), col("embedding"))))
      .filter(col("nrm") > 0.0)
    val exactPairs = wn.as("x").join(wn.as("y"),
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        (dotF(col("x.embedding"), col("y.embedding")) /
          (col("x.nrm") * col("y.nrm"))).as("cosine"))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"))
      .localCheckpoint()
    val nExact = exactPairs.count()
    Seq("emb_neardup", "emb_neardup_single").foreach { name =>
      val approx = SparkEntry.queries(name)(spark, sfDir)
        .select(col("vec_a"), col("vec_b"))
        .localCheckpoint()
      val nApprox = approx.count()
      val hit = approx.join(exactPairs, Seq("vec_a", "vec_b"), "left_semi").count()
      val pairRecall = if (nExact == 0) 1.0 else hit.toDouble / nExact
      val pairPrecision = if (nApprox == 0) 1.0 else hit.toDouble / nApprox
      results(name) =
        f""""$name":{"kind":"pairs","threshold":$threshold,"exact_pairs":$nExact,"approx_pairs":$nApprox,"recall":$pairRecall%.3f,"precision":$pairPrecision%.3f}"""
      println(f"""ANN_RECALL {"query":"$name","exact_pairs":$nExact,"approx_pairs":$nApprox,"recall":$pairRecall%.3f,"precision":$pairPrecision%.3f}""")
    }

    val notes = Seq(
      """"ann_ivf/ann_ivf_probe": "registered route is the ADAPTIVE probe (slack 1.3, 50% scan cap): on this weakly-clustered corpus the near-equidistant centroids widen the probe to the cap (see ann_ivf_curve.adaptive), buying the recall a fixed narrow nprobe loses; IvfSpec pins narrow routing + exactness on planted clustered corpora"""",
      """"ann_ivfpq": "TRAINED coarse route (md5 seeds + 2 integer-Lloyd rounds) with the adaptive integer probe capped at 12/16 cells = 0.75 scan budget, PQ 8x32 codebook, 800 ADC survivors reranked exactly (r16 sweep-sized: the 400/0.5 point read 1.0 on the registered query but the 8-point sweep mean was 0.825; the measured frontier in Ivf.annIvfPq scaladoc shows both knobs are needed to clear 0.9); r13's untrained fixed-nprobe route measured 0.6 here"""",
      """"ann_pq": "r18 sweep-sized: the 16-code/200-survivor registration read 0.9 on the single query but 0.675 mean over 8 queries - the exact failure mode ann_ivfpq exhibited in r16; the measured grid (Ivf.annPq scaladoc) sizes the registration to 32 codes / 800 survivors (sweep mean 0.988, min 0.9; registered point 1.0)"""",
      """"ann_lsh": "registered route is the query-DIRECTED adaptive probe (Lv et al. multi-probe: buckets ordered by the total |q.plane| margin of their flipped planes) over the 2^6-bucket layout at a 37.5% scan budget (recall@10 0.9; 0.5 measures 1.0); the r14 fixed radius-1 route over 2^4 buckets measured 0.8 at a 31% scan, and radius-1 over THIS 2^6 layout only 0.5 at 11% (see ann_lsh_curve for the full recall-vs-budget trade)"""",
      """"ann_probe": "r16: no longer a byte-identical twin of ann_lsh - registered at the BUDGET-CONSTRAINED 0.25-scan point of the same curve (recall@10 0.8 by design, the documented trade a latency-bound caller makes); its bench row is the steady-state probe latency at that budget against the session-cached layout"""",
      """"emb_neardup_single": "single-table LSH at threshold 0.4: per-pair catch probability (1-theta/pi)^5 = 0.10 - the closed form, matched by measurement; the PRIMARY emb_neardup registration is the banded production form (sized for 0.9, measured 0.93)"""")
    println(s"""ANN_RECALL_SUMMARY {"sf_dir":"$sfDir","n_vectors":$n,"queries":{${results.values.mkString(",")}},"shortfall_notes":{${notes.mkString(",")}}}""")
    spark.stop()
  }
}
