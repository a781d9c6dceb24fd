package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftExtensions

/** The ONE documented production session profile — every graft main
  * (Bench, Verify, Stress*, AnnRecall, KlineScale) builds through here,
  * and a library user on a real cluster applies [[tuned]] to their own
  * builder to get the same sizing without reading the stress artifacts.
  *
  * What it sets and why:
  *
  *  - `spark.sql.shuffle.partitions = cores` — the BASELINE shuffle
  *    parallelism for bench-scale data. The Spark default (200) makes
  *    32-core local runs pay 6× task-scheduling overhead on small
  *    stages; on a cluster, set it near the total core count.
  *
  *  - `spark.sql.adaptive.coalescePartitions.initialPartitionNum =
  *    8 × cores` — the scale insurance. With AQE coalescing on (Spark 4
  *    default), shuffles START at 8× the core count and AQE merges
  *    small partitions back to ~cores, so bench-sized stages behave
  *    exactly as before (measured: bench total unchanged) while a
  *    100×-bench stage keeps per-task input near
  *    `advisoryPartitionSizeInBytes` instead of sorting ~300 MB per
  *    task. Measured at the 5M-doc substring-dedup stress point:
  *    219 s → 128 s — the 32-partition per-task sort was spilling, the
  *    single-box analogue of an undersized `spark.sql.shuffle.partitions`
  *    on a real cluster. The knob is the documented production answer to
  *    "one fixed partition count cannot fit both ends of a 1000× data
  *    range": overprovision the partition count, let AQE coalesce.
  *
  *  - `spark.sql.session.timeZone = UTC` — the reference pipeline's
  *    contract (epoch-ms kline timestamps; see graft.Etl): every
  *    date_format/window boundary is UTC-stable regardless of box TZ.
  *
  *  - the graft_* native functions ([[graft.functions.GraftExtensions]]),
  *    installed once at session creation; the operators that call them
  *    (Similarity, Ivf, TextAnalysis) need no per-call setup.
  */
object GraftSession {

  /** Apply the production sizing profile to ANY builder (the cluster
    * entry point — pass the cluster's total core count).
    */
  def tuned(b: SparkSession.Builder, cores: Int): SparkSession.Builder =
    b.withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cores * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // r18-opt: the generated-class cache (STATIC conf, default 100
      // entries) thrashes on a session that plans the full 215-query
      // surface — every WholeStageCodegen/expression unit recompiles
      // through janino on each repeat pass instead of hitting the
      // cache. 4096 entries holds the whole surface; the cost is only
      // resident class metadata, and on a production cluster a
      // long-lived session running a large query mix wants the same.
      // Scale-neutral: per-core behavior is untouched (the driver's
      // low-core scaling runs compile the same classes either way).
      .config("spark.sql.codegen.cache.maxEntries", "4096")

  /** The local[n] form every graft main uses (UI off — these are
    * headless batch runs).
    */
  def localBuilder(cpus: Int): SparkSession.Builder =
    tuned(SparkSession.builder().master(s"local[$cpus]"), cpus)
      .config("spark.ui.enabled", "false")
}
