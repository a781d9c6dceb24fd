package graft.perfbench


import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Etl, SparkEntry}
import graft.io.Sources
import graft.schema.KlineSchema
import graft.stream.{StreamingResample, StreamingSink}

/** One timed call into an engine entry point. `body` gets a callback to
  * mark the end of the call's build phase: the work a query function does
  * before it returns its DataFrame (where session artifacts are built).
  */
final case class Call(name: String, module: String, body: (() => Unit) => Unit)

final case class Check(name: String, ok: Boolean, detail: String)

/** A workload: inputs opened once (part of set-up), then passes of calls.
  * Hooks before and after a pass are not timed; checks come back from
  * `afterPass` and are counted as operations.
  */
trait Workload {
  def open(): Unit
  def beforePass(pass: Int): Unit = ()
  def calls(pass: Int): Seq[Call]
  def afterPass(pass: Int): Seq[Check] = Nil
  /** Stream progress of the last call, one map per micro-batch. */
  def batches: Seq[Map[String, Any]] = Nil
  def info: Map[String, Any] = Map.empty
}

object Workload {
  def apply(name: String, spark: SparkSession, data: String, work: String,
            arg: Map[String, String]): Workload = name match {
    case "kline_job" => new Composite(Seq(
      new KlineEtl(spark, data, work, arg("months")), new StreamOhlc(spark, data, work)))
    case "query_mix" => new QueryMix(spark, data, work, arg("queries"))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def rmrf(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }

  /** Bars sorted by key, for exact comparison between passes. */
  def bars(df: DataFrame): Seq[Row] =
    df.select("bucket", "event_type", "open", "high", "low", "close",
      "volume", "n_trades").orderBy("bucket", "event_type").collect().toSeq

  /** Exact on every column but volume, which is a float sum whose order
    * may differ between runs: that one within 1e-9 relative.
    */
  def sameBars(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      (0 until 8).forall { i =>
        if (i == 6) {
          val (u, v) = (x.getDouble(i), y.getDouble(i))
          math.abs(u - v) <= 1e-9 * math.max(1.0, math.max(math.abs(u), math.abs(v)))
        } else x.get(i) == y.get(i)
      }
    }
}

/** Several workloads run as one: each pass runs every part's calls in order. */
final class Composite(parts: Seq[Workload]) extends Workload {
  def open(): Unit = parts.foreach(_.open())
  override def beforePass(pass: Int): Unit = parts.foreach(_.beforePass(pass))
  def calls(pass: Int): Seq[Call] = parts.flatMap(_.calls(pass))
  override def afterPass(pass: Int): Seq[Check] = parts.flatMap(_.afterPass(pass))
  override def batches: Seq[Map[String, Any]] = parts.flatMap(_.batches)
  override def info: Map[String, Any] = parts.map(_.info).reduce(_ ++ _)
}

/** The reference's monthly job: header-less kline CSV through
  * `Sources.readCsv` + `KlineSchema`, then `Etl.run` into the silver
  * zone, the warehouse table and the CSV exports, re-run in place.
  */
final class KlineEtl(spark: SparkSession, data: String, work: String,
                     monthsArg: String) extends Workload {
  private val months: Seq[(String, Long)] = monthsArg.split(",").toSeq.map { m =>
    val Array(ym, n) = m.split(":"); ym -> n.toLong
  }
  private val cfg = Etl.EtlConfig(
    sources = Seq("BTCUSDT-1s"),
    periods = months.map(_._1),
    landingDir = s"$data/landing",
    aggregatedDir = s"$work/etl/agg",
    warehouseTable = "perfbench_klines",
    warehousePath = s"$work/etl/wh",
    exportDir = s"$work/etl/export")
  private var events: DataFrame = _
  private var first: (Seq[Row], Seq[(String, Long, Double)]) = _

  def open(): Unit =
    events = Sources.readCsv(spark, s"$data/landing/*", KlineSchema.schema)
      .select(
        timestamp_millis(col("Open time")).as("ts"),
        col("Close").as("value"),
        lit("BTCUSDT-1s").as("event_type"))

  def calls(pass: Int): Seq[Call] =
    Seq(Call("etl_run", "Etl", _ => Etl.run(spark, events, cfg)))

  override def afterPass(pass: Int): Seq[Check] = {
    val wh = spark.table(cfg.warehouseTable)
    val byMonth = wh
      .groupBy(date_format(timestamp_seconds(col("bucket")), "yyyy-MM").as("m"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = months.map { case (m, rows) => m -> rows / 3600 }.toMap
    val nBars = wh.count()
    val exported = spark.read.option("header", "true").csv(cfg.exportDir).count()
    val summary = spark.read.option("header", "true")
      .csv(cfg.exportDir + "_summary").orderBy("event_type").collect().toSeq
      .map(r => (r.getString(0), r.getString(1).toLong, r.getString(2).toDouble))
    val now = (Workload.bars(wh), summary)
    if (first == null) first = now
    val sameSummary = first._2.size == summary.size &&
      first._2.zip(summary).forall { case ((e1, n1, v1), (e2, n2, v2)) =>
        e1 == e2 && n1 == n2 && math.abs(v1 - v2) <= 1e-9 * math.max(1.0, math.abs(v1))
      }
    Seq(
      Check("bars_per_month", byMonth == want, s"got $byMonth want $want"),
      Check("export_rows", exported == nBars, s"export $exported warehouse $nBars"),
      Check("idempotent_rerun",
        Workload.sameBars(first._1, now._1) && sameSummary,
        s"pass $pass against pass 0"))
  }

  override def info: Map[String, Any] = Map("warehouse" -> cfg.warehousePath)
}

/** The same klines landed as one parquet slice per month, replayed one file
  * per trigger through the streaming hourly resample into the upserting
  * warehouse sink, drained with AvailableNow from a fresh checkpoint.
  */
final class StreamOhlc(spark: SparkSession, data: String, work: String)
    extends Workload {
  private val schema = StructType(Seq(
    StructField("ts", TimestampType), StructField("value", DoubleType),
    StructField("event_type", StringType)))
  private val landing = s"$data/stream"
  private var progress: Seq[Map[String, Any]] = Nil

  def open(): Unit = {
    val n = new java.io.File(landing).listFiles().count(_.getName.endsWith(".parquet"))
    require(n > 0, s"no parquet slices under $landing")
  }

  override def beforePass(pass: Int): Unit = Workload.rmrf(s"$work/stream/ckpt")

  def calls(pass: Int): Seq[Call] = Seq(Call("stream_drain", "stream", _ => {
    val bars = StreamingResample.hourlyOhlc(spark, landing, schema, Some(1))
    val q = StreamingSink.ohlcWarehouseSink(bars, s"$work/stream/p$pass",
      s"$work/stream/ckpt", availableNow = true)
    q.awaitTermination()
    progress = q.recentProgress.toSeq.map { p =>
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      Map[String, Any](
        "batch_id" -> p.batchId,
        "input_rows" -> p.numInputRows,
        "trigger_ms" -> ms("triggerExecution"),
        "latest_offset_ms" -> ms("latestOffset"),
        "get_batch_ms" -> ms("getBatch"),
        "query_planning_ms" -> ms("queryPlanning"),
        "add_batch_ms" -> ms("addBatch"),
        "wal_commit_ms" -> ms("walCommit"),
        "commit_offsets_ms" -> ms("commitOffsets"),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_mem_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
    }
    q.exception.foreach(e => throw e)
  }))

  override def batches: Seq[Map[String, Any]] = progress

  override def info: Map[String, Any] = Map("out" -> s"$work/stream")
}

/** A fixed, ordered list of registered queries, each written to parquet
  * per pass for the oracle check. Every pass starts with no session
  * artifacts, as `graft.Bench` does between its passes.
  */
final class QueryMix(spark: SparkSession, data: String, work: String,
                     queriesArg: String) extends Workload {
  private val queries: Seq[(String, String)] = queriesArg.split(",").toSeq.map { q =>
    val Array(name, module) = q.split(":"); name -> module
  }
  private val unknown = queries.map(_._1).filterNot(SparkEntry.queries.contains)
  require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

  def open(): Unit =
    new java.io.File(data).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).foreach(f => spark.read.parquet(f.getPath).schema)

  override def beforePass(pass: Int): Unit = SparkEntry.resetScratch()

  def calls(pass: Int): Seq[Call] = queries.map { case (name, module) =>
    Call(name, module, built => {
      val df = SparkEntry.queries(name)(spark, data)
      built()
      df.write.mode("overwrite").parquet(s"$work/out/p$pass/$name")
    })
  }

  override def info: Map[String, Any] = {
    val sql = SparkEntry.oracleSql
    Map("out" -> s"$work/out",
      "oracle_sql" -> queries.map { case (n, _) => n -> sql.getOrElse(n, "") }.toMap)
  }
}
