package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import graft.GraftSession

/** The benchmark's JVM. One process runs one workload at `local[cores]`:
  * it builds the session through the production profile, opens the
  * inputs, then runs passes of calls into the engine's entry points — the
  * first pass in this fresh JVM, the later ones warm — until at least
  * `--passes` passes ran and the measured time is spent. The timed region
  * is each pass's calls; the output checks between passes are not in it,
  * nor in the JVM counters. It writes one JSON record;
  * `perfbench/run.py` turns it into metrics and checks the outputs
  * against DuckDB.
  *
  * Usage: Harness --workload W --data DIR --work DIR --out FILE --cores N
  *   --seconds S --passes P --trace 0|1 [--months ..] [--queries ..]
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val arg = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = arg("cores").toInt
    val traced = arg.getOrElse("trace", "0") == "1"
    val out = arg("out")

    val t0 = System.nanoTime()
    val spark = GraftSession.localBuilder(cores).getOrCreate()
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (traced) Some(new Trace(spark, cores)) else None
    trace.foreach(_.start())
    val wl = Workload(arg("workload"), spark, arg("data"), arg("work"), arg)
    wl.open()
    val readyMs = System.currentTimeMillis()

    val seconds = arg("seconds").toDouble
    val minPasses = arg("passes").toInt
    val maxPasses = 100
    // epoch-ms clock with nanoTime resolution for call spans
    val epoch0 = System.currentTimeMillis().toDouble
    val nano0 = System.nanoTime()
    def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

    val calls = ArrayBuffer[CallSpan]()
    val failures = ArrayBuffer[Map[String, Any]]()
    val checks = ArrayBuffer[Map[String, Any]]()
    val batches = ArrayBuffer[Map[String, Any]]()
    val passWalls = ArrayBuffer[Double]()
    var pass = 0
    var firstCall = -1.0
    val liveHeapMb = ArrayBuffer[Double]()
    var running = true
    while (running) {
      wl.beforePass(pass)
      var passStart = -1.0
      trace.foreach(_.passStart())
      wl.calls(pass).foreach { c =>
        val id = s"p$pass:${c.name}"
        // no description: SQL executions keep their call site as theirs
        if (traced) spark.sparkContext.setJobGroup(id, null, interruptOnCancel = false)
        val start = now
        if (firstCall < 0) firstCall = start
        if (passStart < 0) passStart = start
        var built = -1.0
        try c.body(() => built = now)
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] ${c.name} failed in pass $pass: $e")
          failures += Map("pass" -> pass, "call" -> c.name, "error" -> e.toString.take(500))
        } finally if (traced) spark.sparkContext.clearJobGroup()
        val end = now
        calls += CallSpan(id, pass, c.name, c.module, start, if (built < 0) start else built, end)
      }
      passWalls += (now - passStart) / 1000.0
      trace.foreach(_.passEnd())
      // a full collection after each pass's calls reads the live set (the
      // heap after a young collection also holds old garbage, so it is not
      // used); it stays out of the pass time and the per-pass counters above
      liveHeapMb += JvmBeans.liveHeapMb
      pass += 1
      running = pass < minPasses || (pass < maxPasses && now - firstCall < seconds * 1000)
      val done = pass - 1
      batches ++= wl.batches.map(_ + ("pass" -> done))
      try wl.afterPass(done).foreach { ch =>
        if (!ch.ok) System.err.println(s"[perfbench] check ${ch.name} failed: ${ch.detail}")
        checks += Map("name" -> ch.name, "pass" -> done, "ok" -> ch.ok, "detail" -> ch.detail)
      } catch { case e: Throwable =>
        checks += Map("name" -> "after_pass", "pass" -> done, "ok" -> false,
          "detail" -> e.toString.take(500))
      }
    }
    val (layers, spans) = trace.map(_.report(calls.toSeq, batches.toSeq))
      .getOrElse((Map.empty[String, Double], Nil))

    Json.writeFile(out, Map(
      "ready_ms" -> readyMs,
      "session_start_s" -> sessionStartS,
      "cores" -> cores,
      "pass_s" -> passWalls.toSeq,
      "calls" -> calls.map(c => Map("pass" -> c.pass, "name" -> c.name,
        "module" -> c.module, "s" -> (c.end - c.start) / 1000.0)).toSeq,
      "failures" -> failures.toSeq,
      "checks" -> checks.toSeq,
      "batches" -> batches.toSeq,
      "live_heap_mb" -> liveHeapMb.toSeq,
      "layers" -> layers,
      "spans" -> spans,
      "info" -> wl.info))
    // The record is the JVM's last act: it halts without the shutdown work
    // (stopping the context, deleting its temp dirs), which run.py does by
    // deleting the run directory, so that work stays out of the run's wall.
    Runtime.getRuntime.halt(0)
  }
}
