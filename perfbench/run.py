#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload kline_job --seed 1 --seconds 20 --trace 0

Builds the harness together with the engine's sources (once per source
state), generates the seed's inputs (once per seed), launches one JVM that
sets up and runs the workload's passes (at least its fixed count, longer
only if they take less than `--seconds`), checks every output against
DuckDB, and prints one JSON line last on stdout. With
`--trace 1` the same run carries the trace collectors and the line holds
the per-layer metrics instead. Progress and diagnostics go to stderr.
See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, "work")
SEED_CACHE = 8          # seeds whose inputs stay on disk
HEAP = "3g"

# The JVM options the root build gives forked runs (build.sbt), with a
# fixed heap. Spark 4 on JDK 17 needs the add-opens outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# The query mix: one fixed, ordered list of oracled registered queries,
# market-data first, then LLM-data, with at least one query per `ops`
# module except Clustering (see README.md), each tagged with the module
# of its operator.
QUERY_MIX = [
    ("ohlc_hourly", "Resample"), ("ewma_price", "Rolling"),
    ("realized_vol", "Microstructure"), ("join_asof", "Joins"),
    ("sessionize", "Sessions"), ("histogram_price", "Stats"),
    ("dedup_exact", "Similarity"),
    ("bm25_score", "TextAnalysis"), ("bpe_pairs", "Tokenizer"),
    ("ann_ivf_md5", "Ivf"), ("curation_pipeline", "Pipeline")]

# workload -> (the seed's input directory it reads, passes at least run).
# The kline job's passes are short, so its warm time is a median of two; a
# third query_mix pass (about 10 s) leaves too little of the run budget.
WORKLOADS = {"kline_job": ("kline", 3), "query_mix": ("sf", 2)}

SPEC = os.path.join(ROOT, "BENCHMARK.json")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha1()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*.scala"),
                             recursive=True) +
                   glob.glob(os.path.join(HARNESS, "src", "**", "*.scala"),
                             recursive=True) +
                   [os.path.join(HARNESS, "build.sbt"),
                    os.path.join(HARNESS, "project", "build.properties")])
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """Compile the harness with the engine's sources; cached per source state."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found next to perfbench/ (src/main/scala/graft)")
    stamp_file = os.path.join(WORK, "build", "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        rec = json.load(open(stamp_file))
        if rec["stamp"] == stamp:
            return rec["classpath"]
    log("building the harness and the engine (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    sbt_opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.offline" not in sbt_opts and os.path.exists(repos):
        sbt_opts += (" -Dsbt.override.build.repos=true -Dsbt.offline=true"
                     f" -Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = sbt_opts.strip()
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("harness build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    json.dump({"stamp": stamp, "classpath": cp, "build_s": time.time() - t0},
              open(stamp_file, "w"))
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# ------------------------------------------------------------------ inputs

def inputs(seed, kind):
    """The seed's `kind` inputs ("kline" or "sf"), generated on first use.
    Returns the seed's directory; generation time is logged, not measured."""
    version = hashlib.sha1(open(os.path.join(HERE, "gen.py"), "rb").read()).hexdigest()[:8]
    base = os.path.join(WORK, "data", f"seed-{seed}-{version}")
    done = os.path.join(base, f"{kind}.done")
    if os.path.exists(done):
        os.utime(done)
        return base
    shutil.rmtree(os.path.join(base, kind), ignore_errors=True)
    t0 = time.time()
    (gen.write_klines if kind == "kline" else gen.write_sf)(os.path.join(base, kind), seed)
    with open(done, "w") as f:
        f.write(f"{time.time() - t0:.3f}\n")
    log(f"generated {kind} inputs for seed {seed} in {time.time() - t0:.1f} s")
    marks = sorted(glob.glob(os.path.join(WORK, "data", "seed-*", "*.done")),
                   key=os.path.getmtime)
    for old in marks[:-SEED_CACHE]:
        os.remove(old)
        shutil.rmtree(old[:-len(".done")], ignore_errors=True)
    return base


# ------------------------------------------------------------------ the JVM

def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def launch(cp, run_dir, argv, timeout):
    """Run the harness in a fresh JVM; (launch epoch ms, record)."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    out = os.path.join(run_dir, "record.json")
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.local.dir={run_dir}/local",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            "-cp", cp, "graft.perfbench.Harness", "--out", out] + argv)
    launched = time.time() * 1000.0
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.DEVNULL,
                            stderr=subprocess.PIPE, text=True)
    try:
        _, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"harness JVM did not finish within {timeout} s")
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write("\n".join(err.splitlines()[-30:]) + "\n")
        fail(f"harness JVM exited with {proc.returncode}")
    for ln in err.splitlines():
        if ln.startswith("[perfbench]"):
            sys.stderr.write(ln + "\n")
    return launched, json.load(open(out))


# ------------------------------------------------------------------ checks

def check_outputs(workload, seed_dir, rec):
    """Python-side checks of the run's outputs; list of {name, pass, ok, detail}."""
    out = []
    kline = os.path.join(seed_dir, "kline")
    if workload == "kline_job":
        # the ETL warehouse after the last re-run, and the stream's
        # warehouse after every drain, against the same DuckDB bars
        want = checks.oracle_bars(kline, gen.KLINE_SYMBOL)
        targets = [("etl", len(rec["pass_s"]) - 1, rec["info"]["warehouse"])] + [
            ("stream", p, os.path.join(rec["info"]["out"], f"p{p}"))
            for p in range(len(rec["pass_s"]))]
        for what, p, d in targets:
            ok, detail = checks.same_bars(checks.read_bars(d), want)
            out.append({"name": f"{what}_bars_vs_duckdb", "pass": p, "ok": ok,
                        "detail": detail})
    else:
        sf = os.path.join(seed_dir, "sf")
        con = checks.sf_connection(sf)
        cache = os.path.join(seed_dir, "oracle")
        for name, sql in sorted(rec["info"]["oracle_sql"].items()):
            try:
                want = checks.oracle_frame(con, cache, name, sql)
            except Exception as e:  # an oracle that cannot run is a failed check
                want, err = None, str(e).splitlines()[0][:200]
            for p in range(len(rec["pass_s"])):
                d = os.path.join(rec["info"]["out"], f"p{p}", name)
                if want is None:
                    ok, detail = False, f"oracle failed: {err}"
                elif not os.path.isdir(d):
                    ok, detail = False, "no output"
                else:
                    ok, detail = checks.same_frame(checks.read_output(d), want)
                out.append({"name": f"oracle:{name}", "pass": p, "ok": ok,
                            "detail": detail})
    for c in out:
        if not c["ok"]:
            log(f"check {c['name']} (pass {c['pass']}) failed: {c['detail']}")
    return out


# ------------------------------------------------------------------ main

def batch_tail(batches):
    """The micro-batch tail: the highest percentile of `triggerExecution`
    with at least ten batches beyond it, with the batch count. A run at the
    declared seconds drains 9 batches, too few for any; a longer `--seconds`
    runs more passes and gets one."""
    pct, value, n = stats.tail([b["trigger_ms"] / 1000.0 for b in batches])
    return {"pct": pct, "value_s": value, "batches": n}


def per_layer(rec, e2e):
    """Every per-layer value of a traced run: the harness's layers, the
    micro-batch median, the session start and the traced end-to-end
    values. The record keeps all of them; the line only the declared ones."""
    m = dict(rec["layers"])
    m["stream.batch_p50_s"] = stats.median(
        [b["trigger_ms"] / 1000.0 for b in rec["batches"]]) or 0.0
    m["jvm.session_start_s"] = rec["session_start_s"]
    m.update({f"traced.{k}": v for k, v in e2e.items()})
    return m


def metric_values(values, declared):
    """The declared metrics in declared order, with their declared units."""
    missing = [d["name"] for d in declared if values.get(d["name"]) is None]
    if missing:
        fail(f"no value for declared metrics {missing}")
    return {d["name"]: (values[d["name"]], d["unit"]) for d in declared}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.exists(SPEC):
        fail("BENCHMARK.json not found at the repository root")
    spec = json.load(open(SPEC))

    cp = classpath()
    kind, passes = WORKLOADS[a.workload]
    seed_dir = inputs(a.seed, kind)
    argv = ["--workload", a.workload, "--data", os.path.join(seed_dir, kind),
            "--cores", str(cores()), "--seconds", str(a.seconds),
            "--passes", str(passes), "--trace", str(a.trace)]
    if a.workload == "kline_job":
        argv += ["--months", ",".join(f"{m}:{n}" for m, _, n in gen.kline_months())]
    else:
        argv += ["--queries", ",".join(f"{q}:{m}" for q, m in QUERY_MIX)]

    runs = os.path.join(WORK, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    d = os.path.join(runs, "run")
    launched, rec = launch(cp, d, argv + ["--work", d], 150)

    cks = rec["checks"] + check_outputs(a.workload, seed_dir, rec)
    attempted, failed, bad_passes = stats.accounting(
        rec["calls"], rec["failures"], cks, rec["batches"])
    cold, warm = stats.pass_times(rec["pass_s"], bad_passes)
    e2e = {"setup_s": (rec["ready_ms"] - launched) / 1000.0, "cold_s": cold,
           "warm_s": warm, "live_heap_mb": stats.median(rec["live_heap_mb"])}
    layers = per_layer(rec, e2e) if a.trace else {}
    metrics = (metric_values(layers, spec["per_layer"]) if a.trace else
               metric_values(e2e, spec["end_to_end"]))

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "cores": rec["cores"], "heap": HEAP,
              "pass_s": rec["pass_s"], "live_heap_pass_mb": rec["live_heap_mb"],
              "e2e": e2e,
              "attempted": attempted, "failed": failed,
              "failed_ops_frac": failed / attempted, "calls": rec["calls"],
              "batches": rec["batches"], "batch_tail": batch_tail(rec["batches"]),
              "checks": cks, "layers": layers,
              "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    res_dir = os.path.join(WORK, "results")
    os.makedirs(res_dir, exist_ok=True)
    if a.trace:
        prior = [json.load(open(f)) for f in
                 glob.glob(os.path.join(res_dir, f"{a.workload}-*-t0.json"))]
        record["overhead"] = {
            n: e2e[n] - stats.median([p["e2e"][n] for p in prior])
            for n in e2e} if prior else None
        record["spans"] = rec["spans"]
    json.dump(record, open(os.path.join(
        res_dir, f"{a.workload}-seed{a.seed}-t{a.trace}.json"), "w"))
    shutil.rmtree(runs, ignore_errors=True)

    correct = failed == 0
    print(stats.result_line(correct, attempted, failed, metrics), flush=True)


if __name__ == "__main__":
    main()
