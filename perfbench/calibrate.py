#!/usr/bin/env python3
"""Compare the generated sf tables with a reference sf0.1 directory.

    python3 perfbench/calibrate.py --ref DIR [--seed 42] [--queries N] > out.json

Profiles both table sets the same way (row counts, per-column distinct
counts, ranges and quantiles, and the shape figures the mix's queries are
sensitive to: per-user event gaps, document token counts, vocabulary,
duplicate texts, embedding cluster tightness) and prints one JSON object
with both profiles. With `--queries N` it also runs the query mix N times
on each set in the benchmark's JVM, alternating which set runs first, and
adds each query's median cold and warm time, output row count and oracle
check. The reference tables are copied under perfbench/work/ first;
nothing else outside the checkout is touched.
"""
import argparse
import json
import os
import shutil
import statistics
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

TABLES = ("customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings")


def _r(x):
    return round(float(x), 4) if isinstance(x, float) else x


def profile(sf):
    con = duckdb.connect()

    def q(sql):
        return [tuple(_r(v) for v in row) for row in con.execute(sql).fetchall()]

    out = {}
    for t in TABLES:
        path = os.path.join(sf, f"{t}.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")
        cols = {}
        for name, typ, *_ in con.execute(f"DESCRIBE {t}").fetchall():
            if typ.endswith("[]"):
                continue
            c = {"type": typ, "distinct": q(f"SELECT count(DISTINCT {name}) FROM {t}")[0][0]}
            if typ in ("VARCHAR",):
                c["len_min_avg_max"] = q(f"SELECT min(length({name})), avg(length({name})), "
                                         f"max(length({name})) FROM {t}")[0]
                if c["distinct"] <= 30:
                    c["freq"] = dict(q(f"SELECT {name}, count(*) FROM {t} "
                                       f"GROUP BY 1 ORDER BY 1"))
            else:
                num = f"epoch({name})" if typ.startswith("TIMESTAMP") else name
                c["min_max"] = [str(v) for v in q(f"SELECT min({name}), max({name}) FROM {t}")[0]]
                c["mean_std"] = q(f"SELECT avg({num}), stddev({num}) FROM {t}")[0]
                c["q10_q50_q90"] = q(f"SELECT quantile_cont({num}, [0.1, 0.5, 0.9]) "
                                     f"FROM {t}")[0][0]
            cols[name] = c
        out[t] = {"rows": q(f"SELECT count(*) FROM {t}")[0][0], "columns": cols}

    ev = out["events"]
    ev["per_user_events_q0_q50_q100"] = q(
        "SELECT quantile_cont(n, [0, 0.5, 1]) FROM "
        "(SELECT user_id, count(*) n FROM events GROUP BY 1)")[0][0]
    ev["user_gap_over_1800s_frac"] = q(
        "SELECT avg(CASE WHEN g > 1800e6 THEN 1.0 ELSE 0.0 END) FROM "
        "(SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id "
        "ORDER BY ts) g FROM events) WHERE g IS NOT NULL")[0][0]
    ev["hour_buckets"] = q("SELECT count(DISTINCT date_trunc('hour', ts)) FROM events")[0][0]
    ev["ts_sorted_by_event_id"] = q(
        "SELECT count(*) = 0 FROM (SELECT ts, lag(ts) OVER (ORDER BY event_id) p "
        "FROM events) WHERE ts < p")[0][0]

    docs = out["documents"]
    con.execute("CREATE OR REPLACE VIEW toks AS SELECT doc_id, "
                "string_split(lower(text), ' ') AS w FROM documents")
    docs["tokens_q0_q10_q50_q90_q100"] = q(
        "SELECT quantile_cont(len(w), [0, 0.1, 0.5, 0.9, 1]) FROM toks")[0][0]
    docs["vocabulary"] = q("SELECT count(DISTINCT x) FROM (SELECT unnest(w) x FROM toks)")[0][0]
    docs["top_tokens"] = q("SELECT x, count(*) FROM (SELECT unnest(w) x FROM toks) "
                           "GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 12")
    docs["exact_dup_texts"] = q("SELECT count(*) - count(DISTINCT text) FROM documents")[0][0]
    docs["docs_with_query_terms"] = q(
        "SELECT sum(CASE WHEN list_has_any(w, ['spark', 'hash', 'window']) "
        "THEN 1 ELSE 0 END) FROM toks")[0][0]
    docs["distinct_token_sets"] = q(
        "SELECT count(DISTINCT list_sort(list_distinct(w))) FROM toks")[0][0]
    docs["stop_token_frac"] = q(
        "SELECT avg(CASE WHEN x IN ('the','a','of','and','to','in','is','it') "
        "THEN 1.0 ELSE 0.0 END) FROM (SELECT unnest(w) x FROM toks)")[0][0]

    emb = out["embeddings"]
    emb["dim"] = q("SELECT min(len(embedding)), max(len(embedding)) FROM embeddings")[0]
    emb["norm_min_max"] = q(
        "SELECT min(n), max(n) FROM (SELECT sqrt(list_sum(list_transform(embedding, "
        "x -> x * x))) n FROM embeddings)")[0]
    emb["label_freq"] = dict(q("SELECT label, count(*) FROM embeddings GROUP BY 1 ORDER BY 1"))
    # mean cosine of a vector to its own label's mean against the global mean
    con.execute("CREATE OR REPLACE VIEW ex AS SELECT vec_id, label, "
                "unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i "
                "FROM embeddings")
    emb["cos_to_label_mean_vs_global"] = q(
        "WITH lm AS (SELECT label, i, avg(x) m FROM ex GROUP BY 1, 2), "
        "gm AS (SELECT i, avg(x) m FROM ex GROUP BY 1), "
        "d AS (SELECT ex.vec_id, sum(ex.x * lm.m) dl, sqrt(sum(lm.m * lm.m)) nl, "
        "sum(ex.x * gm.m) dg, sqrt(sum(gm.m * gm.m)) ng "
        "FROM ex JOIN lm USING (label, i) JOIN gm USING (i) GROUP BY 1) "
        "SELECT avg(dl / nl), avg(dg / ng) FROM d")[0]
    emb["max_pair_cos_q50_q90"] = q(
        "WITH s AS (SELECT * FROM embeddings WHERE vec_id < 300), "
        "p AS (SELECT a.vec_id, max(list_cosine_similarity(a.embedding, b.embedding)) c "
        "FROM s a, embeddings b WHERE a.vec_id <> b.vec_id GROUP BY 1) "
        "SELECT quantile_cont(c, [0.5, 0.9]) FROM p")[0][0]
    return out


def run_mix(seed_dir, label):
    """One launch of the query mix on `seed_dir/sf`: per-query times, output
    rows and oracle checks of its two passes."""
    cp = run.classpath()
    d = os.path.join(run.WORK, "runs", label)
    shutil.rmtree(d, ignore_errors=True)
    argv = ["--workload", "query_mix", "--data", os.path.join(seed_dir, "sf"),
            "--cores", str(run.cores()), "--seconds", "0", "--passes", "2",
            "--trace", "0", "--work", d,
            "--queries", ",".join(f"{q}:{m}" for q, m in run.QUERY_MIX)]
    _, rec = run.launch(cp, d, argv, 170)
    cks = run.check_outputs("query_mix", seed_dir, rec)
    res = {}
    for q, _ in run.QUERY_MIX:
        times = [c["s"] for c in rec["calls"] if c["name"] == q]
        out = os.path.join(rec["info"]["out"], "p0", q)
        rows = duckdb.connect().execute(
            f"SELECT count(*) FROM '{out}/*.parquet'").fetchone()[0]
        res[q] = {"cold_s": times[0], "warm_s": times[1], "rows": rows,
                  "checks_ok": all(c["ok"] for c in cks if c["name"] == f"oracle:{q}")}
    shutil.rmtree(d, ignore_errors=True)
    return {"pass_s": rec["pass_s"], "queries": res}


def medians(launches):
    """Per-query and per-pass medians over several launches of one set."""
    def med(xs):
        return round(statistics.median(xs), 3)
    first = launches[0]["queries"]
    return {
        "launches": len(launches),
        "pass_s": [med([r["pass_s"][i] for r in launches]) for i in range(2)],
        "queries": {q: {"cold_s": med([r["queries"][q]["cold_s"] for r in launches]),
                        "warm_s": med([r["queries"][q]["warm_s"] for r in launches]),
                        "rows": first[q]["rows"],
                        "checks_ok": all(r["queries"][q]["checks_ok"] for r in launches)}
                    for q in first}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--ref", required=True, help="reference sf0.1 directory")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--queries", type=int, default=0,
                    help="launches of the query mix per set (0: profile only)")
    a = ap.parse_args()
    ref_dir = os.path.join(run.WORK, "ref")
    os.makedirs(os.path.join(ref_dir, "sf"), exist_ok=True)
    for t in TABLES:
        shutil.copy(os.path.join(a.ref, f"{t}.parquet"), os.path.join(ref_dir, "sf"))
    for t in ("region", "nation"):
        shutil.copy(os.path.join(a.ref, f"{t}.parquet"), os.path.join(ref_dir, "sf"))
    seed_dir = run.inputs(a.seed, "sf")
    rec = {"seed": a.seed, "profile": {"reference": profile(os.path.join(ref_dir, "sf")),
                                       "generated": profile(os.path.join(seed_dir, "sf"))}}
    if a.queries:
        runs = {"reference": [], "generated": []}
        sets = [("reference", ref_dir), ("generated", seed_dir)]
        for i in range(a.queries):  # alternate which set runs first
            for name, d in sets[::-1] if i % 2 else sets:
                runs[name].append(run_mix(d, name))
        rec["queries"] = {k: medians(v) for k, v in runs.items()}
    print(json.dumps(rec, indent=1))


if __name__ == "__main__":
    main()
