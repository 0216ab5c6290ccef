#!/usr/bin/env python3
"""graft benchmark: river ingest, ES query mix and corpus release.

Usage (from the repository root):

    python3 perfbench/run.py --workload river_ingest --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark driver from source on first use
(sbt, offline; outputs under .bench_build/), generates the workload's
inputs from --seed, runs the JVM driver (perfbench/src) closed loop for
--seconds, checks the outputs in DuckDB and prints one JSON object as the
last line of stdout.  --trace 0 reports the end-to-end metrics of
BENCHMARK.json, --trace 1 the per-layer ones.  perfbench/METRICS.md
defines every metric.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("river_ingest", "es_query_mix", "corpus_release")
# the ES mix: every query once per pass; no public source gives a read
# mix for this engine, so no query is weighted above another
ES_WEIGHTS = dict.fromkeys((
    "q_terms_facet", "q_date_histogram", "q_percentile_facet", "q_composite_agg",
    "q_cardinality", "q_top_hits", "q1_pricing_summary", "q_geo_distance",
    "q_nested_match", "text_bm25", "text_match_query", "q_bool_dsl", "q_query_string",
    "q_multi_match", "text_phrase_match", "ann_bruteforce_topk", "hbase_source_scan",
    "hbase_source_page", "river_incremental_scan"), 1)
# the fastest river cycle the staged slices still cover for a whole run
# (a warm cycle takes about 1.5 s at 4 cores)
RIVER_MIN_CYCLE_S = 0.2
SIZES = {
    "full": dict(slice_rows=20_000, backfill_rows=200_000, warmup_cycles=4, buckets=16,
                 es_sf=0.02, es_warm_passes=1, release_docs=1600),
    "tiny": dict(slice_rows=2_000, backfill_rows=10_000, warmup_cycles=1, buckets=4,
                 es_sf=0.002, es_warm_passes=0, release_docs=300),
}
JAVA_OPTS = [
    "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-Dspark.ui.enabled=false",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            if "/target" in p:
                continue
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: library sources (src/main/scala) not found next to perfbench/")
    stamp = os.path.join(ROOT, ".bench_build", f"classpath-{source_digest()}.txt")
    if os.path.exists(stamp):
        return open(stamp).read().strip()
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Xmx2g -Dsbt.offline=true" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.exists(repos) else ""))
    env.setdefault("COURSIER_MODE", "offline")
    log("perfbench: building (sbt) ...")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in p.stdout:
        log(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


# ---------------------------------------------------------------- inputs

def make_inputs(workload, seed, seconds, trace, work, size):
    import numpy as np
    import gen
    rng = np.random.default_rng(seed)
    z = SIZES[size]
    if workload == "river_ingest":
        st = gen.river_state()
        staged = f"{work}/staged"
        os.makedirs(staged)
        import pyarrow.parquet as pq
        n_bf = 4
        for i in range(n_bf):
            pq.write_table(gen.river_slice(rng, i, z["backfill_rows"] // n_bf, st),
                           f"{staged}/backfill_{i}.parquet")
        # timed cycles, plus the single-core baseline of a traced run
        n_slices = z["warmup_cycles"] + int(seconds * (1.5 if trace else 1) / RIVER_MIN_CYCLE_S) + 2
        for i in range(n_slices):
            pq.write_table(gen.river_slice(rng, n_bf + i, z["slice_rows"], st),
                           f"{staged}/slice_{i:05d}.parquet")
        params = dict(gen.RIVER_PARAMS, slice_rows=z["slice_rows"],
                      backfill_rows=z["backfill_rows"], buckets=z["buckets"],
                      warmup_cycles=z["warmup_cycles"], slices_staged=n_slices)
        files = [f"{staged}/{f}" for f in sorted(os.listdir(staged))]
        return params, files, {}
    if workload == "es_query_mix":
        params = gen.es_tables(rng, f"{work}/es", z["es_sf"])
        passes = gen.query_sequence(rng, ES_WEIGHTS, 40)
        with open(f"{work}/sequence.txt", "w") as f:
            f.write("\n".join(" ".join(p) for p in passes) + "\n")
        params["mix_weights"] = ES_WEIGHTS
        files = [f"{work}/es/{f}" for f in sorted(os.listdir(f"{work}/es"))]
        return params, files, {}
    params, planted = gen.corpus(rng, f"{work}/corpus", z["release_docs"])
    params["planted"] = {k: len(v) for k, v in planted.items()}
    files = [f"{work}/corpus/documents.parquet", f"{work}/corpus/embeddings.parquet"]
    return params, files, planted


# ---------------------------------------------------------------- driver

def run_jvm(cp, workload, work, cores, seconds, trace, size, fail_first_timed=False):
    z = SIZES[size]
    # scratch files (Spark block manager, JVM temp) stay in the work dir
    os.makedirs(f"{work}/tmp", exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "graft.perfbench.Main",
           f"workload={workload}", f"work={work}", f"cores={cores}",
           f"seconds={seconds}", f"trace={trace}", f"buckets={z['buckets']}",
           f"warmup={z['warmup_cycles']}", f"warm_passes={z['es_warm_passes']}",
           f"fail_first_timed={int(fail_first_timed)}"]
    with open(f"{work}/jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            rc = p.wait(timeout=160)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    if rc != 0 or not os.path.exists(f"{work}/result.json"):
        log(open(f"{work}/jvm.log").read()[-4000:])
        raise SystemExit(f"perfbench: JVM driver failed (exit {rc})")
    res = json.load(open(f"{work}/result.json"))
    return res


# ---------------------------------------------------------------- metrics

def pct(values, q):
    """Harrell-Davis estimate of the q-quantile: a Beta((n+1)q, (n+1)(1-q))
    weighted average of all order statistics.  On a few dozen samples
    drawn from a multi-modal mix it is far steadier than a single order
    statistic, which jumps across the gaps between query types."""
    import numpy as np
    v = np.sort(np.asarray(values, dtype=float))
    n = len(v)
    if n == 1:
        return float(v[0])
    a, b = q * (n + 1), (1 - q) * (n + 1)
    x = np.linspace(0.0, 1.0, 20001)
    with np.errstate(divide="ignore", invalid="ignore"):
        logpdf = (a - 1) * np.log(x) + (b - 1) * np.log1p(-x)
    pdf = np.exp(np.nan_to_num(logpdf - np.nanmax(logpdf[1:-1]), nan=-np.inf, neginf=-np.inf))
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf /= cdf[-1]
    w = np.diff(np.interp(np.arange(n + 1) / n, x, cdf))
    return float(np.dot(w, v))


def tail_q(n):
    """Highest percentile with at least ten samples beyond it (never below
    the median): p = 1 - 10/n, floored to a whole percent."""
    return max(0.5, int(100 * (1 - 10 / n)) / 100) if n else 0.5


def latency_ms(workload, op):
    if workload == "river_ingest":
        return op["visible"] - op["landed"]
    return op["end"] - op["start"]


def throughput(workload, ops, docs):
    wall = sum(o["end"] - o["start"] for o in ops) / 1000
    if not wall:
        return 0.0
    if workload == "river_ingest":
        return sum(o["rows"] for o in ops) / wall
    if workload == "es_query_mix":
        return len(ops) / wall
    return docs * len(ops) / wall


def med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(workload, res, t_setup, timed, n_checks, n_failed, docs):
    """`timed` holds every timed operation; latency and throughput are
    over the ones that succeeded, failures count in `ops_ok_frac` only."""
    ok = [o for o in timed if o["ok"]]
    lat = [latency_ms(workload, o) for o in ok] or [0.0]
    q = tail_q(len(ok))
    attempted = len(timed) + n_checks
    return {
        "setup_s": (res["info"]["first_timed_ms"] / 1000 - t_setup, "s"),
        "ops_ok_frac": ((attempted - n_failed) / attempted, "frac"),
        "throughput_per_s": (throughput(workload, ok, docs), "1/s"),
        "latency_p50_ms": (pct(lat, 0.5), "ms"),
        "latency_tail_ms": (pct(lat, q), "ms"),
    }, q


def load_trace(work):
    recs = {}
    with open(f"{work}/trace.jsonl") as f:
        for line in f:
            r = json.loads(line)
            recs.setdefault(r["k"], []).append(r)
    return recs


def union_ms(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    return total + (cur_b - cur_a if cur_b is not None else 0.0)


SPAN_LEVEL = {"operation": 0, "library_call": 1, "action": 1, "stream_start": 2,
              "trigger": 2, "addBatch": 3, "sql_execution": 4, "job": 5, "stage": 6}


def overhead_frac(workload, traced, plain):
    """Tracing overhead: per operation name, median traced over median
    untraced latency, minus one; the median over names.  Per name, so a
    mix of queries of different cost compares like with like."""
    by_name = {}
    for o in traced + plain:
        by_name.setdefault(o["name"], ([], []))[0 if o["traced"] else 1].append(
            latency_ms(workload, o))
    r = [med(t) / med(u) - 1 for t, u in by_name.values() if t and u and med(u) > 0]
    return med(r)


def per_layer(workload, res, tr, timed, docs, speedup, index_bytes_per_row):
    """Per-layer metrics from the successful timed operations `timed` of
    a trace run: listener figures from the traced ones, latencies from
    the untraced ones."""
    traced = [o for o in timed if o["traced"]]
    plain = [o for o in timed if not o["traced"]]
    m = {}
    # spans: benchmark-side ones plus SQL executions, jobs and stages
    spans = [(s["kind"], s["start"], s["end"]) for s in tr.get("span", [])]
    sql_start = {r["sql"]: r["t"] for r in tr.get("sql_start", [])}
    spans += [("sql_execution", sql_start[r["sql"]], r["t"])
              for r in tr.get("sql_end", []) if r["sql"] in sql_start]
    job_start = {r["job"]: r for r in tr.get("job_start", [])}
    spans += [("job", job_start[r["job"]]["t"], r["t"])
              for r in tr.get("job_end", []) if r["job"] in job_start]
    spans += [("stage", r["start"], r["end"]) for r in tr.get("stage", []) if r["start"] > 0]
    tasks = tr.get("task", [])
    stage_tasks = {}
    for t in tasks:
        stage_tasks.setdefault(t["stage"], []).append(t)
    qes = tr.get("qe", [])

    per_op = {}
    self_ms = {k: [] for k in SPAN_LEVEL}

    def add(k, v):
        per_op.setdefault(k, []).append(v)

    for o in traced:
        lo, hi = o["start"], o["end"]
        wall = hi - lo
        inside = lambda t: lo <= t <= hi
        jobs = [j for j in job_start.values() if inside(j["t"])]
        stage_ids = {int(s) for j in jobs for s in j["stages"].split(",") if s}
        stages = [s for s in tr.get("stage", []) if s["stage"] in stage_ids]
        ts = [t for s in stage_ids for t in stage_tasks.get(s, [])]
        q = [r for r in qes if inside(r["t"])]
        busy = union_ms([(t["start"], t["end"]) for t in ts], lo, hi)
        add("spark.analysis_ms", sum(r["analysis_ms"] for r in q))
        add("spark.optimization_ms", sum(r["optimization_ms"] for r in q))
        add("spark.planning_ms", sum(r["planning_ms"] for r in q))
        add("spark.exec_ms", sum(r["exec_ms"] for r in q))
        add("spark.sql_executions_per_op", len([1 for t in sql_start.values() if inside(t)]))
        add("spark.jobs_per_op", len(jobs))
        add("spark.stages_per_op", len(stages))
        add("spark.tasks_per_op", len(ts))
        add("spark.driver_gap_ms", wall - busy)
        add("spark.task_busy_frac", busy / wall if wall else 0.0)
        add("spark.executor_cpu_ms", sum(t["cpu_ns"] for t in ts) / 1e6)
        add("spark.gc_ms", sum(t["gc_ms"] for t in ts))
        add("spark.shuffle_write_bytes", sum(t["shuffle_write"] for t in ts))
        add("spark.shuffle_read_bytes", sum(t["shuffle_read"] for t in ts))
        add("spark.spill_bytes", sum(t["spill"] for t in ts))
        skews = []
        for s in stage_ids:
            d = [t["end"] - t["start"] for t in stage_tasks.get(s, [])]
            if len(d) >= 2 and statistics.median(d) > 0:
                skews.append(max(d) / statistics.median(d))
        add("spark.task_skew", max(skews) if skews else 1.0)
        rows_out = sum(r["rows_out"] for r in q)
        add("spark.input_rows_per_output_row", sum(r["rows_in"] for r in q) / max(rows_out, 1))
        # self time: a span's duration minus what deeper spans cover
        mine = [(k, max(a, lo), min(b, hi)) for k, a, b in spans if min(b, hi) > max(a, lo)]
        for kind, level in SPAN_LEVEL.items():
            own = [(a, b) for k, a, b in mine if k == kind]
            deeper = [(a, b) for k, a, b in mine if SPAN_LEVEL.get(k, 9) > level]
            self_ms[kind].append(sum((b - a) - union_ms(deeper, a, b) for a, b in own))
    for k, v in per_op.items():
        m[k] = (med(v), UNITS.get(k, "ms"))
    for kind, v in self_ms.items():
        m[f"self_ms.{kind}"] = (med(v), "ms")
    m["spark.parallel_speedup"] = (speedup, "x")
    m["jvm.peak_rss_mb"] = (res["info"]["peak_rss_kb"] / 1024, "MB")
    m["trace.overhead_frac"] = (overhead_frac(workload, traced, plain), "frac")

    if workload == "river_ingest":
        cyc = [c for c in tr.get("river_cycle", []) if any(o["i"] == c["op"] for o in traced)]
        trig = {}
        for s in tr.get("span", []):
            if s["kind"] == "trigger":
                for k, v in s.items():
                    if k.startswith("d_"):
                        trig.setdefault((s["op"], k[2:]), []).append(v)
        for k in ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit"):
            m[f"river.trigger.{k}_ms"] = (med([sum(trig.get((o["i"], k), [0])) for o in traced]), "ms")
        m["river.start_ms"] = (med([c["start_ms"] for c in cyc]), "ms")
        m["river.stop_ms"] = (med([c["stop_ms"] for c in cyc]), "ms")
        m["river.upsert.touched_bucket_frac"] = (med([c["touched_buckets"] / c["buckets"] for c in cyc]), "frac")
        m["river.upsert.bytes_written_per_byte_in"] = (
            sum(c["bytes_written"] for c in cyc) / max(1, sum(c["bytes_in"] for c in cyc)), "ratio")
        m["river.upsert.rows_rewritten_per_row_in"] = (
            sum(c["rows_rewritten"] for c in cyc) / max(1, sum(c["rows_in"] for c in cyc)), "ratio")
        m["river.backfill_rows_per_s"] = (backfill_rows_per_s(res), "1/s")
        m["river.index_bytes_per_row"] = (index_bytes_per_row, "B")
    if workload == "es_query_mix":
        from_mod = {}
        for o in plain:
            from_mod.setdefault(o["group"], []).append(o["end"] - o["start"])
        for mod, name in (("operators", "operators.query_p50_ms"), ("text", "text.query_p50_ms"),
                          ("similarity", "similarity.query_p50_ms"),
                          ("sources.hbasesim", "sources.hbasesim.query_p50_ms"),
                          ("river", "river.scan_query_p50_ms")):
            m[name] = (med(from_mod.get(mod, [])), "ms")
        m["es.build_ms"] = (med([o["build_ms"] for o in plain]), "ms")
        hb = [o for o in traced if o["group"] == "sources.hbasesim"]
        rin = rout = 0
        for o in hb:
            q = [r for r in qes if o["start"] <= r["t"] <= o["end"]]
            rin += sum(r["hbase_rows"] for r in q)
            rout += sum(r["rows_out"] for r in q)
        m["sources.hbasesim.rows_read_per_row_out"] = (rin / max(rout, 1), "ratio")
    if workload == "corpus_release":
        info = res["info"]
        for k in ("pipeline.fingerprint_keepers", "dedup.minhash_pairs", "dedup.clusters",
                  "dedup.semantic_pairs"):
            m[f"{k}_s"] = (info[f"{k}.s"], "s")
        m["dedup.minhash_candidates"] = (info["dedup.minhash_candidates"], "count")
        m["dedup.minhash_confirm_frac"] = (
            info["dedup.minhash_confirmed"] / max(1, info["dedup.minhash_candidates"]), "frac")
        m["dedup.cluster_jobs"] = (info["dedup.clusters.jobs"], "count")
        m["pipeline.manifest_tail_s"] = (
            info["pipeline.release_total.s"] - info["pipeline.v3_keepers.s"], "s")
    return m


def backfill_rows_per_s(res):
    bf = [o for o in res["ops"] if o["phase"] == "backfill" and o["ok"]]
    return bf[0]["rows"] / ((bf[0]["end"] - bf[0]["start"]) / 1000) if bf else 0.0


UNITS = {"spark.sql_executions_per_op": "count", "spark.jobs_per_op": "count",
         "spark.stages_per_op": "count", "spark.tasks_per_op": "count",
         "spark.task_busy_frac": "frac", "spark.shuffle_write_bytes": "B",
         "spark.shuffle_read_bytes": "B", "spark.spill_bytes": "B",
         "spark.task_skew": "ratio", "spark.input_rows_per_output_row": "ratio"}


def declared_metrics(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec[kind]]


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="full")
    ap.add_argument("--keep", action="store_true", help="keep the work directory")
    ap.add_argument("--fail-first-timed", action="store_true",
                    help="make the first timed operation throw (tests the failure accounting)")
    a = ap.parse_args()
    if a.workload == "all":
        # every workload in turn, each printing its table and verdict
        sys.exit(max(subprocess.call([sys.executable, os.path.abspath(__file__), "--workload", w,
                                      "--seed", str(a.seed), "--seconds", str(a.seconds),
                                      "--trace", str(a.trace), "--size", a.size])
                     for w in WORKLOADS))

    cp = build()
    t_setup = time.time()
    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        import gen
        import check
        params, files, planted = make_inputs(a.workload, a.seed, a.seconds, a.trace, work, a.size)
        fp = gen.fingerprint(files)
        res = run_jvm(cp, a.workload, work, cores, a.seconds, a.trace, a.size,
                      a.fail_first_timed)
        timed = [o for o in res["ops"] if o["phase"] == "timed"]
        setup_failed = [o for o in res["ops"] if o["phase"] != "timed" and not o["ok"]]
        docs = params.get("n_docs", 0)
        index_bpr = 0.0
        if a.workload == "river_ingest":
            checks, keys = check.river_index(work, res["info"]["index"], res["info"]["landing"])
            idx_bytes = sum(os.path.getsize(os.path.join(d, f))
                            for d, _, fs in os.walk(res["info"]["index"])
                            for f in fs if f.endswith(".parquet"))
            index_bpr = idx_bytes / max(keys, 1)
        elif a.workload == "es_query_mix":
            checks = check.oracle_outputs(work, f"{work}/es")
        else:
            checks, _ = check.release(work, f"{work}/corpus", planted)
        checks += [(f"setup:{o['name']}", False, o["error"]) for o in setup_failed]
        n_failed = len([c for c in checks if not c[1]]) + len([o for o in timed if not o["ok"]])
        for name, ok, detail in checks:
            if not ok:
                log(f"perfbench: CHECK FAILED {name}: {detail}")
        for o in timed:
            if not o["ok"]:
                log(f"perfbench: OP FAILED {o['name']}: {o['error']}")

        e2e, q = end_to_end(a.workload, res, t_setup, timed, len(checks), n_failed, docs)
        if res["info"].get("input_exhausted"):
            log("perfbench: WARNING the staged inputs ran out before the time was up")
        if a.trace:
            ok = [o for o in timed if o["ok"]]
            plain = [o for o in ok if not o["traced"]]
            base = [o for o in res["ops"] if o["phase"] == "baseline" and o["ok"]]
            single = throughput(a.workload, base, docs)
            ratio = throughput(a.workload, plain, docs) / single if plain and single else 0.0
            metrics = per_layer(a.workload, res, load_trace(work), ok, docs, ratio, index_bpr)
            declared = declared_metrics("per_layer")
        else:
            metrics = e2e
            declared = declared_metrics("end_to_end")
        # every declared metric on every workload; a layer this workload
        # does not exercise reads 0
        out = {name: {"value": float(metrics.get(name, (0.0,))[0]), "unit": unit}
               for name, unit in declared}
        print(json.dumps({"workload": a.workload, "seed": a.seed, "cores": cores,
                          "input_fingerprint": fp, "params": params,
                          "timed_ops": len(timed), "tail_percentile": q,
                          "input_exhausted": bool(res["info"].get("input_exhausted")),
                          "latencies_ms": [round(latency_ms(a.workload, o), 3)
                                           for o in timed if o["ok"]]}))
        alias = ALIASES[a.workload]
        for name, (v, unit) in e2e.items():
            print(f"{a.workload:15s} {alias.get(name, name):32s} {v:14.4f} {unit}")
        if a.workload == "river_ingest":
            print(f"{a.workload:15s} {'river.backfill_rows_per_s':32s} "
                  f"{backfill_rows_per_s(res):14.4f} rows/s")
            print(f"{a.workload:15s} {'river.index_bytes_per_row':32s} {index_bpr:14.4f} B")
        print(f"{a.workload:15s} {'peak_rss_mb':32s} {res['info']['peak_rss_kb'] / 1024:14.4f} MB")
        print(f"{a.workload:15s} {'correct':32s} {str(n_failed == 0):>14s}")
        print(json.dumps({"correct": n_failed == 0, "attempted": len(timed) + len(checks),
                          "failed": n_failed, "metrics": out}))
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


# the workload-specific name each generic end-to-end metric stands for
ALIASES = {
    "river_ingest": {"throughput_per_s": "river.rows_per_s",
                     "latency_p50_ms": "river.visible_p50_ms",
                     "latency_tail_ms": "river.visible_tail_ms"},
    "es_query_mix": {"throughput_per_s": "es.queries_per_s",
                     "latency_p50_ms": "es.query_p50_ms",
                     "latency_tail_ms": "es.query_tail_ms"},
    "corpus_release": {"throughput_per_s": "release.docs_per_s",
                       "latency_p50_ms": "release.run_p50_ms",
                       "latency_tail_ms": "release.run_tail_ms"},
}

if __name__ == "__main__":
    main()
