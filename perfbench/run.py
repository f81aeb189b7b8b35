#!/usr/bin/env python3
"""graft's benchmark: three workloads, checked against reference outputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test
    python3 perfbench/run.py --write-answers q_minhash_dedup,q_winnow_dedup

Workloads (all at local[4] in a fresh JVM):
  crawl-fresh      one-tick crawl of a generated world; fetch+parse, row
                   encode and the pages write do the work, the seen filter
                   has nothing to probe.
  crawl-multitick  a small per-host budget gives ten ticks; the crawl stops
                   after tick 5, loses its last manifest (a crash before the
                   commit) and a new session resumes it.
  analytics        27 queries through SparkEntry.queries over the sf0.1
                   tables in perfbench/data; the seed shuffles the query
                   order of each pass.

The first run builds the engine and the harness from source with sbt and
caches the class path under perfbench/.build. Each run prints, as its last
stdout line, {"correct", "attempted", "failed", "metrics"}: with --trace 0
the end-to-end metrics, with --trace 1 the per-layer ones. Crawl output is
compared with the single-threaded OracleCrawler and query output with the
engine's oracle SQL run in DuckDB; a mismatch counts as a failure.
The build writes to perfbench/.build and sbt's target dirs, a run to
perfbench/.out; `graft-*` temp dirs the engine leaves in /tmp or /dev/shm
are counted as leak.* and removed.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")
BUILD = os.path.join(HERE, ".build")
MAIN = "graft.perfbench.Main"
JVM_TIMEOUT = 170

# Each run measures a fixed amount of work, sized from --seconds by the
# nominal duration of one unit (a crawl rep, a query pass) on a 4-core host:
# a time-boxed loop would measure more reps when the JIT warms faster and
# move the median along the warm-up curve.
CRAWL = {
    # 15k entities -> ~21k URLs in one tick (the budget exceeds every host);
    # three warm crawls of another world that size flatten the JIT warm-up
    "crawl-fresh": dict(entities=15000, budget=1000000, max_ticks=1000, half=1000,
                        warm_entities=15000, warm_budget=1000000, warm_reps=3,
                        rep_s=2.0, min_reps=3, kernel_sample=1500),
    # 10k entities -> ~14k URLs in 10 ticks of 300 URLs per host; the crawl
    # stops after tick 5, loses its last manifest and resumes
    "crawl-multitick": dict(entities=10000, budget=300, max_ticks=10, half=5,
                            warm_entities=1000, warm_budget=250, warm_reps=1,
                            rep_s=12.0, min_reps=1, kernel_sample=1500),
}
DATA = os.path.join(HERE, "data")
# one warm pass at sf0.1, then passes of about 7 s each
ANALYTICS = dict(sf="sf0.1", warm_passes=1, pass_s=7.0, min_passes=2)
SELF_TEST = {"crawl-fresh": dict(entities=4000, warm_entities=1000, warm_reps=1,
                                 min_reps=2, kernel_sample=300),
             "crawl-multitick": dict(entities=4000, budget=120, half=3,
                                     warm_entities=1000, warm_budget=40,
                                     kernel_sample=300),
             "analytics": dict(sf="sf0.001", warm_passes=1)}

QUERIES = [
    "q1_agg", "q_precedence_dedup", "q_keep_latest", "q_freq_agg",
    "q_anti_join_exclusion", "q_backfill_join", "q_topk", "q_hourly_agg",
    "q_dedup_exact", "q_dedup_prefix", "q_minhash_dedup", "q_simhash_dedup",
    "q_winnow_dedup", "q_ngram_jaccard", "q_embedding_neardup", "q_ann_brute",
    "q_ann_lsh", "q_token_count", "q_ann_ivf", "q_lang_id", "q_quality_score",
    "q_fingerprint", "q_html_strip", "q_curation", "q_media_decode",
    "q_frame_sample", "q_merge_latest"]
MODULES = ["relational", "dedup", "ann", "text", "media", "store"]


def _metrics(kind):
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


# ---- build -------------------------------------------------------------------

def _digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(base)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness once per source state; returns the class path."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    digest = _digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as fh:
                    return fh.read()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    opts = os.environ.get("SBT_OPTS") or " ".join(
        ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        + [f"-Dsbt.repository.config={p}"
           for p in [os.path.expanduser("~/.sbt/repositories")] if os.path.exists(p)])
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=f"{opts} -Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}")
    log("building engine + harness with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and ".jar" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1].strip()


# ---- processes -----------------------------------------------------------------

OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def run_jvm(cp, scratch, cpus, args, xmx="3g", timeout=JVM_TIMEOUT):
    """Runs one benchmark JVM; returns its PERFBENCH result (or raises)."""
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    cmd = [java()] + OPENS + [
        f"-Xmx{xmx}", "-XX:+UseParallelGC", f"-XX:ActiveProcessorCount={cpus}",
        f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
        "-Dspark.ui.enabled=false", "-cp", cp, MAIN,
        "--cpus", str(cpus), "--scratch", scratch] + [str(a) for a in args]
    with open(os.path.join(scratch, "jvm.log"), "a") as err:
        p = subprocess.Popen(cmd, cwd=scratch, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    for line in reversed(out.splitlines()):
        if line.startswith("PERFBENCH "):
            return json.loads(line[len("PERFBENCH "):])
    raise RuntimeError(f"JVM exited {p.returncode} without a result; see {scratch}/jvm.log")


def probe_ms(cp):
    """Host contention reading: the engine's forked memory-streaming probe."""
    p = subprocess.run([java(), "-Xmx1g", "-XX:+UseParallelGC", "-cp", cp,
                        "graft.BenchProbeMain"], stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True, timeout=60)
    for line in p.stdout.splitlines():
        if line.startswith("BENCHPROBE ms="):
            return float(line.split("=", 1)[1])
    return float("nan")


TMP_ROOTS = ["/tmp", "/dev/shm"]


def temp_entries():
    return {p for r in TMP_ROOTS for p in glob.glob(os.path.join(r, "graft-*"))}


def du(path):
    if os.path.isfile(path) or os.path.islink(path):
        return os.lstat(path).st_size
    return sum(os.lstat(os.path.join(d, f)).st_size
               for d, _, fs in os.walk(path) for f in fs)


def remove(path):
    if os.path.isdir(path) and not os.path.islink(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.lexists(path):
        os.remove(path)


# ---- analytics correctness: the engine's oracle SQL in DuckDB -----------------

def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(",".join(_norm(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def _sql_key(sql, results):
    return hashlib.sha256(sql.replace(results, "__EXPORT__").encode()).hexdigest()


def oracle_answers(data, results, oracle):
    """(columns, rows, hash) of every oracle query, run in DuckDB. A query
    whose oracle is too slow to run in every run (a quadratic brute-force
    twin) takes its answer from `<data>/answers.json`, computed by
    `--write-answers` for the same data and the same oracle SQL; when the
    SQL has changed, the oracle runs."""
    import duckdb
    try:
        with open(os.path.join(data, "answers.json")) as fh:
            stored = json.load(fh)
    except OSError:
        stored = {}
    con = duckdb.connect(config={"autoinstall_known_extensions": False,
                                 "autoload_known_extensions": False})
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    out, by_sql = {}, {}
    for name, sql in oracle.items():
        s = stored.get(name)
        if s and s["sql_sha256"] == _sql_key(sql, results):
            out[name] = [s["columns"], s["rows"], s["hash"]]
        elif sql in by_sql:  # two queries may share one oracle
            out[name] = by_sql[sql]
        else:
            try:
                res = con.execute(sql)
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                out[name] = [cols, len(rows), _canon(cols, rows)]
            except Exception as e:  # an oracle that cannot run is a failed check
                out[name] = f"oracle error: {e}"
            by_sql[sql] = out[name]
    con.close()
    return out


def write_answers(names):
    """Runs one analytics run's engine side, then the named queries' oracle
    SQL in DuckDB, and stores their answers in the data dir's answers.json."""
    cp = build()
    data = os.path.join(DATA, ANALYTICS["sf"])
    scratch = os.path.join(OUT, f"answers-{os.getpid()}")
    remove(scratch)
    os.makedirs(scratch)
    before = temp_entries()
    try:
        run_jvm(cp, scratch, 4, ["--workload", "analytics", "--seed", 1, "--trace", 0,
                                 "--data", data, "--queries", ",".join(QUERIES),
                                 "--warm-passes", 1, "--passes", 0])
        results = os.path.join(scratch, "results")
        with open(os.path.join(scratch, "oracle_sql.json")) as fh:
            oracle = {n: q for n, q in json.load(fh).items() if n in names}
        t0 = time.time()
        got = oracle_answers(data, results, oracle)
        log(f"DuckDB answered {sorted(got)} in {time.time() - t0:.1f} s")
        bad = {n: a for n, a in got.items() if isinstance(a, str)}
        if bad:
            raise SystemExit(f"oracle failed: {bad}")
    finally:
        for p in temp_entries() - before:
            remove(p)
        remove(scratch)
    stored = {n: {"sql_sha256": _sql_key(oracle[n], results), "columns": a[0],
                  "rows": a[1], "hash": a[2]} for n, a in got.items()}
    with open(os.path.join(data, "answers.json"), "w") as fh:
        json.dump(stored, fh, indent=1, sort_keys=True)
        fh.write("\n")


def check_queries(data, scratch, tamper):
    """[(query, problem or None)] for every query's written result."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    results = os.path.join(scratch, "results")
    with open(os.path.join(scratch, "oracle_sql.json")) as fh:
        answers = oracle_answers(data, results, json.load(fh))
    out = []
    for name in QUERIES:
        files = sorted(glob.glob(os.path.join(results, name, "*.parquet")))
        if not files:
            out.append((name, "no result written"))
            continue
        tb = pa.concat_tables([pq.read_table(f) for f in files])
        cols = tb.column_names
        rows = [tuple(r[c] for c in cols) for r in tb.to_pylist()]
        if tamper == "drop-row" and name == QUERIES[0]:
            rows = rows[1:]
        want = answers.get(name)
        if want is None:
            out.append((name, None if rows else "empty result and no oracle"))
        elif isinstance(want, str):
            out.append((name, want))
        elif sorted(cols) != sorted(want[0]):
            out.append((name, f"columns {cols} vs oracle {want[0]}"))
        elif len(rows) != want[1]:
            out.append((name, f"{len(rows)} rows vs oracle {want[1]}"))
        elif _canon(cols, rows) != want[2]:
            out.append((name, "value hash differs from oracle"))
        else:
            out.append((name, None))
    return out


# ---- workloads -------------------------------------------------------------------

def med(xs):
    return statistics.median(xs) if xs else 0.0


def crawl_args(workload, seed, seconds, trace, scratch, overrides):
    c = dict(CRAWL[workload], **overrides)
    return ["--workload", workload, "--seed", seed, "--trace", trace, "--entities", c["entities"], "--budget", c["budget"],
            "--max-ticks", c["max_ticks"], "--half", c["half"], "--warm-entities", c["warm_entities"],
            "--warm-budget", c["warm_budget"], "--warm-reps", c["warm_reps"],
            "--reps", max(c["min_reps"], round(seconds / c["rep_s"])),
            "--kernel-sample", c["kernel_sample"], "--kernel-passes", 5,
            "--trace-out", os.path.join(OUT, f"trace-{workload}.json")]


def run_crawl(cp, workload, seed, seconds, trace, scratch, overrides, tamper):
    args = crawl_args(workload, seed, seconds, trace, scratch, overrides)
    if tamper:
        args += ["--tamper", tamper]
    r = run_jvm(cp, scratch, 4, args)
    urls_s = [x["urls"] / x["sec"] for x in r["reps"]]
    log("reps (urls, s):", [(x["urls"], round(x["sec"], 3)) for x in r["reps"]])
    m = {"setup_s": r["setup_s"], "throughput": med(urls_s),
         "mem.peak_rss_mb": r["peak_rss_mb"]}
    attempted, failed, errors = r["attempted"], r["failed"], list(r["errors"])
    layer = {}
    if trace:
        L = r["layer"]
        layer = dict(L)
        layer["crawl.urls_per_s"] = m["throughput"]
        layer["trace.overhead_urls_per_s"] = L.get("crawl.traced_urls_per_s", 0.0) - m["throughput"]
        first = r["reps"][0] if r["reps"] else {"urls": 0}
        layer["store.bytes_per_url"] = r["state_bytes"] / max(1, first["urls"])
        layer["fetch.ok_ratio"] = r["ok"] / max(1, first["urls"])
        layer["fetch.spans_per_doc"] = r["spans"] / max(1, r["docs"])
        if workload == "crawl-multitick":
            layer["resume_s"] = med([x["resume_s"] for x in r["reps"]])
        else:
            # the same crawl in a 1-core JVM, for the scaling efficiency
            one = run_jvm(cp, scratch, 1, crawl_args(workload, seed, 0, 0, scratch,
                                                     dict(overrides, min_reps=3, warm_reps=2)))
            attempted += one["attempted"]
            failed += one["failed"]
            errors += one["errors"]
            one_s = med([x["urls"] / x["sec"] for x in one["reps"]])
            layer["crawl.urls_per_s_1c"] = one_s
            layer["crawl.scaling_eff"] = m["throughput"] / one_s / 4 if one_s else 0.0
    return m, layer, attempted, failed, errors


def run_analytics(cp, seed, seconds, trace, scratch, overrides, tamper):
    a = dict(ANALYTICS, **overrides)
    data = os.path.join(DATA, a["sf"])
    t0 = time.time()
    r = run_jvm(cp, scratch, 4, [
        "--workload", "analytics", "--seed", seed, "--trace", trace, "--data", data,
        "--queries", ",".join(QUERIES),
        "--warm-passes", a["warm_passes"],
        "--passes", max(a["min_passes"], round(seconds / a["pass_s"])),
        "--trace-out", os.path.join(OUT, "trace-analytics.json")])
    log(f"analytics JVM took {time.time() - t0:.1f} s")
    totals = [sum(p.values()) for p in r["passes"]]
    log("pass totals (s):", [round(t, 3) for t in totals])
    # a pass's typical time: the sum of every query's median
    per_q = {q: med([p[q] for p in r["passes"] if q in p]) for q in QUERIES}
    m = {"setup_s": r["setup_s"],
         "throughput": len(QUERIES) / sum(per_q.values()) if totals else 0.0,
         "mem.peak_rss_mb": r["peak_rss_mb"]}
    attempted, failed, errors = r["attempted"], r["failed"], list(r["errors"])
    t0 = time.time()
    checks = check_queries(data, scratch, tamper)
    log(f"DuckDB checks took {time.time() - t0:.1f} s")
    for name, problem in checks:
        attempted += 1
        if problem:
            failed += 1
            errors.append(f"{name}: {problem}")
    layer = {}
    if trace:
        L = r["layer"]
        layer = dict(L)
        layer["query.total_s"] = med(totals)
        for mod in MODULES:
            layer[f"query.{mod}_s"] = sum(v for q, v in per_q.items()
                                          if r["modules"][q] == mod)
        layer["query.store_s"] = per_q["q_merge_latest"]
        layer["trace.overhead_query_total_s"] = L.get("query.traced_total_s", 0.0) - med(totals)
    return m, layer, attempted, failed, errors


def run(workload, seed, seconds, trace, tamper=None, small=False):
    """One benchmark run; returns the result object printed as its last line."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources not found next to perfbench/")
    cp = build()
    os.makedirs(OUT, exist_ok=True)
    scratch = os.path.join(OUT, f"{workload}-{os.getpid()}")
    remove(scratch)
    os.makedirs(scratch)
    before = temp_entries()
    leaked, leaked_bytes = [], 0
    try:
        probe_pre = probe_ms(cp)
        if workload == "analytics":
            m, layer, att, fail, errs = run_analytics(
                cp, seed, seconds, trace, scratch, SELF_TEST[workload] if small else {}, tamper)
        else:
            m, layer, att, fail, errs = run_crawl(
                cp, workload, seed, seconds, trace, scratch,
                SELF_TEST[workload] if small else {}, tamper)
        probe_post = probe_ms(cp)
    finally:
        leaked = sorted(temp_entries() - before)
        leaked_bytes = sum(du(p) for p in leaked)
        for p in leaked:
            remove(p)
        remove(scratch)
    for e in errs:
        log("FAILED:", e)
    log(f"host probe {probe_pre:.1f} / {probe_post:.1f} ms; "
        f"{len(leaked)} leaked temp entries ({leaked_bytes} bytes) removed")
    units = _metrics("per_layer" if trace else "end_to_end")
    if trace:
        metrics = dict(layer)
        metrics["ops.failed_ratio"] = fail / max(1, att)
        metrics["host.probe_ms"] = max(probe_pre, probe_post)
        metrics["leak.tmp_dirs"] = float(len(leaked))
        metrics["leak.tmp_bytes"] = float(leaked_bytes)
    else:
        metrics = m
    # a layer that does not run in this workload reports 0
    return {"correct": fail == 0, "attempted": int(att), "failed": int(fail),
            "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                        for k, u in units.items()}}


def self_test():
    """Tiny worlds: every metric prints with its unit, and tampered output fails."""
    ok = True
    for w in ("crawl-fresh", "crawl-multitick", "analytics"):
        for trace in (0, 1):
            try:
                res = run(w, 7, 2, trace, small=True)
            except Exception as e:  # a run that cannot finish fails the self-test
                log(f"self-test {w} trace={trace}: {e!r}")
                ok = False
                continue
            want = _metrics("per_layer" if trace else "end_to_end")
            missing = [k for k in want if k not in res["metrics"]]
            good = res["correct"] and not missing
            ok &= good
            log(f"self-test {w} trace={trace}: correct={res['correct']} missing={missing}")
            for k, v in res["metrics"].items():
                print(f"{w:16s} {k:34s} {v['value']:14.4f} {v['unit']}")
    for w, how in (("crawl-multitick", "swap-ticks"), ("crawl-fresh", "drop-span"),
                   ("analytics", "drop-row")):
        res = run(w, 7, 2, 0, tamper=how, small=True)
        ok &= not res["correct"]
        log(f"self-test {w} tampered by {how}: correct={res['correct']} (must be false)")
    print("SELF-TEST " + ("PASS" if ok else "FAIL"))
    return 0 if ok else 1


def main():
    # a terminated run still stops its JVM and removes its scratch (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["crawl-fresh", "crawl-multitick", "analytics"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--write-answers", metavar="QUERIES",
                    help="store these queries' oracle answers for the sf0.1 tables")
    a = ap.parse_args()
    if a.self_test:
        return self_test()
    if a.write_answers:
        write_answers(a.write_answers.split(","))
        return 0
    if not a.workload:
        ap.error("--workload is required")
    t0 = time.time()
    res = run(a.workload, a.seed, a.seconds, a.trace)
    log(f"{a.workload} seed={a.seed} done in {time.time() - t0:.1f} s")
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
