#!/usr/bin/env python3
"""The repository benchmark: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the library and the harness from
source (once per source state, into `.bench_build/`), generates the
workload's inputs from the seed, runs the harness JVM, checks every output
(registry rows against their DuckDB oracle, open-loop windows against a batch
recomputation of the regenerated rate-source rows), and prints the metrics.
The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`, with the end-to-end metrics
when `--trace 0` and the per-layer metrics when `--trace 1`.

Workloads, their rows and why each was chosen are in `workloads.json`; what
each metric means and which layer metric should move which end-to-end
metric is in `METRICS.md`.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def quantile(xs, q):
    """Nearest-rank quantile of a non-empty list."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(q * len(s) + 0.5) - 1))]


# ---------------------------------------------------------------- build

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile library + harness with sbt, once per source state; returns the
    runtime classpath."""
    for f in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.isfile(os.path.join(ROOT, f)):
            die(f"no library source at {f}: run from the root of a full checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp, cp_file = h.hexdigest(), os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved = fh.read().split("\n", 1)
        if saved[0] == stamp:
            return saved[1].strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building library and harness (sbt)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + lines[-1].strip())
    return lines[-1].strip()


# ---------------------------------------------------------------- inputs

def tables(seed, sf, rounds):
    """Generated tables for (seed, sf), plus one alias per set-up round (a
    distinct path to the same files, so path-keyed memos start cold)."""
    sys.path.insert(0, HERE)
    import datagen
    base = os.path.join(BUILD, "data", f"sf{sf}-seed{seed}")
    if not os.path.exists(os.path.join(base, "_done")):
        shutil.rmtree(base, ignore_errors=True)
        datagen.generate(base, seed, sf)
        open(os.path.join(base, "_done"), "w").close()
    aliases = []
    for r in range(rounds):
        a = f"{base}-r{r}"
        if not os.path.islink(a):
            os.symlink(os.path.basename(base), a)
        aliases.append(a)
    return base, aliases


# ---------------------------------------------------------------- harness

def run_jvm(cp, run_dir, args):
    out, work = os.path.join(run_dir, "out"), os.path.join(run_dir, "work")
    os.makedirs(out)
    os.makedirs(work)
    # JIT thresholds scaled down, so code reaches its compiled steady state
    # during set-up and the check pass rather than during the timed part
    cmd = (["java", "-Xmx4g", "-XX:CompileThresholdScaling=0.1", "-Djava.io.tmpdir=" + work,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", f"out={out}", f"work={work}",
              f"cores={os.cpu_count()}"] + [f"{k}={v}" for k, v in args.items()])
    logf = os.path.join(run_dir, "jvm.log")
    with open(logf, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"harness timed out; log in {logf}")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
        with open(logf) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"harness failed with code {rc}")
    with open(os.path.join(out, "result.json")) as fh:
        return json.load(fh), out


# ---------------------------------------------------------------- checks

def _sorted_rows(con, rel_sql):
    cols = sorted(con.sql(rel_sql).columns)
    rows = con.sql(f"SELECT {', '.join(cols)} FROM ({rel_sql}) ORDER BY ALL").fetchall()
    return cols, rows


def _digest(cols, rows):
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def check_registry(res, out, data_dir):
    """Each row's output against its DuckDB oracle, compared exactly (columns,
    row count and every value, rows sorted by all columns). Oracle digests
    are cached per (SQL, table dir). Returns {row: failure} for bad rows."""
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    cache_dir = os.path.join(BUILD, "oracle-cache")
    os.makedirs(cache_dir, exist_ok=True)
    bad = dict(res["errors"])
    for row in res["rows"]:
        if row in bad:
            continue
        sql = (res["oracles"].get(row) or "").replace("{SFDIR}", data_dir)
        if not sql:
            bad[row] = "no oracle"
            continue
        try:
            got_cols, got = _sorted_rows(con, f"SELECT * FROM '{out}/rows/{row}/*.parquet'")
        except Exception as e:  # noqa: BLE001 - reported as the row's failure
            bad[row] = f"reading output: {e}"
            continue
        key = hashlib.sha256((duckdb.__version__ + data_dir + sql).encode()).hexdigest()
        cached = os.path.join(cache_dir, key + ".json")
        want = None
        if os.path.exists(cached):
            with open(cached) as fh:
                want = json.load(fh)
        if want is None or want["digest"] != _digest(got_cols, got):
            try:
                want_cols, want_rows = _sorted_rows(con, sql)
            except Exception as e:  # noqa: BLE001
                bad[row] = f"oracle error: {e}"
                continue
            want = {"digest": _digest(want_cols, want_rows)}
            with open(cached, "w") as fh:
                json.dump(want, fh)
            if want_cols != got_cols:
                bad[row] = f"columns {got_cols} != {want_cols}"
            elif len(got) != len(want_rows):
                bad[row] = f"rows {len(got)} != {len(want_rows)}"
            elif got != want_rows:
                i = next(i for i, (g, w) in enumerate(zip(got, want_rows)) if g != w)
                bad[row] = f"row {i} differs: got {got[i]} want {want_rows[i]}"
    return bad


# the open loop's shape, as `OpenLoop` in the harness fixes it
KEYS, LEN_US, SLIDE_US = 1000, 10_000_000, 2_000_000


def check_stage(stage):
    """One open-loop stage: every emitted window against a batch
    recomputation over the regenerated rows, plus every window the final
    watermark closed that was not emitted. Returns (checked, failed windows,
    failure messages, latencies) where a latency is the emit time minus the
    due time of the newest event in the window, in ms, for windows that close
    in the measured part of the stage."""
    import duckdb
    data = [b for b in stage["batches"] if b["rows"] > 0]
    if not data:
        return 1, 1, ["no data batch"], []
    start_ms = next(b["tmin"] for b in data if b["vmin"] == 0)
    vmax = max(b["vmax"] for b in data)
    wm_us = max(b["watermark_ms"] for b in stage["batches"]) * 1000
    rate, salt = stage["rate"], stage["salt"]
    con = duckdb.connect()
    # row v is due at start + v/rate s (the rate source's stamp, exact for
    # rates where 1000/rate is a binary fraction); key and cents as the
    # harness derives them
    con.sql(f"""CREATE TABLE ev AS
        SELECT 'k' || (h % {KEYS}) AS key, ts_ms, (h // 1000) % 100000 AS cents FROM (
          SELECT (v * 2654435761 + {salt}) % 4294967291 AS h,
                 {start_ms} + (v * 2000 + {rate}) // {2 * rate} AS ts_ms
          FROM range(0, {vmax + 1}) t(v))
        WHERE (h // 1000) % 100000 % 8 <> 0""")
    con.sql(f"""CREATE TABLE want AS
        SELECT key, (ts_ms * 1000 // {SLIDE_US}) * {SLIDE_US} - k * {SLIDE_US} AS win_start_us,
               count(*) AS cnt, sum(cents) AS sum_cents, min(cents) AS min_cents,
               max(cents) AS max_cents, max(ts_ms) AS newest_ms
        FROM ev, range(0, {LEN_US // SLIDE_US}) r(k) GROUP BY ALL""")
    con.sql(f"CREATE TABLE got AS SELECT * FROM read_csv('{stage['results']}', header=true)")
    failures = []
    dup = con.sql("SELECT count(*) FROM (SELECT key, win_start_us FROM got "
                  "GROUP BY ALL HAVING count(*) > 1)").fetchone()[0]
    if dup:
        failures.append(f"{dup} windows emitted more than once")
    wrong = con.sql("""SELECT g.key, g.win_start_us, g.cnt, w.cnt, g.sum_cents, w.sum_cents
        FROM got g LEFT JOIN want w USING (key, win_start_us)
        WHERE w.cnt IS NULL OR g.cnt <> w.cnt OR g.sum_cents <> w.sum_cents
           OR g.min_cents <> w.min_cents OR g.max_cents <> w.max_cents""").fetchall()
    failures += [f"window {r[0]}@{r[1]} got cnt/sum {r[2]}/{r[4]} want {r[3]}/{r[5]}"
                 for r in wrong]
    missing = con.sql(f"""SELECT count(*) FROM want w ANTI JOIN got g USING (key, win_start_us)
        WHERE w.win_start_us + {LEN_US} <= {wm_us}""").fetchone()[0]
    if missing:
        failures.append(f"{missing} closed windows never emitted")
    checked = con.sql(f"""SELECT count(*) FROM (SELECT key, win_start_us FROM got UNION
        SELECT key, win_start_us FROM want WHERE win_start_us + {LEN_US} <= {wm_us})""").fetchone()[0]
    lat = [r[0] for r in con.sql(f"""SELECT g.emit_ms - w.newest_ms FROM got g
        JOIN want w USING (key, win_start_us)
        WHERE w.win_start_us + {LEN_US} >= {stage["measure_from_ms"] * 1000}""").fetchall()]
    return max(checked, 1), dup + len(wrong) + missing, failures, lat


# ---------------------------------------------------------------- metrics

def stage_stats(stage, lat):
    """Figures of one open-loop stage over its measured part."""
    rate, t0 = stage["rate"], stage["measure_from_ms"]
    start_ms = next(b["tmin"] for b in stage["batches"] if b["rows"] > 0 and b["vmin"] == 0)
    measured = [b for b in stage["batches"] if b["start_ms"] >= t0]
    data = [b for b in measured if b["rows"] > 0]
    dur = lambda b, k: b["durations_ms"].get(k, 0)  # noqa: E731
    due = lambda b: start_ms + (b["vmax"] * 2000 + rate) // (2 * rate)  # noqa: E731
    # events per busy second, as the median over data batches (a kept-up
    # batch carries one second of rows, one that fell behind carries more)
    return {
        "eps": median([b["rows"] / (dur(b, "triggerExecution") / 1e3) for b in data
                       if dur(b, "triggerExecution")]),
        "events": rate * stage["seconds"],
        "batch_ms": [dur(b, "triggerExecution") for b in data],
        "lat_p50": median(lat),
        "lat_p99": quantile(lat, 0.99) if lat else 0.0,
        "latencies": len(lat),
        "offer_lag_ms": [b["start_ms"] - due(b) for b in data],
        "backlog_s": [(b["start_ms"] + dur(b, "triggerExecution") - due(b)) / 1e3 for b in data],
        "add_batch_ms": [dur(b, "addBatch") for b in data],
        "query_planning_ms": [dur(b, "queryPlanning") for b in data],
        "wal_commit_ms": [dur(b, "walCommit") for b in data],
        "nodata_frac": (len(measured) - len(data)) / len(measured) if measured else 0.0,
        "state_rows": max([b["state_rows"] for b in measured] or [0]),
        "state_bytes": max([b["state_memory_bytes"] for b in measured] or [0]),
        "state_commit_ms": [b["state_commit_ms"] for b in data],
        "state_update_ms": [b["state_update_ms"] for b in data],
        "state_removal_ms": [b["state_removal_ms"] for b in measured],
        "state_dropped": sum(b["state_dropped"] for b in stage["batches"]),
        "sink_ms": stage["sink_ms"],
        "steal_s": stage["steal_s"],
    }


def registry_metrics(res):
    """Registry figures over each row's fastest timing across the passes:
    interference from outside the process only ever adds time, so the
    minimum is the steadiest estimate of a row's own cost."""
    best = {r: min(p[r] for p in res["passes"]) for r in res["rows"]}
    total = sum(best.values())
    return {
        "setup_s": (median(res["setup_rounds_s"]), "s"),
        "total_s": (total, "s"),
        "sustained_eps": (len(best) / total, "1/s"),
        "lat_p50_ms": (median(list(best.values())) * 1e3, "ms"),
    }, {"lat_p99_ms": quantile(list(best.values()), 0.99) * 1e3, "passes": len(res["passes"]),
        "pass_s": [round(sum(p.values()), 3) for p in res["passes"]],
        "steal_s": [round(c["steal_s"], 2) for c in res.get("pass_cost", [])],
        "first_timed_s": res["first_timed_s"]}


def openloop_metrics(res, hi):
    return {
        "setup_s": (median(res["setup_rounds_s"]), "s"),
        "total_s": (hi["events"] / hi["eps"] if hi["eps"] else 0.0, "s"),
        "sustained_eps": (hi["eps"], "1/s"),
        "lat_p50_ms": (hi["lat_p50"], "ms"),
    }, {"query_p50_s": median(hi["batch_ms"]) / 1e3, "lat_p99_ms": hi["lat_p99"],
        "window_latencies": hi["latencies"], "data_batches": len(hi["batch_ms"]),
        "backlog_s": round(median(hi["backlog_s"]), 3), "steal_s": round(hi["steal_s"], 2)}


# Per-layer metrics: name -> unit. Every traced run prints all of them; a
# layer the workload does not exercise reads 0.
LAYER_UNITS = {
    "queries.build_s": "s", "queries.materialize_s": "s", "driver.gap_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "stream.queries": "count", "stream.batches": "count", "stream.nodata_batches": "count",
    "stream.start_s": "s", "stream.query_planning_s": "s", "stream.add_batch_s": "s",
    "stream.wal_commit_s": "s", "stream.commit_offsets_s": "s", "stream.latest_offset_s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.deser_s": "s",
    "scan.bytes": "bytes", "scan.records": "count", "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes", "shuffle.fetch_wait_s": "s", "spill.bytes": "bytes",
    "exec.peak_task_mem_bytes": "bytes",
    "family.relational_s": "s", "family.join_s": "s", "family.window_s": "s",
    "family.stream_s": "s", "family.dedup_s": "s", "family.knn_s": "s", "family.text_s": "s",
    "family.pipeline_s": "s",
    "caches.release_s": "s", "caches.persisted_bytes": "bytes",
    "query.dedup_consensus_s": "s",
    "queries.fixed_share": "ratio",
    "trace.overhead": "ratio",
    "lat_p50_ms.low": "ms", "lat_p99_ms.low": "ms", "lat_p50_ms.high": "ms",
    "lat_p99_ms.high": "ms",
    "source.offer_lag_ms.p50": "ms", "stream.batch_ms.p50": "ms",
    "stream.add_batch_ms.p50": "ms", "stream.query_planning_ms.p50": "ms",
    "stream.wal_commit_ms.p50": "ms", "stream.nodata_batch_frac": "ratio",
    "stream.processed_eps": "1/s", "stream.processed_eps.1core": "1/s",
    "state.rows_total.max": "count", "state.memory_bytes.max": "bytes",
    "state.commit_ms.p50": "ms", "state.update_ms.p50": "ms", "state.removal_ms.p50": "ms",
    "state.rows_dropped_by_watermark": "count", "sink.batch_ms.p50": "ms",
    "backlog_s.high": "s",
}


def registry_layers(res):
    tr = res["traced"]
    v = dict(tr["layers"])
    untraced = min(sum(p.values()) for p in res["passes"])
    v["trace.overhead"] = sum(tr["rows"].values()) / untraced
    v["query.dedup_consensus_s"] = tr["rows"].get("dedup_consensus", 0.0)
    # two-point fit per row, t = fixed + size * slope, over the small and
    # the full tables (a tenth the size): the fixed part's share of the pass
    full, small = tr["rows"], res["small_pass"]
    fixed = sum(min(max((10 * small[r] - full[r]) / 9, 0.0), full[r]) for r in full)
    v["queries.fixed_share"] = fixed / sum(full.values())
    return v


def openloop_layers(res, stats):
    lo, hi = stats["traced-low"], stats["traced-high"]
    v = dict(res["layers"])
    v.update({
        "lat_p50_ms.low": lo["lat_p50"], "lat_p99_ms.low": lo["lat_p99"],
        "lat_p50_ms.high": hi["lat_p50"], "lat_p99_ms.high": hi["lat_p99"],
        "source.offer_lag_ms.p50": median(hi["offer_lag_ms"]),
        "stream.batch_ms.p50": median(hi["batch_ms"]),
        "stream.add_batch_ms.p50": median(hi["add_batch_ms"]),
        "stream.query_planning_ms.p50": median(hi["query_planning_ms"]),
        "stream.wal_commit_ms.p50": median(hi["wal_commit_ms"]),
        "stream.nodata_batch_frac": hi["nodata_frac"],
        "stream.processed_eps": hi["eps"],
        "stream.processed_eps.1core": stats["one-core"]["eps"],
        "state.rows_total.max": hi["state_rows"], "state.memory_bytes.max": hi["state_bytes"],
        "state.commit_ms.p50": median(hi["state_commit_ms"]),
        "state.update_ms.p50": median(hi["state_update_ms"]),
        "state.removal_ms.p50": median(hi["state_removal_ms"]),
        "state.rows_dropped_by_watermark": hi["state_dropped"],
        "sink.batch_ms.p50": median(hi["sink_ms"]),
        "backlog_s.high": median(hi["backlog_s"]),
        "trace.overhead": stats["high"]["eps"] / hi["eps"] if hi["eps"] else 0.0,
    })
    return v


def main():
    # a terminated benchmark still stops the harness JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = json.load(fh)
    if a.workload not in workloads:
        die(f"unknown workload {a.workload}; known: {', '.join(workloads)}")
    w = workloads[a.workload]
    t_start = time.time()
    cp = build()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    rng = random.Random(a.seed)

    if w["kind"] == "registry":
        rows = [r for fam in w["families"].values() for r in fam]
        rng.shuffle(rows)
        base, aliases = tables(a.seed, w["sf"], 3)
        args = {"kind": "registry", "seed": a.seed, "trace": a.trace,
                "passes": max(1, round(a.seconds / w["nominal_pass_s"])), "rows": ",".join(rows),
                "families": ",".join(f"{r}:{f}" for f, rs in w["families"].items() for r in rs),
                "setup_rows": ",".join(w["setup_rows"]), "setup_dirs": ",".join(aliases)}
        if a.trace:
            args["small"] = tables(a.seed, w["small_sf"], 1)[1][0]
        res, out = run_jvm(cp, run_dir, args)
        bad = check_registry(res, out, base)
        attempted, failed = len(rows), len(bad)
        for r, why in sorted(bad.items()):
            print(f"FAILED {r}: {why}")
        metrics, info = registry_metrics(res)
        if a.trace:
            metrics = registry_layers(res)
    else:
        res, out = run_jvm(cp, run_dir, {
            "kind": "openloop", "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "salt": rng.randrange(1, 1 << 30), "setup_rounds": 3,
            "warmup_seconds": w["warmup_seconds"],
            "stages": ",".join(f"{k}:{v}" for k, v in w["stages"].items()),
            "one_core_rate": w["one_core_rate"]})
        attempted = failed = 0
        stats = {}
        for st in res["stages"] + [res[k] for k in ("untraced", "one_core") if k in res]:
            n, bad, fails, lat = check_stage(st)
            attempted += n
            failed += bad
            for f in fails[:20]:
                print(f"FAILED stage {st['name']}: {f}")
            stats[st["name"]] = stage_stats(st, lat)
        metrics, info = openloop_metrics(res, stats["high" if not a.trace else "traced-high"])
        if a.trace:
            metrics = openloop_layers(res, stats)

    if a.trace:
        metrics = {k: (float(metrics.get(k, 0.0)), u) for k, u in LAYER_UNITS.items()}
        spans = (res.get("traced") or res)["spans"]
        with open(os.path.join(run_dir, "spans.json"), "w") as fh:
            json.dump(spans, fh)
    ctx = res["context"]
    print(f"workload {a.workload} seed {a.seed}: {attempted} outputs checked, {failed} failed "
          f"(failed_frac {failed / max(attempted, 1):.4f})")
    print(f"peak_rss_mb {ctx['peak_rss_mb']:.1f} MB; not gated, like every figure on this line "
          "and the next (their spread between runs is too wide to bound)")
    print(f"context: nproc {ctx['nproc']}, heap {ctx['heap_max_mb']} MB, "
          f"load_spin {ctx['load_spin_s']:.3f} s, wall {time.time() - t_start:.1f} s, {info}")
    for k, (v, unit) in metrics.items():
        print(f"{k:36s} {v:18.6f} {unit}")
    shutil.rmtree(os.path.join(run_dir, "work"), ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
