#!/usr/bin/env python3
"""Repo benchmark: served SQL and heavy registered operators.

Run from the repository root:

    python3 perfbench/run.py --workload served_sql --seed 1 --seconds 12 --trace 0

Builds the program and the harness from source (sbt, offline) on first
use, copies the provisioned test tables into a fresh directory inside the
checkout so every run starts on a cold derived-artifact lake, runs one
workload in a JVM whose Spark session is built by ``SparkEngine.local``
exactly as ``graft.server.Serve`` builds it, checks every output, and
prints a human summary followed by one JSON line (the last line of
stdout). ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones. Exits non-zero when an output check fails or when the
program cannot be built. Everything it writes is removed on exit.

These numbers are not comparable with ``graft.Bench``: that harness times
``.count()`` (which lets Catalyst prune the served work) on another
session shape.
"""
import argparse
import datetime
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
WORK_BASE = os.path.join(ROOT, ".bench_work")
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "perfbench-classpath.txt")
EXPECTED = os.path.join(HERE, "expected.json")
# The program keeps its derived lake under this fixed root; artifacts
# are keyed by the source directory, so each run's are its own and are
# removed with it.
LAKE_ROOT = "/tmp/graft-lake"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# The heap as the repo's build gives graft.server.Serve its JVM.
HEAP = os.environ.get("SPARK_DRIVER_MEM", "32g")

# Workload shapes. Sizes were chosen so that one run (set-up plus the
# timed window) stays well under a minute on a 4-core box.
WORKLOADS = {
    "served_sql": dict(sf="sf0.1", clients=4),
    "operator_batch": dict(sf="sf0.01", operators=[
        "c02_join_large", "c07_agg_tpch_q1", "c108_tpch_q18", "x03_dedup_minhash"]),
}

# served_sql request mix. The reference protocol answers a days=10
# date-range GROUP BY both as one scan and as a fan-out of one query per
# day (BASELINE.md; the reference's benchmark.py:207-211 and :250-265),
# so each date-range request comes with the ten per-day requests of its
# window. The other request types have no source for their share: one of
# each per fan-out is an assumption.
WINDOW_DAYS = 10
OTHERS_PER_FANOUT = {"q1": 1, "q6": 1, "topk": 1, "lookup": 1}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def die(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------- build

def sources_mtime():
    newest = 0.0
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            for f in fs:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return max(newest, os.path.getmtime(os.path.join(HERE, "build.sbt")))


def build():
    """Compile program + harness once per checkout; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no program sources next to the benchmark (expected src/main/scala/graft)")
    if os.path.exists(CLASSPATH_FILE) and os.path.getmtime(CLASSPATH_FILE) >= sources_mtime():
        return open(CLASSPATH_FILE).read().strip()
    if shutil.which("sbt") is None:
        die("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        # build.sbt takes the Spark jars from the Spark install
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    log("perfbench: building program and harness (sbt compile)")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and os.pathsep in l]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


# ------------------------------------------------------------- inputs

def data_dir(sf):
    base = os.environ.get("PERFBENCH_DATA", os.path.expanduser("~/testdata"))
    d = os.path.join(base, sf)
    if not all(os.path.exists(os.path.join(d, f"{t}.parquet")) for t in TABLES):
        die(f"provisioned tables not found under {d}")
    return d


def copy_sources(src, dst):
    os.makedirs(dst)
    for t in TABLES:
        shutil.copyfile(os.path.join(src, f"{t}.parquet"), os.path.join(dst, f"{t}.parquet"))


def served_pool(seed, src):
    """Seeded request pool with DuckDB's expected answers."""
    import duckdb
    rng = random.Random(seed)
    con = duckdb.connect()
    for t in ("events", "lineitem", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}/{t}.parquet')")
    pool = []

    def add(kind, key, sql, duck, limit, ordered=True):
        cur = con.execute(duck)
        cols = [c[0] for c in cur.description]
        rows = [[v if isinstance(v, (int, float, str)) or v is None else float(v) for v in r]
                for r in cur.fetchall()]
        pool.append(dict(type=kind, key=key, sql=sql, limit=limit, ordered=ordered,
                         expected=dict(columns=cols, rows=rows)))

    # The pool is small enough for the warm-up to send each entry once
    # (see Main.scala) within a few seconds. It holds two seeded
    # windows and the per-day entries of every day they cover, so each
    # window's fan-out is served and the map/reduce cross-check applies.
    first, last = con.execute(
        "SELECT MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE)) FROM events").fetchone()
    day = lambda d: (first + datetime.timedelta(days=d)).isoformat()
    grp = "SELECT event_type, COUNT(*) AS counts FROM {} GROUP BY 1 ORDER BY 2 DESC, 1"
    starts = sorted(rng.sample(range((last - first).days + 2 - WINDOW_DAYS), 2))
    for d in sorted({d for a in starts for d in range(a, a + WINDOW_DAYS)}):
        # the map step: one partition per day
        rng_sql = f"events WHERE ts >= '{day(d)}' AND ts < '{day(d + 1)}'"
        add("day", f"day:{d}", grp.format(f"parquet.`{{PART}}/date={day(d)}`"),
            grp.format(rng_sql), 100)
    for a in starts:
        b = a + WINDOW_DAYS
        where = f"events WHERE ts >= '{day(a)}' AND ts < '{day(b)}'"
        add("range", f"range:{a}:{b}", grp.format(where), grp.format(where), 100)
        pool[-1]["days"] = list(range(a, b))
    # TPC-H Q1's cut-off is its data's end minus DELTA days (60..120); the
    # provisioned lineitem ships until November 2001.
    for delta in sorted(rng.sample(range(60, 121), 2)):
        cutday = datetime.date(2001, 12, 1) - datetime.timedelta(days=delta)
        cut = f"TIMESTAMP '{cutday.isoformat()} 00:00:00'"
        q1 = ("SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, "
              "SUM(l_extendedprice) AS sum_base_price, "
              "SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price, "
              "SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge, "
              "AVG(l_quantity) AS avg_qty, AVG(l_extendedprice) AS avg_price, "
              "AVG(l_discount) AS avg_disc, COUNT(*) AS count_order FROM lineitem "
              f"WHERE l_shipdate <= {cut} GROUP BY l_returnflag, l_linestatus "
              "ORDER BY l_returnflag, l_linestatus")
        add("q1", f"q1:{delta}", q1, q1, 100)
    for year, disc, qty in sorted({(rng.randint(1995, 2000), rng.randint(2, 9), rng.randint(24, 25))
                                   for _ in range(2)}):
        q6 = ("SELECT SUM(l_extendedprice * l_discount) AS revenue FROM lineitem "
              f"WHERE l_shipdate >= TIMESTAMP '{year}-01-01 00:00:00' "
              f"AND l_shipdate < TIMESTAMP '{year + 1}-01-01 00:00:00' "
              f"AND l_discount BETWEEN {disc - 1}e-2 AND {disc + 1}e-2 AND l_quantity < {qty}")
        add("q6", f"q6:{year}:{disc}:{qty}", q6, q6, 100)
    for k in sorted(rng.sample([10, 20, 50, 100], 2)):
        start = f"TIMESTAMP '{rng.randint(1995, 2000)}-{rng.randint(1, 12):02d}-01 00:00:00'"
        topk = ("SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders "
                f"WHERE o_orderdate >= {start} ORDER BY o_totalprice DESC, o_orderkey LIMIT {k}")
        add("topk", f"topk:{k}:{start}", topk, topk, 100)
    for key in sorted(rng.sample(range(0, 150000), 4)):
        look = ("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag "
                f"FROM lineitem WHERE l_orderkey = {key} ORDER BY l_linenumber")
        add("lookup", f"lookup:{key}", look, look, 100)
    # the reference's map/reduce cross-check, on the oracle side
    days = {p["key"]: sum(r[1] for r in p["expected"]["rows"]) for p in pool if p["type"] == "day"}
    for p in pool:
        if p["type"] == "range":
            assert sum(r[1] for r in p["expected"]["rows"]) == sum(days[f"day:{d}"] for d in p["days"])
    con.close()
    return pool


def expected(workload, sf):
    """Recorded results of the workload's operators, at the scale it runs."""
    exp = json.load(open(EXPECTED)).get(workload)
    if not exp or exp["sf"] != sf:
        die(f"no expected results recorded for {workload} at {sf} (run with --record)")
    return exp["results"]


def cleanup(work):
    slug = "".join(c if c.isalnum() or c == "." else "_" for c in work)
    if os.path.isdir(LAKE_ROOT):
        for n in os.listdir(LAKE_ROOT):
            if slug in n:
                shutil.rmtree(os.path.join(LAKE_ROOT, n), ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(WORK_BASE)
    except OSError:
        pass


# ------------------------------------------------------------ metrics

def pct(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def self_times(spans):
    """Per-layer self time: span duration minus the part its children cover.

    Job spans arrive without a parent; each is hung under the innermost
    benchmark span of its request that contains its start.
    """
    by_rid = {}
    for s in spans:
        by_rid.setdefault(s["rid"], []).append(s)
    out, walls = {}, []
    for rid, ss in by_rid.items():
        bench = [s for s in ss if s["layer"] != "exec"]
        for s in ss:
            if s["layer"] == "exec":
                holders = [b for b in bench if b["startUs"] <= s["startUs"] <= b["endUs"]]
                if not holders:
                    continue
                p = min(holders, key=lambda b: b["endUs"] - b["startUs"])
                s["parent"] = p["id"]
                s["startUs"], s["endUs"] = max(s["startUs"], p["startUs"]), min(s["endUs"], p["endUs"])
        kids = {}
        for s in ss:
            kids.setdefault(s["parent"], []).append(s)
        for s in bench:
            cover = covered(s, kids.get(s["id"], []))
            out[s["layer"]] = out.get(s["layer"], 0) + (s["endUs"] - s["startUs"] - cover) / 1e3
            # jobs can run concurrently (broadcasts, AQE stages): the exec
            # layer's self time is the part of the parent its jobs cover
            jobs = [c for c in kids.get(s["id"], []) if c["layer"] == "exec"]
            out["exec"] = out.get("exec", 0) + covered(s, jobs) / 1e3
            if s["parent"] == 0:
                walls.append((s["endUs"] - s["startUs"]) / 1e3)
    return out, sum(walls)


def covered(span, children):
    """Microseconds of `span` covered by the union of `children`."""
    cover, cur = 0, None
    for a, b in sorted((c["startUs"], c["endUs"]) for c in children):
        a, b = max(a, span["startUs"]), min(b, span["endUs"])
        if b <= a:
            continue
        if cur and a <= cur[1]:
            cur = (cur[0], max(cur[1], b))
        else:
            if cur:
                cover += cur[1] - cur[0]
            cur = (a, b)
    if cur:
        cover += cur[1] - cur[0]
    return cover


LAYERS = ["client", "server", "engine", "exec", "sources", "operators", "bench"]
EXEC_KEYS = ["jobs", "stages", "tasks", "task_wait_ms", "task_run_ms", "task_cpu_ms",
             "task_gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
             "input_bytes", "output_bytes", "failed_tasks"]


def per_layer_names():
    names = ["server.pre_ms.p50", "server.pre_ms.p99", "server.post_ms.p50",
             "server.post_ms.p99", "server.resp_bytes",
             "engine.execute_ms.p50", "engine.execute_ms.p99", "engine.parsing_ms",
             "engine.analysis_ms", "engine.optimization_ms", "engine.planning_ms",
             "engine.action_ms", "engine.residual_ms"]
    names += [f"exec.{k}" for k in EXEC_KEYS]
    names += ["sources.register_ms", "sources.builds", "sources.build_s",
              "sources.setup_builds", "sources.setup_build_s",
              "sources.min_files_per_artifact", "sources.scan_files"]
    for n in WORKLOADS["operator_batch"]["operators"]:
        short = n.split("_")[0]
        names += [f"operators.{short}.build_s", f"operators.{short}.result_s",
                  f"operators.{short}.rows"]
    names += ["jvm.gc_ms", "jvm.heap_peak_mb", "jvm.heap_committed_mb", "jvm.rss_peak_mb",
              "jvm.retained_mb"]
    names += [f"{l}.self_ms" for l in LAYERS]
    names += ["trace.wall_ms", "trace.self_sum_ms", "trace.overhead_ms", "setup.process_s"]
    return names


def unit_of(name):
    if name.endswith("_ms") or ".p50" in name or ".p99" in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def metrics(workload, res, spans, trace):
    """End-to-end metrics (trace 0) or per-layer metrics (trace 1)."""
    ops = res["ops"]
    unit_kind = "request" if workload == "served_sql" else "pass"
    units = [o for o in ops if o["kind"] == unit_kind]
    untraced = [o["wallMs"] for o in units if not o["traced"]]
    traced = [o for o in units if o["traced"]]
    layer = res["layer"]
    if not trace:
        walls = [o["wallMs"] for o in units]
        return {
            "setup_s": (res["setup_s"], "s"),
            "op_p50_ms": (pct(walls, 50), "ms"),
            "op_p90_ms": (pct(walls, 90), "ms"),
            "ops_per_s": (len(units) / res["timed_s"], "1/s"),
            "stored_bytes_ratio": (layer["artifact_bytes"] / res["source_bytes"], "ratio"),
        }
    m = {n: 0.0 for n in per_layer_names()}
    # per request (served_sql) or per pass (operator_batch)
    n_units = max(1, len(traced))
    rids = {o["rid"] for o in ops if o["traced"]}
    if workload == "operator_batch":
        traced_passes = {o["rid"] for o in traced}
        rids = {o["rid"] for o in ops if o["traced"] and o["kind"] == "operator"
                and o["rid"].split(":")[0] in traced_passes}
    ctr = res["counters"]
    for k in EXEC_KEYS:
        m[f"exec.{k}"] = sum(ctr.get(r, {}).get(k, 0.0) for r in rids) / n_units
    m["sources.scan_files"] = sum(ctr.get(r, {}).get("scan_files", 0.0) for r in rids) / n_units
    ph = res["phases"]
    for p in ("parsing", "analysis", "optimization", "planning"):
        m[f"engine.{p}_ms"] = sum(ph.get(r, {}).get(p, 0.0) for r in rids) / n_units
    # Served SQL is parsed and analysed inside execute; an operator builds
    # and analyses its frames before the timed action, so only planning
    # falls inside the action span.
    in_engine = (("parsing", "analysis", "optimization", "planning") if workload == "served_sql"
                 else ("optimization", "planning"))
    phase_sum = sum(m[f"engine.{p}_ms"] for p in in_engine)
    selfs, wall = self_times(spans)
    for l in LAYERS:
        m[f"{l}.self_ms"] = selfs.get(l, 0.0) / n_units
    engine_total = sum(s["endUs"] - s["startUs"] for s in spans if s["layer"] == "engine") / 1e3
    m["engine.action_ms"] = engine_total / n_units - phase_sum
    m["engine.residual_ms"] = m["engine.self_ms"] - phase_sum
    m["trace.wall_ms"] = wall / n_units
    m["trace.self_sum_ms"] = sum(selfs.values()) / n_units
    tw = [o["wallMs"] for o in traced]
    if tw and untraced:
        m["trace.overhead_ms"] = statistics.median(tw) - statistics.median(untraced)
    m["jvm.gc_ms"] = res["jvm"]["gc_ms"] / max(1, len(units))
    m["jvm.heap_peak_mb"] = res["jvm"]["heap_peak_mb"]
    m["jvm.heap_committed_mb"] = res["jvm"]["heap_committed_mb"]
    m["jvm.rss_peak_mb"] = res["jvm"]["rss_peak_mb"]
    m["jvm.retained_mb"] = res["jvm"]["retained_mb"]
    m["setup.process_s"] = res["process_start_s"]
    m["sources.setup_builds"] = res["setup_builds"]
    m["sources.setup_build_s"] = res["setup_build_s"]
    m["sources.min_files_per_artifact"] = layer.get("min_files_per_artifact", 0)
    if workload == "served_sql":
        ex = [o["extra"] for o in traced if "pre_ms" in o["extra"]]
        for k in ("pre_ms", "post_ms"):
            m[f"server.{k}.p50"] = pct([e[k] for e in ex], 50)
            m[f"server.{k}.p99"] = pct([e[k] for e in ex], 99)
        m["engine.execute_ms.p50"] = pct([e["execute_ms"] for e in ex], 50)
        m["engine.execute_ms.p99"] = pct([e["execute_ms"] for e in ex], 99)
        m["server.resp_bytes"] = statistics.mean(e["resp_bytes"] for e in ex) if ex else 0.0
        m["sources.register_ms"] = layer["register_ms"]
    else:
        for k in ("builds", "build_s"):
            m[f"sources.{k}"] = statistics.mean(o["extra"][k] for o in traced) if traced else 0.0
    if workload == "operator_batch":
        for o in ops:
            if o["kind"] == "operator" and o["traced"]:
                short = o["extra"]["name"].split("_")[0]
                for k in ("build_s", "result_s", "rows"):
                    m[f"operators.{short}.{k}"] += o["extra"][k] / n_units
    return {k: (v, unit_of(k)) for k, v in m.items()}


def cross_check(ops):
    """Served per-day counts must sum to the served date-range count."""
    day = {}
    bad = []
    for o in ops:
        e = o["extra"]
        if e.get("type") == "day" and "answer" in e:
            day[e["key"]] = sum(e["answer"].values())
    for o in ops:
        e = o["extra"]
        if e.get("type") == "range" and "answer" in e:
            _, a, b = e["key"].split(":")
            keys = [f"day:{d}" for d in range(int(a), int(b))]
            if all(k in day for k in keys) and sum(day[k] for k in keys) != sum(e["answer"].values()):
                bad.append(e["key"])
    return bad


# --------------------------------------------------------------- main

def stamp(seed, res):
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(base)):
            for f in sorted(fs):
                h.update(open(os.path.join(d, f), "rb").read())
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except OSError:
        commit = None
    return {**dict(seed=seed, heap=HEAP, commit=commit, source_sha256=h.hexdigest()[:16]),
            **res["stamp"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="record the operators' row counts and hashes into expected.json")
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes what it wrote
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    started = time.time()
    cp = build()
    spec = WORKLOADS[a.workload]
    src = data_dir(spec["sf"])
    work = os.path.join(WORK_BASE, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    proc = None
    try:
        lake = os.path.join(work, "lake")
        copy_sources(src, lake)
        job = dict(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=bool(a.trace),
                   src_dir=lake, lake_root=LAKE_ROOT,
                   **{k: v for k, v in spec.items() if k != "sf"})
        if a.workload == "served_sql":
            job["pool"] = served_pool(a.seed, lake)
            job["others"] = OTHERS_PER_FANOUT
        else:
            job["expected"] = {} if a.record else expected(a.workload, spec["sf"])
            job["record"] = a.record
        json.dump(job, open(os.path.join(work, "job.json"), "w"))
        # The JVM options the repo's build gives graft.server.Serve (the
        # add-opens, no UI, UTC sessions, -Xmx only), so the heap grows
        # with what the program allocates; the rest keeps the run's files
        # inside the checkout and its log short.
        cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
               + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
                  "-Dlog4j2.level=warn"]
               + (["-Dspark.sql.extensions=perfbench.TraceExtensions"] if a.trace else [])
               + ["-cp", cp, "perfbench.Main", work, str(time.time_ns() // 1000)])
        with open(os.path.join(work, "jvm.log"), "w") as jl:
            proc = subprocess.Popen(cmd, cwd=work, stdout=jl, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(30, 170 - (time.time() - started)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0:
            log(open(os.path.join(work, "jvm.log")).read()[-6000:])
            die(f"benchmark JVM failed ({rc})", 3)
        res = json.load(open(os.path.join(work, "result.json")))
        res["source_bytes"] = sum(os.path.getsize(os.path.join(lake, f"{t}.parquet"))
                                  for t in TABLES)
        spans = [json.loads(l) for l in open(os.path.join(work, "spans.jsonl"))]
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        cleanup(work)

    if a.record:
        exp = json.load(open(EXPECTED)) if os.path.exists(EXPECTED) else {}
        exp[a.workload] = dict(sf=spec["sf"], results=dict(sorted(res["seen"].items())))
        with open(EXPECTED, "w") as f:
            json.dump(exp, f, indent=1, sort_keys=True)
            f.write("\n")
    unit_kind = "request" if a.workload == "served_sql" else "pass"
    units = [o for o in res["ops"] if o["kind"] == unit_kind]
    errors = list(res["errors"]) + [f"per-day counts do not sum to {k}" for k in cross_check(res["ops"])]
    if a.workload == "operator_batch":
        # a timed pass must read a warm lake: a build inside it is a miss
        errors += [f"{o['rid']}: {o['extra']['builds']} artifact builds in a timed pass"
                   for o in units if o["extra"]["builds"]]
    failed = sum(1 for o in units if not o["ok"]) + (len(errors) - len(res["errors"]))
    attempted = max(1, len(units))
    correct = not errors and failed == 0 and bool(units)
    out = metrics(a.workload, res, spans, a.trace)

    print("# stamp " + json.dumps(dict(workload=a.workload, trace=a.trace,
                                       **stamp(a.seed, res))))
    for e in errors[:10]:
        print(f"# check failed: {e}")
    walls = [o["wallMs"] for o in units]
    human = {"setup_s": (res["setup_s"], "s"),
             "fail_ratio": (failed / attempted, "ratio"),
             "peak_rss_mb": (res["jvm"]["rss_peak_mb"], "MB")}
    print("# warm-up rounds (round p50 or pass ms / JIT ms): "
          + " ".join(f"{r:.0f}/{j:.0f}" for r, j in res["layer"]["warmup"]))
    if a.workload == "served_sql":
        human.update(served_p50_ms=(pct(walls, 50), "ms"), served_p99_ms=(pct(walls, 99), "ms"),
                     served_qps=(len(units) / res["timed_s"], "1/s"))
        beyond = int(len(walls) * 0.01)
        print(f"# served_p99_ms rests on {len(walls)} requests, {beyond} beyond it")
    else:
        human["batch_pass_s"] = (pct(walls, 50) / 1e3, "s")
    if not a.trace:
        human["stored_bytes_ratio"] = out["stored_bytes_ratio"]
    for k, (v, u) in list(human.items()) + list(out.items()):
        print(f"{k:32s} {v:14.4f} {u}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
