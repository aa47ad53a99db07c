#!/usr/bin/env python3
"""edgyspark benchmark: one run of one workload.

    python3 perfbench/run.py --workload graph_serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the engine and the harness from
source (a copy of the classes is cached under .bench_build/ by a hash of
the sources), generates the seed's inputs, runs the workload in a fresh
JVM, checks every op's output, and prints the seed, the input digest, the
environment and the per-kind figures, then, as the last line, one JSON
object with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1).
Exits non-zero, printing no result, when the checkout has no engine
sources, the build fails or the run fails.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("graph_serve", "batch_analytics", "stream_ingest")
SCALE = 0.02          # 1/5 of the sf0.1 fixture: 3,000 customers, ~120k lineitems
TAIL_ORDERS = 400     # withheld orders for the graph drain
HEAP = "3g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build
def source_hash():
    h = hashlib.sha256()
    pats = ["build.sbt", "project/build.properties", "src/main/**/*", "typed-macros/**/*.scala",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/main/**/*"]
    files = sorted({f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                    if os.path.isfile(f) and "/target/" not in f})
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine and harness; return the runtime classpath. The
    class directories are copied to .bench_build/build-<hash>/, so that
    a cached classpath always names the classes of that exact build,
    whatever a later build does to target/."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources next to the benchmark (run from the root of a checkout)")
    key = source_hash()
    cp_file = os.path.join(BUILD, f"classpath-{key}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        with open(log, "a") as out:
            out.write(r.stdout)
        fail(f"build failed (see {os.path.relpath(log, ROOT)})")
    frozen = os.path.join(BUILD, f"build-{key}")
    shutil.rmtree(frozen, ignore_errors=True)
    entries = []
    for i, entry in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.isdir(entry) and os.path.abspath(entry).startswith(ROOT + os.sep):
            copy = os.path.join(frozen, str(i))
            shutil.copytree(entry, copy)
            entry = copy
        entries.append(entry)
    cp = os.pathsep.join(entries)
    with open(cp_file + ".tmp", "w") as f:
        f.write(cp)
    os.replace(cp_file + ".tmp", cp_file)
    return cp


# ----------------------------------------------------------------- inputs
def zipf_picker(rng, keys, s=1.1):
    keys = list(keys)
    rng.shuffle(keys)
    weights = [1.0 / (r + 1) ** s for r in range(len(keys))]
    return lambda: rng.choices(keys, weights)[0]


def serve_script(rng, data, n_ops=4000):
    """The graph_serve op script: ~55% point reads, 30% traversals and
    15% writes in a seeded order, Zipf-skewed keys, and the answer each
    read must return, computed by DuckDB from the raw tables."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("customer", "orders", "lineitem", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    cust = dict(con.execute("SELECT c_custkey, c_name FROM customer").fetchall())
    orders = con.execute("SELECT o_orderkey, o_custkey, o_orderstatus FROM orders").fetchall()
    n_cust = len(cust)
    by_cust = {}
    for o, c, _ in orders:
        by_cust.setdefault(c, []).append(o)
    fwd = dict(con.execute(
        "SELECT o_custkey, count(*) FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
        "GROUP BY 1").fetchall())
    inv = dict(con.execute(
        "SELECT l_partkey, count(DISTINCT o_custkey) FROM lineitem "
        "JOIN orders ON o_orderkey = l_orderkey GROUP BY 1").fetchall())
    parts = [r[0] for r in con.execute("SELECT p_partkey FROM part").fetchall()]
    next_order = max(o for o, _, _ in orders) + 1
    pick_c = zipf_picker(rng, cust)
    pick_p = zipf_picker(rng, parts)
    deck = ["read"] * 11 + ["traverse"] * 6 + ["write"] * 3
    ops = []
    cid = lambda c: str(c * 4)        # node id = key * 4 + kind
    oid = lambda o: str(o * 4 + 1)
    pid = lambda p: str(p * 4 + 2)
    while len(ops) < n_ops:
        rng.shuffle(deck)
        for kind in deck:
            if kind == "read":
                r = rng.randrange(4)
                c = pick_c()
                if r == 0:
                    ops.append(["read", "lookup", cust[c], cid(c)])
                elif r == 1:
                    o, oc, st = orders[rng.randrange(len(orders))]
                    ops.append(["read", "attr", oid(o), st])
                elif r == 2 and by_cust.get(c):
                    ops.append(["read", "related", cid(c), oid(rng.choice(by_cust[c])), "true"])
                else:
                    o, oc, _ = orders[rng.randrange(len(orders))]
                    other = (oc + 1 + rng.randrange(n_cust - 1)) % n_cust
                    ops.append(["read", "related", cid(other), oid(o), "false"])
            elif kind == "traverse":
                if rng.random() < 0.5:
                    c = pick_c()
                    ops.append(["traverse", "fwd", cid(c), str(fwd.get(c, 0))])
                else:
                    p = pick_p()
                    ops.append(["traverse", "inv", pid(p), str(inv.get(p, 0))])
            else:
                status = rng.choice("FOP")
                if rng.random() < 0.5:
                    ops.append(["write", "add", cid(pick_c()), oid(next_order), status,
                                f"{rng.uniform(900, 450000):.2f}"])
                    next_order += 1
                else:  # with the add it falls back to while nothing was added
                    ops.append(["write", "set", str(rng.randrange(1 << 20)), status,
                                cid(pick_c()), oid(next_order),
                                f"{rng.uniform(900, 450000):.2f}"])
                    next_order += 1
    return ops


def prepare(workload, seed, data):
    """Workload inputs derived from the seed; returns JVM arguments and
    a digest of those inputs."""
    rng = random.Random(f"{workload}:{seed}")
    h = hashlib.sha256()
    args = []
    if workload == "graph_serve":
        ops = serve_script(rng, data)
        path = os.path.join(data, "serve_script.tsv")
        text = "\n".join("\t".join(op) for op in ops) + "\n"
        with open(path, "w") as f:
            f.write(text)
        h.update(text.encode())
        args = ["--script", path]
    elif workload == "batch_analytics":
        order = [j for j in BATCH_JOBS]
        rng.shuffle(order)
        args = ["--order", ",".join(order)]
        h.update(",".join(order).encode())
    else:
        import pyarrow as pa
        import pyarrow.parquet as pq
        n_orders = gen.sizes(SCALE)["orders"]
        keys = sorted(rng.sample(range(n_orders), TAIL_ORDERS))
        pq.write_table(pa.table({"o_orderkey": pa.array(keys, pa.int64())}),
                       os.path.join(data, "tail_orders.parquet"))
        h.update(repr(keys).encode())
    return args, h.hexdigest()[:16]


BATCH_JOBS = [
    "g05_connected_components", "g06_pagerank_topk", "t08_minhash_lsh_dedup",
    "t32_cdc_dedup", "t34_dsir_selection", "v15_pq_topk"]


# ----------------------------------------------------------------- oracle
def oracle_check(data, digest, out, oracles):
    """Compare each reference output the run wrote with its DuckDB
    oracle: columns and rows sorted, floats to 1e-9, the rest as text.
    Expected rows are cached by the input digest and the SQL.
    Returns ({label: None if equal else reason}, {label: seconds})."""
    import duckdb
    import numpy as np
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for p in glob.glob(f"{data}/*.parquet"):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    verdict, seconds = {}, {}
    cache = os.path.join(data, "expected")
    os.makedirs(cache, exist_ok=True)
    for label, sql in sorted(oracles.items()):
        t0 = time.time()
        try:
            got = con.sql(f"SELECT * FROM '{out}/{label}/*.parquet'").df()
            # the expected rows depend only on the inputs and the SQL
            key = hashlib.sha256((digest + sql).encode()).hexdigest()[:16]
            path = os.path.join(cache, f"{label}-{key}.pkl")
            if os.path.exists(path):
                exp = pd.read_pickle(path)
            else:
                exp = con.sql(sql).df()
                exp.to_pickle(path)
            if sorted(got.columns) != sorted(exp.columns):
                verdict[label] = f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"
                continue
            cols = sorted(got.columns)
            got = got[cols].sort_values(by=cols).reset_index(drop=True)
            exp = exp[cols].sort_values(by=cols).reset_index(drop=True)
            if len(got) != len(exp):
                verdict[label] = f"{len(got)} rows vs {len(exp)}"
                continue
            bad = None
            for c in cols:
                a, b = got[c], exp[c]
                if np.issubdtype(a.dtype, np.floating) or np.issubdtype(b.dtype, np.floating):
                    same = np.allclose(a.fillna(-1e300).astype(float),
                                       b.fillna(-1e300).astype(float), rtol=0, atol=1e-9)
                else:
                    same = (a.astype(str).values == b.astype(str).values).all()
                if not same:
                    bad = f"values differ in column {c}"
                    break
            verdict[label] = bad
        except Exception as e:  # an oracle that cannot run is a failed check
            verdict[label] = f"{type(e).__name__}: {str(e)[:200]}"
        seconds[label] = time.time() - t0
    return verdict, seconds


# ---------------------------------------------------------------- metrics
MS = 1e6  # ns per ms


def end_to_end(rec, checks):
    """Samples → (attempted, failed, metrics, per-kind figures)."""
    start = rec["window"]["start"]
    samples = [dict(zip(("kind", "label", "start", "end", "ok", "err"), s))
               for s in rec["samples"]]
    for s in samples:  # a reference that failed its oracle fails every op on it
        key = s["label"].split("#")[0]
        if checks.get(key):
            s["ok"] = False
            s["err"] = s["err"] or f"reference output wrong: {checks[key]}"
    if rec["workload"] == "stream_ingest":
        drains = {s["label"]: s for s in samples}
        ops = []
        for t in rec["ticks"]:
            d = drains.get(t["label"])
            if d is not None:
                ops.append({"kind": "tick." + t["label"].split("#")[0], "ok": d["ok"],
                            "ms": t["trigger_ms"], "rows": t["rows"]})
        for label, d in drains.items():  # a drain that failed before any tick
            if not any(t["label"] == label for t in rec["ticks"]):
                ops.append({"kind": "tick." + label.split("#")[0], "ok": False,
                            "ms": 0.0, "rows": 0})
    else:
        ops = [{"kind": s["kind"], "ok": s["ok"], "ms": (s["end"] - s["start"]) / MS}
               for s in samples]
    if not ops:
        fail("the run completed no op")
    busy_s = (max(s["end"] for s in samples) - start) / 1e9
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    lat = [o["ms"] if o["ok"] else math.inf for o in ops]
    window_ms = busy_s * 1e3

    def finite(x):  # an infinite percentile reads as the whole window
        return window_ms if x == math.inf else x

    metrics = {
        "setup_s": (stats.median(rec["setup_s"]), "s"),
        "ops_per_s": ((attempted - failed) / busy_s, "ops/s"),
        "op_p50_ms": (finite(stats.percentile(lat, 50)), "ms"),
        "op_p90_ms": (finite(stats.percentile(lat, 90)), "ms"),
        "peak_pinned_mb": (rec["pinned"]["peak"] / 2**20, "MiB"),
    }
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o["ms"] if o["ok"] else math.inf)
    per_kind = {k: {"n": len(v), "p50_ms": finite(stats.percentile(v, 50)),
                    "p90_ms": finite(stats.percentile(v, 90))} for k, v in sorted(kinds.items())}
    extra = {"residual_pinned_mb": rec["pinned"]["residual"] / 2**20, "busy_s": busy_s}
    if rec["workload"] == "stream_ingest":
        extra["rows_per_s"] = sum(o.get("rows", 0) for o in ops if o["ok"]) / busy_s
    if rec["workload"] == "batch_analytics":
        for fam in ("graph", "dedup", "retrieval"):
            extra[f"{fam}_jobs_s"] = family_pass_s(samples, "batch." + fam)
    return attempted, failed, metrics, per_kind, extra


def family_pass_s(samples, kind):
    """Median over passes of the summed wall time of one family's jobs."""
    per_pass = {}
    seen = {}
    for s in samples:
        if s["kind"] == kind:
            n = seen[s["label"]] = seen.get(s["label"], -1) + 1
            per_pass[n] = per_pass.get(n, 0.0) + (s["end"] - s["start"]) / 1e9
    return stats.median(list(per_pass.values())) if per_pass else 0.0


PER_LAYER = [
    "graph.read.self_ms", "graph.read.jobs_per_call", "graph.read.tasks_per_call",
    "graph.traverse.self_ms", "graph.traverse.rows_scanned_per_row_out",
    "graph.traverse.shuffle_bytes", "graph.write.self_ms", "graph.write.plan_nodes",
    "graph.checkpoint.self_ms",
    "spark.idle_floor_ms", "spark.jobs", "spark.stages", "spark.tasks",
    "algos.cc_ms", "algos.pagerank_ms", "dedup.minhash_ms", "dedup.cdc_ms",
    "ann.pq_ms", "operators.dsir_ms", "functions.fallback_exprs",
] + [f"spark.{m}.{fam}" for fam in ("graph", "dedup", "retrieval")
     for m in ("shuffle_write_bytes", "spill_bytes", "gc_ms", "cpu_ms")] + [
    "streams.graph_ingest_ms", "streams.bm25_ingest_ms", "streams.batches", "streams.rows_per_s",
    "streams.tick_p50_ms", "streams.tick_p90_ms",
    "streams.phase.addBatch_ms", "streams.phase.getBatch_ms", "streams.phase.walCommit_ms",
    "streams.phase.queryPlanning_ms", "streams.jobs_per_batch",
    "serve.read_p50_ms", "serve.read_p90_ms", "serve.traverse_p50_ms",
    "serve.traverse_p90_ms", "serve.write_p50_ms", "serve.write_p90_ms",
    "batch.graph_jobs_s", "batch.dedup_jobs_s", "batch.retrieval_jobs_s",
    "pinned.peak_mb", "pinned.residual_mb",
] + [f"pinned.{m}.{k}" for k in ("read", "traverse", "write", "checkpoint", "batch",
                                  "ingest")
     for m in ("peak_mb", "residual_mb")]

LAYER_UNITS = {"jobs_per_call": "count", "tasks_per_call": "count", "plan_nodes": "count",
               "rows_scanned_per_row_out": "ratio", "fallback_exprs": "count",
               "batches": "count", "jobs_per_batch": "count", "rows_per_s": "rows/s"}


def unit_of(name):
    if name.startswith("pinned."):
        return "MiB"
    last = name.split(".")[-1]
    if last in LAYER_UNITS:
        return LAYER_UNITS[last]
    if name.startswith("spark.") and name.count(".") == 2:
        last = name.split(".")[1]
    if last in ("jobs", "stages", "tasks"):
        return "count"
    for suffix, u in (("_bytes", "bytes"), ("_mb", "MiB"), ("_ms", "ms"), ("_s", "s")):
        if last.endswith(suffix):
            return u
    return LAYER_UNITS.get(last, "count")


def per_layer(rec, per_kind, extra):
    """Per-layer metrics from the spans of a traced run. Layers the
    workload does not call read 0."""
    spans = rec["spans"]
    selfs = stats.self_times(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    ms = lambda s: (s["end"] - s["start"]) / MS
    mean = lambda xs: sum(xs) / len(xs) if xs else 0.0
    m = {name: 0.0 for name in PER_LAYER}

    def layer(span_name):
        return by_name.get(span_name, [])

    for name in ("graph.read", "graph.traverse", "graph.write", "graph.checkpoint"):
        m[f"{name}.self_ms"] = mean([selfs[s["id"]] / MS for s in layer(name)])
    m["graph.read.jobs_per_call"] = mean([s["jobs"] for s in layer("graph.read")])
    m["graph.read.tasks_per_call"] = mean([s["tasks"] for s in layer("graph.read")])
    tr = layer("graph.traverse")
    out_rows = sum(s["extra"].get("rows_out", 0) for s in tr)
    m["graph.traverse.rows_scanned_per_row_out"] = (
        sum(s["extra"].get("rows_scanned", 0) for s in tr) / out_rows if out_rows else 0.0)
    m["graph.traverse.shuffle_bytes"] = mean([s["shuffle_write_bytes"] for s in tr])
    m["graph.write.plan_nodes"] = mean([s["extra"].get("plan_nodes", 0)
                                        for s in layer("graph.write")])

    ops = [s for s in spans if s["parent"] == -1]
    parents = {s["id"]: s for s in spans}
    subtree = {}
    for s in spans:  # spark work of an op: its own and its descendants'
        root = s
        while root["parent"] != -1:
            root = parents[root["parent"]]
        subtree.setdefault(root["id"], []).append(s)
    def task_busy_ms(o):  # wall time in which a task of the op's subtree runs
        iv = [t for d in subtree.get(o["id"], []) for t in d["task_ms"]]
        return stats.covered(iv, o["start_ms"], o["start_ms"] + ms(o))

    m["spark.idle_floor_ms"] = mean([ms(o) - task_busy_ms(o) for o in ops])
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = mean([sum(d[k] for d in subtree.get(o["id"], [])) for o in ops])

    for span in ("algos.cc", "algos.pagerank", "dedup.minhash", "dedup.cdc", "ann.pq",
                 "operators.dsir", "streams.graph_ingest", "streams.bm25_ingest"):
        m[f"{span}_ms"] = mean([ms(s) for s in layer(span)])

    batch_ops = [o for o in ops if o["name"].startswith("op.batch.")]
    if batch_ops:
        passes = max(1, rec["window"]["rounds"])
        first = {}
        for o in batch_ops:  # one pass worth of plans: each job's first call
            for d in subtree.get(o["id"], []):
                if "fallback_exprs" in d["extra"]:
                    first.setdefault(d["name"], d["extra"]["fallback_exprs"])
        m["functions.fallback_exprs"] = sum(first.values())
        for fam in ("graph", "dedup", "retrieval"):
            fam_spans = [d for o in batch_ops if o["name"] == f"op.batch.{fam}"
                         for d in subtree.get(o["id"], [])]
            m[f"spark.shuffle_write_bytes.{fam}"] = sum(
                d["shuffle_write_bytes"] for d in fam_spans) / passes
            m[f"spark.spill_bytes.{fam}"] = sum(d["spill_bytes"] for d in fam_spans) / passes
            m[f"spark.gc_ms.{fam}"] = sum(d["gc_ms"] for d in fam_spans) / passes
            m[f"spark.cpu_ms.{fam}"] = sum(d["cpu_ns"] for d in fam_spans) / MS / passes
            m[f"batch.{fam}_jobs_s"] = extra.get(f"{fam}_jobs_s", 0.0)

    drains = [o for o in ops if o["name"] == "op.drain"]
    ticks = [t for t in rec["ticks"] if "#" in t["label"]]
    if drains and ticks:
        m["streams.batches"] = len(ticks)
        for ph in ("addBatch", "getBatch", "walCommit", "queryPlanning"):
            m[f"streams.phase.{ph}_ms"] = mean([t["phases"].get(ph, 0) for t in ticks])
        ingest_jobs = sum(d["jobs"] for o in drains for d in subtree.get(o["id"], [])
                          if d["name"].startswith("streams."))
        m["streams.jobs_per_batch"] = ingest_jobs / len(ticks)
        m["streams.rows_per_s"] = extra.get("rows_per_s", 0.0)
        tick_ms = [t["trigger_ms"] for t in ticks]
        m["streams.tick_p50_ms"] = stats.percentile(tick_ms, 50)
        m["streams.tick_p90_ms"] = stats.percentile(tick_ms, 90)

    for k in ("read", "traverse", "write"):
        if k in per_kind:
            m[f"serve.{k}_p50_ms"] = per_kind[k]["p50_ms"]
            m[f"serve.{k}_p90_ms"] = per_kind[k]["p90_ms"]

    m["pinned.peak_mb"] = rec["pinned"]["peak"] / 2**20
    m["pinned.residual_mb"] = rec["pinned"]["residual"] / 2**20
    groups = {"read": ["op.read"], "traverse": ["op.traverse"], "write": ["op.write"],
              "checkpoint": ["graph.checkpoint"],
              "batch": [n for n in by_name if n.startswith("op.batch.")],
              "ingest": ["op.drain"]}
    for k, names in groups.items():
        ss = [s for n in names for s in by_name.get(n, [])]
        m[f"pinned.peak_mb.{k}"] = max([s["pinned_peak"] for s in ss], default=0) / 2**20
        m[f"pinned.residual_mb.{k}"] = mean(  # what a span leaves pinned
            [max(0, s["pinned_end"] - s["pinned_start"]) for s in ss]) / 2**20
    return {k: (v, unit_of(k)) for k, v in m.items()}


def span_coverage(rec):
    """Share of the measured window (times the number of clients) that
    the top-level op spans cover: 1.0 means the spans account for all of
    the measured wall time."""
    clients = rec["clients"]
    top = [s for s in rec["spans"] if s["parent"] == -1]
    if not top:
        return 0.0
    start = rec["window"]["start"]
    end = max(s["end"] for s in top)
    return sum(s["end"] - s["start"] for s in top) / (clients * (end - start))


# -------------------------------------------------------------------- run
def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--save", help="also write the full run record (spans, samples, "
                                   "metrics) to this JSON file")
    a = ap.parse_args()

    clock = [("start", time.time())]
    cp = build()
    clock.append(("build", time.time()))
    data = os.path.join(BUILD, "data", f"seed-{a.seed}")
    digest = gen.write(a.seed, SCALE, data)
    args, wdigest = prepare(a.workload, a.seed, data)
    clock.append(("inputs", time.time()))
    out = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            f"-Dspark.local.dir={tmp}", f"-Dderby.system.home={tmp}"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--data", data,
              "--out", out, "--seconds", str(a.seconds), "--trace", a.trace] + args)
    # a terminated run stops its JVM too: SIGTERM unwinds through finally
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=out, stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(150, 6 * a.seconds + 90))
        except subprocess.TimeoutExpired:
            fail(f"run timed out (log: {os.path.relpath(log.name, ROOT)})")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(os.path.join(out, "run.json")):
        fail(f"run failed with code {proc.returncode} "
             f"(log: {os.path.relpath(os.path.join(out, 'jvm.log'), ROOT)})")
    with open(os.path.join(out, "run.json")) as f:
        rec = json.load(f)

    clock.append(("jvm", time.time()))
    checks, check_s = oracle_check(data, digest, out, rec["oracles"])
    clock.append(("oracle", time.time()))
    attempted, failed, e2e, per_kind, extra = end_to_end(rec, checks)
    env = rec["env"]
    print(f"seed {a.seed}  inputs {digest}  workload-inputs {wdigest}  scale {SCALE}")
    print("wall " + "  ".join(f"{b[0]}={b[1] - a_[1]:.1f}s" for a_, b in zip(clock, clock[1:])))
    print("env " + "  ".join(f"{k}={v}" for k, v in env.items()))
    print(f"cold_setup_s {rec['cold_setup_s']:.3f}  "
          f"setup_s each: {', '.join(f'{x:.3f}' for x in rec['setup_s'])}  "
          f"warmup_s {rec['warmup_s']:.3f}  session_s {rec['session_s']:.3f}  "
          f"window rounds {rec['window']['rounds']}")
    for k, v in per_kind.items():
        print(f"kind {k:<22} n={v['n']:<5} p50={v['p50_ms']:.1f}ms p90={v['p90_ms']:.1f}ms")
    if a.workload == "batch_analytics":
        for s in rec["samples"]:
            print(f"job {s[1]:<28} {(s[3] - s[2]) / MS:9.1f}ms {'ok' if s[4] else 'FAIL'}")
    print("extra " + "  ".join(f"{k}={v:.4f}" for k, v in extra.items()))
    for label, bad in sorted(checks.items()):
        print(f"oracle {label}: {'ok' if bad is None else 'FAIL ' + bad} "
              f"({check_s[label]:.1f}s)")
    print(f"ops attempted {attempted}, failed {failed} "
          f"(share {stats.failure_share(attempted, failed):.4f})")
    errors = sorted({s[5] for s in rec["samples"] if not s[4]})
    for e in errors[:5]:
        print(f"failed op: {e[:300]}")
    if a.trace == "1":
        extra["span_coverage"] = span_coverage(rec)
        print(f"top-level spans cover {extra['span_coverage']:.4f} of the measured window")
    metrics = e2e if a.trace == "0" else per_layer(rec, per_kind, extra)
    for k, (v, u) in metrics.items():
        print(f"metric {k} = {v:.6g} {u}")
    correct = failed == 0 and all(v is None for v in checks.values())
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    if a.save:
        head = {"workload": a.workload, "seed": a.seed, "inputs": digest,
                "workload_inputs": wdigest, "env": env,
                "cold_setup_s": rec["cold_setup_s"], "setup_s": rec["setup_s"],
                "warmup_s": rec["warmup_s"], "per_kind": per_kind, "extra": extra,
                "oracles": checks, "end_to_end": {k: {"value": v, "unit": u}
                                                  for k, (v, u) in e2e.items()},
                "result": result}
        with open(a.save, "w") as f:  # one span per line keeps the file diffable
            f.write(json.dumps(head, indent=1)[:-2] + ',\n "spans": [\n')
            f.write(",\n".join(json.dumps(s, separators=(",", ":")) for s in rec["spans"]))
            f.write("\n ]\n}\n")
    shutil.rmtree(out, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
