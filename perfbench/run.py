#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the engine and the JVM driver from source (sbt, cached by a hash
of the sources), generates the seeded inputs (cached by seed and size) in
a process of their own, runs the workload as one closed-loop client on
local[nproc] in fresh driver processes one after the other, checks every
output against DuckDB references (cached by seed and size), and prints one
JSON line as the last line of standard output. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

import duckdb
import numpy as np
import pyarrow as pa

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("pipeline_bulk", "query_mix")

# Input sizes. `tiny` is for the self-test only.
SCALES = {
    "default": {
        "bulk": (100_000, 12),            # (turns, hour partitions)
        "layer_small": (50_000, 24),      # transcripts table for query_mix's layer probes
        "query": (10_000, 1_000, 500),    # (events, documents, embeddings)
    },
    "tiny": {
        "bulk": (20_000, 8),
        "layer_small": (4_000, 8),
        "query": (1_000, 60, 60),
    },
}

# Query families by name prefix, for the per-family layer metrics.
FAMILIES = {
    "parse": ("q_parse_",),
    "enrich.ocsf": ("q_ocsf",),
    "plugins": ("q_plugin_",),
    "expr": ("q_ottl_", "q_expr_"),
    "agg": ("q_logcount", "q_metric_", "q_datapoint_", "q_span_", "q_dedup", "q_salted_"),
    "data": ("q_doc_", "q_embed_", "q_media_"),
    "route": ("q_route_", "q_random_failure", "q_topology_", "q_chronicle_"),
    "pipeline": ("q_pipeline_", "q_snapshot_", "q_partitioned_", "q_paged_"),
}
# query_mix panel: one query per family. A cold pass over all 145 queries
# takes minutes, which a run cannot afford; see README.md.
PANEL = [
    "q_parse_json", "q_ocsf", "q_plugin_nginx", "q_ottl_set",
    "q_logcount", "q_doc_quality", "q_route_errors_rows", "q_pipeline_e2e",
]

SINKS = ("sink_errors", "sink_tools", "sink_default")

# Fresh driver processes per untraced run. Each one is a set-up sample
# (setup_s is their median) and runs an equal share of the timed window, so
# the timed units come from more than one stretch of the run; on a shared
# host a slow stretch can last as long as one process.
PROCS = 2


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------------------
# Build
# ---------------------------------------------------------------------------

def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(r)
            if "target" not in os.path.relpath(d, r).split(os.sep) for f in fs)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".csv", ".json", ".java")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + driver with sbt; return the runtime classpath."""
    bdir = os.path.join(WORK, "build")
    os.makedirs(bdir, exist_ok=True)
    stamp, cp_file = os.path.join(bdir, "stamp"), os.path.join(bdir, "classpath")
    digest = source_hash()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log("building engine and driver (sbt)")
    with open(os.path.join(bdir, "sbt.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"],
                            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    lines = open(os.path.join(bdir, "sbt.log")).read().splitlines()
    cps = [l for l in lines if "perfbench" in l and os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed", 1)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return cps[-1]


# ---------------------------------------------------------------------------
# JVM driver
# ---------------------------------------------------------------------------

# the module opens the engine's build.sbt gives its forked JVMs
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def driver(cp, logname, **args):
    # the engine caches derived tables under java.io.tmpdir; every process
    # starts without them, as a fresh process on a fresh machine would
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", *ADD_OPENS, "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Driver"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    with open(os.path.join(WORK, logname), "w") as out:
        rc = subprocess.run(cmd, cwd=WORK, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    if rc != 0:
        sys.stderr.write("".join(open(os.path.join(WORK, logname)).readlines()[-40:]))
        fail(f"driver failed (exit {rc})", 1)


# ---------------------------------------------------------------------------
# Inputs (seeded, cached by seed and size)
# ---------------------------------------------------------------------------

def transcripts_table(cp, seed, turns, hours, cores):
    """`Transcripts.generate` + `writePartitioned`, in a driver process of its own."""
    path = os.path.join(WORK, "data", f"transcripts_s{seed}_n{turns}_h{hours}")
    if os.path.isdir(path):
        return path
    stage = path + ".stage"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    driver(cp, "gen.log", mode="gen", seed=seed, turns=turns, hours=hours,
           table=stage, work=WORK, cores=cores)
    os.rename(stage, path)
    return path


# ---------------------------------------------------------------------------
# Query tables
# ---------------------------------------------------------------------------

WORDS = ("row the query stream fast spark line small customer group value hash batch "
         "sort data big filter dup key agg scan slow table part a merge window order "
         "column join vector").split()


def query_data(seed, n_events, n_docs, n_vecs):
    """events / documents / embeddings in the shape of the engine's test tables."""
    path = os.path.join(WORK, "data", f"qdata_s{seed}_{n_events}_{n_docs}_{n_vecs}")
    if os.path.isdir(path):
        return path
    rng = np.random.default_rng(abs(seed))
    stage = path + ".stage"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_events))
    events = {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts_us": ts.astype(np.int64),
        "user_id": rng.integers(0, max(1, n_events // 66), n_events).astype(np.int64),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_events),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }
    n_words = rng.integers(10, 100, n_docs)
    texts = [" ".join(rng.choice(WORDS, n)) for n in n_words]
    docs = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "fr", "es", "zh"], n_docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    vecs = rng.normal(size=(n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array([v.astype(np.float32).tolist() for v in vecs], pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    }
    con = duckdb.connect()
    con.register("ev", pa.table(events))
    con.register("docs", pa.table(docs))
    con.register("emb", pa.table(emb))
    con.execute(f"""COPY (SELECT event_id, make_timestamp(epoch_us(TIMESTAMP '2024-01-01') + ts_us)
                      AS ts, user_id, event_type, value, props FROM ev ORDER BY event_id)
                    TO '{stage}/events.parquet' (FORMAT parquet)""")
    con.execute(f"COPY (SELECT * FROM docs ORDER BY doc_id) TO '{stage}/documents.parquet' (FORMAT parquet)")
    con.execute(f"COPY (SELECT * FROM emb ORDER BY vec_id) TO '{stage}/embeddings.parquet' (FORMAT parquet)")
    os.rename(stage, path)
    return path


# ---------------------------------------------------------------------------
# References (DuckDB, cached next to the inputs)
# ---------------------------------------------------------------------------

def cached_json(path, compute):
    if os.path.exists(path):
        return json.load(open(path))
    value = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(value, f)
    os.replace(path + ".tmp", path)
    return value


def route_reference(table, route_sql, oracle_cte):
    """Per-sink counts: the q_route_counts oracle over the generated table.
    The table is a pure function of its name (seed, turns, hours)."""
    def compute():
        scan = ("SELECT conv_id, turn_idx, role, text, tool, ts FROM "
                f"read_parquet('{table}/**/*.parquet', hive_partitioning=true)")
        if oracle_cte not in route_sql:
            fail("q_route_counts oracle no longer embeds the transcripts CTE", 1)
        con = duckdb.connect()
        rows = con.sql(route_sql.replace(oracle_cte, scan)).fetchall()
        counts = {r: 0 for r in SINKS}
        counts.update({r: int(n) for r, n in rows})
        return {"turns": sum(counts.values()), "sinks": counts}
    return cached_json(os.path.join(WORK, "refs", os.path.basename(table) + ".json"), compute)


def checker():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check  # the repository's DuckDB correctness gate
    return check


def query_views(con, qdir):
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{qdir}/{t}.parquet'")


def digest(rows):
    return hashlib.sha256(json.dumps(rows).encode()).hexdigest()


def query_reference(qdir, oracle_sql, names):
    """Row count and normalized content digest of each query's oracle result."""
    check = checker()

    def compute():
        con = duckdb.connect()
        query_views(con, qdir)
        ref = {}
        for q in names:
            r = con.sql(oracle_sql[q])
            cols, rows, types = check.canon(r.columns, r.fetchall(), r.types)
            ref[q] = {"rows": len(rows), "digest": digest([cols, rows, types])}
        return ref
    key = hashlib.sha256(json.dumps([oracle_sql[q] for q in names]).encode()).hexdigest()[:16]
    return cached_json(os.path.join(qdir, f"ref_{key}.json"), compute)


def spark_result_digest(path):
    check = checker()
    con = duckdb.connect()
    r = con.sql(f"SELECT * FROM '{path}/*.parquet'")
    cols, rows, types = check.canon(r.columns, r.fetchall(), r.types)
    return {"rows": len(rows), "digest": digest([cols, rows, types])}


def readback(out):
    """Rows per sink table, read back from the pipeline's output."""
    con = duckdb.connect()
    counts = {}
    for s in SINKS:
        files = os.path.join(out, "sinks", f"route={s}", "**", "*.parquet")
        counts[s] = con.sql(f"SELECT count(*) FROM read_parquet('{files}')").fetchone()[0] \
            if os.path.isdir(os.path.join(out, "sinks", f"route={s}")) else 0
    return counts


# ---------------------------------------------------------------------------
# Checks
# ---------------------------------------------------------------------------

class Checks:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def __call__(self, ok, what):
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"WRONG OUTPUT: {what}")


def check_pipeline(chk, o, ref, partitions):
    n, sinks = ref["turns"], ref["sinks"]
    ok = (o["report_rows_in"] == n and o["report_sinks"] == sinks
          and o["report_processed"] == partitions
          and o["manifest_rows_in"] == n and o["manifest_rows_out"] == n
          and o["manifest_sinks"] == sinks and o["committed"] == partitions)
    chk(ok, f"pipeline run: manifest {o['manifest_rows_in']} rows {o['manifest_sinks']}, "
            f"report {o['report_rows_in']} {o['report_sinks']}, expected {n} {sinks}")


def check_incremental(chk, o, ref, partitions):
    n, sinks = ref["turns"], ref["sinks"]
    chk(o["manifest_rows_in"] == n and o["manifest_rows_out"] == n
        and o["manifest_sinks"] == sinks and o["committed"] == partitions,
        f"incremental run: manifest {o['manifest_rows_in']} rows {o['manifest_sinks']}, "
        f"{o['committed']} of {partitions} committed, expected {n} {sinks}")


def check_shuffle(chk, dedup_sum, regroup_sum, n):
    chk(dedup_sum == n and regroup_sum == n,
        f"shuffle: dedup {dedup_sum}, regroup {regroup_sum}, expected {n}")


def check_query(chk, o, qref):
    chk(o["rows"] == qref[o["query"]]["rows"],
        f"{o['query']}: {o['rows']} rows, expected {qref[o['query']]['rows']}")


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def family_of(q):
    for fam, prefixes in FAMILIES.items():
        if q.startswith(prefixes):
            return fam
    return None


def p90(xs):
    return statistics.quantiles(xs, n=10)[8] if len(xs) > 1 else median(xs)


def end_to_end(runs):
    units = {}
    for i, res in enumerate(runs):
        for o in res["ops"]:
            if o["phase"] == "timed":
                units[i, o["unit"]] = units.get((i, o["unit"]), 0.0) + o["wall_s"]
    return {
        "request_s": (median(list(units.values())), "s"),
        "setup_s": (median([res["setup_s"] for res in runs]), "s"),
    }


def per_layer(res, layer_turns, cores):
    p = res["probes"]
    m = {}
    reps = {}
    for c in p["cuts"]:
        reps.setdefault(c["rep"], {})[c["cut"]] = c
    w = lambda r, c: reps[r][c]["wall_s"]
    diffs = lambda a, b: median([w(r, a) - (w(r, b) if b else 0.0) for r in reps])
    m["model.scan_s"] = (diffs("scan", None), "s")
    m["parse.self_s"] = (diffs("parse", "scan"), "s")
    m["enrich.self_s"] = (diffs("enrich", "parse"), "s")
    m["route.self_s"] = (diffs("route", "enrich"), "s")
    m["pipeline.write_s"] = (diffs("write", "route"), "s")
    m["pipeline.overhead_s"] = (diffs("run", "write"), "s")
    runs = [reps[r]["run"] for r in reps]
    m["pipeline.jobs"] = (median([r["counters"]["jobs"] for r in runs]), "count")
    m["pipeline.manifest_commits"] = (median([r["commits"] for r in runs]), "count")
    m["pipeline.files_written"] = (median([r["files"] for r in runs]), "count")
    m["pipeline.out_bytes_per_turn"] = (median([r["out_bytes"] for r in runs]) / layer_turns, "B")
    m["pipeline.cpu_s_per_mturn"] = (
        median([r["counters"]["cpu_s"] for r in runs]) / (layer_turns / 1e6), "s")
    inc = p["incremental"]
    m["pipeline.incremental_s"] = (inc["wall_s"], "s")
    m["pipeline.groups"] = (inc["groups"], "count")
    m["pipeline.attempts"] = (inc["attempts"], "count")
    m["pipeline.incremental_jobs"] = (inc["counters"]["jobs"], "count")
    route = median([reps[r]["route"]["wall_s"] for r in reps])
    m["pipeline.scaling_eff_1_to_4"] = (p["route_local1_s"] / (cores * route), "ratio")
    for c in ("scan", "parse", "enrich", "route", "write"):
        cs = [reps[r][c]["counters"] for r in reps]
        m[f"cut.{c}.cpu_s"] = (median([x["cpu_s"] for x in cs]), "s")
        m[f"cut.{c}.records_read"] = (median([x["records_read"] for x in cs]), "count")
        m[f"cut.{c}.bytes_written"] = (median([x["bytes_written"] for x in cs]), "B")
        m[f"cut.{c}.tasks"] = (median([x["tasks"] for x in cs]), "count")
    sh = p["shuffle"]
    m["agg.dedup_s"] = (median([x["dedup_s"] for x in sh]), "s")
    m["enrich.regroup_s"] = (median([x["regroup_s"] for x in sh]), "s")
    m["agg.shuffle_bytes"] = (median([x["dedup_counters"]["shuffle_write"]
                                      + x["regroup_counters"]["shuffle_write"] for x in sh]), "B")
    m["agg.spill_bytes"] = (median([x["dedup_counters"]["spill"]
                                    + x["regroup_counters"]["spill"] for x in sh]), "B")
    m["agg.reduce_skew"] = (median([x["dedup_counters"]["reduce_skew"] for x in sh]), "ratio")
    queries = p["queries"] or [o for o in res["ops"] if o["phase"] == "timed"]
    m["query.p50_s"] = (median([o["wall_s"] for o in queries]), "s")
    m["query.p90_s"] = (p90([o["wall_s"] for o in queries]), "s")
    for fam in FAMILIES:
        m[f"{fam}.query_p50_s"] = (
            median([o["wall_s"] for o in queries if family_of(o["query"]) == fam]), "s")
    m["floor.control_s"] = (median(res["floors_s"]), "s")
    m["jvm.peak_rss_mb"] = (res["peak_rss_kb"] / 1024.0, "MB")
    timed = [o for o in res["ops"] if o["phase"] == "timed"]
    on = median([o["wall_s"] for o in timed if o["listener"]])
    off = median([o["wall_s"] for o in timed if not o["listener"]])
    m["trace.overhead_frac"] = (on / off - 1.0 if off else 0.0, "ratio")
    return m


def cpu_ticks():
    """(steal, total) CPU ticks of the machine, or None where unavailable."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return v[7] if len(v) > 7 else 0, sum(v)


# ---------------------------------------------------------------------------
# Main
# ---------------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=tuple(SCALES), default="default")
    # self-test hook: add one to a reference count, which must be reported
    ap.add_argument("--plant-off-by-one", action="store_true")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check.py"))):
        fail("run from the root of a checkout of the engine (build.sbt, src/, tools/check.py)")

    scale = SCALES[a.scale]
    cores = os.cpu_count() or 1
    cp = build()

    w = a.workload
    trace = a.trace == 1
    if w == "pipeline_bulk":
        turns, hours = scale["bulk"]
    else:
        turns, hours = scale["layer_small"]
    need_table = w != "query_mix" or trace
    need_qdata = w == "query_mix" or trace
    table = transcripts_table(cp, a.seed, turns, hours, cores) if need_table else ""
    qdir = query_data(a.seed, *scale["query"]) if need_qdata else ""
    panel = PANEL if need_qdata else []

    args = dict(workload=w, seed=a.seed, trace=a.trace, work=WORK, cores=cores,
                table=table, qdir=qdir, queries=",".join(panel))
    result_path = os.path.join(WORK, "result.json")
    if os.path.exists(os.path.join(WORK, "spans.json")):
        os.remove(os.path.join(WORK, "spans.json"))
    chk = Checks()
    ref = qref = None
    runs = []
    ticks0 = cpu_ticks()
    procs = 1 if trace else PROCS
    for i in range(procs):
        for stale in ("sink_out", "incr_out", "query_results"):
            shutil.rmtree(os.path.join(WORK, stale), ignore_errors=True)
        if os.path.exists(result_path):
            os.remove(result_path)
        driver(cp, f"run{i}.log", seconds=a.seconds / procs, result=result_path, **args)
        res = json.load(open(result_path))
        runs.append(res)

        # ---- references and checks ----
        if table and ref is None:
            ref = route_reference(table, res["oracle_sql"]["q_route_counts"], res["oracle_cte"])
            ref = {"turns": ref["turns"], "sinks": dict(ref["sinks"])}
            if a.plant_off_by_one:
                ref["sinks"]["sink_errors"] += 1
            partitions = sum(1 for d, _, _ in os.walk(table)
                             if os.path.basename(d).startswith("hour="))
        if qdir and qref is None:
            qref = query_reference(qdir, res["oracle_sql"], panel)
            if a.plant_off_by_one:
                qref = {q: dict(v) for q, v in qref.items()}
                qref[panel[0]]["rows"] += 1
        for o in res["ops"]:
            if "query" in o:
                check_query(chk, o, qref)
            else:
                check_pipeline(chk, o, ref, partitions)
        if trace:
            p = res["probes"]
            for c in p["cuts"]:
                if c["cut"] == "run":
                    check_pipeline(chk, c, ref, partitions)
            check_incremental(chk, p["incremental"], ref, partitions)
            for x in p["shuffle"]:
                check_shuffle(chk, x["dedup_sum"], x["regroup_sum"], ref["turns"])
            for o in p["queries"]:
                check_query(chk, o, qref)
        out = os.path.join(WORK, "sink_out")
        if os.path.isdir(os.path.join(out, "_manifest")):
            got = readback(out)
            chk(got == ref["sinks"], f"sink tables read back {got}, expected {ref['sinks']}")
        if w == "query_mix":
            for q in panel:
                got = spark_result_digest(os.path.join(WORK, "query_results", q))
                chk(got == qref[q], f"{q}: result content differs from the DuckDB oracle")
    ticks1 = cpu_ticks()

    # ---- metrics ----
    floors = [f for res in runs for f in res["floors_s"]]
    log(f"floor control: median {median(floors):.4f} s, min {min(floors):.4f} s, "
        f"max {max(floors):.4f} s over {len(floors)} timed units")
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        log(f"CPU steal: {(ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]):.3f} of CPU time")
    log("set-up samples: " + ", ".join(f"{res['setup_s']:.3f} s" for res in runs))
    if trace:
        metrics = per_layer(runs[0], ref["turns"], cores)
    else:
        metrics = end_to_end(runs)
    print(json.dumps({
        "correct": chk.failed == 0,
        "attempted": chk.attempted,
        "failed": chk.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
