#!/usr/bin/env python3
"""Connector-first benchmark for this repository.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source with sbt (first run only,
keyed by a hash of the sources), generates the synthetic tables with the
program's own `graft.GenData`, runs one workload in a fresh JVM, checks the
outputs (the JVM checks the connector and streaming outputs; sampled batch
queries are compared with DuckDB here), and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end-to-end ones, with
--trace 1 its per-layer ones; a per-layer metric of the other workload's
layers reads 0 (see `applies`). Full per-round / per-query records and the
span file go to .bench_build/artifacts/<workload>-s<seed>-t<trace>/.
Everything the run writes stays under .bench_build/ in the checkout.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CORES = 4
HEAP = "3g"
EVENTS_SF = "0.1"  # events for the connector fixture
QUERY_SF = "0.01"  # tables for the batch-query sample
RUN_LIMIT_S = 170    # the workload's JVM, once built and prepared
FIRST_RUN_S = 880    # a first run in a checkout: build, data and workload

# per-layer metrics of the connector's layers; the traced sink_bulk run
# reports these and no others, the traced queries_sample run every other
# one, and both report the tracing overhead
SINK_LAYERS = ("StreamPipeline.", "engine.", "StrictConvert.", "TwoPhaseParquetSink.",
               "QuarantineLedger.", "task_s_per_batch", "executor_busy_frac", "replays",
               "useful_row_frac", "trace.round_", "trace.await_", "trace.trigger_",
               "trace.addBatch_")
BOTH = ("trace.overhead_ms_p50",)


def applies(workload, metric):
    return metric in BOTH or metric.startswith(SINK_LAYERS) == (workload == "sink_bulk")

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        full = os.path.join(ROOT, base)
        files = [full] if os.path.isfile(full) else sorted(
            f for f in glob.glob(os.path.join(full, "**", "*"), recursive=True) if os.path.isfile(f))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def run_logged(cmd, log_path, timeout, cwd, env=None):
    """Run `cmd` with output to `log_path`; kill its process group on timeout."""
    with open(log_path, "ab") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def remaining(t0):
    return FIRST_RUN_S - (time.monotonic() - t0)


def build(t0):
    """Compile program + harness once per source state; return the classpath."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"missing {need}: run from the root of a full checkout")
    stamp = source_hash(["build.sbt", "project/build.properties", "src/main",
                         "perfbench/build.sbt", "perfbench/project/build.properties",
                         "perfbench/src"])
    # one build directory, so only the last successful build is reusable
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        last = json.load(open(cp_file))
        if last["stamp"] == stamp:
            return last["classpath"]
        os.remove(cp_file)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log = os.path.join(BUILD, "logs", f"build-{stamp}.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "export Runtime/fullClasspath"]
    rc = run_logged(cmd, log, remaining(t0) - RUN_LIMIT_S - 120, HERE)
    text = open(log, errors="replace").read()
    lines = [l for l in text.splitlines() if "perfbench-target" in l and not l.startswith("[")]
    if rc != 0 or not lines:
        fail(f"build failed (exit {rc}); see {os.path.relpath(log, ROOT)}")
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, fh)
    return lines[-1].strip()


def java_cmd(cp, tmp, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            [f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, main] + args)


def ensure_data(cp, t0):
    """Generate the synthetic tables and the events export once per source
    state of the generators; returns the data directory."""
    stamp = source_hash(["src/main/scala/graft/GenData.scala",
                         "perfbench/src/main/scala/perfbench/Prepare.scala",
                         "perfbench/src/main/scala/perfbench/Envelopes.scala"])
    d = os.path.join(BUILD, "data", stamp)
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    tmp = os.path.join(BUILD, "tmp", f"prepare-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES))
    args = [os.path.join(d, "events.tsv")] + [f"{sf}={os.path.join(d, 'sf' + sf)}"
                                              for sf in (EVENTS_SF, QUERY_SF)]
    rc = run_logged(java_cmd(cp, tmp, "perfbench.Prepare", args),
                    os.path.join(BUILD, "logs", f"prepare-{stamp}.log"),
                    remaining(t0) - RUN_LIMIT_S, tmp, env)
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        fail(f"data preparation failed (exit {rc})")
    open(os.path.join(d, "_DONE"), "w").close()
    return d


TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def canon(v):
    import datetime
    import decimal
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    return v


def ulps_eq(a, b):
    import struct
    if a == b:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return False
        ia = struct.unpack("<q", struct.pack("<d", a))[0]
        ib = struct.unpack("<q", struct.pack("<d", b))[0]
        if ia < 0:
            ia = -(1 << 63) - ia
        if ib < 0:
            ib = -(1 << 63) - ib
        return abs(ia - ib) <= 2
    if isinstance(a, tuple) and isinstance(b, tuple) and len(a) == len(b):
        return all(ulps_eq(x, y) for x, y in zip(a, b))
    return False


def sort_key(row):
    return tuple((x is None, repr(x)) for x in row)


def compare_queries(data_dir, results_dir):
    """DuckDB oracle compare of every sampled query's Spark output (one
    directory per query and pass, named in oracle_sql.json): column
    set, Arrow types (benign width/tz differences ignored), row count, and
    the rows as a multiset (doubles within 2 ulp). Returns {name: error}."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{os.path.join(results_dir, '_duck_tmp')}'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    oracle = json.load(open(os.path.join(results_dir, "oracle_sql.json")))

    def ntype(t):
        s = str(t).replace("large_string", "string").replace("large_binary", "binary")
        return "timestamp" if s.startswith("timestamp") else s

    errors = {}
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        if not files:
            errors[name] = "no spark result"
            continue
        try:
            spark_tbl = pa.concat_tables([pq.read_table(f) for f in files])
            duck = con.execute(sql).fetch_arrow_table()
        except Exception as e:  # noqa: BLE001 - any oracle failure is a mismatch
            errors[name] = f"oracle error: {e}"[:300]
            continue
        s_cols, d_cols = sorted(spark_tbl.column_names), sorted(duck.column_names)
        if s_cols != d_cols:
            errors[name] = f"columns differ: {s_cols} vs {d_cols}"[:300]
            continue
        s_types = {f.name: ntype(f.type) for f in spark_tbl.schema}
        d_types = {f.name: ntype(f.type) for f in duck.schema}
        mism = {c: (s_types[c], d_types[c]) for c in s_cols if s_types[c] != d_types[c]}
        if mism:
            errors[name] = f"arrow types differ: {mism}"[:300]
            continue
        if spark_tbl.num_rows != duck.num_rows:
            errors[name] = f"rows differ: spark={spark_tbl.num_rows} duckdb={duck.num_rows}"
            continue
        s_rows = sorted((tuple(canon(r[c]) for c in s_cols) for r in spark_tbl.to_pylist()), key=sort_key)
        d_rows = sorted((tuple(canon(r[c]) for c in d_cols) for r in duck.to_pylist()), key=sort_key)
        if s_rows != d_rows and not all(ulps_eq(a, b) for a, b in zip(s_rows, d_rows)):
            n = sum(1 for a, b in zip(s_rows, d_rows) if not ulps_eq(a, b))
            errors[name] = f"{n} rows differ"
    con.close()
    return errors


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops the JVM it started (see run_logged)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("missing BENCHMARK.json: run from the root of a full checkout")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = [w["name"] for w in spec["workloads"]]
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload!r}; one of {', '.join(workloads)}")

    t0 = time.monotonic()
    cp = build(t0)
    data = ensure_data(cp, t0)
    started = time.monotonic()
    qdata = os.path.join(data, "sf" + QUERY_SF)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    tmp = os.path.join(BUILD, "tmp", f"{tag}-{os.getpid()}")
    art = os.path.join(BUILD, "artifacts", tag)
    shutil.rmtree(art, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(art)
    out = os.path.join(tmp, "result.json")
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace),
                "--data", qdata if a.workload == "queries_sample" else os.path.join(data, "events.tsv"),
                "--tmp", os.path.join(tmp, "work"),
                "--artifacts", art, "--out", out, "--cores", str(CORES)]
        budget = min(RUN_LIMIT_S - (time.monotonic() - started), remaining(t0))
        rc = run_logged(java_cmd(cp, tmp, "perfbench.Main", args), os.path.join(art, "jvm.log"),
                        budget, tmp)
        if rc != 0 or not os.path.exists(out):
            fail(f"workload run failed (exit {rc}); see {os.path.relpath(art, ROOT)}/jvm.log")
        res = json.load(open(out))
        if a.workload == "queries_sample":
            errors = compare_queries(qdata, os.path.join(tmp, "work", "results"))
            res["checks"].append({"name": "queries.match_duckdb", "ok": not errors,
                                  "detail": json.dumps(errors)[:2000]})
            res["failed"] += len(errors)
            res["correct"] = res["correct"] and not errors
        with open(os.path.join(art, "result.json"), "w") as fh:
            json.dump(res, fh, indent=1, sort_keys=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    names = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    got = res["metrics"]
    for k in got:
        if k not in names or (a.trace and not applies(a.workload, k)):
            fail(f"workload reported unexpected metric {k}")
    metrics = {}
    for k, unit in names.items():
        if a.trace and not applies(a.workload, k):
            v = 0.0  # a layer of the other workload
        else:
            v = got.get(k)
            if not isinstance(v, (int, float)) or not math.isfinite(v):
                fail(f"workload reported {k} = {v!r}")
        metrics[k] = {"value": v, "unit": unit}
    for c in res["checks"]:
        if not c["ok"]:
            print(f"perfbench: check {c['name']} failed: {c['detail']}", file=sys.stderr)
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}, separators=(",", ":")))


if __name__ == "__main__":
    main()
