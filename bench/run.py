#!/usr/bin/env python3
"""graft benchmark: one workload per call, closed loop, one client.

    python3 bench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Run from the root of a checkout. The first call builds the library and the
harness (``bench/harness``, an sbt package of its own) into
``$CARGO_TARGET_DIR`` (default ``.bench_build``); later calls reuse the
build while the sources are unchanged. Each call then

1. generates the workload's inputs from ``--seed`` (``bench/gen.py``);
2. runs ``graftbench.Main`` on ``local[N]``, N = min(4, cores): repeated
   set-ups, one untimed warm-up pass, timed passes for ``--seconds``;
3. checks the outputs: each op's warm-up result against its oracle SQL
   replayed in DuckDB, the staged ETL tables against the generator's raw
   files, the loaded ETL tables against ``Etl.*Sql`` replayed on those
   raw files and the expected row counts, and every execution's result
   hash against the first;
4. prints a host and contention record, the failed ops by name, and as
   the last line one JSON object: ``correct``, ``attempted``, ``failed``
   and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
   metrics of a traced run with ``--trace 1``).
"""
import argparse
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

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ beside the sources
import gen  # noqa: E402

# Input sizes, kept small by the time a run may take: each run pays a
# fresh JVM, repeated set-ups and a warm-up pass before anything is timed.
# Scale factors follow tools/gen_sf.py (sf0.1 = 600k lineitem rows); the
# ETL inputs are 10k events and 60k inventory rows per 0.01.
WORKLOADS = {
    "etl_star_load": {"kind": "etl", "sf": 0.02},
    "iterative_ops": {"kind": "star", "sf": 0.01},
}
CORES = max(1, min(4, os.cpu_count() or 1))
HEAP = "4g"
RUN_LIMIT_S = 150  # harness and inputs; the checks take a few seconds more
CALIB_CLEAN_S = 0.2  # graft.Bench's CalibCleanSec for the same per-core job
BUILD_LIMIT_S = 850

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def die(msg):
    print(f"bench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build ---------------------------------------------------------------

def _sources():
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "harness", "build.sbt"),
             os.path.join(HERE, "harness", "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness", "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build(build_dir):
    """Compiles the library and the harness; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"))):
        die(f"no graft sources under {ROOT}: run from the root of a full checkout")
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "classpath.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        p = _start(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "export harness/Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
            stderr=out, text=True)
        try:
            text, _ = p.communicate(timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            _kill(p)
            die(f"build timed out after {BUILD_LIMIT_S} s (log: {log})")
        out.write(text)
    lines = [ln.strip() for ln in text.splitlines() if "scala-library" in ln and ".jar" in ln]
    if p.returncode != 0 or not lines:
        die(f"build failed (exit {p.returncode}); see {log}")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


_children = []


def _kill(p):
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def _on_signal(signum, _frame):
    """Takes the build or the harness down with this process."""
    for p in _children:
        if p.poll() is None:
            _kill(p)
    sys.exit(128 + signum)


def _start(cmd, **kw):
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    _children.append(p)
    return p


# ---- inputs --------------------------------------------------------------

def inputs(build_dir, workload, seed):
    sf, kind = WORKLOADS[workload]["sf"], WORKLOADS[workload]["kind"]
    d = os.path.join(build_dir, "data", workload)
    mf = os.path.join(d, "stage" if kind == "etl" else "", "manifest.json")
    if os.path.isfile(mf):
        m = json.load(open(mf))
        if m.get("seed") == seed and m.get("sf") == sf:
            return d, m
    shutil.rmtree(d, ignore_errors=True)
    if kind == "etl":
        return d, gen.etl(d, sf, seed)
    return d, gen.star(d, sf, seed)


# ---- checks --------------------------------------------------------------

def canon(df):
    """Columns by name, rows sorted by every column (tools/check_oracle.py)."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def compare(got, want):
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        a, b = got[c].astype(str), want[c].astype(str)
        if not (a == b).all():
            i = (a != b).idxmax()
            return f"column {c}: first difference at row {i}: {a[i]!r} != {b[i]!r}"
    return None


def check_queries(con, out, res):
    errs = {}
    for name, sql in res["oracle_sql"].items():
        if not os.path.isdir(f"{out}/results/{name}"):
            continue  # the op failed in the first pass; reported with its error
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{out}/results/{name}/*.parquet')").df()
            e = compare(got, con.execute(sql).df())
        except Exception as ex:  # noqa: BLE001
            e = f"oracle compare raised: {ex}"
        if e:
            errs[name] = e
    return errs


def check_etl(con, data, out, res, manifest):
    """Checks the staged and loaded ETL tables against the generator's raw
    files, which the oracles read directly: a fault in the extract shows in
    the staged tables and in every fact built from them."""
    errs = {}
    stage = os.path.join(data, "stage")
    for t in ("part", "customer"):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{stage}/{t}.parquet')")
    # events: the JSON lines; lineitem: the inventory CSVs, dated by the
    # day in each object's name
    con.execute(f"""CREATE OR REPLACE VIEW events AS SELECT * FROM read_json(
        '{data}/raw/events/*.jsonl', format = 'newline_delimited',
        columns = {{event_id: 'BIGINT', ts: 'TIMESTAMP', user_id: 'BIGINT',
                   event_type: 'VARCHAR', value: 'DOUBLE', props: 'VARCHAR'}})""")
    con.execute(f"""CREATE OR REPLACE VIEW lineitem AS SELECT
        l_partkey, l_suppkey, l_quantity,
        CAST(regexp_extract(filename, 'inventory_([0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}})[.]csv$', 1) AS DATE)
          AS l_shipdate
        FROM read_csv('{data}/raw/inventory/*/*/*.csv', header = true, filename = true,
          columns = {{l_partkey: 'BIGINT', l_suppkey: 'BIGINT', l_quantity: 'DOUBLE'}})""")
    n = {k: v["rows"] for k, v in manifest["inputs"].items()}
    staged = {
        "extract_events": (n["events"], "events",
                           "event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props"),
        "extract_inventory": (n["inventory"], "lineitem",
                              "l_partkey, l_suppkey, l_quantity, l_shipdate")}
    for name, (rows, t, cols) in staged.items():
        try:
            q = f"SELECT {cols} FROM {{}}"
            got = con.execute(q.format(f"read_parquet('{stage}/{t}.parquet/*.parquet')")).df()
            e = compare(got, con.execute(q.format(t)).df())
            if e is None and len(got) != rows:
                e = f"rows {len(got)} != {rows} input rows"
        except Exception as ex:  # noqa: BLE001
            e = f"raw compare raised: {ex}"
        if e:
            errs[name] = f"staged {t}: {e}"
    expect_rows = {"dim_products": n["part"], "dim_customers": n["customer"],
                   "fact_sales": n["events"]}
    for name, sql in res["oracle_sql"].items():
        try:
            got = con.execute(
                f"SELECT * EXCLUDE (ym) FROM read_parquet('{out}/etl/{name}/*/*.parquet', hive_partitioning = true)"
                if name.startswith("fact_") else
                f"SELECT * FROM read_parquet('{out}/etl/{name}/*.parquet')").df()
            e = compare(got, con.execute(sql).df())
            if e is None and name in expect_rows and len(got) != expect_rows[name]:
                e = f"rows {len(got)} != {expect_rows[name]} input rows"
        except Exception as ex:  # noqa: BLE001
            e = f"oracle compare raised: {ex}"
        if e:
            errs[f"readback_{name}"] = e
    return errs


# ---- main ----------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def nearest_rank(xs, q):
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _on_signal)

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = build(build_dir)
    started = time.monotonic()
    data, manifest = inputs(build_dir, a.workload, a.seed)
    t_gen = time.monotonic()

    out = os.path.join(build_dir, "out", a.workload)
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--data", data,
              "--out", out, "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(CORES)])
    log = os.path.join(build_dir, f"jvm-{a.workload}.log")
    with open(log, "w") as lf:
        p = _start(cmd, cwd=out, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(10, RUN_LIMIT_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            _kill(p)
            die(f"harness timed out (log: {log})")
    res_file = os.path.join(out, "result.json")
    if p.returncode != 0 or not os.path.isfile(res_file):
        die(f"harness exited {p.returncode} (log: {log})")
    res = json.load(open(res_file))
    t_jvm = time.monotonic()

    # ---- correctness
    failures = {}
    con = duckdb.connect()
    con.execute(f"SET threads TO {CORES}")
    if WORKLOADS[a.workload]["kind"] == "etl":
        failures.update(check_etl(con, data, out, res, manifest))
    else:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        failures.update(check_queries(con, out, res))
    runs = res["runs"]
    bad_runs = [r for r in runs if not r["ok"]]
    for r in bad_runs:
        failures.setdefault(r["op"], f"pass {r['pass']}: {r['err']}")
    attempted = len(runs)

    # ---- metrics: untraced executions only
    timed = [r for r in runs if r["pass"] > 0 and not r["traced"]]
    passes = {}
    for r in timed:
        passes[r["pass"]] = passes.get(r["pass"], 0.0) + r["s"]
    lat = [r["s"] for r in timed]
    run_s = median(list(passes.values()))
    reps = [s + w for s, w in zip(res["session_start_s"], res["warm_up_s"])]
    if a.trace:
        vals = dict(res["layers"], **{"jvm.peak_rss_mb": res["peak_rss_mb"]})
        # the layer self times must account for the traced pass's time
        got, want = vals["trace.attributed_s"], vals["run_s.traced"]
        if abs(got - want) > 0.01 * want + 0.005:
            failures["trace"] = f"layer self times add up to {got:.4f} s, run_s.traced is {want:.4f} s"
    else:
        vals = {"setup_s": median(reps) + res["training_s"], "run_s": run_s,
                "rows_per_s": manifest["rows"] / run_s, "heap_live_mb": res["heap_live_mb"]}
    # names and units as BENCHMARK.json declares them
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in vals]
    if missing:
        die(f"harness reported no value for {missing}")
    metrics = {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]} for m in declared}

    failed = len(bad_runs) + len(set(failures) - {r["op"] for r in bad_runs})
    t_check = time.monotonic()
    host = res["host"]
    # contended: the host slowed down during the run, or was slow
    # throughout (twice the clean-host time Bench.calibrationSec records)
    cb, ca = host["calib_before_s"], host["calib_after_s"]
    host["contended"] = ca > 1.5 * cb or min(cb, ca) >= 2 * CALIB_CLEAN_S
    record = {"workload": a.workload, "seed": a.seed, "sf": WORKLOADS[a.workload]["sf"],
              "input_rows": manifest["rows"], "input_bytes": manifest["bytes"],
              "passes": len(passes), "ops_per_pass": len(res["ops"]),
              "pass_s": [passes[k] for k in sorted(passes)],
              "op_p50_s": {op: median([r["s"] for r in timed if r["op"] == op]) for op in res["ops"]},
              "op_samples": len(lat), "query_p50_s": median(lat),
              "query_p90_s": nearest_rank(lat, 0.9) if lat else None,
              "peak_rss_mb": res["peak_rss_mb"],
              "setup_reps_s": reps, "training_s": res["training_s"], "host": host,
              "wall_s": {"inputs": t_gen - started, "harness": t_jvm - t_gen,
                         "checks": t_check - t_jvm}}
    if a.trace:
        record["trace_attributed_s"] = vals["trace.attributed_s"]
    print("run " + json.dumps(record, sort_keys=True))
    print(f"ops_failed_ratio {failed / attempted:.6f} ({failed} of {attempted} ops)")
    for name, why in sorted(failures.items()):
        print(f"FAILED {name}: {why}")
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
