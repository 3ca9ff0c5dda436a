#!/usr/bin/env python3
"""graphdspark benchmark: one command, three workloads.

    python3 perfbench/run.py --workload batch|serve|session --seed N \
        --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the engine
and the harness with sbt (cached in .bench_build/ by a hash of the
sources), then every run starts one fresh JVM for the workload, checks
its outputs, prints a report and, as the last line of standard output,
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. A wrong output or a failed op makes the
exit code 1.

`python3 perfbench/run.py --self-test` runs the harness's own tests.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
FIXTURE = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("batch", "serve", "session")
# each run must end within this many seconds; the build gets its own
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 600
XMX = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def die(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


# -- build ---------------------------------------------------------------

def source_files():
    """Every file the build reads from the checkout, sorted."""
    out = []
    for base in ("src/main", os.path.join("perfbench", "src")):
        for d, _, fs in os.walk(os.path.join(ROOT, base)):
            out += [os.path.join(d, f) for f in fs]
    for f in ("build.sbt", "project/build.properties",
              "perfbench/build.sbt", "perfbench/project/build.properties"):
        out.append(os.path.join(ROOT, f))
    return sorted(out)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(stamp):
    """Compile engine and harness once per source hash; returns the
    runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"], False
    log("perfbench: building engine and harness with sbt ...")
    t = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_LIMIT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "[error]" in proc.stdout:
        log(proc.stdout[-4000:])
        die("build failed")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    log(f"perfbench: built in {time.time() - t:.0f}s")
    return classpath, True


# -- data ----------------------------------------------------------------

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def serve_data():
    """The serving corpus, written once per checkout: the fixture with its
    customers replicated 10x under fresh keys (15,000 customers, each name
    carrying its key as a word) and each order re-assigned so that every
    customer has placed exactly one. Line items are left out: no serving
    shape reads them, and they would only lengthen every set-up."""
    import duckdb
    out = os.path.join(BUILD, "data", "serve-v3")
    done = os.path.join(out, "_done")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    con = duckdb.connect()
    src = lambda t: f"'{FIXTURE}/{t}.parquet'"  # noqa: E731
    ncust = 10 * con.sql(f"SELECT count(*) FROM {src('customer')}").fetchone()[0]
    q = {
        "customer": f"""SELECT c_custkey + r * {ncust // 10} AS c_custkey,
              'Customer#' || lpad(CAST(c_custkey + r * {ncust // 10} AS VARCHAR), 9, '0')
                AS c_name, c_nationkey, c_acctbal, c_mktsegment
            FROM {src('customer')}, (SELECT range AS r FROM range(10))
            ORDER BY c_custkey""",
        "orders": f"""SELECT o_orderkey, o_orderkey % {ncust} AS o_custkey, o_orderstatus,
              o_totalprice, o_orderdate, o_orderpriority
            FROM {src('orders')} ORDER BY o_orderkey""",
    }
    for t in ("region", "nation", "supplier", "part"):
        q[t] = f"SELECT * FROM {src(t)}"
    q["lineitem"] = f"SELECT * FROM {src('lineitem')} WHERE false"
    for t, sql in q.items():
        con.execute(f"COPY ({sql}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
    have = con.sql(f"SELECT count(DISTINCT o_custkey) FROM '{out}/orders.parquet'").fetchone()[0]
    if have != ncust:
        die(f"serving corpus: {have} of {ncust} customers have an order")
    open(done, "w").close()
    return out


def oracle_counts(oracle_sql):
    """DuckDB row count of each gate's oracle SQL over the fixture,
    cached per SQL text."""
    import duckdb
    cache_file = os.path.join(BUILD, "oracle_counts.json")
    cache = {}
    if os.path.exists(cache_file):
        with open(cache_file) as f:
            cache = json.load(f)
    con = None
    out = {}
    for name, sql in oracle_sql.items():
        key = hashlib.sha256(sql.encode()).hexdigest()
        if key not in cache:
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    p = os.path.join(FIXTURE, f"{t}.parquet")
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            try:
                cache[key] = con.sql(f"SELECT count(*) FROM ({sql}) AS q").fetchone()[0]
            except Exception as e:  # an oracle that cannot run checks nothing
                cache[key] = f"error: {e}"
        out[name] = cache[key]
    with open(cache_file, "w") as f:
        json.dump(cache, f)
    return out


# -- one JVM run -----------------------------------------------------------

def run_jvm(classpath, workload, seed, seconds, trace, deadline):
    data = serve_data() if workload == "serve" else FIXTURE
    run_dir = os.path.join(BUILD, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xmx{XMX}", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={run_dir}",
            "-cp", classpath, "perfbench.Main", workload, str(seed),
            str(seconds), str(trace), data, run_dir]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    res_file = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(res_file):
        with open(log_path) as f:
            log(f.read()[-6000:])
        shutil.rmtree(run_dir, ignore_errors=True)
        die(f"{workload} JVM " + ("timed out" if code is None else f"exited {code}"))
    with open(res_file) as f:
        res = json.load(f)
    if "op_latencies_file" in res:
        res["op_latencies_ns"] = metrics.read_longs(
            os.path.join(run_dir, res["op_latencies_file"]))
    if trace:
        res["span_rows"] = metrics.read_spans(os.path.join(run_dir, "spans.tsv"))
    shutil.rmtree(run_dir, ignore_errors=True)
    return res


def check_batch(res):
    """Each gate's row count must equal the DuckDB count of its oracle."""
    want = oracle_counts(res["oracle_sql"])
    checked = 0
    for g in res["gates"]:
        w = want.get(g["name"])
        if w is None or isinstance(w, str) or not g["ok"]:
            continue
        checked += 1
        res["attempted"]["check.oracle"] = res["attempted"].get("check.oracle", 0) + 1
        if g["rows"] != w:
            res["failed"]["check.oracle"] = res["failed"].get("check.oracle", 0) + 1
            res["failures"].append(f"check.oracle: {g['name']} has {g['rows']} rows, "
                                   f"DuckDB oracle {w}")
    res["oracle_checked"] = checked
    res["oracle_unrunnable"] = sorted(k for k, v in want.items() if isinstance(v, str))


# -- main ------------------------------------------------------------------

def git_commit():
    """HEAD of the checkout, when it is a git repository."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none (not a git checkout)"
    p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                       text=True, stdin=subprocess.DEVNULL)
    return p.stdout.strip() if p.returncode == 0 else "unknown"


def results_log(workload):
    return os.path.join(BUILD, "results", f"{workload}.jsonl")


def untraced_reference(args, classpath, deadline):
    """End-to-end metrics of untraced runs of this workload in this
    checkout, for the tracing overhead; runs one if there is none."""
    path = results_log(args.workload)
    rows = []
    if os.path.exists(path):
        with open(path) as f:
            rows = [json.loads(line) for line in f if line.strip()]
    if not rows:
        res = run_jvm(classpath, args.workload, args.seed, args.seconds, 0, deadline)
        rows = [metrics.end_to_end(res)]
    return {k: metrics.median([r[k] for r in rows]) for k in rows[0]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if args.self_test:
        sys.exit(metrics.self_test())
    if args.workload is None:
        die("--workload is required")
    start = time.time()
    if metrics.self_test(quiet=True) != 0:
        die("self-test failed")
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no engine sources next to perfbench/; run from a source checkout")
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    stamp = source_hash()
    classpath, built = build(stamp)
    deadline = (time.time() if built else start) + RUN_LIMIT_S
    res = run_jvm(classpath, args.workload, args.seed, args.seconds, args.trace,
                  deadline)
    if args.workload == "batch":
        check_batch(res)
    res["source_sha256"] = stamp
    res["commit"] = git_commit()
    e2e = metrics.end_to_end(res)
    out_metrics = metrics.units(e2e, metrics.E2E_UNITS)
    if args.trace:
        ref = untraced_reference(args, classpath, deadline)
        layers = metrics.per_layer(res, e2e, ref)
        out_metrics = metrics.units(layers, metrics.layer_units())
    else:
        with open(results_log(args.workload), "a") as f:
            f.write(json.dumps(e2e) + "\n")
    attempted = sum(res["attempted"].values())
    failed = sum(res["failed"].values())
    print(metrics.report(res, e2e))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))
    sys.stdout.flush()
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
