"""Metric arithmetic for the benchmark: percentiles and the tail rule,
span self time, the end-to-end and per-layer metric sets, the report,
and the harness's own self-tests (`python3 perfbench/run.py --self-test`).
"""
import json
import math
import os
import statistics
import sys

import numpy as np

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                              "BENCHMARK.json")

# the tail is the highest whole percentile, from p99 down to p50, with
# at least TAIL_BEYOND samples beyond it
TAIL_MAX = 99
TAIL_BEYOND = 10

E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "op_p50_ms": "ms",
             "op_tail_ms": "ms"}

MODULES = ("graph", "plan.cursor", "operators.dedup", "store.dump", "gql",
           "operators.multimodal", "operators.pipeline", "queries.relational",
           "operators.similarity", "streaming", "operators.text", "write.bulk")

# spans the harness records, across the three workloads
SPAN_NAMES = ("gate", "queries.build", "exec.count", "serve.request",
              "serve.serve", "plan.fallback", "round", "write.append",
              "write.upsert", "gql.read", "gql.parse", "plan.build",
              "exec.collect")

EXEC_COUNTERS = (("exec.jobs", "jobs", 1, "count"), ("exec.stages", "stages", 1, "count"),
                 ("exec.tasks", "tasks", 1, "count"),
                 ("exec.task_cpu_s", "task_cpu_ns", 1e-9, "s"),
                 ("exec.gc_s", "gc_ms", 1e-3, "s"),
                 ("exec.shuffle_write_bytes", "shuffle_write_bytes", 1, "bytes"),
                 ("exec.shuffle_records", "shuffle_records", 1, "count"),
                 ("exec.spill_bytes", "spill_bytes", 1, "bytes"))


def layer_units():
    """Every per-layer metric, in output order, with its unit."""
    u = {"queries.build_s": "s", "queries.build_jobs": "count",
         "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
         "catalyst.planning_s": "s", "exec.run_s": "s"}
    u.update({name: unit for name, _, _, unit in EXEC_COUNTERS})
    for m in MODULES:
        u.update({f"{m}.build_s": "s", f"{m}.exec_s": "s", f"{m}.build_jobs": "count"})
    u.update({"store.adapter_build_s": "s", "serve.index_build_s": "s",
              "gql.parse_us": "us", "serve.probe_us": "us",
              "serve.fallback_share": "ratio", "serve.rows_per_read": "count",
              "serve.repeat_text_share": "ratio", "jvm.gc_s": "s",
              "jvm.alloc_mb": "MB", "jvm.heap_mb": "MB", "jvm.cpu_s": "s",
              "host.steal_s": "s", "write.append_ms": "ms",
              "write.upsert_ms": "ms", "store.rows": "count", "plan.build_ms": "ms",
              "exec.collect_ms": "ms", "exec.jobs_per_read": "count",
              "trace.spans": "count"})
    u.update({f"self.{s}_s": "s" for s in SPAN_NAMES})
    u.update({f"trace.overhead.{k}": v for k, v in E2E_UNITS.items()})
    return u


# -- statistics ------------------------------------------------------------

def median(xs):
    return statistics.median(xs)


def percentile(sorted_xs, q):
    """Nearest-rank percentile of an ascending list."""
    n = len(sorted_xs)
    rank = max(1, math.ceil(q / 100 * n))
    return sorted_xs[rank - 1]


def beyond(n, q):
    """Samples strictly beyond the nearest-rank q-th percentile of n."""
    return n - max(1, math.ceil(q / 100 * n))


def tail_percentile(n):
    """The highest whole percentile up to TAIL_MAX with at least
    TAIL_BEYOND samples beyond it, or None when not even p50 has."""
    for q in range(TAIL_MAX, 49, -1):
        if beyond(n, q) >= TAIL_BEYOND:
            return q
    return None


def pname(q):
    return f"p{q:g}".replace(".", "_")


# -- spans -----------------------------------------------------------------

def read_longs(path):
    return np.fromfile(path, dtype="<i8")


def read_spans(path):
    """(id, parent, req, name, start_ns, end_ns) per line."""
    out = []
    with open(path) as f:
        for line in f:
            i, p, r, name, s, e = line.rstrip("\n").split("\t")
            out.append((int(i), int(p), int(r), name, int(s), int(e)))
    return out


def covered(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, end = 0, lo
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total


def self_times(spans):
    """name → (count, total duration ns, total self ns). A span's self
    time is its duration minus the part its children cover."""
    kids = {}
    for sid, parent, _, _, s, e in spans:
        if parent:
            kids.setdefault(parent, []).append((s, e))
    out = {}
    for sid, _, _, name, s, e in spans:
        own = (e - s) - covered(s, e, kids.get(sid, []))
        c, d, o = out.get(name, (0, 0, 0))
        out[name] = (c + 1, d + (e - s), o + own)
    return out


# -- metric sets -------------------------------------------------------------

def setup_seconds(res):
    """process start → first timed op ready: session start, the median of
    the repeated workload set-ups, and the warm-up (serve)."""
    return (res["session_start_s"] + median(res["setup_repeats_s"])
            + res.get("warmup_s", 0.0))


def latency_metrics(lat_ns, seconds):
    """Throughput, median and tail of one timed region."""
    lat = np.sort(np.asarray(lat_ns))
    q = tail_percentile(len(lat)) or 50
    return {"ops_per_s": len(lat) / seconds,
            "op_p50_ms": float(percentile(lat, 50)) / 1e6,
            "op_tail_ms": float(percentile(lat, q)) / 1e6}


def end_to_end(res):
    return {"setup_s": setup_seconds(res),
            **latency_metrics(res["op_latencies_ns"], res["timed_s"])}


def units(values, unit_map):
    return {k: {"value": values[k], "unit": u} for k, u in unit_map.items()}


def per_layer(res, e2e, ref):
    st = self_times(res.get("span_rows", []))
    dur = lambda n: st.get(n, (0, 0, 0))[1]  # noqa: E731
    cnt = lambda n: st.get(n, (0, 0, 0))[0]  # noqa: E731
    mean_ms = lambda n: dur(n) / cnt(n) / 1e6 if cnt(n) else 0.0  # noqa: E731
    gates = res.get("gates", [])
    spark = res.get("spark") or {}
    build = {k: sum(g.get("build", {}).get(k, 0) for g in gates) for k in spark}
    ops = max(1, res["ops"])
    out = {
        "queries.build_s": dur("queries.build") / 1e9,
        "queries.build_jobs": build.get("jobs", 0),
        "catalyst.analysis_s": spark.get("analysis_ms", 0) / 1e3,
        "catalyst.optimization_s": spark.get("optimization_ms", 0) / 1e3,
        "catalyst.planning_s": spark.get("planning_ms", 0) / 1e3,
        "exec.run_s": (dur("exec.count") + dur("exec.collect") + dur("plan.fallback")) / 1e9,
    }
    for name, key, scale, _ in EXEC_COUNTERS:
        out[name] = (spark.get(key, 0) - build.get(key, 0)) * scale
    for m in MODULES:
        mine = [g for g in gates if g["module"] == m]
        out[f"{m}.build_s"] = sum(g["build_ns"] for g in mine) / 1e9
        out[f"{m}.exec_s"] = sum(g["exec_ns"] for g in mine) / 1e9
        out[f"{m}.build_jobs"] = sum(g.get("build", {}).get("jobs", 0) for g in mine)
    samples = res.get("op_samples_ns", {})
    mean_sample = lambda k: (statistics.fmean(samples[k]) / 1e6  # noqa: E731
                             if samples.get(k) else 0.0)
    reads = len(samples.get("read", []))
    serve = res["workload"] == "serve"
    out.update({
        "store.adapter_build_s": median(res.get("setup_adapter_build_s", [0.0])),
        "serve.index_build_s": median(res.get("setup_index_build_s", [0.0])),
        "gql.parse_us": res["parse_us"] if serve else mean_ms("gql.parse") * 1e3,
        "serve.probe_us": res.get("probe_us", 0.0),
        "serve.fallback_share": res.get("fallbacks", 0) / ops if serve else 0.0,
        "serve.rows_per_read": res.get("rows", 0) / ops if serve else 0.0,
        "serve.repeat_text_share": res.get("repeat_texts", 0) / ops if serve else 0.0,
        "jvm.gc_s": res["jvm_gc_s"], "jvm.alloc_mb": res["jvm_alloc_mb"],
        "jvm.heap_mb": res["heap_mb"], "jvm.cpu_s": res["jvm_cpu_s"],
        "host.steal_s": res["host_steal_s"],
        "write.append_ms": mean_sample("write.append"),
        "write.upsert_ms": mean_sample("write.upsert"),
        "store.rows": res.get("store_rows", 0),
        "plan.build_ms": mean_ms("plan.build"),
        "exec.collect_ms": mean_ms("exec.collect"),
        "exec.jobs_per_read": res.get("read_jobs", 0) / reads if reads else 0.0,
        "trace.spans": len(res.get("span_rows", [])),
    })
    for s in SPAN_NAMES:
        out[f"self.{s}_s"] = st.get(s, (0, 0, 0))[2] / 1e9
    for k in E2E_UNITS:
        out[f"trace.overhead.{k}"] = e2e[k] - ref[k]
    return out


# -- report ------------------------------------------------------------------

def report(res, e2e):
    """Human-readable block: the workload's end-to-end figures by name and
    unit, sample counts, run identity and failure accounting."""
    w = res["workload"]
    lines = [f"== perfbench {w} seed={res['seed']} nproc={res['nproc']} "
             f"clients={res.get('clients', 1)} xmx_mb={res['xmx_mb']} "
             f"spark={res['spark_version']} jdk={res['jdk']} traced={res['traced']}",
             f"   commit={res['commit']} source_sha256={res['source_sha256']}"]

    def fig(name, value, unit, n=None):
        lines.append(f"   {name:<22} {value:>14.6g} {unit}" + (f"  (n={n})" if n else ""))

    def pct(name, xs_ns, scale, unit):
        xs = sorted(xs_ns)
        if not xs:
            return
        fig(f"{name}_p50_{unit}", percentile(xs, 50) / scale, unit, len(xs))
        q = tail_percentile(len(xs))
        if q:
            fig(f"{name}_{pname(q)}_{unit}", percentile(xs, q) / scale, unit, len(xs))

    fig("setup_s", e2e["setup_s"], "s")
    lat = res["op_latencies_ns"]
    if w == "batch":
        fig("wall_s", res["timed_s"], "s", len(lat))
        pct("job", lat, 1e9, "s")
    elif w == "serve":
        fig("read_qps", e2e["ops_per_s"], "ops/s", len(lat))
        fig("read_p50_us", e2e["op_p50_ms"] * 1e3, "us", len(lat))
        fig("read_p99_us", e2e["op_tail_ms"] * 1e3, "us", len(lat))
    else:
        fig("wall_s", res["timed_s"], "s", len(lat))
        s = res.get("op_samples_ns", {})
        pct("write", list(s.get("write.append", [])) + list(s.get("write.upsert", [])),
            1e6, "ms")
        pct("gqlread", s.get("read", []), 1e6, "ms")
        pct("round", lat, 1e6, "ms")
    attempted = sum(res["attempted"].values())
    failed = sum(res["failed"].values())
    fig("failed_share", failed / attempted if attempted else 0.0, "ratio", attempted)
    fig("heap_mb", res["heap_mb"], "MB")
    fig("host_steal_s", res["host_steal_s"], "s")
    lines.append("   attempted " + " ".join(f"{k}={v}" for k, v in res["attempted"].items()))
    lines.append("   failed    " + (" ".join(f"{k}={v}" for k, v in res["failed"].items())
                                    or "none"))
    if w == "batch":
        lines.append(f"   oracle-checked gates: {res.get('oracle_checked', 0)}")
    for f in res["failures"][:20]:
        lines.append(f"   FAIL {f}")
    return "\n".join(lines)


# -- self-tests ----------------------------------------------------------------

def self_test(quiet=False):
    """Checks the percentile rule and the self-time arithmetic."""
    failures = []

    def check(cond, what):
        if not cond:
            failures.append(what)

    xs = list(range(1, 101))
    check(percentile(xs, 50) == 50, "p50 of 1..100 is 50")
    check(percentile(xs, 99) == 99, "p99 of 1..100 is 99")
    check(percentile([7], 99) == 7, "percentile of one sample")
    check(beyond(100, 90) == 10, "10 samples beyond p90 of 100")
    check(tail_percentile(10 ** 6) == 99, "the tail stops at p99")
    check(tail_percentile(1000) == 99, "1000 samples reach p99")
    check(tail_percentile(999) == 98, "999 samples leave 9 beyond p99")
    check(tail_percentile(100) == 90, "100 samples reach p90")
    check(tail_percentile(97) == 89, "97 samples leave 9 beyond p90")
    check(tail_percentile(40) == 75, "40 samples reach p75")
    check(tail_percentile(24) == 58, "24 samples reach p58")
    check(tail_percentile(20) == 50, "20 samples reach p50")
    check(tail_percentile(19) is None, "19 samples reach no tail")
    check(all(beyond(n, tail_percentile(n) + 1) < TAIL_BEYOND
              for n in range(20, 3000) if tail_percentile(n) < TAIL_MAX),
          "no higher whole percentile meets the rule")
    check(all(beyond(n, tail_percentile(n)) >= TAIL_BEYOND
              for n in range(20, 3000)), "tail rule holds for all n")

    check(covered(0, 10, [(2, 4), (3, 6), (8, 20)]) == 6, "union of overlapping children")
    check(covered(0, 10, []) == 0, "no children")
    # root 0..100 with children 10..30 and 20..50 (overlapping) and a
    # grandchild 12..18 inside the first child
    spans = [(1, 0, 7, "root", 0, 100), (2, 1, 7, "a", 10, 30),
             (3, 1, 7, "b", 20, 50), (4, 2, 7, "c", 12, 18)]
    st = self_times(spans)
    check(st["root"] == (1, 100, 60), "root self = 100 - union(10..50)")
    check(st["a"] == (1, 20, 14), "child self excludes grandchild")
    check(st["b"] == (1, 30, 30), "sibling overlap does not reduce self")
    check(st["c"] == (1, 6, 6), "leaf self = duration")
    check(sum(v[2] for v in st.values()) == 110,
          "self times sum to covered time when siblings overlap by 10")

    units = layer_units()
    check(len(units) <= 128, "at most 128 per-layer metrics")
    if os.path.exists(BENCHMARK_JSON):
        with open(BENCHMARK_JSON) as f:
            b = json.load(f)
        check({m["name"]: m["unit"] for m in b["end_to_end"]} == E2E_UNITS,
              "BENCHMARK.json end_to_end matches the metrics printed")
        check({m["name"]: m["unit"] for m in b["per_layer"]} == units,
              "BENCHMARK.json per_layer matches the metrics printed")
    for f in failures:
        print(f"self-test FAIL: {f}", file=sys.stderr)
    if not quiet and not failures:
        print("self-test ok")
    return 1 if failures else 0
