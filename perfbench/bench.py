"""Workload definitions, correctness checks and metric assembly.

Everything here is pure Python over the harness's JSON output (and, for
``bpi_landing``, the parquet warehouse it leaves), so the checks can be
unit-tested without a JVM; ``run.py`` drives the build and the harness.
"""
import json
import math
import os
import random
import re

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

# Input scale of the query workload.
TABLES_SF = 0.01

# query_suite: a fixed subset of the declared queries, small enough that
# one run (in each fork: set-up, a cold and a warm pass) stays near a
# minute, yet covering every layer the benchmark reports on.
QUERIES = [
    # relational: a five-table join with aggregation, and a global
    # single-partition window
    "rel_star_join", "rel_ohlc_gapfill",
    # text curation: the shingle-string and marker-count kernels
    "text_ngram_freq", "text_langid",
    # the reference pipeline in batch form
    "bpi_pipeline_end_to_end",
    # streaming drains: a stateful aggregation, and serveBatchWith over
    # shared phash state that the cold pass builds
    "stream_hourly_agg", "stream_mm_serve",
]
# Every run runs its workload (set-up included) in FORKS fresh JVMs, one
# after another, and takes each figure over all of them. Speed differs
# more between JVMs than between passes within one: over twelve
# single-JVM query_suite runs with eight passes each, taking warm_s from
# passes 3-8 instead of 2-4 left its spread across runs at 0.10-0.14,
# while the fastest of two JVMs narrowed it by a third. Each query_suite
# fork runs one warm pass, right after the cold one: more passes per fork
# made runs longer without narrowing the spread (perfbench/NOTES.md).
FORKS = 2

# bpi_landing, in each fork: one cold backlog, a live phase at a fixed
# rate (the forks' live phases add up to --seconds), then one smaller warm
# backlog. One warm drain per fork, because later drains over the same
# checkpoint were slower and varied more: the first warm drain was the
# fastest of three in each of ten runs, by 0.3-0.8 s.
BPI_COLD_BACKLOG = 150
BPI_WARM_BACKLOG = 100
# Live landing rate. Stepping it up over one 10 s live phase (seed 7,
# 4-vCPU host, perfbench/NOTES.md) kept the latency flat through the phase
# at 10, 20, 40 and 80 files/s and let it grow at 160 files/s. 20 files/s
# is a quarter of the highest flat rate: latency rose 15% from 10 to 20
# files/s but 63% from 20 to 40, so a higher rate would amplify host noise.
BPI_RATE_PER_S = 20.0


def bpi_phases(seconds):
    live = max(1, round(seconds * BPI_RATE_PER_S / FORKS))
    return [("cold", BPI_COLD_BACKLOG), ("live", live), ("warm", BPI_WARM_BACKLOG)]


# Latency is reported as its median and its 90th percentile: about 157
# valid live payloads per bpi_landing run leave about 16 latencies beyond
# the p90, the highest percentile with ten or more beyond it. A p99 had
# one or two beyond it and spread 0.32 over seven runs of the same code.
END_TO_END = ["setup_s", "cold_s", "warm_s", "latency_p50_ms", "latency_p90_ms",
              "flush_rows_per_s", "heap_mb"]
UNITS = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "latency_p50_ms": "ms",
         "latency_p90_ms": "ms", "flush_rows_per_s": "1/s", "heap_mb": "MB"}

FAMILIES = ["rel", "text", "bpi", "stream", "stream_serve"]
PER_LAYER = (
    ["driver.analysis_ms", "driver.optimizer_ms", "driver.planning_ms", "driver.build_ms",
     "driver.jobs", "driver.stages",
     "exec.tasks", "exec.run_ms", "exec.cpu_ms", "exec.gc_ms",
     "scan.bytes", "scan.records",
     "exchange.write_bytes", "exchange.read_bytes", "exchange.spill_bytes",
     "exchange.fetch_wait_ms",
     "kernels.queries", "kernels.cpu_ms",
     "stream.batches", "stream.latest_offset_ms", "stream.get_batch_ms",
     "stream.query_planning_ms", "stream.wal_commit_ms", "stream.add_batch_ms",
     "stream.input_rows", "stream.dropped_by_watermark",
     "state.store_rows", "state.store_bytes", "state.dir_bytes", "state.cold_extra_s",
     "state.temp_views", "state.persisted_rdds", "session.conf_drift",
     "pipeline.gate_ms", "pipeline.append_ms", "pipeline.batches",
     "pipeline.rows_loaded", "pipeline.rows_quarantined",
     "gen.late_p99_ms"]
    + [f"family.{f}.{p}" for f in FAMILIES for p in ("cold_s", "warm_s")]
    + ["traced.warm_s", "traced.latency_p50_ms"])


def layer_unit(name):
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_ms"):
        return "ms"
    if leaf.endswith("_s"):
        return "s"
    return "bytes" if leaf.endswith("bytes") else "count"


def workloads():
    return ["bpi_landing", "query_suite"]


def query_order(seed):
    names = list(QUERIES)
    random.Random(seed).shuffle(names)
    return names


def percentile(values, q):
    """Linear interpolation between closest ranks (numpy's default)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def family(name):
    fam = name.split("_", 1)[0]
    return "stream_serve" if fam == "stream" and name.endswith("_serve") else fam


def load_expected():
    with open(os.path.join(HERE, "expected_fingerprints.json")) as f:
        return json.load(f)


# ------------------------------------------------------- query suites ----

def check_queries(passes, expected):
    """Every execution of every query: a failure is a query that threw or
    whose fingerprint differs from the recorded one (row count only for
    queries without an oracle). Returns (attempted, failures)."""
    attempted, failures = 0, []
    for p in passes:
        for q in p["queries"]:
            attempted += 1
            name, exp = q["name"], expected.get(q["name"])
            if "error" in q:
                failures.append({"pass": p["kind"], "query": name, **q["error"]})
            elif exp is None:
                failures.append({"pass": p["kind"], "query": name, "class": "NoExpectation",
                                 "message": "no recorded fingerprint"})
            elif exp["oracle"] and q["fp"] != exp["fp"]:
                failures.append({"pass": p["kind"], "query": name, "class": "WrongResult",
                                 "message": f"fingerprint {q['fp']} != {exp['fp']}"})
            elif not exp["oracle"] and q["rows"] != exp["rows"]:
                failures.append({"pass": p["kind"], "query": name, "class": "WrongResult",
                                 "message": f"rows {q['rows']} != {exp['rows']}"})
    return attempted, failures


def warm_times(warm):
    """{query: warm ms}: the fastest of its executions in the given warm
    passes. On a shared host a run can only be slowed down by
    interference, never sped up, so the fastest execution is the steadiest
    estimate of the query's own cost."""
    best = {}
    for p in warm:
        for q in p["queries"]:
            best[q["name"]] = min(q["ms"], best.get(q["name"], math.inf))
    return best


def query_metrics(forks):
    """End-to-end figures over the forks' harness outputs.

    A query's warm latency is the fastest of its warm executions over all
    forks, and every warm figure derives from those latencies: warm_s is
    their sum (one warm pass over the suite), the percentiles are over the
    queries, and flush_rows_per_s is a pass's result rows over warm_s.
    cold_s is the fastest fork's cold pass; set-up and heap are medians
    over the forks (with two, their mean)."""
    lat = warm_times([p for out in forks for p in out["passes"] if p["kind"] == "warm"])
    warm_s = sum(lat.values()) / 1e3
    rows = sum(q.get("rows", 0) for q in forks[0]["passes"][0]["queries"])
    return {"setup_s": median([x["total_s"] for out in forks for x in out["setup_s"]]),
            "cold_s": min(out["passes"][0]["total_s"] for out in forks),
            "warm_s": warm_s,
            "latency_p50_ms": percentile(list(lat.values()), 50),
            "latency_p90_ms": percentile(list(lat.values()), 90),
            "flush_rows_per_s": rows / warm_s,
            "heap_mb": median([out["heap_mb"] for out in forks])}


def over_forks(per_fork, e2e):
    """Per-layer figures: the median over the forks of each fork's."""
    m = {k: median([f[k] for f in per_fork]) for k in PER_LAYER}
    m["state.cold_extra_s"] = e2e["cold_s"] - e2e["warm_s"]
    return m


def query_layers(out):
    """One fork's per-layer figures on a query suite."""
    passes = out["passes"]
    cold, warm = passes[0], [p for p in passes if p["kind"] == "warm"]

    def avg(f):
        return sum(f(p) for p in warm) / len(warm)

    keys = {k for p in warm for k in p["layers"]}
    layers = {k: avg(lambda p, k=k: p["layers"].get(k, 0.0)) for k in keys}
    kernels = out["kernel_queries"]
    m = {k: layers.get(k, 0.0) for k in PER_LAYER}
    m["driver.build_ms"] = avg(lambda p: sum(q["build_ms"] for q in p["queries"]))
    m["kernels.queries"] = len(kernels)
    m["kernels.cpu_ms"] = sum(layers.get("cpu." + q, 0.0) for q in kernels)
    last = passes[-1]["leaks"]
    m["state.dir_bytes"] = last["dir_bytes"]
    m["state.temp_views"] = last["temp_views"]
    m["state.persisted_rdds"] = last["persisted_rdds"]
    m["session.conf_drift"] = out["conf_drift"]
    warm_ms = warm_times(warm)
    for fam in FAMILIES:
        m[f"family.{fam}.cold_s"] = sum(
            q["ms"] for q in cold["queries"] if family(q["name"]) == fam) / 1e3
        m[f"family.{fam}.warm_s"] = sum(
            ms for name, ms in warm_ms.items() if family(name) == fam) / 1e3
    return m


# ------------------------------------------------------- bpi_landing ----

UUID_RE = re.compile(r"^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$")
TS_RE = re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}$")


def read_warehouse(path):
    """{part file name: [row dicts]} for every parquet file the pipeline
    appended."""
    if not os.path.isdir(path):
        return {}
    return {name: pq.read_table(os.path.join(path, name)).to_pylist()
            for name in sorted(os.listdir(path))
            if name.endswith(".parquet") and not name.startswith((".", "_"))}


def check_bpi(expected, files):
    """Compare the warehouse with the payloads that were landed.

    ``expected``: [{"name", "phase", "row": dict or None}] (None = the
    payload is corrupt and must never load). ``files``: the output of
    :func:`read_warehouse`. Every valid payload must be stored exactly
    once with exactly its expected values (``job_id`` and
    ``last_updated`` are checked for format only); any other stored row is
    an error. Returns (attempted, failures, {payload name: part file})."""
    by_key = {e["row"]["time_updated_iso"]: e for e in expected if e["row"] is not None}
    stored = {}
    failures = []
    for fname, rows in files.items():
        for row in rows:
            e = by_key.get(row.get("time_updated_iso"))
            if e is None:
                failures.append({"payload": None, "problem": "unexpected row",
                                 "row": {k: str(v) for k, v in row.items()}})
                continue
            if e["name"] in stored:
                failures.append({"payload": e["name"], "problem": "duplicated"})
                continue
            stored[e["name"]] = fname
            bad = [k for k, v in e["row"].items() if row.get(k) != v]
            if not UUID_RE.match(str(row.get("job_id"))):
                bad.append("job_id")
            if not TS_RE.match(str(row.get("last_updated"))):
                bad.append("last_updated")
            if bad:
                failures.append({"payload": e["name"], "problem": "wrong values",
                                 "columns": sorted(bad)})
    for e in expected:
        if e["row"] is not None and e["name"] not in stored:
            failures.append({"payload": e["name"], "problem": "missing"})
    return len(expected), failures, stored


def live_latencies(out, expected, stored):
    """One fork's latency of every valid live payload it stored: from the
    payload's due time to the return of the appendParquet call that wrote
    its part file."""
    landed = {x["name"]: x for x in out["landed"]}
    returned = {f: b["return_ms"] for b in out["batches"] for f in b["files"]}
    return [returned[stored[e["name"]]] - landed[e["name"]]["due_ms"]
            for e in expected
            if e["phase"] == "live" and e["row"] is not None and e["name"] in stored]


def bpi_metrics(forks, expected, stored):
    """End-to-end figures over the forks' harness outputs (``stored``: each
    fork's {payload name: part file}). The latency percentiles are over
    the live payloads of all forks. Drain times are the fastest fork's (a
    shared host can only slow a drain down): cold_s of the cold backlog,
    warm_s of the warm one, and flush_rows_per_s is the warm backlog's
    rows over warm_s. Set-up and heap are medians over the forks."""
    lat = [x for out, s in zip(forks, stored) for x in live_latencies(out, expected, s)]
    warm_rows = sum(1 for e in expected if e["phase"] == "warm" and e["row"] is not None)
    warm_s = min(out["drains"]["warm"] for out in forks)
    return {"setup_s": median([x["total_s"] for out in forks for x in out["setup_s"]]),
            "cold_s": min(out["drains"]["cold"] for out in forks),
            "warm_s": warm_s,
            "latency_p50_ms": percentile(lat, 50),
            "latency_p90_ms": percentile(lat, 90),
            "flush_rows_per_s": warm_rows / warm_s,
            "heap_mb": median([out["heap_mb"] for out in forks])}


def bpi_layers(out, expected, stored):
    """One fork's per-layer figures on bpi_landing (its live phase)."""
    layers = out["live_layers"]
    m = {k: layers.get(k, 0.0) for k in PER_LAYER}
    live = [b for b in out["batches"] if b["phase"] == "live"]
    m["pipeline.gate_ms"] = median([b["gate_ms"] for b in live]) if live else 0.0
    m["pipeline.append_ms"] = median([b["append_ms"] for b in live]) if live else 0.0
    m["pipeline.batches"] = len(live)
    live_names = [e["name"] for e in expected if e["phase"] == "live"]
    loaded = sum(1 for n in live_names if n in stored)
    m["pipeline.rows_loaded"] = loaded
    m["pipeline.rows_quarantined"] = len(live_names) - loaded
    late = [x["written_ms"] - x["due_ms"] for x in out["landed"] if x["phase"] == "live"]
    m["gen.late_p99_ms"] = percentile(late, 99) if late else 0.0
    leaks = out["leaks"]
    m["state.dir_bytes"] = leaks["dir_bytes"]
    m["state.temp_views"] = leaks["temp_views"]
    m["state.persisted_rdds"] = leaks["persisted_rdds"]
    return m
