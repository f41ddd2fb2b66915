"""The `batch` workload: the TPC-H and LLM query families, run cold (cache
cleared) one after another in one seed-permuted order, each result checked
against its DuckDB oracle.

The families share a run because each run pays ~15 s of JVM start,
set-up and warm-up on 4 cores; as two workloads they would not fit the
benchmark's time budget. A traced run keeps them apart: it makes one pass
per family and reports that family's per-layer metrics under its prefix
(`tpch.`, `llm.`), so the contrast between them stays measured.
"""

from __future__ import annotations

import time

import numpy as np

from perfbench import checks, gen
from perfbench.harness import Run
from perfbench.tracing import StatusProbe, planning_phases_ms, wrap_load_table

# A subset of each family: one cold query costs 1-2.5 s of mostly fixed
# Spark overhead on 4 cores, and a run must fit the benchmark's time
# budget, so each set keeps one query per distinct plan shape, preferring
# those whose run-to-run time varies least (coefficient of variation <= 13%
# over repeats in a warm session; q1 varies 25%). The TPC-H set leaves out
# the queries that round a double money sum (q3, q5, q10, q14): on some
# seeds such a sum lands on a half cent and differs from DuckDB's in the
# last digit. The LLM set keeps Python-kernel queries (<8%);
# dedup_minhash_lsh (26%) is exercised by the stream's index half instead.
TPCH = [
    "q4_priority_late_orders",  # EXISTS semi-join + count
    "q7_nation_volume",  # 6-way join, integer-cent sums
    "q9_brand_profit",  # join through part/supplier + group
    "q12_priority_ship_delay",  # 2-way join + conditional counts
    "q18_large_volume_customers",  # IN-subquery on an aggregate
    "q20_dominant_part_suppliers",  # nested IN + correlated aggregate
    "q21_waiting_orders_suppliers",  # EXISTS / NOT EXISTS
]
LLM = [
    "dedup_simhash_pairs",  # Python hashing kernel + eager barrier jobs
    "dedup_embedding_cosine",  # vector kernel + pair join
    "multimodal_features",  # Arrow feature kernel
    "ann_topk_bruteforce",  # vector cross join + top-k
]
FAMILIES = {"tpch": TPCH, "llm": LLM}
WARM_UP = ("q6_forecast_revenue", "doc_quality_score")  # one per family, not measured


SF = 0.01  # 60k lineitems, 15k orders
N_DOCS, N_VECS = 500, 500
WARM_SF, WARM_DOCS = 0.001, 100  # tables for the JIT warm-up pass


def run(r: Run) -> None:
    from open_pulsar_spark import registry
    from tools.verify_oracle import duck_connect

    names = TPCH + LLM
    data = r.path("data")
    gen.write_tables(data, gen.make_tables(r.seed, SF, N_DOCS, N_VECS))
    oracles = registry.all_oracles()
    con = duck_connect(data)
    try:
        expected = {n: checks.oracle_rows(con, oracles[n]) for n in names}
    finally:
        con.close()

    queries = registry.all_queries()
    r.setup(lambda: [queries[n](r.spark, data).collect() for n in WARM_UP])

    # Every measured query once on small tables first, untimed: the JVM's
    # JIT and Spark's codegen cache would otherwise bill their warm-up to
    # whichever query the seed puts first.
    warm = r.path("warm")
    gen.write_tables(warm, gen.make_tables(r.seed + 1, WARM_SF, WARM_DOCS, WARM_DOCS))
    t0 = time.perf_counter()
    for n in names:
        queries[n](r.spark, warm).collect()
    r.info["jit_warm_s"] = round(time.perf_counter() - t0, 2)

    rng = np.random.default_rng(r.seed)
    if r.traced:
        _traced_run(r, queries, rng, data, expected)
        return
    order = list(rng.permutation(names))
    p = _timed_pass(r, queries, order, data, expected)
    r.put("total_s", p["wall"])
    r.put("throughput_per_s", len(order) / p["wall"])
    r.put_latencies(p["query_s"])
    r.info["query_s"] = {q["name"]: round(q["s"], 2) for q in p["results"]}


def _run_query(r: Run, queries, name: str, data: str, expected, probe=None) -> dict:
    """Build + collect one query cold; check it. Returns its timings; with a
    probe, also the Spark jobs its build started and its planner phases."""
    tr = r.tracer
    r.spark.catalog.clearCache()
    r.attempted += 1
    out = {"name": name, "probe_s": 0.0}
    if probe:
        tp = time.perf_counter()
        jobs_before = probe.new_job_count()
        out["probe_s"] += time.perf_counter() - tp
    t0 = time.perf_counter()
    try:
        with tr.span("query", request=name):
            with tr.span("build", request=name):
                df = queries[name](r.spark, data)
            t1 = time.perf_counter()
            if probe:
                out["build_jobs"] = probe.new_job_count() - jobs_before
            tc = time.perf_counter()
            with tr.span("collect", request=name):
                rows = df.collect()
    except Exception as e:  # noqa: BLE001 — a failing query is a failed op
        r.fail(f"{name}: {type(e).__name__}: {str(e)[:200]}")
        out["s"] = time.perf_counter() - t0
        return out
    t2 = time.perf_counter()
    out["probe_s"] += tc - t1
    out.update(s=t2 - t0 - out["probe_s"], build_s=t1 - t0)
    for bad in checks.check_query(name, df.columns, rows, df, expected[name]):
        r.fail(bad)
    if probe:
        tp = time.perf_counter()
        out["phases"] = planning_phases_ms(df)
        out["probe_s"] += time.perf_counter() - tp
    return out


def _timed_pass(r: Run, queries, order, data, expected, probe=None) -> dict:
    """One pass over `order`: its wall time, per-query times and results."""
    t0 = time.perf_counter()
    results = [_run_query(r, queries, n, data, expected, probe) for n in order]
    return {
        "wall": time.perf_counter() - t0,
        "query_s": [q["s"] for q in results],
        "results": results,
    }


def _exec_metrics(probe: StatusProbe, wall: float, cores: int) -> dict[str, float]:
    m = probe.collect()
    m["cpu_util"] = m["task_s"] / (wall * cores)
    return m


def _traced_run(r: Run, queries, rng, data, expected) -> None:
    """One traced pass per family, each cold like an untraced run's.
    trace.total_s (the passes' summed wall time) minus an untraced run's
    total_s is the tracing overhead; trace.overhead_s is the part spent
    reading Spark's metric stores inside the passes."""
    orders = {fam: list(rng.permutation(members)) for fam, members in FAMILIES.items()}
    walls, probe_s = [], 0.0
    with wrap_load_table(r.tracer):
        for fam, order in orders.items():
            wall, s = _traced_pass(r, queries, order, data, expected, fam)
            walls.append(wall)
            probe_s += s
    r.put("trace.total_s", sum(walls))
    r.put("trace.overhead_s", probe_s)
    selfs = r.tracer.self_times()
    for name in ("query", "build", "load_table", "collect"):
        r.put(f"self.{name}_s", selfs.get(name, 0.0))

    # Serial baseline for tpch.exec.cpu_util: the TPC-H pass on one core.
    r.stop_spark()
    r.start_spark(master="local[1]", shuffle_partitions=1)
    queries[WARM_UP[0]](r.spark, data).collect()
    probe = StatusProbe(r.spark)
    s = _timed_pass(r, queries, orders["tpch"], data, expected, probe)
    serial = _exec_metrics(probe, s["wall"], 1)
    r.put("tpch.exec.serial_wall_s", s["wall"])
    r.put("tpch.exec.serial_cpu_util", serial["cpu_util"])
    r.put("tpch.exec.parallel_speedup", s["wall"] / walls[0])


def _traced_pass(r: Run, queries, order, data, expected, fam: str) -> tuple[float, float]:
    """One family's traced pass: spans around every call, load_table
    timed in every operator module, Spark's planner and status-store
    metrics, all put under the family's prefix. Returns the pass's wall
    time and the time spent reading Spark's metric stores."""
    tr = r.tracer
    load_s0, calls0 = tr.total("load_table"), tr.count("load_table")
    probe = StatusProbe(r.spark)
    p = _timed_pass(r, queries, order, data, expected, probe)
    t_ex = time.perf_counter()
    ex = _exec_metrics(probe, p["wall"], r.cores)
    probe_s = sum(q["probe_s"] for q in p["results"]) + time.perf_counter() - t_ex
    load_s = tr.total("load_table") - load_s0
    build_s = sum(q.get("build_s", 0.0) for q in p["results"])
    phases = [q.get("phases", {}) for q in p["results"]]

    def put(name, value):
        r.put(f"{fam}.{name}", value)

    put("tables.load_table.calls", tr.count("load_table") - calls0)
    put("tables.load_table.s", load_s)
    put("tables.load_table.share", load_s / p["wall"])
    put("operators.build_s", build_s - load_s)
    put("operators.build_jobs", sum(q.get("build_jobs", 0) for q in p["results"]))
    for ph in ("analysis", "optimization", "planning"):
        put(f"catalyst.{ph}_ms", sum(x.get(ph, 0.0) for x in phases))
    for k, v in ex.items():
        put(f"exec.{k}", v)
    return p["wall"], probe_s
