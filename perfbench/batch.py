"""Batch workload: a closed loop, one client, over a fixed query mix.

Each pass runs every query of the mix once, in an order shuffled by the
seed; a query is timed from the call that builds its DataFrame to the end
of ``toPandas``. The run measures whole passes, as many as fill its
seconds at the set-up's pass time, so every query has the same number of
samples.

Set-up, three times on one session: a fresh copy of the generated tables
(a new corpus to the engine), the table catalog warmed over it, and one
warm-up pass, which builds the dedup landings the mix uses.

Every result, warm-up passes included, is checked outside the timed region
against its DuckDB oracle on the same files: the pandas frame already
collected is reduced to a fingerprint (columns, dtypes, and the multiset
of rows canonicalized by ``franzoxide_spark.oracle.canonicalize``), so no
query runs twice for its check.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import random
import shutil
import statistics
import time

from perfbench import gen
from perfbench.common import SETUP_REPEATS, Run
from perfbench.stats import percentile, top_percentile
from perfbench.trace import add_profile, exec_layers, exec_profile, planning_ms

# Oracle-checked queries the workload runs, each once per pass.
# Relational: scheduling-bound plans through session, tables, Catalyst,
# joins, windows and functions/numeric; no dedup landing, no pandas UDF.
RELATIONAL = (
    "q02_agg_pricing_summary",
    "q04_multijoin_topn",
    "q13_window_rank_lag_lead",
    "q22_json_extract_agg",
)
# LLM-data operators: a dedup landing (q71 lands the events relation it
# joins), corpus statistics (q60's forced vocabulary broadcast) and a
# pandas UDF.
LLM = (
    "q71_funnel_stages",
    "q60_tfidf_top_terms",
    "q47_pandas_udf_score",
)
# Measured passes: enough to fill the run's seconds at the pass time of
# the last set-up, and at least this many.
MIN_PASSES = 4


def fingerprint(pdf) -> tuple:
    from franzoxide_spark.oracle import canonicalize

    rows = sorted(canonicalize(pdf))
    digest = hashlib.sha256(repr(rows).encode()).hexdigest()
    cols = sorted(pdf.columns)
    return (tuple(cols), tuple(str(pdf[c].dtype) for c in cols), digest)


def _group_median(lat: dict[str, list[float]], group) -> float:
    xs = [x for n in group if n in lat for x in lat[n]]
    return 1000 * statistics.median(xs) if xs else 0.0


def run(r: Run) -> dict:
    from franzoxide_spark import queries as Q
    from franzoxide_spark import tables
    from franzoxide_spark.operators import dedup
    from franzoxide_spark.oracle import run_oracle

    Q.load_all()
    names = RELATIONAL + LLM
    # one copy of the inputs per set-up: a new copy is a new corpus to the
    # engine (its catalog entries and dedup landings are keyed by path)
    copies = [gen.write_tables(r.seed, r.dir("tables-0"))]
    for rep in range(1, SETUP_REPEATS):
        copies.append(r.dir(f"tables-{rep}"))
        for f in os.listdir(copies[0]):
            shutil.copyfile(os.path.join(copies[0], f),
                            os.path.join(copies[rep], f))
    data = copies[0]
    rng = random.Random(r.seed)
    tr = r.tracer
    results: list[tuple[str, tuple]] = []
    lat: dict[str, list[float]] = {n: [] for n in names}
    prof = {"build_ms": [], "collect_s": 0.0, "analysis": 0.0,
            "optimization": 0.0, "planning": 0.0}
    exec_total: dict = {}
    groups = itertools.count()

    def execute(name: str, measured: bool) -> None:
        spark = r.spark
        tr.new_trace()
        group = f"perfbench-{next(groups)}"
        if r.trace:
            spark.sparkContext.setJobGroup(group, name)
        t0 = time.perf_counter()
        with tr.span("queries") as span:
            if span is not None:
                span["query"] = name
            df = Q.QUERIES[name](spark, data)
        t1 = time.perf_counter()
        with tr.span("DataFrame.toPandas"):
            pdf = df.toPandas()
        t2 = time.perf_counter()
        results.append((name, fingerprint(pdf)))
        if measured:
            lat[name].append(t2 - t0)
        if r.trace and measured:
            prof["build_ms"].append((t1 - t0) * 1000)
            prof["collect_s"] += t2 - t1
            with tr.cost():
                for k, v in planning_ms(df).items():
                    prof[k] += v
                add_profile(exec_total, exec_profile(spark, group))
        spark.catalog.clearCache()

    def one_pass(measured: bool) -> float:
        order = list(names)
        rng.shuffle(order)
        t0 = time.perf_counter()
        for name in order:
            execute(name, measured)
        return time.perf_counter() - t0

    warm_s = []
    warm_pass_s = []

    def setup(rep: int) -> None:
        nonlocal data
        data = copies[rep]
        t0 = time.perf_counter()
        with tr.span("tables"):
            for t in tables.TABLES:
                tables.table(r.spark, data, t)
        warm_s.append(time.perf_counter() - t0)
        warm_pass_s.append(one_pass(measured=False))

    r.start_session()
    landing_mark = len(dedup.LANDING_EVENTS)
    r.timed_setups(setup)
    landings = [
        e for e in dedup.LANDING_EVENTS[landing_mark:]
        if e["decision"] in ("written", "re-landed")
    ]

    # whole passes only, so every query has the same number of samples
    n_passes = max(MIN_PASSES, round(r.seconds / warm_pass_s[-1]))
    passes = [one_pass(measured=True) for _ in range(n_passes)]
    rss = r.rss_mb()
    r.measured_s = sum(passes)

    with tr.span("oracle"):
        expect = {n: fingerprint(run_oracle(Q.ORACLES[n], data)) for n in names}
    for name, fp in results:
        r.check(fp == expect[name], f"{name}: result differs from its oracle")

    samples = [x for n in names for x in lat[n]]
    total_q = len(samples)
    e2e = {
        "setup_s": (r.setup_s(), "s"),
        "latency_p50_ms": (1000 * percentile(samples, 50), "ms"),
        "latency_p90_ms": (1000 * percentile(samples, 90), "ms"),
        "work_s": (statistics.median(passes), "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    info = {
        "queries": len(names),
        "passes": len(passes),
        "samples": total_q,
        "pass_s": statistics.median(passes),
        "top_percentile": top_percentile(total_q),
        "query_median_ms": {
            n: round(1000 * statistics.median(v), 3) for n, v in lat.items()
        },
    }
    layer = {
        "tables.warm_s": statistics.median(warm_s),
        "operators.dedup.landing_build_s": sum(
            e.get("secs", 0.0) for e in landings) / len(r.setups),
        "operators.dedup.landings_written": len(landings) / len(r.setups),
        "batch.pass_s": statistics.median(passes),
        "batch.relational_ms": _group_median(lat, RELATIONAL),
        "batch.llm_ms": _group_median(lat, LLM),
    }
    if r.trace:
        q = max(total_q, 1)
        layer.update({
            "queries.build_ms": statistics.median(prof["build_ms"]),
            "catalyst.analysis_ms": prof["analysis"] / q,
            "catalyst.optimization_ms": prof["optimization"] / q,
            "catalyst.planning_ms": prof["planning"] / q,
            **exec_layers(exec_total, total_q),
            "collect.s": prof["collect_s"] / q,
        })
    return {"e2e": e2e, "layer": layer, "info": info}
