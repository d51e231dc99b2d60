"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds its inputs from ``--seed`` inside
``.bench_work/`` of the checkout, drives one workload through the
package's public functions for about ``--seconds`` of measurement, checks
every output, and prints one JSON object as the last line of standard
output: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Everything else goes to standard error. A traced run also
writes its spans to ``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORKLOADS = ("batch", "streaming")


def _cores(workload: str) -> int:
    """Spark's local cores, at most 4. The streaming workload takes half
    the machine: its Python workers, two source runners and the driver
    need the other half, and on a 4-core machine local[4] oversubscribed
    it and doubled the run-to-run spread of its timings."""
    n = min(4, os.cpu_count() or 1)
    return max(1, n // 2) if workload == "streaming" else n


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run_workload(r) -> dict:
    if r.workload == "batch":
        from perfbench import batch

        return batch.run(r)
    from perfbench import stream

    return stream.run(r)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "franzoxide_spark")):
        print(f"perfbench: no franzoxide_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    spec = _benchmark()

    from perfbench.common import Run, configure_env

    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root,
                        f"{args.workload}-s{args.seed}-p{os.getpid()}")
    # before anything imports franzoxide_spark.session, which reads
    # SPARK_GRAFT_CPUS when it is imported
    configure_env(ROOT, work, _cores(args.workload))
    r = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    t0 = time.perf_counter()
    try:
        out = _run_workload(r)
    except Exception:  # noqa: BLE001 - the run failed: no result line
        traceback.print_exc()
        return 1
    finally:
        r.stop()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        trace_dir = os.path.join(work_root, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{args.workload}-s{args.seed}.json")
        r.tracer.write(trace_path)
        print(f"perfbench: spans written to {trace_path}", file=sys.stderr)
        layer = {
            **r.layer, **out["layer"],
            "trace.spans": len(r.tracer.spans),
            "trace.overhead_pct":
                100 * r.tracer.overhead_s() / max(r.measured_s, 1e-9),
        }
        unknown = set(layer) - {m["name"] for m in spec["per_layer"]}
        if unknown:
            raise ValueError(f"per-layer metrics not in BENCHMARK.json: {unknown}")
        metrics = {}
        for m in spec["per_layer"]:
            # a layer the workload does not exercise did no work: 0
            metrics[m["name"]] = {"value": float(layer.get(m["name"], 0.0)),
                                  "unit": m["unit"]}
    else:
        metrics = {}
        for m in spec["end_to_end"]:
            value, unit = out["e2e"][m["name"]]
            if unit != m["unit"]:
                raise ValueError(f"{m['name']}: unit {unit} != {m['unit']}")
            metrics[m["name"]] = {"value": float(value), "unit": unit}

    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "wall_s": time.perf_counter() - t0, "setups_s": r.setups,
        "session_s": r.layer.get("session.start_s"), "info": out["info"],
        "failures": r.failures,
    }), file=sys.stderr)
    print(json.dumps({
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
