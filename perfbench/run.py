"""Benchmark entry point.

    python3 perfbench/run.py --workload ivf_search --seed 1 --seconds 20 --trace 0

Runs one workload in this process against the program in the checkout this
file sits in, checks every answer, and prints the workload's named metrics
(``metric <name> <value> <unit>``) followed, as the last line, by one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics, taken with spans and Spark
counters on, and the spans are written to ``.perfbench_out/``.

Exits non-zero, without a result line, when the program is not importable
from the checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
WORKLOADS = ("ivf_search", "upsert", "registry")
TIME_UNITS = ("s", "ms")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--tiny", action="store_true", help="tiny inputs, for the self-test"
    )
    args = ap.parse_args(argv)

    # import the program and the benchmark from the checkout root, and let
    # Spark's Python workers (children of the JVM) import them too
    sys.path[0] = CHECKOUT
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (CHECKOUT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        import distributed_vector_database_spark  # noqa: F401 — program under test
    except ImportError as e:
        print(f"perfbench: program not found in {CHECKOUT}: {e}", file=sys.stderr)
        return 2
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    from perfbench import harness

    module = importlib.import_module(f"perfbench.{args.workload}")
    with harness.temp_root(
        os.path.join(CHECKOUT, ".perfbench_tmp"), args.workload
    ) as root:
        ctx = harness.Ctx(
            workload=args.workload,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            tiny=args.tiny,
            root=root,
        )
        with harness.session(ctx) as start_s:
            e2e, layer = module.run(ctx, start_s)
            if ctx.trace:
                out_dir = os.path.join(CHECKOUT, ".perfbench_out")
                os.makedirs(out_dir, exist_ok=True)
                ctx.probe.dump(
                    os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"),
                    {"report": ctx.report, "failures": ctx.failures},
                )

    section = spec["per_layer" if ctx.trace else "end_to_end"]
    produced = layer if ctx.trace else e2e
    metrics = {}
    for m in section:
        name, unit = m["name"], m["unit"]
        if name in produced:
            value = produced[name]
        elif ctx.trace and unit not in TIME_UNITS:
            # a layer this workload does not exercise did no work
            value = 0
        else:
            raise RuntimeError(f"workload {args.workload} did not measure {name}")
        metrics[name] = {"value": float(value), "unit": unit}
    unknown = set(produced) - set(metrics)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")

    for name, (value, unit) in ctx.report.items():
        print(f"metric {args.workload}.{name} {value:.6g} {unit}")
    for msg in ctx.failures:
        print(f"failed: {msg}")
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
