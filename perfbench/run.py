"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,chat,batch} --seed N \
        --seconds S --trace {0,1} [--smoke]

Run from the repository root. Pins the launch environment, runs one
workload in this process and prints, as the last line of stdout, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``). Scratch
files go to ``.perfbench-work/`` under the current directory; the engine's
own index caches go to its ``spark-warehouse/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def pin_environment(work: str) -> dict[str, str]:
    """Launch settings (see README.md): one local task slot per core, a
    driver heap that fits a small machine, shuffle scratch and temp files
    inside the checkout, and the repository on the Python workers' path
    (the engine's UDF lanes import the package there)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    return {
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata file in the system temp dir either
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "chat", "batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes (sf0.001)")
    args = ap.parse_args(argv)

    work = os.path.abspath(".perfbench-work")
    extra_conf = pin_environment(work)
    sys.path.insert(0, ROOT)
    t = time.perf_counter()
    import workloads as W

    # part of set-up; fails fast when the engine is not beside perfbench/
    for module in W.ENGINE_MODULES[args.workload]:
        importlib.import_module(module)

    ctx = W.Context(
        root=os.path.abspath("."),
        work=work,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        sizes=W.SIZES["smoke" if args.smoke else "full"],
        extra_conf=extra_conf,
    )
    ctx.import_s = time.perf_counter() - t
    try:
        e2e = W.WORKLOADS[args.workload](ctx)
    finally:
        ctx.close()

    if args.trace:
        ctx.span_metrics()
        ctx.tracer.write(os.path.join(work, f"trace-{args.workload}-{args.seed}.jsonl"))
        values, units = ctx.per_layer(), dict(W.LAYER_METRICS)
    else:
        values = e2e
        units = dict(W.E2E_METRICS)
    print(json.dumps({"info": {"workload": args.workload, "seed": args.seed,
                               "cpus": os.environ["SPARK_GRAFT_CPUS"],
                               "warehouse_files_built": ctx.per_layer()["plans.warehouse_files_built"]}}))
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": {
                    k: {"value": values[k], "unit": units[k]} for k in units
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
