#!/usr/bin/env python3
"""Seeded BM25 benchmark of the engine (workloads and metrics: NOTES.md).

Run from the repository root:

    python3 perfbench/run.py --workload batch_hot --seed 1 --seconds 12 --trace 0

Prints progress lines, then as its last line one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics of the
traced replay with ``--trace 1``. Every file the run writes (corpora,
indexes, Spark scratch, the JVM's temp files) goes to a temp dir under
perfbench/.tmp that is removed at exit; the full result, spans included,
is kept in perfbench/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("interactive_sf01", "batch_hot")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


def pin_environment(tmp: str) -> None:
    """Send every temp file of Python, Spark and the JVM to ``tmp`` and
    make the checkout importable by Spark's Python workers."""
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_DRIVER_MEM": "1g",
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), java_opts])),
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    })
    tempfile.tempdir = tmp
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)


def provenance() -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),  # also the Spark session's cores
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_driver_mem": os.environ["SPARK_DRIVER_MEM"],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "engine", "index.py")):
        print(f"perfbench: no engine/ package under {ROOT}; run it from a full checkout",
              file=sys.stderr)
        return 2
    scratch = os.path.join(HERE, ".tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=scratch)
    try:
        pin_environment(tmp)
        from workloads import END_TO_END, UNITS, per_layer_names, run_workload

        run = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    prov = provenance()
    print("provenance: " + json.dumps(prov))
    print("setup: " + ", ".join(f"{k} {v:.3f} s" for k, v in run.setup.items()))
    print(f"timed requests: {len(run.latencies)} ({run.served} queries)")
    for name in END_TO_END:
        print(f"{name}: {run.e2e[name]:.6g} {UNITS[name]}")
    print(run.tally.verdict())
    if args.trace:
        metrics = {m: {"value": run.layer_values[m], "unit": layer_unit(m)} for m in per_layer_names()}
    else:
        metrics = {m: {"value": run.e2e[m], "unit": UNITS[m]} for m in END_TO_END}

    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    out = os.path.join(HERE, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "provenance": prov, "setup_s": run.setup, "latencies_s": run.latencies,
            "end_to_end": run.e2e, "per_layer": run.layer_values,
            "attempted": run.tally.attempted, "failed": run.tally.failed,
            "spans": run.tracer.export() if run.tracer else [],
        }, f)
    print(f"result file: {os.path.relpath(out, ROOT)}")
    print(json.dumps({
        "correct": run.tally.failed == 0,
        "attempted": run.tally.attempted,
        "failed": run.tally.failed,
        "metrics": metrics,
    }))
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("_us"):
        return "us"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.startswith(("build.bytes.", "compact.bytes")) or name.endswith("bytes_read"):
        return "B"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("_per_query"):
        return "1/query"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
