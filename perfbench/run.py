"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout of this repository. Everything it
writes goes under ``.perfbench_work/`` (deleted at exit) and, for traced
runs, the span record under ``.perfbench_out/``. The last line of
standard output is ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its
per-layer metrics with ``--trace 1``. The exit code is 1 when a
correctness gate fails, 2 when the package cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path.cwd()
sys.path[:0] = [str(ROOT)]


def _isolate(work: Path) -> None:
    """Point every scratch location of Python, Spark and the JVM into
    ``work`` so the run writes nothing outside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_JAVA_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    # Python UDF workers start from the JVM's environment, not sys.path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)


def _cleanup(work: Path) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        work.parent.rmdir()
    except OSError:  # another run's work dir is still there
        pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("trickle", "curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    registry = json.loads((ROOT / "BENCHMARK.json").read_text())
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    try:
        import webhookdb_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}",
              file=sys.stderr)
        _cleanup(work)
        return 2

    from perfbench import curation, trickle
    from perfbench.common import cpu_count, start_spark, stop_jvm

    run = {"trickle": trickle.run, "curation": curation.run}[args.workload]
    spark = None
    try:
        spark = start_spark(cpu_count(), work)
        res = run(spark, work, args, t_start)
        spark = res.pop("spark")
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        _cleanup(work)

    if args.trace:
        rec_path = (ROOT / ".perfbench_out"
                    / f"trace-{args.workload}-seed{args.seed}.json")
        res["tracer"].dump(rec_path, {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "values": res["values"],
            "errors": res["errors"]})
        print(f"perfbench: span record written to {rec_path}", file=sys.stderr)
    for err in res["errors"]:
        print(f"perfbench: GATE FAILED: {err}", file=sys.stderr)
    values = res["values"]
    if args.trace:
        # a layer the workload never calls reports 0
        names = registry["per_layer"]
        values = {m["name"]: values.get(m["name"], 0.0) for m in names}
    else:
        names = registry["end_to_end"]
    print(json.dumps({
        "correct": not res["errors"],
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {m["name"]: {"value": float(values[m["name"]]),
                                "unit": m["unit"]} for m in names},
    }), flush=True)
    return 0 if not res["errors"] else 1


if __name__ == "__main__":
    sys.exit(main())
