"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload trickle --seed 7 --seconds 10 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer metrics of a
traced run).  The line before it carries the run's details: host load,
hypervisor steal, sample counts, error rate and tracing overhead.
Progress and engine logs go to standard error.

Everything the run writes lives in ``.perfbench_work/`` under the
repository root and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _environment(work: str) -> None:
    """Pin the engine's environment before the JVM starts: one task slot
    per usable core, Spark scratch inside the work dir, and the package on
    the Python path of the pandas-UDF worker processes (they do not start
    in the repository root)."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Spark's own default driver heap (the session factory's 8g default
    # sizes the JVM for scale factors the workloads never reach), fixed
    # from the start so peak RSS does not depend on when the collector
    # chose to grow the heap; pinned whatever the caller's environment says
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Xms{heap} pyspark-shell"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _stop_spark() -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    work = os.path.join(ROOT, ".perfbench_work", uuid.uuid4().hex[:12])
    os.makedirs(work)
    _environment(work)
    try:
        import briefly_spark  # noqa: F401  (fail fast outside a full checkout)

        from perfbench.workloads import Run

        run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
        try:
            metrics, details = run.execute()
        finally:
            _stop_spark()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left when other runs still use it
            os.rmdir(os.path.dirname(work))

    declared = declared_metrics("per_layer" if args.trace else "end_to_end")
    if set(metrics) != set(declared):
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: missing {sorted(set(declared) - set(metrics))},"
            f" undeclared {sorted(set(metrics) - set(declared))}"
        )
    print(json.dumps(details, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": details["failed"] == 0,
                "attempted": details["attempted"],
                "failed": details["failed"],
                "metrics": {
                    name: {"value": metrics[name], "unit": unit}
                    for name, unit in declared.items()
                },
            }
        )
    )
    return 0


def declared_metrics(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


if __name__ == "__main__":
    sys.exit(main())
