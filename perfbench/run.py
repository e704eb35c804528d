"""The repository benchmark: one seeded workload per run, one JSON result line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload read_mix --seed 1 --seconds 8 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans recorded around each layer's entry points and prints the
per-layer metrics instead. The last line of standard output is the result::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

Every run works in a fresh directory under ``.perfbench_work/`` of the
checkout (collection, Spark scratch, temp files) and removes it on exit.
Traced runs also write their spans to ``.perfbench_out/``. A run that raises
prints ``FAILED RUN: <reason>`` and exits with code 1, printing no result.
See ``perfbench/README.md`` for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import atexit
import json
import os
import shutil
import signal
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("read_mix", "write_then_read")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _remove(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # only when no other run uses it
    except OSError:
        pass


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.exists(os.path.join(ROOT, "semadb_spark", "__init__.py")):
        print(f"FAILED RUN: no semadb_spark package under {ROOT}", flush=True)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # registered before anything imports multiprocessing, so it runs after
    # multiprocessing's own exit hook has removed its temp files
    atexit.register(_remove, work)
    # a terminated run still closes the pool and stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # keep every temp file (Python, Spark, JVM, pool sockets) in the checkout.
    # Python's own temp dir is relative to the checkout root: the pool's
    # forkserver binds a Unix socket there, and an absolute path under a
    # deep checkout overruns the 107-byte AF_UNIX limit.
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir says;
    # this covers spark-submit's launcher JVM, start_spark the driver's
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.chdir(ROOT)
    tempfile.tempdir = os.path.relpath(tmp, ROOT)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    ctx = workloads.Ctx(args.seed, args.seconds, bool(args.trace), work)
    try:
        metrics = workloads.RUNNERS[args.workload](ctx)
        if ctx.tracer is not None:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            ctx.tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-s{args.seed}.json"))
    except Exception as e:
        traceback.print_exc()
        print(f"FAILED RUN: {type(e).__name__}: {e}", flush=True)
        return 1
    finally:
        ctx.close()
    for line in ctx.report:
        print(line)
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
