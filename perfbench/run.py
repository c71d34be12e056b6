"""End-to-end benchmark of the water_column_sonar_processing_spark engine.

    python3 perfbench/run.py --workload geo_batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The benchmark
generates its inputs from `--seed`, drives the program through its public
entry points for `--seconds`, checks the outputs apart from the program
and prints, as the last line of standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

`--trace 0` reports the end-to-end metrics; `--trace 1` makes a traced
run that reports the per-layer metrics (and writes its spans next to the
work directory). Lines before the last one are a human-readable report.

All files go to `.perfbench_work/` under the checkout; Spark's own log
goes to a file there instead of the terminal.
"""

from __future__ import annotations

import time

T0 = time.time()  # process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "water_column_sonar_processing_spark"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("geo_batch", "geo_stream"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def redirect_native_stderr(log_path: str):
    """Point fd 2 (inherited by the JVM and the Python workers) at a log
    file; keep the benchmark's own stderr on the original stream."""
    saved = os.dup(2)
    fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    sys.stderr = os.fdopen(saved, "w", buffering=1)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found next to perfbench/; run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "input", "out"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    spark_log = os.path.join(work, "spark.log")
    redirect_native_stderr(spark_log)

    import workloads

    ctx = workloads.Ctx(
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        work=work,
        spark_log=spark_log,
        t0=T0,
    )
    runner = {"geo_batch": workloads.run_geo_batch, "geo_stream": workloads.run_geo_stream}[args.workload]
    try:
        res = runner(ctx)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        with open(spark_log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = {k: {"value": res.layers[k], "unit": u} for k, (u, _) in workloads.PER_LAYER.items()}
    else:
        metrics = {k: {"value": res.e2e[k], "unit": u} for k, u in workloads.END_TO_END.items()}
    session = f"local[{workloads.CORES}], shuffle partitions {workloads.SHUFFLE_PARTITIONS}, driver heap {workloads.DRIVER_MEM}"
    print(f"# {args.workload} seed {args.seed} {args.seconds}s trace={args.trace}; session {session}")
    for line in ctx.report:
        print(f"# {line}")
    print("# phases (s): " + ", ".join(f"{k} {v:.2f}" for k, v in ctx.phases.items()) + f"; total {time.time() - T0:.2f}")
    print(f"# error_rate {res.failed / res.attempted:.6f} ({res.failed} failed of {res.attempted} attempted)")
    for k, m in metrics.items():
        print(f"{k} {m['value']} {m['unit']}")
    print(json.dumps({"correct": res.correct, "attempted": res.attempted, "failed": res.failed, "metrics": metrics}))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
