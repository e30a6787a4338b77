#!/usr/bin/env python3
"""CDC-path benchmark of postrack_spark: one workload per process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It builds every input from ``--seed``,
runs warm-up steps (charged to ``setup_s``), then closed-loop timed
steps for ``--seconds`` (at least harness.MIN_STEPS of them), checks each
step's output, and prints one JSON object as its last line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones,
taken from traced steps interleaved with plain ones (spans go to
``perfbench/traces/<workload>-seed<n>.jsonl``).

Everything the run writes lives under ``perfbench/.work/<workload>-<pid>``
(also the JVM's, Spark's and Python's temp files) and is removed before
exit. See perfbench/README.md for the workloads and metrics.
"""

import time

T0 = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = {
    "pg_capture": ("perfbench.wl_pg_capture", "PgCapture"),
    "cdc_replay": ("perfbench.wl_cdc_replay", "CdcReplay"),
    "cdc_stream_apply": ("perfbench.wl_cdc_stream_apply", "CdcStreamApply"),
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor; below 1 only for self-tests")
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Point every temp dir of this process tree (Python workers, the
    JVM, Spark's scratch) into ``work``; let Python workers import
    postrack_spark however the runner was started."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g' "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    # a fixed 1 GB heap: no heap growth during the run to skew step
    # times and peak RSS
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "postrack_spark", "__init__.py")):
        print(f"postrack_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.harness import Runner, Tracer

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # SIGTERM unwinds through the finally below like Ctrl-C does
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    workload = None
    try:
        _isolate(work)
        module, cls = WORKLOADS[args.workload]
        tracer = Tracer(False)
        workload = getattr(importlib.import_module(module), cls)(
            args.seed, args.scale, work, tracer)
        runner = Runner(workload, args.seconds, bool(args.trace), T0,
                        log=lambda msg: print(msg, flush=True))
        metrics = runner.run()
        correct = runner.failed == 0 and runner.attempted > 0
        if args.trace:
            tracer.write(os.path.join(HERE, "traces",
                                      f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        try:
            if workload is not None:
                workload.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.join(HERE, ".work"))
            except OSError:
                pass
    print(json.dumps({
        "correct": correct,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
