"""The bridge benchmark: one command per workload.

    python3 perfbench/run.py --workload plant_steady --seed 1 --seconds 10 --trace 0

Run it from the repository root. Everything runs in this one process on
``local[<cpus>]`` with at most one extra client thread. Work files go under
``.perfbench_work/`` in the current directory and are removed at the end,
except the traced run's span dump in ``.perfbench_work/traces/``.

Output: human-readable lines (each timing with its sample count, failures
by cause, the correctness checks), then a detail JSON line, and last the
result line: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, measured with no span
wrappers installed. ``--trace 1`` runs the same seed with a traced window
between two untraced ones, and reports the per-layer metrics of the traced
window plus ``trace.overhead_frac``.

``attempted`` / ``failed`` count the end-of-run store checks. HMI lookups
are counted separately, by cause, in the detail line and in
``lookup_ok_share``: the upsert sink's delete-then-rename swap makes some
lookups beside a running bridge fail, and those failures are a measured
property of the program, not of the benchmark. A lookup median that lands
on a failure reads +inf and makes the run incorrect.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

WORKLOADS = ("plant_steady", "outage_catchup")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(root: str, work: str) -> None:
    """Environment inherited by the JVM and every Python worker: the
    repository on the import path, the pacing schedule and span spool, and
    scratch space inside the work directory."""
    for d in ("spool", "spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": root + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PERFBENCH_PACE": os.path.join(work, "schedule.json"),
        "PERFBENCH_SPOOL": os.path.join(work, "spool"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        # every JVM (the launcher too): temp files in the work directory,
        # no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })


def start_engine(work: str, traced: bool):
    """The shipped ``Engine`` on the package's session, with the benchmark's
    paced source registered over ``opcsim``."""
    from opc2mongodb_spark.engine import Engine
    from opc2mongodb_spark.session import get_spark
    from perfbench import paced

    t = time.time()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    eng = Engine(spark)
    spark.dataSource.register(
        paced.TracedPacedOpcSim if traced else paced.PacedOpcSim
    )
    return eng, time.time() - t


def stop_engine(spark) -> None:
    """Stop Spark, then end the JVM the session launched and wait for it:
    the JVM exits when its stdin closes, and its Python workers with it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def print_report(workload: str, out: dict) -> None:
    e2e, layers, failures = out["e2e"], out["layers"], out["failures"]
    lookups, problems = out["lookups"], out["problems"]
    for name, m in e2e.items():
        batches = f", batches={m['batches']}" if "batches" in m else ""
        print(f"{workload} {name} = {m['value']:.6g} {m['unit']} "
              f"(n={m['n']}{batches})")
    for name, v in layers.items():
        print(f"{workload} layer {name} = {v['value']:.6g} {v['unit']}")
    causes: dict = {}
    for r in lookups:
        causes[r["cause"] or "ok"] = causes.get(r["cause"] or "ok", 0) + 1
    print(f"{workload} lookups {len(lookups)}: {causes}")
    print(f"{workload} operations: {failures.as_dict()}")
    print(f"{workload} correctness: {'OK' if not problems else problems}")
    print(json.dumps({
        "workload": workload,
        "end_to_end": e2e,
        "per_layer": layers,
        "lookups": causes,
        "operations": failures.as_dict(),
        "problems": problems,
        "phases_s": out["phases"],
        "windows": out["windows"],
    }))


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "opc2mongodb_spark")):
        print("perfbench: opc2mongodb_spark/ not found; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(
        base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    prepare_env(root, work)

    from perfbench import workloads

    eng = None
    try:
        eng, session_s = start_engine(work, bool(args.trace))
        out = workloads.run(args.workload, eng, work, args.seed,
                            args.seconds, bool(args.trace), T_PROCESS,
                            session_s)
        if args.trace:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            out["tracer"].dump(
                os.path.join(base, "traces",
                             f"{args.workload}-s{args.seed}.json"),
                {"per_layer": out["layers"]},
            )
    finally:
        if eng is not None:
            stop_engine(eng.spark)
        shutil.rmtree(work, ignore_errors=True)

    failures = out["failures"]
    out["phases"]["total_s"] = time.time() - T_PROCESS
    print_report(args.workload, out)
    metrics = {k: {"value": v["value"], "unit": v["unit"]}
               for k, v in (out["layers"] if args.trace else out["e2e"]).items()}
    print(json.dumps({
        "correct": not out["problems"],
        "attempted": failures.attempted(),
        "failed": failures.failed(),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
