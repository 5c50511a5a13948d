"""s3spark benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload verb_cycle --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. Inputs are generated
from ``--seed`` under ``perfbench/_work`` (removed when the run ends).
The last line of standard output is one JSON object::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json`` (every workload reports the same set); a line before
it, starting ``detail``, carries the workload's own end-to-end numbers
(``verbs.*``, ``panel.*``, ``etl.*``) and ``ops_failed_ratio``. With
``--trace 1`` they are the per-layer metrics; spans are then written to
``perfbench/_traces/``. ``--toy`` runs the self-test sizes and
``--fault`` plants one wrong output so the self-tests can see a check
fail.

The environment is pinned and printed (an ``env`` line): Spark runs on
``local[<cpus this process may use>]`` through ``SPARK_GRAFT_CPUS``,
Python workers get the checkout on ``PYTHONPATH``, Spark and Python
temporary files stay under ``perfbench/_work``, and the UI is off.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SHUFFLE_PARTITIONS = 8


def load_spec() -> dict:
    """``BENCHMARK.json``: the metric names and units this script emits."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def pin_env(work: str) -> dict[str, str]:
    """Environment the engine runs under; must be set before the JVM."""
    old = os.environ.get("PYTHONPATH")
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYTHONPATH": ROOT + (os.pathsep + old if old else ""),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    return env


def start_session(work: str, trace: bool):
    from s3spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.hadoop.hadoop.tmp.dir": os.environ["TMPDIR"],
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = f"file://{work}/eventlog"
        conf["spark.eventLog.rolling.enabled"] = "false"  # one plain JSON file
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark("s3spark-perfbench", shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def peak_rss_mib(spark) -> float:
    """Peak resident set of this process plus the JVM (VmHWM)."""
    total = 0
    for pid in (os.getpid(), spark._jvm.ProcessHandle.current().pid()):
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)
    to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    SparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["verb_cycle", "query_panel"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--toy", action="store_true", help="self-test sizes")
    ap.add_argument("--fault", choices=["verb_byte", "oracle_row"], help="plant one wrong output")
    args = ap.parse_args(argv)

    work = os.path.join(HERE, "_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spec = load_spec()
    env = pin_env(work)
    sys.path.insert(0, ROOT)
    try:
        import s3spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    import pyspark

    from tracing import Tracer, read_event_log
    import workloads as W

    trace = bool(args.trace)
    run = W.Run(None, work, args.seed, W.TOY if args.toy else W.FULL, args.fault, Tracer())
    wl = W.WORKLOADS[args.workload](run)
    wl.prepare()

    t0 = time.perf_counter()
    spark = start_session(work, trace)
    t1 = time.perf_counter()
    import s3spark.queries  # noqa: F401

    t2 = time.perf_counter()
    run.spark = spark
    wl.warm()
    t3 = time.perf_counter()
    run.tracer.sc = spark.sparkContext
    if trace:
        wl.instrument(run.tracer)

    m = W.measure(wl, args.seconds, trace, args.seed)
    rss = peak_rss_mib(spark)
    env.update(
        master=spark.sparkContext.master,
        shuffle_partitions=spark.conf.get("spark.sql.shuffle.partitions"),
        spark=pyspark.__version__,
        java=spark._jvm.System.getProperty("java.version"),
        python=sys.version.split()[0],
        ui=spark.conf.get("spark.ui.enabled"),
    )
    stop_session(spark)

    detail = wl.detail()
    detail["peak_rss_mib"] = rss
    detail["ops_failed_ratio"] = run.failed / run.attempted if run.attempted else 1.0
    print("env " + json.dumps(env, sort_keys=True))
    if trace:
        layers = wl.layers(run.tracer, read_event_log(os.path.join(work, "eventlog")))
        layers.update(
            {
                "setup.session_s": t1 - t0,
                "setup.import_s": t2 - t1,
                "setup.warmup_s": t3 - t2,
                "trace.overhead_ratio": m.traced_s / m.untraced_s if m.untraced_s else 0.0,
            }
        )
        layers.update(detail)
        metrics = spec["per_layer"]
        # the other workload's layers are reported as 0
        unmeasured = [e["name"] for e in metrics if e["name"] not in layers]
        print("unmeasured " + json.dumps(unmeasured), file=sys.stderr)
        layers.update(dict.fromkeys(unmeasured, 0.0))
        os.makedirs(os.path.join(HERE, "_traces"), exist_ok=True)
        run.tracer.dump(os.path.join(HERE, "_traces", f"{args.workload}-seed{args.seed}.json"))
        if run.tracer.missing:
            print("missing spans " + json.dumps(run.tracer.missing), file=sys.stderr)
    else:
        metrics = spec["end_to_end"]
        layers = {"setup_s": t3 - t0, "wall_s": wl.wall(m.pass_walls)}
        print("detail " + json.dumps(detail))
    shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            e["name"]: {"value": float(layers[e["name"]]), "unit": e["unit"]} for e in metrics
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
