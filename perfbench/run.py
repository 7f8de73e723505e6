"""geostore-spark benchmark: one workload, one run.

    python3 perfbench/run.py --workload ingest_versions --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. It builds nothing: it starts a Spark
session through ``geostore_spark.session``, sets up the workload, runs
one closed-loop client for ``--seconds`` and checks every result. The
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer ones with ``--trace 1``. The line before it
reports the same run under the workload's own metric names. Everything
the run writes stays under ``.perfbench/`` in the checkout: a fresh
``run-<pid>/`` (warehouse, metadata store, staging, storage, temp dirs)
removed at exit, and ``cache/`` with the generated sf0.1 fixture and the
golden digests, made by the first run and reused after. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("ingest_versions", "ingest_bytes", "query_suite")
DRIVER_MEM = "4g"  # the engine's single local JVM; the default 32g exceeds small hosts


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples above it, or the
    maximum when there are too few samples for one."""
    ordered = sorted(samples)
    n = len(ordered)
    if n > 10:
        return ordered[n - 11], f"p{100 * (n - 10) / n:.0f}"
    return ordered[-1], "max"


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _host_loop() -> float:
    """Seconds a fixed pure-Python loop takes: the host's speed at the
    start of the run, so a reader can tell host drift from a change."""
    t0 = time.perf_counter()
    total = 0
    for i in range(2_000_000):
        total += i * i
    return time.perf_counter() - t0


def _children(pid: int) -> list[int]:
    kids = []
    for task in Path(f"/proc/{pid}/task").glob("*/children"):
        kids += [int(p) for p in task.read_text().split()]
    return kids


def _stop(spark) -> None:
    """Stop the session, end the gateway JVM and wait for it and the
    Python workers it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    workers = _children(jvm_pid)
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if Path(f"/proc/{p}").exists()]
        time.sleep(0.1)


def _primary_samples(workload: str, ops: list[dict]) -> list[float]:
    from workloads import query_medians

    if workload == "query_suite":
        return [wall for wall, _module in query_medians(ops).values()]
    return [op["wall"] for op in ops if op["kind"] == "import" and op["ok"]]


def _report(
    workload: str,
    ops: list[dict],
    setup: dict,
    setup_s: float,
    rss_mb: float,
    host_loop_s: float,
    attempted: int,
    failed: int,
) -> dict:
    """The run under the workload's own metric names, with sample counts."""
    samples = _primary_samples(workload, ops)
    tail, pct = _tail(samples) if samples else (0.0, "none")
    rep = {
        "setup_s": {"value": setup_s, "unit": "s", "phases": setup},
        "error_rate": {"value": failed / attempted, "unit": "ratio", "n": attempted},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
        "host_loop_s": {"value": host_loop_s, "unit": "s"},
    }
    p50 = statistics.median(samples) if samples else 0.0
    if workload == "query_suite":
        rep["query_p50_s"] = {"value": p50, "unit": "s", "n": len(samples)}
        rep["query_tail_s"] = {"value": tail, "unit": "s", "percentile": pct, "n": len(samples)}
        rep["suite_s"] = {"value": sum(samples), "unit": "s", "queries": len(samples)}
        return rep
    imports = [op for op in ops if op["kind"] == "import" and op["ok"]]
    status = [op["wall"] for op in ops if op["kind"] == "status" and op["ok"]]
    rep["import_p50_s"] = {"value": p50, "unit": "s", "n": len(samples)}
    rep["import_tail_s"] = {"value": tail, "unit": "s", "percentile": pct, "n": len(samples)}
    rep["status_p50_s"] = {
        "value": statistics.median(status) if status else 0.0, "unit": "s", "n": len(status)
    }
    wall = sum(op["wall"] for op in imports)
    rep["import_mb_per_s"] = {
        "value": sum(op["data_bytes"] for op in imports) / 1e6 / wall if wall else 0.0,
        "unit": "MB/s",
    }
    return rep


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    if not (ROOT / "geostore_spark").is_dir() or not (ROOT / "tools" / "gen_sf.py").is_file():
        print("perfbench: run from the root of a geostore-spark checkout", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench"
    cache = work / "cache"
    run_dir = work / f"run-{os.getpid()}"
    for d in (cache, run_dir / "tmp", run_dir / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(run_dir / "spark-local"),
        TMPDIR=str(run_dir / "tmp"),
        # the Python workers import geostore_spark from the checkout
        PYTHONPATH=os.pathsep.join(filter(None, (str(ROOT), os.environ.get("PYTHONPATH")))),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
    )
    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))
    try:
        return _measure(args, work, run_dir, cache)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _measure(args, work: Path, run_dir: Path, cache: Path) -> int:
    from tracing import Tracer, layer_metrics
    from workloads import Run, SetupError, ingest, query_medians, query_suite

    from geostore_spark.session import build_session

    host_loop_s = _host_loop()
    tracer = Tracer(args.trace == 1)
    tracer.install()
    t0 = time.perf_counter()
    spark = build_session(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    start_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        run = Run(spark, tracer, args.seed, args.seconds, ROOT, run_dir, cache)
        run.setup["session.start"] = start_s
        if args.workload == "query_suite":
            window = query_suite(run)
        else:
            window = ingest(run, args.workload)
        setup_s = sum(run.setup.values())

        baseline_path = work / f"untraced-{args.workload}.jsonl"
        baseline = None
        if tracer.enabled:
            recorded = []
            if baseline_path.exists():
                lines = baseline_path.read_text().splitlines()
                recorded = [json.loads(line)["op_p50_s"] for line in lines]
            if not recorded:  # no untraced run recorded here yet: measure one window untraced first
                tracer.enabled = False
                window()
                recorded = _primary_samples(args.workload, run.ops)
                tracer.enabled = True
                run.window = 1
            baseline = statistics.median(recorded) if recorded else None
        window()
        rss_mb = _vm_hwm_mb(spark._jvm.ProcessHandle.current().pid()) + _vm_hwm_mb("self")
    except SetupError as exc:
        print(f"perfbench: set-up failed: {exc}", file=sys.stderr)
        return 1
    finally:
        _stop(spark)

    ops = [op for op in run.ops if op["window"] == run.window]
    attempted = len(run.ops)
    failed = sum(not op["ok"] for op in run.ops)
    samples = _primary_samples(args.workload, ops)
    if not samples:
        print("perfbench: no operation succeeded", file=sys.stderr)
    p50 = statistics.median(samples) if samples else 0.0
    tail = _tail(samples)[0] if samples else 0.0
    report = _report(args.workload, ops, run.setup, setup_s, rss_mb, host_loop_s, attempted, failed)
    head = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    print(json.dumps({**head, "report": report}))

    if tracer.enabled:
        modules: dict[str, float] = {}
        for wall, module in query_medians(ops).values():
            modules[module] = modules.get(module, 0.0) + wall
        overhead = p50 / baseline - 1 if baseline and samples else 0.0
        values = layer_metrics(tracer, ops, run.setup, run.extra, modules, overhead)
        traces = work / "traces"
        traces.mkdir(exist_ok=True)
        tracer.dump(str(traces / f"{args.workload}-seed{args.seed}.json"), ops)
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in values.items()}
    else:
        if samples:
            with baseline_path.open("a") as f:
                f.write(json.dumps({"seed": args.seed, "op_p50_s": p50}) + "\n")
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_p50_s": {"value": p50, "unit": "s"},
            "op_tail_s": {"value": tail, "unit": "s"},
        }
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    print(json.dumps({**result, "metrics": metrics}))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name == "checksums.bytes":
        return "bytes"
    if name.endswith(("_frac", "_per_user_byte")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
