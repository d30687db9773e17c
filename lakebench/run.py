"""CDC-lake benchmark: one workload, one seed, one JSON result line.

Usage, from the root of a checkout::

    python3 lakebench/run.py --workload cdc_pipeline --seed 1 --seconds 6 --trace 0

Workloads (see ``workloads.py``):

* ``cdc_pipeline``: a closed loop of rounds, each atomically renaming one
  file of change events into the watched directory and draining the
  lake, error and MVCC snapshot streams (availableNow) until all three
  commit (fixed per-batch cost; the first rounds warm the JVM up and are
  not reported); then a seeded 168-hour NDJSON log of DynamoDB stream
  envelopes goes through ``cdc_transform`` into a lake and error zone of
  its own, then ``read_cdc_zone`` -> ``reconstruct_table`` and
  ``merge_snapshot_cdc`` against a parquet full load (bulk work).
* ``lake_queries``: registry queries over seeded tables in seed-permuted
  order: one cold invocation each (every artifact build included), then
  warm repetitions, all through the ``noop`` sink, each result checked
  against its DuckDB oracle afterwards.

Every run is isolated: a fresh ``TMPDIR`` (where cached builds live),
``SPARK_LOCAL_DIRS``, lake and checkpoint directories, all under
``.lakebench/`` in the checkout and removed at exit. The repository
root goes on ``PYTHONPATH`` so Python workers import the package from
any working directory.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on the
Spark event log, tags each span's jobs with its job group, and prints
the per-layer metrics (``LAYERS`` names the end-to-end metric each one
should move). Spans are written to ``.lakebench/traces/`` at the end.
The line before the result, ``detail: {...}``, holds per-workload figures
(``ingest_events_per_s``, ``freshness_p50_s``, ``cold_mix_s``...).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time

PACKAGE = "dynamodb_streaming_datalake_spark"
MASTER = "local[4]"

#: per-layer metric -> (unit, better, end-to-end metric it should move)
LAYERS: dict[str, tuple[str, str, str]] = {
    "session.start_s": ("s", "lower", "setup_s"),
    "registry.construct_s": ("s", "lower", "lake_queries cold_s, warm_s"),
    "registry.construct_jobs": ("count", "lower", "lake_queries cold_s, warm_s"),
    "cache.builds": ("count", "lower", "lake_queries cold_s"),
    "cache.build_bytes": ("bytes", "lower", "lake_queries cold_s"),
    "catalyst.compile_s": ("s", "lower", "lake_queries cold_s, warm_s"),
    "query.execute_s": ("s", "lower", "lake_queries cold_s, warm_s"),
    "cdc.construct_s": ("s", "lower", "cdc_pipeline cold_s (ingest)"),
    "cdc.ok_rows": ("count", "higher", "cdc_pipeline cold_s (ingest)"),
    "cdc.error_rows": ("count", "lower", "cdc_pipeline cold_s (ingest)"),
    "writers.lake_write_s": ("s", "lower", "cdc_pipeline cold_s (ingest)"),
    "writers.error_write_s": ("s", "lower", "cdc_pipeline cold_s (ingest)"),
    "writers.lake_files": ("count", "lower", "cdc_pipeline cold_s (ingest)"),
    "writers.bytes_per_input_byte": ("ratio", "lower", "cdc_pipeline cold_s (ingest)"),
    "readers.input_bytes": ("bytes", "lower", "cdc_pipeline cold_s (rebuild)"),
    "state.reconstruct_s": ("s", "lower", "cdc_pipeline cold_s (rebuild)"),
    "state.merge_s": ("s", "lower", "cdc_pipeline cold_s (rebuild)"),
    **{
        f"pipeline.{s}_trigger_ms.{ph}": ("ms", "lower", "cdc_pipeline warm_s (freshness p50)")
        for s in ("lake", "error")
        for ph in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")
    },
    "pipeline.start_overhead_s": ("s", "lower", "cdc_pipeline warm_s (freshness p50)"),
    "upsert.trigger_ms": ("ms", "lower", "cdc_pipeline warm_s (freshness p50)"),
    "upsert.snapshot_rows": ("count", "lower", "cdc_pipeline warm_s (freshness p50)"),
    "upsert.bytes_written_per_delta_byte": ("ratio", "lower", "cdc_pipeline warm_s (freshness p50)"),
    "spark.jobs": ("count", "lower", "every workload, per pass"),
    "spark.stages": ("count", "lower", "every workload, per pass"),
    "spark.tasks": ("count", "lower", "every workload, per pass"),
    "spark.executor_run_s": ("s", "lower", "every workload, per pass"),
    "spark.executor_cpu_s": ("s", "lower", "every workload, per pass"),
    "spark.gc_s": ("s", "lower", "every workload, per pass"),
    "spark.shuffle_read_bytes": ("bytes", "lower", "every workload, per pass"),
    "spark.shuffle_write_bytes": ("bytes", "lower", "every workload, per pass"),
    "spark.spill_bytes": ("bytes", "lower", "every workload, per pass"),
    "spark.task_skew": ("ratio", "lower", "every workload, worst stage"),
    "spark.single_task_stage_rows": ("count", "lower", "every workload, per pass"),
    "trace.cold_s": ("s", "lower", "traced cold_s; minus untraced = overhead"),
    "trace.warm_s": ("s", "lower", "traced warm_s; minus untraced = overhead"),
}
E2E_UNITS = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
}


def _age_at_import() -> float:
    """Seconds from process start (interpreter start-up included) to now."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


_T0 = time.perf_counter()
_AGE0 = _age_at_import()


def _process_age() -> float:
    return _AGE0 + time.perf_counter() - _T0


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _children(pid: int) -> set[int]:
    out: set[int] = set()
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.update(int(c) for c in f.read().split())
    except OSError:
        pass
    for c in list(out):
        out |= _children(c)
    return out


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM and its Python workers,
    and wait until each has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _children(proc.pid) if proc else set()
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = {k for k in kids if os.path.exists(f"/proc/{k}")}
        time.sleep(0.05)


def _isolate(root: str) -> str:
    run_dir = os.path.join(root, ".lakebench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "eventlog", "inputs", "lake", "ckpt"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    tempfile.tempdir = None  # re-read TMPDIR
    if root not in sys.path:
        sys.path.insert(1, root)
    return run_dir


def _session(run_dir: str, trace: bool):
    from dynamodb_streaming_datalake_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    return get_spark(app_name="lakebench", master=MASTER, extra_conf=conf)


def _event_lines(run_dir: str):
    for root, _dirs, names in os.walk(os.path.join(run_dir, "eventlog")):
        for name in sorted(n for n in names if not n.startswith((".", "appstatus"))):
            with open(os.path.join(root, name)) as f:
                yield from f


def _layer_metrics(res, tracer, spark_counts, start_s: float) -> tuple[dict, list]:
    from spans import SPARK_COUNTERS

    records = tracer.records(spark_counts)
    layers = {name: 0.0 for name in LAYERS}
    layers.update(res.layers)
    layers["session.start_s"] = start_s
    totals = {c: 0.0 for c in SPARK_COUNTERS}
    for rec in records:
        for c, v in rec["spark"].items():
            totals[c] = max(totals[c], v) if c == "task_skew" else totals[c] + v
    for c, v in totals.items():
        layers[f"spark.{c}"] = v if c == "task_skew" else v / res.passes
    spans = set(res.construct_spans)
    layers["registry.construct_jobs"] = sum(
        r["spark"].get("jobs", 0.0) for r in records if r["id"] in spans
    )
    layers["trace.cold_s"] = res.e2e["cold_s"]
    layers["trace.warm_s"] = res.e2e["warm_s"]
    return layers, records


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"lakebench: no {PACKAGE} package under {root}", file=sys.stderr)
        return 2
    run_dir = _isolate(root)
    spark = None
    try:
        from workloads import WORKLOADS, Ctx
        from spans import Tracer, parse_event_log

        if args.workload not in WORKLOADS:
            print(f"lakebench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        t = time.perf_counter()
        spark = _session(run_dir, bool(args.trace))
        start_s = time.perf_counter() - t
        setup_s = _process_age()
        tracer = Tracer(spark, bool(args.trace))
        ctx = Ctx(spark, tracer, run_dir, args.seed, args.seconds)
        print(f"lakebench: session ready after {setup_s:.1f} s", file=sys.stderr, flush=True)
        res = WORKLOADS[args.workload](ctx)

        from pyspark import SparkContext

        jvm = getattr(SparkContext._gateway, "proc", None)
        rss_mb = (_vm_hwm_mb(jvm.pid) if jvm else 0.0) + resource.getrusage(
            resource.RUSAGE_SELF
        ).ru_maxrss / 1024
        _stop(spark)
        spark = None
        print(f"lakebench: stopped after {_process_age():.1f} s", file=sys.stderr, flush=True)

        if args.trace:
            counts = parse_event_log(_event_lines(run_dir))
            values, records = _layer_metrics(res, tracer, counts, start_s)
            metrics = {k: {"value": values[k], "unit": LAYERS[k][0]} for k in LAYERS}
            trace_dir = os.path.join(root, ".lakebench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"layers": values, "targets": LAYERS, "spans": records}, f, indent=1)
        else:
            values = {"setup_s": setup_s, "peak_rss_mb": rss_mb, **res.e2e}
            metrics = {k: {"value": values[k], "unit": u} for k, u in E2E_UNITS.items()}
        failed = len(res.failures)
        attempted = max(res.attempted, 1)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (rss_mb, "MB"),
            "failed_ops_ratio": (failed / attempted, "ratio"),
            **res.detail,
        }
        for f in res.failures:
            print(f"lakebench: FAILED {f}", file=sys.stderr)
        print("detail: " + json.dumps(detail, default=str))
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
