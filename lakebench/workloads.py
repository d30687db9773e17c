"""The workloads: CDC backfill plus micro-batch freshness, and a cold query mix.

Each workload drives the program's public layer functions from outside,
inside ``Tracer`` spans, and returns a ``Result``: the end-to-end
figures, per-layer figures, per-workload detail figures, and the
outcome of every output check.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.errors import StreamingQueryException
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dynamodb_streaming_datalake_spark.operators.cdc import cdc_transform
from dynamodb_streaming_datalake_spark.operators.state import (
    merge_snapshot_cdc,
    reconstruct_table,
)
from dynamodb_streaming_datalake_spark.registry import all_oracle_sql, all_queries
from dynamodb_streaming_datalake_spark.sources.readers import read_cdc_zone
from dynamodb_streaming_datalake_spark.sources.writers import (
    PARTITION_COLS,
    write_cdc_zone,
    write_error_zone,
    write_snapshot,
)
from dynamodb_streaming_datalake_spark.streaming.pipeline import (
    read_cdc_lines,
    start_error_stream,
    start_lake_stream,
)
from dynamodb_streaming_datalake_spark.streaming.upsert import (
    current_snapshot,
    start_snapshot_maintenance,
)

from envelopes import ATTRS, BASE_TS, HOUR, SNAPSHOT_TS, ChangeLog
from synth_tables import write_tables

KEYS = ("id", "name")
ORDER = ("event_time", "eventID")
LAKE_SCHEMA = T.StructType(
    [T.StructField("eventID", T.StringType()), T.StructField("event_time", T.TimestampType())]
    + [T.StructField(a, T.StringType()) for a in ATTRS]
    + [T.StructField("Event", T.StringType()), T.StructField("ingestion_timestamp", T.StringType())]
)
#: error-zone rows; ``result`` comes back from the partition directories
ERROR_SCHEMA = "raw STRING, eventID STRING, eventName STRING"

# Sizes fit a run into about a minute on 4 cores: the session start and
# the first-use JIT cost alone take 15-25 s of that.
BACKFILL_EVENTS = 40_000
BACKFILL_KEYS = 10_000
BACKFILL_HOURS = 168
ROUND_EVENTS = 5_000
ROUND_KEYS = 5_000
WARMUP_ROUNDS = 2
MIN_ROUNDS = 4
#: warm query-mix cycles: the JIT keeps speeding the mix up for about
#: three cycles after the cold pass, so those are run but not reported
SETTLE_CYCLES = 3
MIN_CYCLES = 3
LAKE_SF = 0.003
#: one or more queries per family; two of them build cached artifacts
#: (MVCC snapshots, CMS view)
QUERY_MIX = (
    # CDC core
    "q_latest_state_per_key",
    "q_merge_snapshot_cdc",
    "q_mvcc_timetravel",
    # TPC-H
    "q1_pricing_summary",
    # ROADMAP D1-D4 families
    "q_text_stats",
    "q_cms_stream",
)
STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")


@dataclass
class Result:
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    #: per-workload figures, with units, for the ``detail:`` line
    detail: dict[str, object] = field(default_factory=dict)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    #: backfill passes, micro-batch rounds or query-mix cycles run;
    #: the traced run reports spark.* counters per pass
    passes: int = 1
    #: ids of the spans around registry construction in the cold pass
    construct_spans: list[str] = field(default_factory=list)


@dataclass
class Ctx:
    spark: object
    tracer: object
    run_dir: str
    seed: int
    seconds: float

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)


def _event_ts():
    """Ingestion time = event time, so the lake's hour partitions follow
    the input's 168 hours whatever the wall clock says."""
    return F.timestamp_seconds(F.col("env.dynamodb.ApproximateCreationDateTime"))


def _noop(df) -> None:
    """Materialize every column (a ``count()`` would let Catalyst prune them)."""
    df.write.format("noop").mode("overwrite").save()


def _tree_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(bytes, files) of the visible data files under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")) or not n.endswith(suffix):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def _log(msg: str) -> None:
    print(f"lakebench: {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _check(res: Result, ok: bool, what: str) -> None:
    res.attempted += 1
    if not ok:
        res.failures.append(what)


# ---------------------------------------------------------------------------
# shared output checks against the fold oracle
# ---------------------------------------------------------------------------


def _check_lake(ctx: Ctx, res: Result, log: ChangeLog, lake: str, err: str) -> tuple[int, int]:
    """Check the lake and error zone against the fold; returns the
    (lake rows, error rows) the program wrote."""
    spark = ctx.spark
    ids = [r[0] for r in read_cdc_zone(spark, lake, schema=LAKE_SCHEMA).select("eventID").collect()]
    _check(res, len(ids) == log.n_valid, f"lake rows {len(ids)} != {log.n_valid}")
    _check(res, len(set(ids)) == len(ids), f"lake eventIDs not unique: {len(set(ids))} of {len(ids)}")
    _check(res, set(ids) <= log.event_ids, "lake holds eventIDs the log never produced")
    errs = {
        r["result"]: r["count"]
        for r in spark.read.schema(ERROR_SCHEMA).json(err).groupBy("result").count().collect()
    }
    want = {k: v for k, v in log.errors.items() if v}
    _check(res, errs == want, f"error zone {errs} != {want}")
    return len(ids), sum(errs.values())


def _check_live(res: Result, rows, want: dict, what: str) -> None:
    got = {(r["id"], r["name"]): {a: r[a] for a in ATTRS} for r in rows}
    bad = [k for k in want.keys() | got.keys() if got.get(k) != want.get(k)]
    _check(res, not bad, f"{what}: {len(bad)} keys differ from the fold, e.g. {bad[:3]}")


def _check_latest(res: Result, rows, want: dict, what: str) -> None:
    got = {(r["id"], r["name"]): (r["eventID"], r["Event"]) for r in rows}
    bad = [k for k in want.keys() | got.keys() if got.get(k) != want.get(k)]
    _check(res, not bad, f"{what}: {len(bad)} keys differ from the fold, e.g. {bad[:3]}")


# ---------------------------------------------------------------------------
# bulk backfill
# ---------------------------------------------------------------------------


def _write_inputs(ctx: Ctx, log: ChangeLog) -> tuple[str, int]:
    """168 hourly NDJSON files; returns (source dir, input bytes)."""
    src = ctx.path("inputs", "backfill")
    os.makedirs(src)
    lines = log.events(BACKFILL_EVENTS, BASE_TS, BACKFILL_HOURS * HOUR)
    by_hour: dict[int, list[str]] = {}
    for ts, line in lines:
        by_hour.setdefault(int((ts - BASE_TS) // HOUR), []).append(line)
    size = 0
    for h, ls in sorted(by_hour.items()):
        p = os.path.join(src, f"events-{h:03d}.json")
        with open(p, "w") as f:
            f.write("\n".join(ls) + "\n")
        size += os.path.getsize(p)
    return src, size


def _snapshot_frame(spark, log: ChangeLog):
    pdf = pd.DataFrame(log.snapshot)
    pdf["event_time"] = pd.Timestamp(SNAPSHOT_TS, unit="s")
    pdf["ingestion_timestamp"] = str(pdf["event_time"].iloc[0])
    return spark.createDataFrame(pdf[[f.name for f in LAKE_SCHEMA.fields]], LAKE_SCHEMA)


def _backfill(ctx: Ctx, res: Result) -> None:
    """Bulk half of ``cdc_pipeline``: write the 168-hour log to the lake
    and error zone, then rebuild the table and merge it with the full load."""
    spark, tr = ctx.spark, ctx.tracer
    log = ChangeLog(ctx.seed, BACKFILL_KEYS)
    src, in_bytes = _write_inputs(ctx, log)
    _log("backfill inputs generated")
    snap_dir = ctx.path("lake", "full_load")
    write_snapshot(_snapshot_frame(spark, log), snap_dir)
    _log("full-load snapshot written")

    # one pass: a backfill is a one-shot batch job
    lake, err = ctx.path("lake", "cdc"), ctx.path("lake", "err")
    t0 = time.perf_counter()
    with tr.span("ingest"):
        with tr.span("cdc.construct") as construct:
            raw = spark.read.text(src).withColumnRenamed("value", "json")
            ok, bad = cdc_transform(raw, attributes=ATTRS, ingestion_ts=_event_ts())
        with tr.span("writers.lake_write") as lake_write:
            write_cdc_zone(ok, lake)
        with tr.span("writers.error_write") as error_write:
            write_error_zone(bad, err)
    t1 = time.perf_counter()
    with tr.span("rebuild"):
        with tr.span("readers.read"):
            cdc = read_cdc_zone(spark, lake, schema=LAKE_SCHEMA).drop(*PARTITION_COLS)
        # collected (every column, one row per key) rather than written to
        # the noop sink, so the checks below need no second execution
        with tr.span("state.reconstruct") as reconstruct:
            rebuilt = reconstruct_table(cdc, KEYS, ORDER).collect()
        with tr.span("state.merge") as merge:
            merged = merge_snapshot_cdc(spark.read.parquet(snap_dir), cdc, KEYS, ORDER).collect()
    t2 = time.perf_counter()

    _log("backfill pass done")
    ok_rows, error_rows = _check_lake(ctx, res, log, lake, err)
    _check_live(res, rebuilt, log.live_state(snapshot=False), "reconstruct_table")
    _check_latest(res, merged, log.latest_rows(snapshot=True), "merge_snapshot_cdc")

    _log("backfill checked")
    lake_bytes, lake_files = _tree_bytes(lake, ".gz")
    err_bytes, _ = _tree_bytes(err, ".gz")
    res.e2e["cold_s"] = t2 - t0
    res.layers |= {
        "cdc.construct_s": construct.seconds,
        "writers.lake_write_s": lake_write.seconds,
        "writers.error_write_s": error_write.seconds,
        "state.reconstruct_s": reconstruct.seconds,
        "state.merge_s": merge.seconds,
        "cdc.ok_rows": ok_rows,
        "cdc.error_rows": error_rows,
        "writers.lake_files": lake_files,
        "writers.bytes_per_input_byte": (lake_bytes + err_bytes) / in_bytes,
        "readers.input_bytes": lake_bytes,
    }
    res.detail |= {
        "ingest_events_per_s": (BACKFILL_EVENTS / (t1 - t0), "1/s"),
        "rebuild_s": (t2 - t1, "s"),
        "backfill_s": (t2 - t0, "s"),
        "backfill_events": BACKFILL_EVENTS,
    }


# ---------------------------------------------------------------------------
# micro-batch rounds
# ---------------------------------------------------------------------------


def _progress(q) -> list[dict]:
    return [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]


def _durations(progress: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    for p in progress:
        for k, v in (p.get("durationMs") or {}).items():
            out[k] = out.get(k, 0.0) + v
    return out


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ten samples beyond it."""
    if n <= 10:
        return None
    return (100 * (n - 10)) // n


def _microbatch(ctx: Ctx, res: Result) -> None:
    """Streaming half of ``cdc_pipeline``: a closed loop of rounds."""
    spark, tr = ctx.spark, ctx.tracer
    log = ChangeLog(ctx.seed + 1, ROUND_KEYS, snapshot_share=0.0)
    src, stage = ctx.path("inputs", "stream"), ctx.path("inputs", "staging")
    # its own lake and error zone: the stream's file-sink log would hide
    # the backfill's files from readers of a shared directory
    lake, err = ctx.path("lake", "stream_cdc"), ctx.path("lake", "stream_err")
    snap = ctx.path("lake", "snapshot")
    os.makedirs(src)
    os.makedirs(stage)
    rounds: list[dict] = []
    start = None
    r = 0
    while r < WARMUP_ROUNDS + MIN_ROUNDS or time.perf_counter() - start < ctx.seconds:
        if r == WARMUP_ROUNDS:
            start = time.perf_counter()
        name = f"round-{r:04d}.json"
        lines = log.events(ROUND_EVENTS, BASE_TS + r * HOUR, HOUR)
        with open(os.path.join(stage, name), "w") as f:
            f.write("\n".join(line for _, line in lines) + "\n")
        delta_bytes = os.path.getsize(os.path.join(stage, name))
        before, _ = _tree_bytes(snap, ".parquet")
        with tr.span("round") as rs:
            os.rename(os.path.join(stage, name), os.path.join(src, name))
            queries = {}
            with tr.span("pipeline.lake") as s:
                queries["lake"] = start_lake_stream(
                    spark, src, lake, ctx.path("ckpt", "lake"), attributes=ATTRS, ingestion_ts=_event_ts()
                )
            tr.adopt(str(queries["lake"].runId), s)
            with tr.span("pipeline.error") as s:
                queries["error"] = start_error_stream(
                    spark, src, err, ctx.path("ckpt", "err"), ingestion_ts=_event_ts()
                )
            tr.adopt(str(queries["error"].runId), s)
            with tr.span("upsert") as s:
                ok, _ = cdc_transform(
                    read_cdc_lines(spark, src), attributes=ATTRS, ingestion_ts=_event_ts()
                )
                queries["upsert"] = start_snapshot_maintenance(
                    ok, snap, ctx.path("ckpt", "snap"), keys=KEYS, order_by=ORDER
                )
            tr.adopt(str(queries["upsert"].runId), s)
            failed = []
            for k, q in queries.items():
                try:
                    q.awaitTermination()
                except StreamingQueryException:
                    failed.append(k)
        after, _ = _tree_bytes(snap, ".parquet")
        d = {k: _durations(_progress(q)) for k, q in queries.items()}
        rounds.append(
            {
                "wall_s": rs.seconds,
                "failed": failed,
                "durations": d,
                "longest_trigger_s": max(x.get("triggerExecution", 0.0) for x in d.values()) / 1e3,
                "written_per_delta": (after - before) / delta_bytes,
            }
        )
        r += 1

    _log(f"{len(rounds)} rounds done")
    res.attempted += len(rounds) * 3
    for i, rd in enumerate(rounds):
        for k in rd["failed"]:
            res.failures.append(f"round {i}: {k} stream failed")
    _check_lake(ctx, res, log, lake, err)
    full = current_snapshot(spark, snap, live_only=False).collect()
    _check_latest(res, full, log.latest_rows(snapshot=False), "MVCC snapshot")
    live = [row for row in full if row["Event"] != "REMOVE"]
    _check_live(res, live, log.live_state(snapshot=False), "MVCC snapshot (live rows)")

    _log("micro-batch checked")
    measured = rounds[WARMUP_ROUNDS:]
    walls = sorted(rd["wall_s"] for rd in measured)
    pct = tail_percentile(len(walls))
    tail = statistics.quantiles(walls, n=100)[pct - 1] if pct else max(walls)
    res.e2e["warm_s"] = _median(walls)
    layers: dict[str, float] = {}
    for stream in ("lake", "error"):
        for ph in STREAM_PHASES:
            layers[f"pipeline.{stream}_trigger_ms.{ph}"] = _median(
                [rd["durations"][stream].get(ph, 0.0) for rd in measured]
            )
    layers["pipeline.start_overhead_s"] = _median(
        [rd["wall_s"] - rd["longest_trigger_s"] for rd in measured]
    )
    layers["upsert.trigger_ms"] = _median(
        [rd["durations"]["upsert"].get("triggerExecution", 0.0) for rd in measured]
    )
    layers["upsert.snapshot_rows"] = len(full)
    layers["upsert.bytes_written_per_delta_byte"] = _median(
        [rd["written_per_delta"] for rd in measured]
    )
    res.layers |= layers
    res.passes += len(rounds)
    res.detail |= {
        "freshness_p50_s": (res.e2e["warm_s"], "s"),
        "freshness_tail_s": (tail, "s"),
        "freshness_tail_percentile": pct if pct else "max",
        "microbatch_events_per_s": (ROUND_EVENTS * len(walls) / sum(walls), "1/s"),
        "round_s": [round(rd["wall_s"], 3) for rd in rounds],
        "rounds_measured": len(walls),
        "warmup_rounds": WARMUP_ROUNDS,
        "events_per_round": ROUND_EVENTS,
    }


def cdc_pipeline(ctx: Ctx) -> Result:
    """Micro-batch rounds, then the bulk backfill, in one session. The
    settle rounds pay the JVM's warm-up (first jobs, JIT compilation of
    the JSON, gzip and write paths), so the backfill's figures are its
    own parse, write and rebuild work."""
    res = Result()
    _microbatch(ctx, res)
    _backfill(ctx, res)
    return res


# ---------------------------------------------------------------------------
# lake_queries
# ---------------------------------------------------------------------------


def _cache_dirs() -> dict[str, int]:
    root = os.environ["TMPDIR"]
    return {
        n: _tree_bytes(os.path.join(root, n))[0]
        for n in os.listdir(root)
        if "_cache_" in n and os.path.isdir(os.path.join(root, n))
    }


def _invoke(ctx: Ctx, name: str, fn, sf_dir: str) -> dict:
    """One invocation: construct, (traced: compile), execute into noop."""
    tr = ctx.tracer
    out: dict = {}
    with tr.span(f"query:{name}") as q:
        with tr.span("registry.construct") as s:
            df = fn(ctx.spark, sf_dir)
        out["construct_s"] = s.seconds
        out["construct_span"] = s.sid
        if tr.enabled:
            with tr.span("catalyst.compile") as s:
                df._jdf.queryExecution().executedPlan()
            out["compile_s"] = s.seconds
        with tr.span("query.execute") as s:
            _noop(df)
        out["execute_s"] = s.seconds
    out["wall_s"] = q.seconds
    return out


def _jvm_warmup(spark, sf_dir: str) -> None:
    """Generic scans, joins, aggregates, windows and file writes over the
    generated tables, so JIT compilation is not charged to whichever
    query the seed puts first. No registry code runs here."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
    _noop(joined.groupBy("o_orderpriority").agg(F.sum("l_extendedprice"), F.countDistinct("l_partkey")))
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc())
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    ranked = events.withColumn("rn", F.row_number().over(w)).where("rn = 1")
    out = os.path.join(os.environ["TMPDIR"], "warmup")
    ranked.write.mode("overwrite").option("compression", "gzip").json(out)
    _noop(spark.read.json(out))
    ranked.write.mode("overwrite").parquet(out)


def lake_queries(ctx: Ctx) -> Result:
    from tests.oracle_utils import compare_query

    sf_dir = ctx.path("inputs", "sf")
    write_tables(sf_dir, ctx.seed, LAKE_SF)
    _jvm_warmup(ctx.spark, sf_dir)
    _log("tables generated, JVM warmed up")
    queries, oracles = all_queries(), all_oracle_sql()
    order = list(QUERY_MIX)
    random.Random(ctx.seed).shuffle(order)
    res = Result()
    cold: dict[str, dict] = {}
    builds: dict[str, int] = {}
    for name in order:
        before = _cache_dirs()
        try:
            cold[name] = _invoke(ctx, name, queries[name], sf_dir)
            res.construct_spans.append(cold[name]["construct_span"])
        except Exception as e:  # a failing query is counted, not fatal
            res.failures.append(f"{name} (cold): {type(e).__name__}: {str(e)[:200]}")
        after = _cache_dirs()
        builds.update({k: v for k, v in after.items() if k not in before})
    _log("cold pass done")
    warm: dict[str, list[dict]] = {n: [] for n in cold}
    start = None
    cycles = 0
    while cycles < SETTLE_CYCLES + MIN_CYCLES or time.perf_counter() - start < ctx.seconds:
        if cycles == SETTLE_CYCLES:
            start = time.perf_counter()
            warm = {n: [] for n in cold}
        cycles += 1
        for name in order:
            if name not in cold:
                continue
            res.attempted += 1
            try:
                warm[name].append(_invoke(ctx, name, queries[name], sf_dir))
            except Exception as e:
                res.failures.append(f"{name} (warm): {type(e).__name__}: {str(e)[:200]}")
    res.attempted += len(order)

    _log("warm passes done")
    for name in order:
        res.attempted += 1
        try:
            compare_query(ctx.spark, sf_dir, name, queries[name], oracles[name])
        except Exception as e:
            res.failures.append(f"{name} (oracle): {type(e).__name__}: {str(e)[:200]}")

    _log("oracles checked")
    cold_mix = sum(c["wall_s"] for c in cold.values())
    warm_med = {n: _median([w["wall_s"] for w in ws]) for n, ws in warm.items() if ws}
    warm_mix = sum(warm_med.values())
    n_warm = sum(len(ws) for ws in warm.values())
    res.e2e = {"cold_s": cold_mix, "warm_s": warm_mix}
    res.passes = 1 + cycles
    res.layers = {
        "registry.construct_s": sum(c["construct_s"] for c in cold.values()),
        "catalyst.compile_s": sum(c.get("compile_s", 0.0) for c in cold.values()),
        "query.execute_s": sum(c["execute_s"] for c in cold.values()),
        "cache.builds": len(builds),
        "cache.build_bytes": sum(builds.values()),
    }
    res.detail = {
        "cold_mix_s": (cold_mix, "s"),
        "warm_mix_s": (warm_mix, "s"),
        "queries": len(order),
        "order": order,
        "warm_reps": n_warm,
        "cold_wall_s": {n: round(c["wall_s"], 4) for n, c in cold.items()},
        "warm_median_s": {n: round(v, 4) for n, v in warm_med.items()},
    }
    return res


WORKLOADS = {
    "cdc_pipeline": cdc_pipeline,
    "lake_queries": lake_queries,
}
