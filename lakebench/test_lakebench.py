"""Self-tests for the benchmark harness (no Spark session needed).

Run from the repository root: ``python3 -m pytest lakebench -q``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from envelopes import BASE_TS, KNOWN, ChangeLog  # noqa: E402
from spans import SPARK_COUNTERS, Tracer, parse_event_log  # noqa: E402
from workloads import tail_percentile  # noqa: E402


def _readme_sequence() -> list[dict]:
    """INSERT Architect -> MODIFY Sr. Architect -> MODIFY Developer
    Advocate -> REMOVE on key (864732, Adam)."""
    keys = {"id": {"S": "864732"}, "name": {"S": "Adam"}}
    images = [
        {**keys, "Designation": {"S": d}}
        for d in ("Architect", "Sr. Architect", "Developer Advocate")
    ]
    names = ("INSERT", "MODIFY", "MODIFY", "REMOVE")
    new = (images[0], images[1], images[2], None)
    old = (None, images[0], images[1], images[2])
    return [
        {
            "eventID": f"readme-{i}",
            "eventName": names[i],
            "dynamodb": {
                "ApproximateCreationDateTime": BASE_TS + 60 * i,
                "Keys": keys,
                "NewImage": new[i],
                "OldImage": old[i],
            },
        }
        for i in range(4)
    ]


def test_fold_readme_sequence_leaves_key_absent():
    log = ChangeLog(seed=0, n_keys=1, snapshot_share=0.0)
    seq = _readme_sequence()
    for env in seq[:3]:
        log.fold(env)
    assert log.live_state(snapshot=False) == {
        ("864732", "Adam"): {
            "id": "864732",
            "name": "Adam",
            "Designation": "Developer Advocate",
        }
    }
    log.fold(seq[3])
    assert ("864732", "Adam") not in log.live_state(snapshot=False)
    assert log.latest_rows(snapshot=False) == {("864732", "Adam"): ("readme-3", "REMOVE")}


def test_generated_log_matches_a_replay_of_its_own_lines():
    log = ChangeLog(seed=7, n_keys=300)
    lines = log.events(6000, BASE_TS, 168 * 3600.0)
    stamps = [ts for ts, _ in lines]
    assert stamps == sorted(stamps) and len(set(stamps)) == len(stamps)

    replay = ChangeLog(seed=7, n_keys=300)  # same snapshot, no events yet
    names, malformed = [], 0
    for _, line in lines:
        try:
            env = json.loads(line)
        except json.JSONDecodeError:
            malformed += 1
            continue
        names.append(env["eventName"])
        replay.fold(env)
    assert replay.live_state(snapshot=True) == log.live_state(snapshot=True)
    assert replay.latest_rows(snapshot=False) == log.latest_rows(snapshot=False)
    assert malformed == log.errors["MalformedRecord"]
    assert replay.errors["UnknownEvent"] == log.errors["UnknownEvent"]
    assert len(set(replay.event_ids)) == len(names)
    n = len(names)
    assert 0.06 < names.count("REMOVE") / n < 0.14
    assert 0.004 < sum(x not in KNOWN for x in names) / n < 0.02


def test_same_seed_same_inputs():
    a = ChangeLog(seed=3, n_keys=50).events(200, BASE_TS, 3600.0)
    b = ChangeLog(seed=3, n_keys=50).events(200, BASE_TS, 3600.0)
    c = ChangeLog(seed=4, n_keys=50).events(200, BASE_TS, 3600.0)
    assert a == b and a != c


def test_event_log_parser_on_recorded_log():
    with open(os.path.join(HERE, "fixtures", "eventlog_small.json")) as f:
        counts = parse_event_log(f)
    # the third job ran outside any job group and is not attributed
    assert set(counts) == {"g_shuffle", "g_single"}
    agg = counts["g_shuffle"]
    assert set(agg) == set(SPARK_COUNTERS)
    assert (agg["jobs"], agg["stages"], agg["tasks"]) == (1, 2, 4)
    assert agg["executor_run_s"] == pytest.approx((373 + 376 + 106 + 129) / 1e3)
    assert agg["executor_cpu_s"] == pytest.approx(
        (88431172 + 173149703 + 90794364 + 39219766) / 1e9
    )
    assert agg["gc_s"] == pytest.approx(0.054)
    assert agg["shuffle_write_bytes"] == 266
    assert agg["shuffle_read_bytes"] == 266
    assert agg["spill_bytes"] == 0
    assert agg["task_skew"] == pytest.approx(129 / 117.5)
    assert agg["single_task_stage_rows"] == 0
    one = counts["g_single"]
    assert (one["jobs"], one["stages"], one["tasks"]) == (1, 1, 1)
    assert one["single_task_stage_rows"] == 50
    assert one["task_skew"] == 0


class _FakeContext:
    def setJobGroup(self, *_a):
        pass

    def setLocalProperty(self, *_a):
        pass


class _FakeSpark:
    sparkContext = _FakeContext()


def test_self_time_excludes_children_and_overlaps():
    tr = Tracer(_FakeSpark(), enabled=False)
    with tr.span("outer") as outer:
        with tr.span("a"):
            pass
        with tr.span("b"):
            pass
    outer.start, outer.end = 0.0, 10.0
    a, b = tr.spans[1], tr.spans[2]
    a.start, a.end = 1.0, 4.0
    b.start, b.end = 3.0, 6.0  # overlaps a: covered = [1, 6]
    assert tr.self_seconds(outer) == pytest.approx(5.0)
    assert tr.self_seconds(a) == pytest.approx(3.0)


def test_job_groups_map_to_spans():
    tr = Tracer(_FakeSpark(), enabled=True)
    with tr.span("pipeline.lake") as s:
        pass
    tr.adopt("run-id-1", s)
    recs = tr.records({"run-id-1": {"jobs": 2.0}, s.sid: {"jobs": 1.0}, "other": {"jobs": 9.0}})
    assert recs[0]["spark"]["jobs"] == 3.0


def test_tail_percentile_leaves_ten_beyond():
    assert tail_percentile(10) is None
    assert tail_percentile(20) == 50
    assert tail_percentile(40) == 75
    assert tail_percentile(1000) == 99


def test_benchmark_json_matches_harness():
    from run import E2E_UNITS, LAYERS

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E_UNITS
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == {
        k: v[:2] for k, v in LAYERS.items()
    }
    from workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
