"""Seeded DynamoDB stream envelopes and the pure-Python fold oracle.

``ChangeLog`` generates valid per-key histories (INSERT -> MODIFY* ->
optional REMOVE -> re-INSERT) over a key space, starting from a full-load
snapshot that already holds some keys. About 10% of the events are
REMOVEs, about 1% carry an unknown ``eventName`` (``TTL_DELETE``, routed
to the error zone) and a few lines are truncated JSON (``MalformedRecord``).

Event times strictly increase with the event sequence and event IDs are
zero-padded, so ``(event_time, eventID)`` is a total order that the
oracle and the engine's latest-state kernels agree on.

The oracle folds the same envelopes in Python: ``live_state`` is the
live table (what ``reconstruct_table`` must return) and ``latest_rows``
keeps REMOVE tombstones (what ``merge_snapshot_cdc`` and the MVCC
snapshot store).
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

BASE_TS = 1704067200.0  # 2024-01-01T00:00:00Z
HOUR = 3600.0
#: projected lake attributes, in the order the lake rows carry them
ATTRS = ("id", "name", "Designation", "salary", "active", "tags", "address")
DESIGNATIONS = (
    "Architect",
    "Sr. Architect",
    "Developer Advocate",
    "Engineer",
    "Manager",
    "Director",
)
KNOWN = ("INSERT", "MODIFY", "REMOVE")
UNKNOWN_EVENT = "TTL_DELETE"
#: snapshot rows predate every CDC event by a day
SNAPSHOT_TS = BASE_TS - 86400.0


def key_of(k: int) -> tuple[str, str]:
    return str(100000 + k), f"user{k}"


def flat(image: dict) -> dict[str, str]:
    """The engine's flatten: ``{attr: {tag: v}} -> {attr: v}``."""
    return {a: next(iter(v.values())) for a, v in image.items()}


@dataclass
class ChangeLog:
    """One seeded change log plus its oracle, built incrementally so the
    micro-batch workload can extend it round by round."""

    seed: int
    n_keys: int
    snapshot_share: float = 0.5
    rng: random.Random = field(init=False)
    #: key index -> current image (None: absent)
    images: dict[int, dict | None] = field(init=False, default_factory=dict)
    #: key -> (eventID, event_ts, Event, flattened attrs); tombstones
    #: kept. ``latest`` starts from the snapshot, ``cdc_latest`` does not.
    latest: dict[tuple[str, str], tuple[str, float, str, dict]] = field(
        init=False, default_factory=dict
    )
    cdc_latest: dict[tuple[str, str], tuple[str, float, str, dict]] = field(
        init=False, default_factory=dict
    )
    snapshot: list[dict] = field(init=False, default_factory=list)
    seq: int = field(init=False, default=0)
    n_valid: int = field(init=False, default=0)
    errors: dict[str, int] = field(
        init=False,
        default_factory=lambda: {"UnknownEvent": 0, "MalformedRecord": 0},
    )
    event_ids: set[str] = field(init=False, default_factory=set)

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed)
        for k in range(int(self.n_keys * self.snapshot_share)):
            img = self._image(k)
            self.images[k] = img
            key = key_of(k)
            eid = f"snap-{k:09d}"
            self.latest[key] = (eid, SNAPSHOT_TS, "INSERT", flat(img))
            self.snapshot.append({"eventID": eid, "Event": "INSERT", **flat(img)})

    def _image(self, k: int) -> dict:
        rng = self.rng
        id_, name = key_of(k)
        return {
            "id": {"S": id_},
            "name": {"S": name},
            "Designation": {"S": rng.choice(DESIGNATIONS)},
            "salary": {"N": str(rng.randint(50_000, 250_000))},
            "active": {"BOOL": "true" if rng.random() < 0.8 else "false"},
            "tags": {"L": json.dumps(sorted(rng.sample("abcd", 2)))},
            "address": {
                "M": json.dumps(
                    {"city": f"city{rng.randint(0, 9)}", "zip": str(rng.randint(10000, 99999))}
                )
            },
        }

    def fold(self, env: dict) -> None:
        """Fold one well-formed envelope into the oracle: INSERT/MODIFY
        make the flattened NewImage the key's latest version, REMOVE
        makes the OldImage a tombstone, unknown events change nothing."""
        name = env["eventName"]
        self.event_ids.add(env["eventID"])
        if name not in KNOWN:
            self.errors["UnknownEvent"] += 1
            return
        self.n_valid += 1
        ddb = env["dynamodb"]
        image = ddb["OldImage"] if name == "REMOVE" else ddb["NewImage"]
        key = (ddb["Keys"]["id"]["S"], ddb["Keys"]["name"]["S"])
        version = (env["eventID"], ddb["ApproximateCreationDateTime"], name, flat(image))
        self.latest[key] = self.cdc_latest[key] = version

    def events(self, n: int, t0: float, span: float) -> list[tuple[float, str]]:
        """Generate ``n`` events evenly spread over ``[t0, t0 + span)``;
        returns ``(event_ts, json_line)`` pairs and folds them."""
        rng = self.rng
        out = []
        step = span / n
        for i in range(n):
            ts = round(t0 + (i + rng.random() * 0.5) * step, 3)
            self.seq += 1
            eid = f"ev-{self.seq:09d}"
            if rng.random() < 0.0005:
                self.errors["MalformedRecord"] += 1
                out.append((ts, f'{{"eventID": "{eid}", "eventName": "INS'))
                continue
            k = rng.randrange(self.n_keys)
            prev = self.images.get(k)
            if rng.random() < 0.01:
                name, new, old = UNKNOWN_EVENT, None, prev
            elif prev is None:
                name, new, old = "INSERT", self._image(k), None
            elif rng.random() < 0.12:
                name, new, old = "REMOVE", None, prev
            else:
                name, new, old = "MODIFY", self._image(k), prev
            if name in ("INSERT", "MODIFY"):
                self.images[k] = new
            elif name == "REMOVE":
                self.images[k] = None
            id_, nm = key_of(k)
            env = {
                "eventID": eid,
                "eventName": name,
                "dynamodb": {
                    "ApproximateCreationDateTime": ts,
                    "Keys": {"id": {"S": id_}, "name": {"S": nm}},
                    "NewImage": new,
                    "OldImage": old,
                },
            }
            self.fold(env)
            out.append((ts, json.dumps(env)))
        return out

    def live_state(self, snapshot: bool) -> dict[tuple[str, str], dict[str, str]]:
        """Live table: latest version per key, REMOVEd keys absent;
        ``snapshot`` says whether the full load is folded in."""
        versions = self.latest if snapshot else self.cdc_latest
        return {k: v[3] for k, v in versions.items() if v[2] != "REMOVE"}

    def latest_rows(self, snapshot: bool) -> dict[tuple[str, str], tuple[str, str]]:
        """Latest version per key with tombstones: key -> (eventID, Event)."""
        versions = self.latest if snapshot else self.cdc_latest
        return {k: (v[0], v[2]) for k, v in versions.items()}

