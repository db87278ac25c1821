"""Generator tests: determinism, and ground truth against an independent
pure-Python replay of the rendered lines.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import json
import os
import sys
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gen import GenConfig, generate, write_ndjson  # noqa: E402

SMALL = GenConfig(events=3_000, nodes=300, rels=200)
OP_TO_TYPE = {"CREATE": "INSERT", "UPDATE": "UPDATE", "DELETE": "DELETE"}
LOW = datetime(1900, 1, 1, tzinfo=timezone.utc)
HIGH = datetime(2299, 12, 31, 23, 59, 59, 999999, tzinfo=timezone.utc)


def _ts(text):
    """The engine's lenient timestamp: parseable ISO-8601 inside the
    storable range, else None."""
    try:
        ts = datetime.fromisoformat(text)
    except (TypeError, ValueError):
        return None
    return ts if LOW <= ts <= HIGH else None


def replay(lines):
    """Classify and fold the rendered lines the way the engine's contract
    says: quarantine what lacks an id, an entity id or a usable timestamp,
    keep one copy per event id, and pick each entity's latest version by
    (timestamp, event id). Returns (quarantined lines, events by id,
    current state per kind)."""
    quarantined, events = [], {}
    for line in lines:
        try:
            doc = json.loads(line)
        except json.JSONDecodeError:
            quarantined.append(line)
            continue
        ev = doc.get("event") or {}
        ts = _ts(((doc.get("metadata") or {}).get("txStartTime") or {}).get("TZDT"))
        if doc.get("id") is None or ev.get("elementId") is None or ts is None:
            quarantined.append(line)
            continue
        kind = "node" if ev.get("eventType") == "NODE_EVENT" else "rel"
        after = (ev.get("state") or {}).get("after")
        events[doc["id"]] = (
            kind,
            ev["elementId"],
            ts,
            OP_TO_TYPE.get(ev["operation"], "INSERT"),
            after["properties"] if after else None,
        )
    latest = {"node": {}, "rel": {}}
    for eid, (kind, entity, ts, etype, after) in events.items():
        cur = latest[kind].get(entity)
        if cur is None or (ts, eid) > (cur[0], cur[1]):
            latest[kind][entity] = (ts, eid, etype, after)
    current = {
        kind: {k: (v[1], v[2], v[3]) for k, v in by.items() if v[2] != "DELETE"}
        for kind, by in latest.items()
    }
    return quarantined, events, current


def test_same_seed_same_bytes(tmp_path):
    a = generate(SMALL, seed=7)
    b = generate(SMALL, seed=7)
    assert a.lines == b.lines
    n_a = write_ndjson(a.lines, str(tmp_path / "a"), 500)
    n_b = write_ndjson(b.lines, str(tmp_path / "b"), 500)
    assert n_a == n_b
    for name in sorted(os.listdir(tmp_path / "a")):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()


def test_other_seed_other_bytes():
    assert generate(SMALL, seed=7).lines != generate(SMALL, seed=8).lines


def test_ground_truth_matches_replay():
    g = generate(SMALL, seed=11)
    quarantined, events, current = replay(g.lines)
    assert sorted(quarantined) == sorted(g.poison)
    assert sorted(events) == sorted(g.event_ids)
    for kind in ("node", "rel"):
        want = {
            k: (e.event_id, e.event_type, e.after)
            for k, e in g.current_state(kind).items()
        }
        assert current[kind] == want


def test_ground_truth_after_retention_matches_replay():
    g = generate(SMALL, seed=12)
    _, events, _ = replay(g.lines)
    cutoff = g.months()[1]
    for kind in ("node", "rel"):
        latest = {}
        for eid, (k, entity, ts, etype, _) in events.items():
            if k == kind and (entity not in latest or (ts, eid) > latest[entity][:2]):
                latest[entity] = (ts, eid, etype)
        want = {
            entity: eid
            for entity, (ts, eid, etype) in latest.items()
            if etype != "DELETE" and f"{ts:%Y%m}" >= cutoff
        }
        got = {k: e.event_id for k, e in g.current_state(kind, cutoff).items()}
        assert got == want


def test_stream_has_the_promised_shape():
    g = generate(SMALL, seed=13)
    ops = {e.operation for e in g.events}
    assert ops == {"SNAPSHOT", "CREATE", "UPDATE", "DELETE"}
    assert len(g.months()) >= 4
    assert sum(g.sent.values()) > len(g.events)  # replayed ids
    assert g.poison
    order = [json.loads(line)["id"] for line in g.lines if line not in set(g.poison)]
    assert order != sorted(order)  # emitted out of timestamp order
    # Zipf keys: the hottest entity carries many more versions than the median
    per_entity = {}
    for e in g.events:
        per_entity[e.entity_id] = per_entity.get(e.entity_id, 0) + 1
    counts = sorted(per_entity.values())
    assert counts[-1] >= 10 * counts[len(counts) // 2]
    # same-millisecond versions of one entity exist (event id tie-break)
    seen, ties = set(), 0
    for e in g.events:
        ties += (e.entity_id, e.ts_us) in seen
        seen.add((e.entity_id, e.ts_us))
    assert ties > 0
