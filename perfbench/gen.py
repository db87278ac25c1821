"""Seeded CDC envelope generator with ground truth.

Produces newline-delimited JSON envelopes in the connector format the engine
ingests (``schemas.ENVELOPE_SCHEMA``) and, alongside, the ground truth every
workload checks its results against. The engine only ever sees the rendered
lines; the ground truth never passes through it.

What the stream contains, and why:

- nodes and relationships, with SNAPSHOT (the initial export), CREATE,
  UPDATE and DELETE operations; a deleted entity may be created again;
- Zipf-skewed entity choice, so a few hot keys carry many versions (the
  latest-state window and its shuffle see realistic key skew);
- timestamps spread over several months (month partitioning, retention);
- lines emitted out of timestamp order, and some same-millisecond versions of
  one entity (the ``event_id`` tie-break decides);
- a small share of poison lines (each must land in quarantine);
- replayed duplicate lines carrying an already-sent event id.

Engine semantics the ground truth models (documented contracts, not guesses):
``operation`` maps CREATE->INSERT, UPDATE, DELETE and anything else (here
SNAPSHOT) -> INSERT (``functions.scalar.operation_to_event_type``); the latest
version of an entity is the max of ``(event_timestamp, event_id)``
(``operators.latest_state``); an entity is live iff that version is not a
DELETE.
"""

from __future__ import annotations

import bisect
import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)
LABELS = ("Person", "Company", "Device", "Router", "Account", "Interface")
REL_TYPES = ("KNOWS", "OWNS", "CONNECTS_TO", "MEMBER_OF")
OP_TO_TYPE = {"CREATE": "INSERT", "UPDATE": "UPDATE", "DELETE": "DELETE"}


# The mix below is an assumption, not a measured trace. The one published
# reference point is the reference's end-to-end suite (BASELINE.md): 36 % of
# its events are relationship events, and 8 % of node / 16 % of relationship
# events are deletes. Replay and poison shares are small on purpose: enough
# to exercise quarantine and dedup on every job, too few to dominate cost.
MONTHS = 6
ZIPF_S = 1.1
SNAPSHOT_FRAC = 0.5  # share of entities present in the initial export
DELETE_P = 0.06
REL_SHARE = 0.3
TIE_P = 0.02  # same-millisecond successor version
SHUFFLE_WINDOW = 64  # out-of-order emission window (lines)
DUP_FRAC = 0.01
POISON_FRAC = 0.005


@dataclass(frozen=True)
class GenConfig:
    """Size of one generated stream. ``events`` counts valid envelopes before
    replays and poison lines are added."""

    events: int
    nodes: int
    rels: int


@dataclass
class Event:
    event_id: str
    kind: str  # "node" | "rel"
    entity_id: str
    operation: str
    ts: str  # ISO-8601 text exactly as rendered
    ts_us: int  # microseconds since the Unix epoch
    labels: tuple[str, ...] = ()
    rel_type: str = ""
    source_id: str = ""
    target_id: str = ""
    before: str | None = None
    after: str | None = None

    @property
    def event_type(self) -> str:
        return OP_TO_TYPE.get(self.operation, "INSERT")

    @property
    def month(self) -> str:
        return _month_of_us(self.ts_us)


@dataclass
class Generated:
    """Rendered lines (in emission order) plus ground truth."""

    lines: list[str]
    events: list[Event]  # unique valid events, in generation order
    poison: list[str]  # the poison lines, each expected in quarantine once
    sent: dict[str, int] = field(default_factory=dict)  # event id -> copies

    @property
    def event_ids(self) -> list[str]:
        return [e.event_id for e in self.events]

    def latest(self, kind: str, cutoff_month: str | None = None) -> dict[str, Event]:
        """Entity -> its latest event of ``kind``; with ``cutoff_month``, only
        entities whose latest event lies in a month >= the cutoff (what a
        compacted table holds after retention drops older months)."""
        out: dict[str, Event] = {}
        for e in self.events:
            if e.kind != kind:
                continue
            cur = out.get(e.entity_id)
            if cur is None or (e.ts_us, e.event_id) > (cur.ts_us, cur.event_id):
                out[e.entity_id] = e
        if cutoff_month is not None:
            out = {k: e for k, e in out.items() if e.month >= cutoff_month}
        return out

    def current_state(self, kind: str, cutoff_month: str | None = None) -> dict[str, Event]:
        """Live entities: latest event is not a DELETE."""
        return {
            k: e
            for k, e in self.latest(kind, cutoff_month).items()
            if e.event_type != "DELETE"
        }

    def months(self) -> list[str]:
        return sorted({e.month for e in self.events})


def _month_of_us(ts_us: int) -> str:
    dt = datetime(1970, 1, 1, tzinfo=timezone.utc) + timedelta(microseconds=ts_us)
    return f"{dt.year:04d}{dt.month:02d}"


def _iso(ts_ms: int) -> str:
    dt = EPOCH + timedelta(milliseconds=ts_ms)
    return f"{dt:%Y-%m-%dT%H:%M:%S}.{dt.microsecond // 1000:03d}+00:00"


def _state(props: str | None) -> str:
    return "null" if props is None else '{"properties":' + json.dumps(props) + "}"


def render(e: Event) -> str:
    """One envelope line for an event: compact JSON, fixed key order. Built
    from string pieces (every value but the property text is a plain token)
    because this runs once per generated event."""
    state = f'{{"before":{_state(e.before)},"after":{_state(e.after)}}}'
    if e.kind == "node":
        labels = ",".join(f'"{x}"' for x in e.labels)
        ev = (
            f'{{"operation":"{e.operation}","eventType":"NODE_EVENT",'
            f'"elementId":"{e.entity_id}","labels":[{labels}],"state":{state}}}'
        )
    else:
        ev = (
            f'{{"operation":"{e.operation}","eventType":"RELATIONSHIP_EVENT",'
            f'"elementId":"{e.entity_id}","type":"{e.rel_type}",'
            f'"start":{{"elementId":"{e.source_id}"}},"end":{{"elementId":"{e.target_id}"}},'
            f'"state":{state}}}'
        )
    return f'{{"id":"{e.event_id}","metadata":{{"txStartTime":{{"TZDT":"{e.ts}"}}}},"event":{ev}}}'


def _poison_line(rng: random.Random, k: int, tag: str) -> str:
    """One line the engine must quarantine; five distinct failure reasons."""
    good_ts = _iso(rng.randrange(86_400_000))
    variant = k % 5
    if variant == 0:  # unparseable JSON
        return f'{{"id":"poison-{tag}-{k}","metadata":{{"txStartTime":'
    meta = {"txStartTime": {"TZDT": good_ts}}
    ev = {"operation": "UPDATE", "eventType": "NODE_EVENT", "elementId": f"4:{tag}:p{k}"}
    doc: dict = {"id": f"poison-{tag}-{k}", "metadata": meta, "event": ev}
    if variant == 1:  # missing event id
        del doc["id"]
    elif variant == 2:  # missing entity id
        del ev["elementId"]
    elif variant == 3:  # unparseable timestamp
        meta["txStartTime"]["TZDT"] = f"not-a-time-{k}"
    else:  # parseable but outside the storable range
        meta["txStartTime"]["TZDT"] = "9999-01-01T00:00:00.000+00:00"
    return json.dumps(doc, separators=(",", ":"))


class _Zipf:
    """Rank sampler with P(rank r) proportional to 1 / (r + 1) ** s."""

    def __init__(self, n: int, s: float):
        acc, self.cum = 0.0, []
        for r in range(n):
            acc += 1.0 / (r + 1) ** s
            self.cum.append(acc)

    def sample(self, rng: random.Random) -> int:
        return bisect.bisect_left(self.cum, rng.random() * self.cum[-1])


def generate(cfg: GenConfig, seed: int, tag: str = "g") -> Generated:
    """Deterministic in ``(cfg, seed, tag)``: the same arguments give
    byte-identical lines. ``tag`` namespaces ids so several streams can be
    generated from one seed without colliding."""
    rng = random.Random(f"{seed}:{tag}")
    span_ms = MONTHS * 30 * 86_400_000
    node_ids = [f"4:{tag}{seed}:{i}" for i in range(cfg.nodes)]
    rel_ids = [f"5:{tag}{seed}:{i}" for i in range(cfg.rels)]
    rng.shuffle(node_ids)  # hot ranks land on arbitrary ids
    rng.shuffle(rel_ids)
    node_labels = {
        n: tuple(sorted(rng.sample(LABELS, 1 + (rng.random() < 0.3)))) for n in node_ids
    }
    rel_shape = {
        r: (rng.choice(REL_TYPES), rng.choice(node_ids), rng.choice(node_ids))
        for r in rel_ids
    }
    zipf = {"node": _Zipf(cfg.nodes, ZIPF_S), "rel": _Zipf(cfg.rels, ZIPF_S)}
    pools = {"node": node_ids, "rel": rel_ids}
    live: dict[str, str | None] = {}  # entity -> current properties (None: absent)
    version: dict[str, int] = {}
    last_ms: dict[str, int] = {}
    events: list[Event] = []

    def props(entity: str) -> str:
        v = version[entity] = version.get(entity, 0) + 1
        name = entity.rsplit(":", 1)[-1]
        return f'{{"name":"n{name}","v":{v},"w":{round(rng.random() * 100, 3)}}}'

    def emit(kind: str, entity: str, op: str, ts_ms: int) -> None:
        before = live.get(entity)
        after = None if op == "DELETE" else props(entity)
        live[entity] = after
        last_ms[entity] = ts_ms
        e = Event(
            event_id=f"ev-{tag}{seed}-{len(events):08d}",
            kind=kind,
            entity_id=entity,
            operation=op,
            ts=_iso(ts_ms),
            ts_us=(int(EPOCH.timestamp()) * 1000 + ts_ms) * 1000,
            before=before,
            after=after,
        )
        if kind == "node":
            e.labels = node_labels[entity]
        else:
            e.rel_type, e.source_id, e.target_id = rel_shape[entity]
        events.append(e)

    # the initial export: SNAPSHOT versions of part of each pool, first day
    exported = [("node", n) for n in node_ids if rng.random() < SNAPSHOT_FRAC]
    exported += [("rel", r) for r in rel_ids if rng.random() < SNAPSHOT_FRAC]
    for kind, entity in exported:
        emit(kind, entity, "SNAPSHOT", rng.randrange(86_400_000))
    n_changes = max(0, cfg.events - len(events))
    for i in range(n_changes):
        kind = "rel" if rng.random() < REL_SHARE else "node"
        entity = pools[kind][zipf[kind].sample(rng)]
        if rng.random() < TIE_P and entity in last_ms:
            ts_ms = last_ms[entity]  # same millisecond: event_id tie-break
        else:
            ts_ms = 86_400_000 + (span_ms - 86_400_000) * i // max(1, n_changes)
            ts_ms = max(ts_ms + rng.randrange(1000), last_ms.get(entity, 0))
        if live.get(entity) is None:
            op = "CREATE"
        else:
            op = "DELETE" if rng.random() < DELETE_P else "UPDATE"
        emit(kind, entity, op, ts_ms)

    lines = [render(e) for e in events]
    # out-of-order emission: shuffle inside consecutive windows
    w = SHUFFLE_WINDOW
    for start in range(0, len(lines), w):
        chunk = lines[start : start + w]
        rng.shuffle(chunk)
        lines[start : start + w] = chunk
    sent = {e.event_id: 1 for e in events}
    # replays: re-send an earlier line a little later in the stream
    for _ in range(int(len(events) * DUP_FRAC)):
        src = rng.randrange(len(lines))
        line = lines[src]
        eid = json.loads(line)["id"]
        lines.insert(min(len(lines), src + rng.randrange(1, 4 * w)), line)
        sent[eid] += 1
    poison = [_poison_line(rng, k, f"{tag}{seed}") for k in range(int(len(events) * POISON_FRAC))]
    for p in poison:
        lines.insert(rng.randrange(len(lines) + 1), p)
    return Generated(lines=lines, events=events, poison=poison, sent=sent)


def write_ndjson(lines: list[str], directory: str, lines_per_file: int) -> int:
    """Write ``lines`` as numbered NDJSON files; returns bytes written."""
    os.makedirs(directory, exist_ok=True)
    total = 0
    for k, start in enumerate(range(0, len(lines), lines_per_file)):
        data = ("\n".join(lines[start : start + lines_per_file]) + "\n").encode()
        with open(os.path.join(directory, f"part-{k:05d}.ndjson"), "wb") as fh:
            fh.write(data)
        total += len(data)
    return total
