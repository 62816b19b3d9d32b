"""Seeded input generators and their ground truth.

Everything here is a pure function of the seed: the same seed writes
byte-identical parquet and returns the same expected values.

Two inputs are generated:

* ``cdc`` — Podio-shaped CDC events for the ``cdc_merge`` workload: a
  pre-build history of live versions plus fixed-size batches with
  Zipf-hot ``item_id``s, in-batch duplicates, out-of-order ``ts``,
  dead-lettered events (``failed_attempts >= 10``), non-item
  ``hook.verify`` events and one unknown-typed field per item.
* ``events`` and ``embeddings`` — the tables that the ``crm_history``
  registry entries read, in the shape of the project's sf0.01 testdata
  tables.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- cdc_merge shape -----------------------------------------------------
# half the ~100k-version history of the workload design: every batch
# rewrites every bucket, and at 100k a run took longer than a round of
# runs may
N_ITEMS = 10_000
HISTORY_VERSIONS = 50_000
BATCH_EVENTS = 2_000
N_BUCKETS = 64
ZIPF_S = 1.0
DEAD_SHARE = 0.02
VERIFY_SHARE = 0.05
CREATE_SHARE = 0.08
DUP_SHARE = 0.03
LATE_SHARE = 0.10
RETRY_LIMIT = 10
LIVE_TYPES = ("item.create", "item.update")

# Podio field types the cleaner knows, and one it does not. Every item
# carries the five-type slot layout of its app (item_id % len(APPS)) and
# one unknown-typed field.
APPS = (
    ("text", "category", "number", "date", "money"),
    ("contact", "phone", "email", "app", "calculation"),
    ("location", "text", "money", "category", "date"),
)
UNKNOWN_TYPE = "gizmo"

EPOCH = dt.datetime(2024, 1, 1)
HISTORY_SPAN_US = 30 * 86_400 * 1_000_000
BATCH_SPAN_US = 3_600 * 1_000_000


def _money(v):
    # quarter steps are exact binary fractions, so every float printer
    # agrees on their shortest decimal form
    return repr((v % 40_000) * 0.25)


def field_json(ftype, v):
    """(raw `values` JSON payloads, expected cleaned value) for one field.

    The expected value is what the reference's clean_item returns for
    the payload; unknown types have no cleaned value.
    """
    if ftype == "text":
        return [f'{{"value": "<p>note <b>{v}</b></p>"}}'], f"note {v}"
    if ftype == "category":
        a, b = f"c{v % 97}", f"c{v % 89}"
        return ([f'{{"value": {{"text": "{a}"}}}}',
                 f'{{"value": {{"text": "{b}"}}}}'], f"{a},{b}")
    if ftype == "number":
        return [f'{{"value": {v}}}'], str(v)
    if ftype == "date":
        d = f"2024-02-{1 + v % 28:02d} 10:00:00"
        return [f'{{"start": "{d}"}}'], d
    if ftype == "money":
        m = _money(v)
        return [f'{{"value": "{m}"}}'], m
    if ftype == "contact":
        return [f'{{"value": {{"name": "Person {v}"}}}}'], f"Person {v}"
    if ftype == "phone":
        p = f"+1-555-{v % 10_000:04d}"
        return [f'{{"value": "{p}"}}'], p
    if ftype == "email":
        return [f'{{"value": "u{v}@example.org"}}'], f"u{v}@example.org"
    if ftype == "app":
        return [f'{{"value": {{"item_id": {v}}}}}'], str(v)
    if ftype == "calculation":
        d = f"2024-03-{1 + v % 28:02d}"
        return [f'{{"start": "{d}"}}'], d
    if ftype == "location":
        loc = f"Street {v % 500}"
        return [f'{{"value": "{loc}"}}'], loc
    return [f'{{"value": {v}}}'], None


def item_fields(item_id):
    """[(field_id, label, type)] of an item: its app's five known-typed
    slots plus one unknown-typed field."""
    app = APPS[item_id % len(APPS)]
    out = [(1000 + i, f"f{i}_{t}", t) for i, t in enumerate(app)]
    out.append((1000 + len(app), "legacy_widget", UNKNOWN_TYPE))
    return out


def _zipf_items(rng, n):
    ranks = np.arange(1, N_ITEMS + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    # rank r maps to a scattered item id so hot keys land in different
    # buckets from run to run of the hash
    perm = rng.permutation(N_ITEMS)
    return perm[rng.choice(N_ITEMS, size=n, p=p)].astype(np.int64)


class CdcEvents:
    """Generated rows as parallel numpy columns plus per-event values."""

    def __init__(self, event_id, ts_us, item_id, etype, fails, vals):
        self.event_id = event_id
        self.ts_us = ts_us
        self.item_id = item_id
        self.etype = etype
        self.fails = fails
        self.vals = vals

    def __len__(self):
        return len(self.event_id)

    def live_mask(self):
        return (self.fails < RETRY_LIMIT) & np.isin(self.etype, LIVE_TYPES)

    def dead_mask(self):
        return self.fails >= RETRY_LIMIT

    def table(self):
        fields = []
        for item, v in zip(self.item_id.tolist(), self.vals.tolist()):
            row = []
            for j, (fid, label, ftype) in enumerate(item_fields(item)):
                values, _ = field_json(ftype, v + 7919 * j)
                row.append({"field_id": fid, "label": label, "type": ftype,
                            "values": values})
            fields.append(row)
        field_t = pa.list_(pa.struct([
            ("field_id", pa.int64()), ("label", pa.string()),
            ("type", pa.string()), ("values", pa.list_(pa.string()))]))
        return pa.table({
            "event_id": pa.array(self.event_id, pa.int64()),
            "ts": pa.array(self.ts_us, pa.int64()).cast(pa.timestamp("us")),
            "item_id": pa.array(self.item_id, pa.int64()),
            "event_type": pa.array(self.etype.tolist(), pa.string()),
            "payload": pa.array([f"v{v}" for v in self.vals.tolist()],
                                pa.string()),
            "failed_attempts": pa.array(self.fails, pa.int32()),
            "fields": pa.array(fields, field_t),
        })


def expected_data(item_id, v):
    """{field_id string: cleaned value} the cleaner must produce."""
    out = {}
    for j, (fid, _, ftype) in enumerate(item_fields(item_id)):
        _, want = field_json(ftype, v + 7919 * j)
        if want is not None:
            out[str(fid)] = want
    return out


def cdc_history(seed):
    """The pre-build history: live, distinct versions over 30 days."""
    rng = np.random.default_rng([seed, 1])
    n = HISTORY_VERSIONS
    ts = np.sort(rng.integers(0, HISTORY_SPAN_US, n)) + _epoch_us()
    return CdcEvents(
        event_id=np.arange(n, dtype=np.int64),
        ts_us=ts.astype(np.int64),
        item_id=_zipf_items(rng, n),
        etype=np.where(rng.random(n) < 0.2, "item.create", "item.update")
        .astype(object),
        fails=rng.integers(0, RETRY_LIMIT, n).astype(np.int32),
        vals=rng.integers(0, 1_000_000, n).astype(np.int64))


def cdc_batch(seed, b):
    """Batch `b` (0-based) of the replay, about BATCH_EVENTS rows."""
    rng = np.random.default_rng([seed, 2, b])
    n = BATCH_EVENTS
    start = _epoch_us() + HISTORY_SPAN_US + b * BATCH_SPAN_US
    ts = start + rng.integers(0, BATCH_SPAN_US, n)
    late = rng.random(n) < LATE_SHARE
    ts[late] -= rng.integers(BATCH_SPAN_US, 48 * BATCH_SPAN_US, late.sum())
    u = rng.random(n)
    etype = np.where(u < VERIFY_SHARE, "hook.verify",
                     np.where(u < VERIFY_SHARE + CREATE_SHARE,
                              "item.create", "item.update")).astype(object)
    fails = rng.integers(0, RETRY_LIMIT, n).astype(np.int32)
    dead = rng.random(n) < DEAD_SHARE
    fails[dead] = rng.integers(RETRY_LIMIT, 2 * RETRY_LIMIT, dead.sum())
    ev = CdcEvents(
        event_id=(HISTORY_VERSIONS + b * n + np.arange(n)).astype(np.int64),
        ts_us=ts.astype(np.int64), item_id=_zipf_items(rng, n),
        etype=etype, fails=fails,
        vals=rng.integers(0, 1_000_000, n).astype(np.int64))
    # at-least-once delivery: some events arrive twice in one batch
    dup = np.flatnonzero(rng.random(n) < DUP_SHARE)
    order = rng.permutation(n + len(dup))
    idx = np.concatenate([np.arange(n), dup])[order]
    return CdcEvents(ev.event_id[idx], ev.ts_us[idx], ev.item_id[idx],
                     ev.etype[idx], ev.fails[idx], ev.vals[idx])


def _epoch_us():
    return int(EPOCH.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


def write_cdc(seed, out_dir, n_batches):
    """Write history_seed.parquet and batches/bNNNNN.parquet; return
    (history, [batch])."""
    import os
    hist = cdc_history(seed)
    pq.write_table(hist.table(), os.path.join(out_dir, "history_seed.parquet"))
    bdir = os.path.join(out_dir, "batches")
    os.makedirs(bdir, exist_ok=True)
    batches = []
    for b in range(n_batches):
        ev = cdc_batch(seed, b)
        pq.write_table(ev.table(), os.path.join(bdir, f"b{b:05d}.parquet"))
        batches.append(ev)
    return hist, batches


class CdcTruth:
    """Ground truth after the history and the first `k` batches."""

    def __init__(self, hist, batches):
        history_ids = set(hist.event_id.tolist())
        best = {}  # item -> (ts, event_id, v)
        rows = {}  # event_id -> (item, v)
        for e, t, i, v in zip(hist.event_id.tolist(), hist.ts_us.tolist(),
                              hist.item_id.tolist(), hist.vals.tolist()):
            rows[e] = (i, v)
            if best.get(i, (-1, -1))[:2] < (t, e):
                best[i] = (t, e, v)
        self.dead = 0
        self.rejects = 0
        self.events_in = 0
        for ev in batches:
            self.events_in += len(ev)
            self.dead += int(ev.dead_mask().sum())
            live = ev.live_mask()
            winners = {}  # the batch's coalesced row per item
            for e, t, i, v in zip(ev.event_id[live].tolist(),
                                  ev.ts_us[live].tolist(),
                                  ev.item_id[live].tolist(),
                                  ev.vals[live].tolist()):
                if winners.get(i, (-1, -1))[:2] < (t, e):
                    winners[i] = (t, e, v)
            # one unknown-typed field per coalesced item
            self.rejects += len(winners)
            for i, (t, e, v) in winners.items():
                history_ids.add(e)
                rows[e] = (i, v)
                if best.get(i, (-1, -1))[:2] < (t, e):
                    best[i] = (t, e, v)
        self.history_ids = history_ids
        self.current = {i: e for i, (t, e, v) in best.items()}
        self.rows = rows


# ---- crm_history input ---------------------------------------------------
# sf0.01 scale: the registry entries' cost here is per-job overhead, and a
# pass over the sf0.1-sized table takes longer than a run may
EVENTS_ROWS = 10_000
EVENTS_USERS = 150
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
# the table is fixed, as the project's testdata is; the run seed permutes
# the entry order (see BENCHMARK.json)
EVENTS_DATA_SEED = 0


def events_table(seed=EVENTS_DATA_SEED):
    """The `events` table: uniform users and types, ts increasing with
    event_id over January 2024, skewed `value`, and `props` JSON with
    one small integer key."""
    rng = np.random.default_rng([seed, 3])
    n = EVENTS_ROWS
    ts = np.sort(rng.integers(0, HISTORY_SPAN_US, n)) + _epoch_us()
    value = np.round(rng.exponential(50.0, n), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype(np.int64)).cast(pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, EVENTS_USERS, n)
                            .astype(np.int64)),
        "event_type": pa.array(
            np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)]
            .tolist(), pa.string()),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n).tolist()], pa.string()),
    })


# the embeddings table, sf0.01 shape: 500 unit vectors of 64 floats around
# ten labelled directions
EMB_ROWS = 500
EMB_DIM = 64
EMB_LABELS = 10


def embeddings_table(seed=EVENTS_DATA_SEED):
    """The `embeddings` table: each vector its label's direction plus
    Gaussian noise, normalised, as float32."""
    rng = np.random.default_rng([seed, 5])
    centres = rng.normal(size=(EMB_LABELS, EMB_DIM))
    label = rng.integers(0, EMB_LABELS, EMB_ROWS)
    v = centres[label] + rng.normal(scale=1.5, size=(EMB_ROWS, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(EMB_ROWS, dtype=np.int64)),
        "embedding": pa.array(v.tolist(), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def brute_topk(table, k):
    """{vec_id: set of its k nearest other vec_ids}: cosine rounded to
    6 places, ties to the smaller id, as Similarity.bruteTopK ranks."""
    ids = np.asarray(table.column("vec_id").to_pylist())
    v = np.asarray(table.column("embedding").to_pylist(), dtype=np.float64)
    nrm = np.linalg.norm(v, axis=1)
    cos = np.round(v @ v.T / np.outer(nrm, nrm), 6)
    out = {}
    for a, row in enumerate(cos):
        order = sorted((-c, ids[b]) for b, c in enumerate(row) if b != a)
        out[int(ids[a])] = {int(j) for _, j in order[:k]}
    return out
