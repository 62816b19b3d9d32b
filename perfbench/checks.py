"""Output checks, run after the timed window.

``cdc_merge`` is checked against the generator's ground truth; each
``crm_history`` entry against its DuckDB oracle (with the comparison
rules of the project's oracle gate, ``tools/check.py``) or, for entries
with no oracle and for entries whose oracle pins literals fitted on the
sf0.01 testdata, its declared gate.
"""
import os
import sys

import duckdb
import pyarrow.parquet as pq

import gen

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from check import canon, rows_of  # noqa: E402  the oracle gate's rules

# rows+error entries carry their own relative error against an exact
# sibling; an HLL estimate at the default precision stays well inside 5 %
MAX_REL_ERR = 0.05
# withRecall's settings in the rows+recall entries: top-5 neighbours,
# recall measured on every 5th vec_id
RECALL_K = 5
RECALL_SAMPLE_MOD = 5


def check_cdc(fin, hist, batches):
    """Problems found in the final history, DLQ and rejects sinks after
    the history pre-build and the first len(batches) batches."""
    truth = gen.CdcTruth(hist, batches)
    con = duckdb.connect()
    h = (f"read_parquet('{fin['history']}/**/*.parquet', "
         "hive_partitioning = true)")
    bad = []
    multi = con.execute(
        f"SELECT count(*) FROM (SELECT item_id FROM {h} WHERE current = 1 "
        "GROUP BY 1 HAVING count(*) <> 1)").fetchone()[0]
    if multi:
        bad.append(f"{multi} items have more than one current row")
    cur = dict(con.execute(
        f"SELECT item_id, event_id FROM {h} WHERE current = 1").fetchall())
    if cur != truth.current:
        diff = sum(1 for k in set(cur) | set(truth.current)
                   if cur.get(k) != truth.current.get(k))
        bad.append(f"{diff} items' current row differs from the latest "
                   "live event by (ts, event_id)")
    ids = [r[0] for r in con.execute(f"SELECT event_id FROM {h}").fetchall()]
    if len(ids) != len(truth.history_ids) or set(ids) != truth.history_ids:
        bad.append(f"history has {len(ids)} rows; expected the "
                   f"{len(truth.history_ids)} distinct coalesced live events")
    for name, want in (("dlq", truth.dead), ("rejects", truth.rejects)):
        got = con.execute(
            f"SELECT count(*) FROM read_parquet('{fin[name]}/*.parquet')"
        ).fetchone()[0]
        if got != want:
            bad.append(f"{name} sink has {got} rows; generated {want}")
    rows = con.execute(
        f"SELECT event_id, item_id, data FROM {h} WHERE current = 1"
    ).fetchall()
    wrong = 0
    for e, item, data in rows:
        if set(data) == {"key", "value"}:  # DuckDB's MAP form
            data = dict(zip(data["key"], data["value"]))
        got = {k: v["field_value"] for k, v in data.items()}
        if got != gen.expected_data(item, truth.rows[e][1]):
            wrong += 1
    if wrong:
        bad.append(f"{wrong} current rows carry wrongly cleaned values")
    return bad


def _norm_type(t):
    t = str(t)
    if t.startswith(("int", "uint")):
        return "int"
    if t in ("float", "double", "halffloat"):
        return "float"
    if t == "large_string":
        return "string"
    if t.startswith("timestamp"):
        return "timestamp"
    return t


def compare(got, want):
    """None if the Spark result `got` matches the oracle's `want`, else
    a one-line reason."""
    gc, gr = rows_of(got)
    wc, wr = rows_of(want)
    if gc != wc:
        return f"columns {gc} != {wc}"
    gt = [_norm_type(got.schema.field(c).type) for c in gc]
    wt = [_norm_type(want.schema.field(c).type) for c in wc]
    if gt != wt:
        return f"column types {gt} != {wt}"
    if len(gr) != len(wr):
        return f"rows {len(gr)} != {len(wr)}"
    bad = [i for i, (a, b) in enumerate(zip(gr, wr)) if a != b]
    if bad:
        return f"{len(bad)}/{len(gr)} rows differ, first at {bad[0]}"
    return None


def check_recall(got, truth):
    """The rows+recall gate of a `Similarity.withRecall` result: every
    vector is a query with at most k neighbours, and each sampled
    query's recall equals the share of its brute-force top-k (`truth`)
    that its neighbours hit. None if it holds, else a one-line reason."""
    hits = {}
    recall = {}
    for i, j, r in zip(got.column("i").to_pylist(),
                       got.column("j").to_pylist(),
                       got.column("recall").to_pylist()):
        hits.setdefault(i, set())
        if j is not None:
            hits[i].add(j)
        recall[i] = r
    if set(hits) != set(truth):
        return f"queries {len(hits)} != vectors {len(truth)}"
    if max(len(js) for js in hits.values()) > RECALL_K:
        return f"a query has more than {RECALL_K} neighbours"
    wrong = [i for i in truth
             if recall[i] != (round(len(hits[i] & truth[i]) / len(truth[i]), 4)
                              if i % RECALL_SAMPLE_MOD == 0 else None)]
    if wrong:
        return f"{len(wrong)} queries carry a wrong recall, first {wrong[0]}"
    return None


def check_crm(gates, warm, out_dir, inputs):
    """{entry: reason} for every entry whose warm-pass result fails its
    gate."""
    con = duckdb.connect()
    for t in ("events", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(inputs, t + '.parquet')}'")
    truth = None
    bad = {}
    for name, gate in sorted(gates.items()):
        w = warm.get(name, {})
        if not w.get("ok"):
            bad[name] = "warm pass failed: " + w.get("err", "missing")
            continue
        got = pq.read_table(os.path.join(out_dir, name))
        if gate.get("gate") == "rows+recall":
            if truth is None:
                truth = gen.brute_topk(pq.read_table(
                    os.path.join(inputs, "embeddings.parquet")), RECALL_K)
            why = check_recall(got, truth)
        elif "oracle" in gate:
            try:
                why = compare(got, con.execute(gate["oracle"]).arrow())
            except Exception as e:  # an oracle that cannot run fails too
                why = f"oracle error: {e}"
        elif gate["gate"] == "rows+error":
            errs = [x for x in (got.column("rel_err").to_pylist()
                                if "rel_err" in got.column_names else [])
                    if x is not None]
            why = (None if got.num_rows > 0 and errs
                   and max(errs) <= MAX_REL_ERR
                   else f"rows+error gate: {got.num_rows} rows, "
                        f"max rel_err {max(errs) if errs else None}")
        else:
            why = f"no oracle and no checkable gate ({gate['gate']})"
        if why:
            bad[name] = why
    return bad
