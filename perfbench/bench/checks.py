"""Output checks on every timed op, from the run's raw record.

Each check marks its op failed in place (`ok` False, `err` set), so a
failed check counts in `failed` exactly like an op that threw.
"""
import glob
import json
import os

import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


def _canon(df):
    df = df[sorted(df.columns)].reset_index(drop=True)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(lambda v: tuple(v) if hasattr(v, "__len__")
                                and not isinstance(v, (str, bytes)) else v)
    return df


def _fail(op, why):
    op["ok"] = False
    op["err"] = op["err"] or why


def tally(ops):
    """(attempted, failed, failed_frac) over the run's ops."""
    failed = sum(1 for o in ops if not o["ok"])
    return len(ops), failed, failed / len(ops) if ops else 0.0


def oracle(ops, oracle_sql, fixtures):
    """Each query's written result equals its DuckDB oracle, values exact
    and dtypes strict. Each oracle runs once however many rounds ran."""
    import duckdb  # only this check needs duckdb and pandas
    import pandas as pd
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{fixtures}/{t}.parquet'")
    expected = {}
    for o in (x for x in ops if x["kind"] == "query" and x["ok"]):
        q = o["name"]
        try:
            if q not in expected:
                expected[q] = _canon(con.sql(oracle_sql[q]).df())
            got = _canon(con.sql(f"SELECT * FROM '{o['out']['dir']}/*.parquet'").df())
            pd.testing.assert_frame_equal(got, expected[q], check_dtype=True, check_exact=True)
        except Exception as e:  # a mismatch or an unreadable result
            _fail(o, f"oracle mismatch: {str(e)[:300]}")


def serve(ops, truth, corpus_ids, k):
    """k distinct corpus neighbours per probe; recall@k per family."""
    hits, total = {}, {}
    for o in (x for x in ops if x["kind"] == "serve"):
        if not o["ok"]:
            continue
        got = {}
        for f in glob.glob(os.path.join(o["out"]["dir"], "*.parquet")):
            t = pq.read_table(f, columns=["probe_id", "neighbor_id"]).to_pylist()
            for r in t:
                got.setdefault(r["probe_id"], []).append(r["neighbor_id"])
        batch = [p for p in truth if truth[p]["batch"] == o["out"]["batch"]]
        for p in batch:
            ns = got.get(p, [])
            if len(ns) != k or len(set(ns)) != k or not set(ns) <= corpus_ids:
                _fail(o, f"probe {p}: neighbours {ns}")
                break
            hits[o["name"]] = hits.get(o["name"], 0) + len(set(ns) & set(truth[p]["top"]))
            total[o["name"]] = total.get(o["name"], 0) + k
    return {f: hits[f] / total[f] for f in total}


def dedup(ops, planted):
    """Every planted near-duplicate pair of the batch is found. Returns
    (verified pairs found, planted pairs) over the checked ops."""
    found = n_planted = 0
    for o in (x for x in ops if x["kind"] == "dedup"):
        if not o["ok"]:
            continue
        pairs = {tuple(p) for p in o["out"]["pairs"]}
        want = {(a, b) for bt, a, b in planted if bt == o["out"]["batch"]}
        found += len(pairs)
        n_planted += len(want)
        if not want <= pairs:
            _fail(o, f"missed planted pairs {sorted(want - pairs)[:5]}")
    return found, n_planted


def etl(ops):
    """Each destination reads back every row written, over every column,
    and both coordinated destinations are visible."""
    for o in (x for x in ops if x["kind"] == "etl"):
        if not o["ok"]:
            continue
        n = o["out"]["rows"]
        s = n * (n - 1) // 2
        for rb in o["out"]["readback"]:
            if list(rb) != [n, n, s, s, 16 * n]:
                _fail(o, f"read-back {rb} != {[n, n, s, s, 16 * n]}")
        if o["name"] == "twoClustersCoordinatedWrite" and o["out"].get("visible") != [1, 1]:
            _fail(o, f"visible destinations {o['out'].get('visible')}")


def lsm_expected(arrivals, applied, seed_live):
    """The live set the store must hold after the arrival batches `applied`
    (in order) on top of the seeded store, derived from the arrivals alone:
    {entity: latest vector}, None where the seed's own vector stands. Also
    whether each batch should compact: its delta rows since the last
    compaction cross 5 % of the rows the current base was written with."""
    live = {e: None for e in seed_live}
    base_rows, delta_rows, compacts = len(live), 0, []
    for b in applied:
        for e, qe, d in arrivals[b]:
            if d:
                live.pop(e, None)
            else:
                live[e] = qe
        delta_rows += len(arrivals[b])
        compacts.append(delta_rows * 100 > base_rows * 5)
        if compacts[-1]:
            base_rows, delta_rows = len(live), 0
    return live, compacts


def lsm_store(root):
    """The store's live set read from its files, resolved latest-wins:
    the newest base, then each live delta segment in ascending order."""
    dirs = os.listdir(root)
    base = max((d for d in dirs if d == "base" or d.startswith("base_c")),
               key=lambda d: 0 if d == "base" else int(d[6:]))
    view = {r["ent"]: tuple(r["qe"]) for r in
            pq.read_table(os.path.join(root, base), columns=["ent", "qe"]).to_pylist()}
    for g in sorted(int(d[5:]) for d in dirs if d.startswith("delta")):
        for r in pq.read_table(os.path.join(root, f"delta{g}"),
                               columns=["ent", "qe", "del"]).to_pylist():
            if r["del"]:
                view.pop(r["ent"], None)
            else:
                view[r["ent"]] = tuple(r["qe"])
    return view


def lsm(ops, root, arrivals, setup_batches, seed_live):
    """The store's live entities equal the latest-wins set of the arrivals,
    each with its latest vector, and each batch compacts exactly when it
    crosses the trigger. A wrong live set fails the last ingest op."""
    ingest = [o for o in ops if o["kind"] == "lsm"]
    if not ingest or any(not o["ok"] for o in ingest):
        return
    applied = list(setup_batches) + [o["out"]["batch"] for o in ingest]
    want, compacts = lsm_expected(arrivals, applied, seed_live)
    for o, c in zip(ingest, compacts[len(setup_batches):]):
        if o["out"]["compacted"] != c:
            _fail(o, f"batch {o['out']['batch']}: compacted {o['out']['compacted']}, expected {c}")
    got = lsm_store(root)
    if set(got) != set(want):
        diff = sorted(set(got) ^ set(want))
        _fail(ingest[-1], f"live set differs on {len(diff)} entities, e.g. {diff[:5]}")
    else:
        bad = [e for e, qe in want.items() if qe is not None and got[e] != qe]
        if bad:
            _fail(ingest[-1], f"{len(bad)} entities hold a stale vector, e.g. {bad[:5]}")


def load_lsm_arrivals(inputs):
    """{batch: [(entity, vector, tombstone)]} from the run's arrival file."""
    out = {}
    for r in pq.read_table(f"{inputs}/lsm_batches.parquet",
                           columns=["batch", "ent", "qe", "del"]).to_pylist():
        out.setdefault(r["batch"], []).append((r["ent"], tuple(r["qe"]), r["del"]))
    return out


def load_truth(inputs, batch_size):
    with open(f"{inputs}/probe_truth.json") as f:
        raw = json.load(f)
    ids = sorted(int(p) for p in raw)
    return {p: {"batch": i // batch_size, "top": set(raw[str(p)])} for i, p in enumerate(ids)}
