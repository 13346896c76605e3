"""Seeded input generators for the benchmark.

Two kinds of input:

* the fixture corpus (`write_fixtures`): a TPC-H-shaped star schema plus
  the `embeddings` table, with the column names, types and value domains
  of the engine's parquet fixtures. It is
  a fixed corpus (seed `FIXTURE_SEED`), written once per checkout and only
  read afterwards.
* the per-run inputs (`write_run_inputs`), all derived from the run's
  `--seed`: the analytics query order, the probe micro-batches and their
  brute-force truth, the document batches with planted near-duplicates,
  and the arrival batches for the LSM vector store.

Every generator draws from its own `numpy.random.default_rng` stream, so
the same seed writes byte-identical files and a different seed changes
each of them.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
# TPC-H row counts at scale factor 1; the analytics tables are written at
# TPCH_SF of that. The serve/ingest corpora have fixed sizes of their own.
TPCH_SF = 0.01
N_EMBEDDINGS = 2000
DIM = 64

# The 22 TPC-H families of the engine's query registry.
ANALYTICS_QUERIES = [
    "q01_pricing_summary", "q58_tpch_q5", "q111_tpch_q3", "q112_tpch_q10",
    "q120_tpch_q7", "q128_tpch_q18", "q135_tpch_q4", "q136_order_count_dist",
    "q137_tpch_q19", "q138_inactive_high_balance", "q150_tpch_q6",
    "q151_tpch_q2", "q152_tpch_q8", "q153_tpch_q9", "q154_tpch_q11",
    "q155_tpch_q12", "q156_tpch_q14", "q157_tpch_q15", "q158_tpch_q16",
    "q159_tpch_q17", "q160_tpch_q20", "q161_tpch_q21",
]

# Sizes of the serve_ingest inputs (see README.md for why).
PROBE_BATCH = 32
PROBE_BATCHES = 24         # cycled when a run has more serve ops
TOP_K = 5
DOC_BATCH = 500
DOC_BATCHES = 24           # cycled likewise
DUPS_PER_BATCH = 10
# LSM arrivals are applied in order and never repeat, so there are enough
# for far more rounds than a run fits. Each batch holds LSM_BATCH rows on
# distinct entities; with a base of about 2,000 live rows the store's 5 %
# compaction trigger fires on every third batch.
LSM_BATCH = 40
LSM_BATCHES = 120
LSM_FRESH_ID = 1_000_000   # first id of entities that are not in the corpus
LSM_SCALE = 1000           # the store's integer domain: round(x * 1000)
LSM_DRIFT = 0.01           # drift along one seeded direction, per batch
ROUNDS = 64                # query-order rounds written for analytics

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = np.array(["en", "en", "zh", "es", "fr", "de"])


def _ts(days_since_epoch):
    return pa.array(np.asarray(days_since_epoch, dtype="int64") * 86_400_000_000,
                    type=pa.timestamp("us"))


def _days(y, m, d):
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days


def _write(table, path):
    pq.write_table(table, path, row_group_size=1 << 22)


def unit_vectors(rng, n, dim=DIM):
    x = rng.standard_normal((n, dim))
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def _vector_table(ids, vecs, labels):
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.reshape(-1)), vecs.shape[1])
    return pa.table({"vec_id": pa.array(ids, pa.int64()),
                     "embedding": emb.cast(pa.list_(pa.float32())),
                     "label": pa.array(labels, pa.int32())})


def random_text(rng, n_words):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def write_fixtures(out):
    """The fixed corpus the workloads read; see the module docstring."""
    rng = np.random.default_rng(FIXTURE_SEED)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150_000 * TPCH_SF), int(10_000 * TPCH_SF)
    n_part, n_ord = int(200_000 * TPCH_SF), int(1_500_000 * TPCH_SF)
    n_line = int(6_000_000 * TPCH_SF)

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)],
                                             pa.int32())}),
           f"{out}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out}/supplier.parquet")
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    pk = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)}),
        f"{out}/part.parquet")
    d0, d1 = _days(1995, 1, 1), _days(2001, 8, 1)
    odate = rng.integers(d0, d1 + 1, n_ord)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")
    lok = rng.integers(0, n_ord, n_line)
    _write(pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 122, n_line))}),
        f"{out}/lineitem.parquet")
    _write(_vector_table(np.arange(N_EMBEDDINGS),
                         unit_vectors(rng, N_EMBEDDINGS),
                         rng.integers(0, 10, N_EMBEDDINGS)),
           f"{out}/embeddings.parquet")


def _rng(seed, stream):
    """An independent generator per input kind, all fixed by `seed`."""
    return np.random.default_rng([seed, stream])


def query_order(seed):
    """ROUNDS seeded shuffles of the 22 analytics queries."""
    rng = _rng(seed, 1)
    return [[ANALYTICS_QUERIES[i] for i in rng.permutation(len(ANALYTICS_QUERIES))]
            for _ in range(ROUNDS)]


def top_k(queries, corpus, ids, k=TOP_K):
    """Brute-force cosine top-k ids per query row (ties to the lower id)."""
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    cos = np.round(qn.astype(np.float64) @ cn.astype(np.float64).T, 4)
    order = np.lexsort((np.broadcast_to(ids, cos.shape), -cos), axis=1)
    return ids[order[:, :k]]


def probes(seed, corpus):
    """Probe micro-batches: corpus vectors sampled and perturbed, under
    fresh ids, with their brute-force top-k over the corpus."""
    rng = _rng(seed, 2)
    n = PROBE_BATCH * PROBE_BATCHES
    base = corpus[rng.integers(0, len(corpus), n)]
    vecs = base + 0.05 * rng.standard_normal(base.shape)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    ids = 10_000_000 + np.arange(n)
    truth = top_k(vecs, corpus, np.arange(len(corpus)))
    return ids, vecs, truth


def doc_batches(seed):
    """Document batches, each with DUPS_PER_BATCH planted near-duplicates:
    a copy of a long document in the same batch with one word replaced."""
    rng = _rng(seed, 4)
    ids, texts, batch, planted = [], [], [], []
    doc_id = 0
    for b in range(DOC_BATCHES):
        n_orig = DOC_BATCH - DUPS_PER_BATCH
        first = doc_id
        bt = [random_text(rng, int(w)) for w in rng.integers(10, 101, n_orig)]
        # originals of the planted pairs are long (60-100 words), so one
        # replaced word keeps their bigram Jaccard at or above 0.9
        srcs = rng.choice(n_orig, DUPS_PER_BATCH, replace=False)
        for s in srcs:
            bt[s] = random_text(rng, int(rng.integers(60, 101)))
        for s in srcs:
            w = bt[s].split(" ")
            j = int(rng.integers(1, len(w) - 1))
            w[j] = "dup"
            bt.append(" ".join(w))
            planted.append((b, first + int(s), first + len(bt) - 1))
        for t in bt:
            ids.append(doc_id)
            texts.append(t)
            batch.append(b)
            doc_id += 1
    return ids, texts, batch, planted


def lsm_seed_live(n_corpus):
    """Entities live once `Similarity.lsmVectorIndexTo` has seeded the
    store: its fixture re-sends `vec_id % 100` in 1..4 and tombstones
    those with `vec_id % 3 == 0`."""
    return {v for v in range(n_corpus) if not (v % 100 in (1, 2, 3, 4) and v % 3 == 0)}


def lsm_batches(seed, corpus, labels):
    """Arrival batches for the LSM store. Each has LSM_BATCH rows on
    distinct entities, about a third of each kind: tombstones of live
    entities, inserts (fresh ids, or revivals of tombstoned entities) and
    re-arrivals of live entities, so the live count stays near the corpus
    size.
    Every arriving vector drifts along one seeded direction, further with
    each batch. Returns columns (batch, ent, qe, label, del)."""
    rng = _rng(seed, 5)
    vec = {i: corpus[i] for i in range(len(corpus))}
    lab = {i: int(labels[i]) for i in range(len(corpus))}
    live = lsm_seed_live(len(corpus))
    dead = set(range(len(corpus))) - live
    drift = unit_vectors(rng, 1)[0]
    next_id = LSM_FRESH_ID
    cols = {"batch": [], "ent": [], "qe": [], "label": [], "del": []}
    n_del = n_ins = LSM_BATCH // 3
    for b in range(LSM_BATCHES):
        pool = np.array(sorted(live))
        pick = pool[rng.choice(len(pool), LSM_BATCH - n_ins, replace=False)]
        dels, upds = pick[:n_del], pick[n_del:]
        n_rev = min(n_ins // 2, len(dead))
        revs = list(rng.choice(np.array(sorted(dead)), n_rev, replace=False)) if n_rev else []
        ins = revs + list(range(next_id, next_id + n_ins - n_rev))
        for e in ins[n_rev:]:
            vec[e] = corpus[rng.integers(0, len(corpus))] + 0.05 * rng.standard_normal(DIM)
            lab[e] = int(rng.integers(0, 10))
        next_id += n_ins - n_rev
        shift = LSM_DRIFT * (b + 1) * drift
        for e, d in [(int(e), True) for e in dels] + [(int(e), False) for e in list(upds) + ins]:
            cols["batch"].append(b)
            cols["ent"].append(e)
            cols["qe"].append(np.round((vec[e] + shift) * LSM_SCALE).astype(np.int64))
            cols["label"].append(lab[e])
            cols["del"].append(d)
            if d:
                live.discard(e)
                dead.add(e)
            else:
                live.add(e)
                dead.discard(e)
    return cols


def write_run_inputs(workload, seed, fixtures, out):
    """Every seeded input of one run of `workload`, under `out`."""
    os.makedirs(out, exist_ok=True)
    if workload == "analytics":
        with open(f"{out}/query_order.txt", "w") as f:
            f.writelines(" ".join(r) + "\n" for r in query_order(seed))
        return
    emb = pq.read_table(f"{fixtures}/embeddings.parquet")
    corpus = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float32)

    pid, pvec, truth = probes(seed, corpus)
    t = _vector_table(pid, pvec, np.zeros(len(pid), dtype=np.int32))
    t = t.append_column("batch", pa.array(np.arange(len(pid)) // PROBE_BATCH, pa.int32()))
    _write(t, f"{out}/probes.parquet")
    with open(f"{out}/probe_truth.json", "w") as f:
        json.dump({str(int(i)): [int(x) for x in row] for i, row in zip(pid, truth)}, f)

    ids, texts, batch, planted = doc_batches(seed)
    _write(pa.table({
        "batch": pa.array(batch, pa.int32()),
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": LANGS[np.array(ids) % len(LANGS)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/doc_batches.parquet")
    with open(f"{out}/planted_dups.json", "w") as f:
        json.dump(planted, f)

    lsm = lsm_batches(seed, corpus, emb.column("label").to_numpy())
    _write(pa.table({
        "batch": pa.array(lsm["batch"], pa.int32()),
        "ent": pa.array(lsm["ent"], pa.int64()),
        "vec_id": pa.array(lsm["ent"], pa.int64()),
        "qe": pa.array([q.tolist() for q in lsm["qe"]], pa.list_(pa.int64())),
        "label": pa.array(lsm["label"], pa.int32()),
        "del": pa.array(lsm["del"], pa.bool_())}),
        f"{out}/lsm_batches.parquet")
