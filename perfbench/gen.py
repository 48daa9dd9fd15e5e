"""Seeded input generator for the graft benchmark.

Every input the program sees is written here, from the seed alone: the
same seed gives byte-identical tables. The JVM side never invents data.

  offline_batch  EAV feature history with Zipf-skewed entity activity,
                 plus label events (with equal-time and tie rows planted)
  serve_mixed    a snapshot of entity vectors, a stream of 16-key lookup
                 batches (~1 key in 16 absent) and ~200-row upsert batches
  query_sweep    the ten tables SparkEntry's queries read, in the value
                 domains of the repository's test data (TESTDATA.md), at
                 sf 0.01
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400 * 1_000_000
# 2024-04-01T00:00:00Z in epoch micros: the end of the offline history
HISTORY_END_US = 1_711_929_600 * 1_000_000
FEATURES = [f"f{i}" for i in range(8)]

OFFLINE = dict(rows=120_000, entities=3_000, days=90, labels=6_000,
               zipf=0.8, old_frac=0.005, tie_frac=0.01, at_label_frac=0.02)
SERVE = dict(entities=100_000, batch_keys=16, absent_per_batch=1,
             upsert_rows=200, lookups_per_upsert=9, zipf=0.8)
SWEEP = dict(sf=0.01)


def _write(table, path, row_group=None):
    pq.write_table(table, path, compression="snappy", row_group_size=row_group)


def _zipf_draw(rng, n, s, size):
    """Ranks in [0, n) with P(rank r) proportional to 1 / (r + 1)^s."""
    cdf = np.cumsum(1.0 / np.arange(1, n + 1) ** s)
    return np.searchsorted(cdf, rng.random(size) * cdf[-1], side="right")


def _entity_keys(ids):
    return np.char.add("e", np.char.zfill(ids.astype(str), 7))


def gen_offline(rng, out):
    c = OFFLINE
    n_ent = c["entities"]
    # Zipf activity over a seeded permutation, so hot entities differ per seed
    perm = rng.permutation(n_ent)
    ent = perm[_zipf_draw(rng, n_ent, c["zipf"], c["rows"])]
    # whole seconds, so equal timestamps occur naturally as well as planted
    span_s = c["days"] * 86_400
    ts = HISTORY_END_US - rng.integers(0, span_s, size=c["rows"]) * 1_000_000
    feat = rng.integers(0, len(FEATURES), size=c["rows"])
    val = np.round(rng.gamma(2.0, 25.0, size=c["rows"]), 2)
    # rows far older than the 180-day lookback before the first label:
    # materialize sees them, the point-in-time join must not
    n_old = int(c["rows"] * c["old_frac"])
    old_idx = rng.choice(c["rows"], size=n_old, replace=False)
    ts[old_idx] = HISTORY_END_US - rng.integers(300, 400, size=n_old) * DAY_US
    # equal-(entity, feature, ts) rows with another value: ties must go
    # to the greatest value
    n_tie = int(c["rows"] * c["tie_frac"])
    src = rng.choice(c["rows"], size=n_tie, replace=False)
    ent = np.concatenate([ent, ent[src]])
    ts = np.concatenate([ts, ts[src]])
    feat = np.concatenate([feat, feat[src]])
    val = np.concatenate([val, np.round(val[src] + rng.uniform(-5, 5, n_tie), 2)])
    n = len(ent)
    commit = rng.permutation(n).astype(np.int64)

    # labels in the last 60 days, same skew; some stamped exactly at a
    # feature row of their entity (that row must be visible)
    n_lab = c["labels"]
    lab_ent = perm[_zipf_draw(rng, n_ent, c["zipf"], n_lab)]
    lab_ts = HISTORY_END_US - rng.integers(0, 60 * 86_400, size=n_lab) * 1_000_000
    n_at = int(n_lab * c["at_label_frac"])
    recent = np.flatnonzero(ts >= HISTORY_END_US - 60 * DAY_US)
    pick = rng.choice(recent, size=n_at, replace=False)
    lab_ent[:n_at] = ent[pick]
    lab_ts[:n_at] = ts[pick]
    lab_val = rng.integers(0, 2, size=n_lab).astype(np.float64)
    lab_id = np.arange(n_lab, dtype=np.int64)

    keys = _entity_keys(np.arange(n_ent))
    feats = pa.table({
        "entity_id": keys[ent],
        "feature_name": np.array(FEATURES)[feat],
        "value_float": val,
        "event_time": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "commit_id": commit,
    })
    labels = pa.table({
        "entity_id": keys[lab_ent],
        "ts": pa.array(lab_ts, pa.timestamp("us", tz="UTC")),
        "event_id": lab_id,
        "value": lab_val,
    })
    # row groups of 16k rows, as a sharded table would be split; the
    # single-row-group layout of the repository's test data stays in
    # query_sweep
    _write(feats, os.path.join(out, "features.parquet"), 16_000)
    _write(labels, os.path.join(out, "labels.parquet"))
    return {"feature_rows": n, "entities": n_ent, "features": len(FEATURES),
            "history_days": c["days"], "label_rows": n_lab,
            "old_rows": n_old, "tie_rows": n_tie, "labels_at_feature_ts": n_at}


def gen_serve(rng, out, seconds):
    c = SERVE
    n_ent = c["entities"]
    ids = _entity_keys(np.arange(n_ent))
    vec = np.round(rng.normal(0, 1, size=(n_ent, len(FEATURES))), 6)
    cols = {"entity_id": ids}
    cols.update({f"f_{f}": vec[:, i] for i, f in enumerate(FEATURES)})
    _write(pa.table(cols), os.path.join(out, "vectors.parquet"))

    # enough batches for the run; a lookup is ~0.1 s at the fastest
    n_lookups = max(200, int(seconds * 15))
    n_upserts = n_lookups // c["lookups_per_upsert"] + 1
    perm = rng.permutation(n_ent)
    k = c["batch_keys"]
    present = k - c["absent_per_batch"]
    batch, keys = [], []
    for b in range(n_lookups):
        # distinct keys per batch: a client dedups its own request
        chosen = set()
        while len(chosen) < present:
            chosen.update(perm[_zipf_draw(rng, n_ent, c["zipf"], present)].tolist())
        chosen = list(chosen)[:present]
        absent = n_ent + rng.integers(0, n_ent, size=c["absent_per_batch"])
        ks = np.concatenate([np.array(chosen), absent])
        rng.shuffle(ks)
        batch.append(np.full(k, b, dtype=np.int32))
        keys.append(ks)
    _write(pa.table({"batch": np.concatenate(batch),
                     "entity_id": _entity_keys(np.concatenate(keys))}),
           os.path.join(out, "lookups.parquet"))

    m = c["upsert_rows"]
    ub, uk, uv = [], [], []
    for b in range(n_upserts):
        uk.append(rng.choice(n_ent, size=m, replace=False))
        uv.append(np.round(rng.normal(0, 1, size=(m, len(FEATURES))), 6))
        ub.append(np.full(m, b, dtype=np.int32))
    uv = np.concatenate(uv)
    ucols = {"batch": np.concatenate(ub),
             "entity_id": _entity_keys(np.concatenate(uk))}
    ucols.update({f"f_{f}": uv[:, i] for i, f in enumerate(FEATURES)})
    _write(pa.table(ucols), os.path.join(out, "upserts.parquet"))
    return {"snapshot_entities": n_ent, "features": len(FEATURES),
            "batch_keys": k, "absent_per_batch": c["absent_per_batch"],
            "lookup_batches": n_lookups, "upsert_batches": n_upserts,
            "upsert_rows": m, "lookups_per_upsert": c["lookups_per_upsert"]}


VOCAB = ("a the spark window merge table column vector stream value data "
         "small join filter big group hash customer sort order slow line "
         "part fast row agg key query scan batch").split()
PART_ADJ = "blue cold hot new old red small large".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _days_us(rng, lo_s, hi_s, n):
    """Midnight timestamps drawn from [lo_s, hi_s) epoch seconds."""
    s = rng.integers(lo_s, hi_s, size=n)
    return pa.array((s - s % 86_400) * 1_000_000, pa.timestamp("us"))


def gen_sweep(rng, out):
    sf = SWEEP["sf"]
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), int(15_000 * sf)
    n_docs, n_emb = int(50_000 * sf), int(50_000 * sf)
    t95, t01 = 788_918_400, 996_624_000   # 1995-01-01, 2001-08-01
    t24 = 1_704_067_200                   # 2024-01-01

    def w(name, cols):
        _write(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    w("region", {"r_regionkey": np.arange(5, dtype=np.int32),
                 "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    w("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                 "n_name": [f"NATION_{i}" for i in range(25)],
                 "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    ck = np.arange(n_cust, dtype=np.int64)
    w("customer", {
        "c_custkey": ck,
        "c_name": np.char.add("Customer#", np.char.zfill(ck.astype(str), 9)),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    sk = np.arange(n_supp, dtype=np.int64)
    w("supplier", {
        "s_suppkey": sk,
        "s_name": np.char.add("Supplier#", np.char.zfill(sk.astype(str), 9)),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    pk = np.arange(n_part, dtype=np.int64)
    w("part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(rng.choice(PART_ADJ, n_part), " "),
                              rng.choice(PART_NOUN, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2)})
    w("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _days_us(rng, t95, t01, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    w("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days_us(rng, t95 + 86_400, t01 + 95 * 86_400, n_line)})
    gaps = rng.exponential(26.0, n_ev)
    ev_s = t24 + np.minimum(np.cumsum(gaps), 30 * 86_400 - 1)
    w("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array((ev_s * 1_000_000).astype(np.int64), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}")})
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as in the test corpus
            texts.append(texts[rng.integers(0, i)] + " dup" * int(rng.integers(1, 3)))
        elif i > 10 and rng.random() < 0.01:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    w("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_docs),
        "source": np.char.add("src", (np.arange(n_docs) % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.normal(0, 1, size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    w("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return {"sf": sf, "lineitem_rows": n_line, "orders_rows": n_ord,
            "events_rows": n_ev, "documents_rows": n_docs,
            "embeddings_rows": n_emb}


def generate(workload, seed, out, seconds):
    """Write `workload`'s inputs under `out`; return their sizes."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    if workload == "offline_batch":
        return gen_offline(rng, out)
    if workload == "serve_mixed":
        return gen_serve(rng, out, seconds)
    if workload == "query_sweep":
        return gen_sweep(rng, out)
    raise ValueError(f"unknown workload {workload}")
