"""Output checks that run after the JVM exits, outside every timed interval.

Each returns a list of problems; an empty list means the outputs are right.

  offline_batch  a seeded sample of exported training rows against a
                 floor-entry reference with AsofJoin's documented semantics
  query_sweep    every query's row count against the DuckDB oracle SQL run
                 over the same generated tables (queries without oracle SQL:
                 the count must repeat across passes)
  serve_mixed    checked inside the JVM: every lookup, then the whole snapshot
"""
import os

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

LOOKBACK_US = 180 * 86_400 * 1_000_000
SAMPLE_LABELS = 500
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _us(col):
    return col.cast("int64").to_numpy()


def check_offline(seed, data, res):
    problems = []
    feats = pq.read_table(os.path.join(data, "features.parquet"))
    labels = pq.read_table(os.path.join(data, "labels.parquet"))
    n_entities = len(np.unique(feats["entity_id"].to_numpy()))
    if res["named"].get("validate_n_entities") != n_entities:
        problems.append(f"validate counted {res['named'].get('validate_n_entities')}"
                        f" entities, the history has {n_entities}")
    root = res["extra"]["export_root"]
    got = ds.dataset(os.path.join(root, "data"), format="parquet",
                     partitioning="hive").to_table().to_pandas()
    if len(got) != labels.num_rows:
        problems.append(f"export holds {len(got)} rows for {labels.num_rows} labels")
    got = got.set_index("label_id")

    # reference: for each sampled label and feature, the row with the
    # greatest (ts, value) among ts in [first label - 180 days, label ts]
    rng = np.random.default_rng(seed)
    lab = labels.to_pandas()
    lab["ts"] = _us(labels["ts"])
    sample = lab.iloc[rng.choice(len(lab), size=SAMPLE_LABELS, replace=False)]
    f = feats.select(["entity_id", "feature_name", "value_float"]).to_pandas()
    f["ts"] = _us(feats["event_time"])
    f = f[(f["ts"] >= lab["ts"].min() - LOOKBACK_US)
          & f["entity_id"].isin(set(sample["entity_id"]))]
    m = sample.merge(f, on="entity_id", suffixes=("_l", "_f"))
    m = m[m["ts_f"] <= m["ts_l"]].sort_values(
        ["event_id", "feature_name", "ts_f", "value_float"])
    want = m.groupby(["event_id", "feature_name"])["value_float"].last()
    names = sorted(f["feature_name"].unique())
    for _, row in sample.iterrows():
        lid = row["event_id"]
        if lid not in got.index:
            problems.append(f"label {lid} missing from the export")
            continue
        g = got.loc[lid]
        if g["entity_id"] != row["entity_id"] or g["label"] != row["value"]:
            problems.append(f"label {lid}: entity/label {g['entity_id']}/{g['label']}")
        for fn in names:
            exp = want.get((lid, fn), 0.0)
            if g[f"f_{fn}"] != exp:
                problems.append(f"label {lid} feature {fn}: got {g[f'f_{fn}']}, "
                                f"reference {exp}")
    return problems[:20]


def check_sweep(data, res):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(data, t)}.parquet'")
    oracle = res["extra"]["oracle_sql"]
    counts = {}
    for r in res["extra"]["per_query"]:
        if r["ok"]:
            counts.setdefault(r["query"], set()).add(r["rows"])
    problems = []
    for q, seen in sorted(counts.items()):
        if len(seen) != 1:
            problems.append(f"{q}: row count differs across passes {sorted(seen)}")
        elif q in oracle:
            want = con.sql(f"SELECT count(*) FROM ({oracle[q]})").fetchone()[0]
            if want not in seen:
                problems.append(f"{q}: {seen.pop()} rows, oracle {want}")
    return problems


def check(workload, seed, data, res):
    if workload == "offline_batch":
        return check_offline(seed, data, res)
    if workload == "query_sweep":
        return check_sweep(data, res)
    return []
