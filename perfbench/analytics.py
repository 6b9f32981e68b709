"""The ``plans``/``operators`` layer probe: ten registry queries over
seeded tables, each timed as a ``noop`` write after
``plans.release_caches()`` and ``clearCache()``, then checked against
its ``plans.ORACLES`` SQL in DuckDB.

The tables are generated here from the seed (numpy → parquet) with the
schemas and value ranges of the repository's fixture tables, so the
program reads only generated inputs inside the checkout.
"""

from __future__ import annotations

import math
import os
import time

from perfbench.harness import fresh_dir

QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "sessionize_users",
    "events_robust_mad_outliers",
    "dedup_minhash_lsh",
    "dedup_winnowing_fingerprint",
    "ann_hard_negatives",
    "pmi_top_bigrams",
    "curation_pipeline",
    "multimodal_image_pixels",
)

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def write_tables(seed: int, scale: float = 0.01) -> str:
    """Seeded star schema + events/documents/embeddings at ``scale``
    (1.0 = the sf1 row counts of the fixture tables)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    out = fresh_dir("analytics/tables")
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li = int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_doc, n_emb = int(1_000_000 * scale), int(50_000 * scale), int(50_000 * scale)
    day = np.timedelta64(1, "D")

    def dates(lo: str, hi: str, n: int):
        a, b = np.datetime64(lo), np.datetime64(hi)
        return (a + rng.integers(0, (b - a) // day + 1, n) * day).astype("datetime64[us]")

    def money(lo: float, hi: float, n: int):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(options, n):
        return np.asarray(options, dtype=object)[rng.integers(0, len(options), n)]

    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION{i:02d}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    }
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, n_part)],
        "p_type": pick(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": money(900, 2100, n_part),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pick(["O", "F", "P"], n_ord),
        "o_totalprice": money(850, 550_000, n_ord),
        "o_orderdate": dates("1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["O", "F"], n_li),
        "l_shipdate": dates("1995-01-02", "2001-11-04", n_li),
    }
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span_us, n_ev).astype("timedelta64[us]"))
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(1, n_ev // 66), n_ev).astype(np.int64),
        "event_type": pick(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    texts = []
    for _ in range(n_doc):
        words = list(pick(WORDS, int(rng.integers(10, 100))))
        if rng.random() < 0.03:
            words[int(rng.integers(0, len(words)))] = "dup"
        texts.append(" ".join(words))
    t["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pick(["en", "en", "zh", "de", "fr", "es"], n_doc),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    emb = rng.normal(0.0, 0.125, (n_emb, 64)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    }
    for name, cols in t.items():
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))
    return out


def _norm_cell(v):
    """Full-precision canonical form (the repository's oracle test
    normalization): floats by repr, temporals by isoformat."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return repr(v)


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def oracle_matches(spark, duck, name: str, sf_dir: str) -> bool:
    """Spark result equals the DuckDB oracle (columns, row count and
    order-insensitive values at full precision)."""
    from pg_bifrost_spark import plans

    sdf = plans.QUERIES[name](spark, sf_dir)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]
    res = duck.sql(plans.ORACLES[name])
    d_cols = [c.lower() for c in res.columns]
    d_rows = [tuple(d[c] for c in res.columns) for d in res.fetch_arrow_table().to_pylist()]
    return (
        sorted(s_cols) == sorted(d_cols)
        and len(s_rows) == len(d_rows)
        and _norm_rows(s_cols, s_rows) == _norm_rows(d_cols, d_rows)
    )


def probe(spark, seed: int) -> dict:
    """Per-query time (``noop`` write) and job count, plus the oracle
    check. Returns ``{"metrics": {...}, "mismatches": [...]}``."""
    import duckdb

    from pg_bifrost_spark import plans

    plans.load_all()
    sf_dir = write_tables(seed)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    metrics: dict[str, float] = {}
    total = 0.0
    for name in QUERIES:
        plans.release_caches()
        spark.catalog.clearCache()
        group = f"perfbench-{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        plans.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        took = time.perf_counter() - t0
        sc.setJobGroup("perfbench", "perfbench")
        metrics[f"analytics.{name}_s"] = took
        metrics[f"analytics.{name}_jobs"] = len(tracker.getJobIdsForGroup(group))
        total += took
    metrics["analytics.round_s"] = total
    mismatches = []
    duck = duckdb.connect()
    try:
        for t in TABLES:
            duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in QUERIES:
            if name in plans.ORACLES and not oracle_matches(spark, duck, name, sf_dir):
                mismatches.append(name)
    finally:
        duck.close()
        plans.release_caches()
        spark.catalog.clearCache()
    return {"metrics": metrics, "mismatches": mismatches}
