"""The contract-suite pass: every ``__spark_entry__.queries()`` entry over a
seeded copy of the star-schema + events + corpus tables, each result checked
against its ``oracle_sql()`` in DuckDB.

The tables are generated here, from the seed, with the column names, types
and value shapes of the sf0.001 test tables (the same row counts, except
a smaller document corpus), so the pass needs no data outside the
benchmark's own working directory.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

#: family of each entry, for the per-family sums in the trace
FAMILIES = {
    "ts": [
        "rollup_1m", "rollup_5m", "rollup_1h", "rollup_1d", "gapfill_1m",
        "gorilla_roundtrip", "gorilla_chunk_stats", "gorilla_chunk_counts",
        "serving_range", "serving_points", "serving_range_filled",
        "serving_range_linear", "retention_ladder", "compaction_roundtrip",
        "asof_join", "pivot_1h", "sessionize", "rolling_1h",
        "median_value_by_type", "rollup_value_1h",
    ],
    "corpus": [
        "token_stats", "quality_score", "lang_id", "fingerprint", "exact_dedup",
        "minhash_dedup", "simhash", "dedup_clusters", "corpus_keep",
        "stratified_sample", "embedding_dedup", "embedding_lsh_dedup",
        "topk_cosine", "ann_lsh", "ann_ivf", "transform_chain",
    ],
    "relational": [
        "pricing_summary", "revenue_by_nation", "local_supplier_volume",
        "brand_part_stats", "top_customers_per_nation",
    ],
    "streaming": ["streaming_rollup_1m", "streaming_state"],
}

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _dates(rng, n: int, lo: str, hi: str) -> np.ndarray:
    days = (np.datetime64(hi) - np.datetime64(lo)).astype(int)
    return (np.datetime64(lo) + rng.integers(0, days, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def make_tables(seed: int) -> dict[str, pd.DataFrame]:
    """sf0.001-shaped tables drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    n_cust, n_supp, n_part, n_ord, n_li = 150, 10, 200, 1500, 6000
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
    noun = ["widget", "bolt", "gear", "ring", "plate", "anvil", "gizmo", "rod"]
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-02"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _dates(rng, n_li, "1995-01-02", "2001-11-05"),
    })
    # sf0.001's events span 30 days from 2024-01-01; these span the 16 days
    # from 2024-01-05 that hold every window the entries query (gap-fill
    # 01-05, serving 01-10..12, compaction 01-20, retention expiry up to
    # 01-09), so the serving build the entries share is one job batch
    # (job.RollupJobSpec.unit_batch days) instead of two
    n_ev = 1000
    ev_us = np.sort(rng.integers(0, 16 * 86400 * 1_000_000, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (np.datetime64("2024-01-05T00:00:00", "us") + ev_us.astype("timedelta64[us]")),
        "user_id": rng.integers(0, 15, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # a smaller corpus than sf0.001's 500 x 10..99 words: the exhaustive
    # all-pairs Jaccard oracles grow with pairs x shingles, and a traced run
    # must end within the benchmark's per-run time limit
    n_doc = 120
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 60))) for _ in range(n_doc)]
    # ~5% planted near-duplicates: an earlier document plus one marker token
    for i in rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    # as in the sf0.001 test corpus: unit vectors drawn uniformly from the
    # sphere, so near neighbours are rare (a handful of pairs above cosine
    # 0.45) and the label carries no geometry
    n_emb, dim = 500, 64
    v = rng.standard_normal((n_emb, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    label = rng.integers(0, 10, n_emb)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(v),
        "label": label.astype(np.int32),
    })
    return t


def write_tables(seed: int, sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, pdf in make_tables(seed).items():
        pdf.to_parquet(os.path.join(sf_dir, f"{name}.parquet"), index=False)


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        k = pdf[c].dtype.kind
        if k in "iu":
            pdf[c] = pdf[c].astype("int64")
        elif k == "M":
            pdf[c] = pd.to_datetime(pdf[c]).astype("datetime64[us]")
        elif k == "O":
            pdf[c] = pdf[c].astype(object)
    return pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)


def mismatch(got: pd.DataFrame, exp: pd.DataFrame) -> str | None:
    """Why ``got`` differs from ``exp`` (columns, rows, dtype kinds or
    values, order-insensitive and exact), or None when they are equal."""
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    for c in got.columns:
        if got[c].dtype.kind != exp[c].dtype.kind:
            return f"{c}: dtype {got[c].dtype} != {exp[c].dtype}"
    g, e = _canon(got), _canon(exp)
    for c in g.columns:
        if g[c].dtype.kind == "f":
            ga, ea = g[c].to_numpy(), e[c].astype(float).to_numpy()
            ok = (ga == ea) | (np.isnan(ga) & np.isnan(ea))
        else:
            ok = (g[c].astype(object).where(pd.notna(g[c]), None)
                  == e[c].astype(object).where(pd.notna(e[c]), None)).to_numpy()
        bad = int((~np.asarray(ok, dtype=bool)).sum())
        if bad:
            return f"{c}: {bad} mismatched values"
    return None


def _serving_files(spark, sf_dir: str) -> dict[str, int]:
    """Data files under the partitions the serving entries' date
    predicates keep, in the written output they read."""
    from addax_spark import api

    root = api._serving_output(spark, sf_dir)  # the build the entries used
    lo, hi = (t[:10] for t in api.SERVING_WINDOW)

    def files(base: str) -> int:
        return sum(
            1
            for p in os.listdir(base) if p.startswith("date=") and lo <= p[5:] <= hi
            for f in os.listdir(f"{base}/{p}") if f.endswith(".parquet")
        )

    tier_files = files(f"{root}/tiers/tier=1h")
    return {"serving_range": tier_files, "serving_range_filled": tier_files,
            "serving_range_linear": tier_files, "serving_points": files(f"{root}/chunks")}


def run_pass(spark, sf_dir: str, tracer, log) -> tuple[dict[str, float], int, int]:
    """One pass over every entry; each result is collected to the driver
    inside its span. Returns ``(walls, attempted, failed)``; results are
    checked against the oracles after the pass, untimed."""
    import time

    import duckdb

    import __spark_entry__ as entry

    walls: dict[str, float] = {}
    results: dict[str, pd.DataFrame | None] = {}
    spans = {}
    for name, q in entry.queries().items():
        t0 = time.perf_counter()
        try:
            with tracer.span(f"query.{name}") as spans[name]:
                results[name] = q(spark, sf_dir).toPandas()
            if spans[name] is not None:
                spans[name].attrs["rows"] = len(results[name])
        except Exception as e:  # noqa: BLE001 - one failed entry is counted, the pass goes on
            log(f"contract {name}: FAILED {type(e).__name__}: {e}")
            results[name] = None
        walls[name] = time.perf_counter() - t0

    failed = 0
    oracles = entry.oracle_sql()
    with tracer.span("check.contract"):
        if spans.get("serving_points") is not None:
            for name, n in _serving_files(spark, sf_dir).items():
                spans[name].attrs["files"] = n
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
                )
            for name, got in results.items():
                if got is None:
                    failed += 1
                    continue
                if name not in oracles:  # the two rows-only entries
                    why = None if len(got) > 0 else "no rows"
                else:
                    why = mismatch(got, con.execute(oracles[name]).df())
                if why:
                    log(f"contract {name}: WRONG {why}")
                    failed += 1
        finally:
            con.close()
    return walls, len(results), failed
