"""Deterministic TESTDATA-shaped table generator for scale sweeps.

The driver ships sf{0.001,0.01,0.1} only (TESTDATA.md); VERDICT r4 item
1 asks for the FULL gate (correctness oracles + bench + ANN recall) one
order of magnitude up. This tool synthesizes every TESTDATA table at an
arbitrary sf — same schemas, same categorical vocabularies, same
row-count scaling (sampled from the sf0.1 tables), fully seeded — into
an sf-named directory usable as `sf_dir` by tools/check_correctness.py
and bench.py. The DuckDB oracles recompute ground truth on the SAME
parquet, so every portable oracle stays a real check at any sf.

The clips/media corpora are NOT written here: queries synthesize those
themselves per sf_dir (corpus/generator.py, corpus/media.py) — only the
TPC-H-ish star schema + events + documents + embeddings live in sf_dir.

Documents get the dup structure the text-dedup tier needs (exact dups,
near-dups with token edits, cross-language) at sf0.1-like rates;
embeddings get 10 labeled Gaussian clusters plus planted near-identical
pairs (the ANN/near-dup regimes' geometry).

Usage: python tools/gen_scale_tables.py [--sf 1.0] [--out /tmp/dqc_scale]
Writes to <out>/sf<sf>/<table>.parquet (tmp+rename per table).
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_quality_checker_spark.corpus.generator import (  # noqa: E402
    _payload_row_group_rows,
)
from data_quality_checker_spark.corpus.vocab import EN_VOCAB  # noqa: E402

SEED = 20260818

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
P_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
DOC_LANGS = ["en", "zh", "es", "fr", "de"]
DOC_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

# per-unit-sf row counts (sampled from /root/testdata/sf0.1 × 10)
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}


def _write(df: pd.DataFrame, out_dir: str, name: str) -> None:
    path = os.path.join(out_dir, f"{name}.parquet")
    tmp = f"{path}.tmp.{os.getpid()}"
    # Byte-bounded row groups (~64 MB): pyarrow's default bound is 1Mi
    # ROWS, so any table under a million rows lands in ONE row group and
    # parquet readers parallelize across row groups — the sf10 sweep's
    # 500k-doc table became one 311 MB group, serializing every doc-scan
    # stage on a single Spark task (doc_fingerprints measured 662 s; the
    # same defect class as corpus/generator._payload_row_group_rows).
    table = pa.Table.from_pandas(df, preserve_index=False)
    rows_per = _payload_row_group_rows(table, 64 * 2**20)
    pq.write_table(table, tmp, row_group_size=rows_per)
    os.replace(tmp, path)
    print(f"wrote {path}  rows={len(df)}  rows_per_group={rows_per}")


def gen_dims(out_dir: str) -> None:
    _write(
        pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}),
        out_dir,
        "region",
    )
    nk = np.arange(25, dtype=np.int32)
    _write(
        pd.DataFrame(
            {
                "n_nationkey": nk,
                "n_name": [f"NATION_{i:02d}" for i in nk],
                "n_regionkey": (nk % 5).astype(np.int32),
            }
        ),
        out_dir,
        "nation",
    )


def gen_customer(out_dir: str, sf: float, rng: np.random.Generator) -> int:
    n = int(ROWS_PER_SF["customer"] * sf)
    k = np.arange(n, dtype=np.int64)
    _write(
        pd.DataFrame(
            {
                "c_custkey": k,
                "c_name": [f"Customer#{i:09d}" for i in k],
                "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
            }
        ),
        out_dir,
        "customer",
    )
    return n


def gen_supplier(out_dir: str, sf: float, rng: np.random.Generator) -> int:
    n = int(ROWS_PER_SF["supplier"] * sf)
    k = np.arange(n, dtype=np.int64)
    _write(
        pd.DataFrame(
            {
                "s_suppkey": k,
                "s_name": [f"Supplier#{i:09d}" for i in k],
                "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            }
        ),
        out_dir,
        "supplier",
    )
    return n


def gen_part(out_dir: str, sf: float, rng: np.random.Generator) -> int:
    n = int(ROWS_PER_SF["part"] * sf)
    k = np.arange(n, dtype=np.int64)
    adjectives = ["spring", "misty", "linen", "burnished", "antique"]
    nouns = ["steel", "copper", "tin", "nickel", "brass"]
    _write(
        pd.DataFrame(
            {
                "p_partkey": k,
                "p_name": [
                    f"{adjectives[i % 5]} {nouns[(i // 5) % 5]} part {i}" for i in k
                ],
                "p_brand": [f"Brand#{1 + (i % 25)}" for i in k],
                "p_type": np.array(P_TYPES)[rng.integers(0, len(P_TYPES), n)],
                "p_size": rng.integers(1, 51, n).astype(np.int32),
                "p_retailprice": np.round(rng.uniform(900.0, 2100.0, n), 2),
            }
        ),
        out_dir,
        "part",
    )
    return n


def gen_orders_lineitem(
    out_dir: str, sf: float, rng: np.random.Generator, n_cust: int, n_supp: int, n_part: int
) -> None:
    n = int(ROWS_PER_SF["orders"] * sf)
    ok = np.arange(n, dtype=np.int64)
    base = np.datetime64("1995-01-01")
    odate_days = rng.integers(0, 2405, n)  # 1995-01-01 .. 2001-08-01
    odate = base + odate_days.astype("timedelta64[D]")
    _write(
        pd.DataFrame(
            {
                "o_orderkey": ok,
                "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
                "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n)],
                "o_totalprice": np.round(rng.uniform(850.0, 470_000.0, n), 2),
                "o_orderdate": pd.to_datetime(odate),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
            }
        ),
        out_dir,
        "orders",
    )
    # ~4.07 lines/order, 1..7 per order (sampled from sf0.1)
    lines_per = rng.integers(1, 8, n)
    m = int(lines_per.sum())
    l_orderkey = np.repeat(ok, lines_per)
    l_linenumber = np.concatenate([np.arange(1, c + 1) for c in lines_per]).astype(
        np.int32
    )
    qty = rng.integers(1, 51, m).astype(np.float64)
    price = np.round(rng.uniform(900.0, 105_000.0, m), 2)
    ship_lag = rng.integers(1, 122, m).astype("timedelta64[D]")
    l_shipdate = np.repeat(odate, lines_per) + ship_lag
    _write(
        pd.DataFrame(
            {
                "l_orderkey": l_orderkey,
                "l_partkey": rng.integers(0, n_part, m).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, m).astype(np.int64),
                "l_linenumber": l_linenumber,
                "l_quantity": qty,
                "l_extendedprice": price,
                "l_discount": np.round(rng.uniform(0.0, 0.10, m), 2),
                "l_tax": np.round(rng.uniform(0.0, 0.08, m), 2),
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
                "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, m)],
                "l_shipdate": pd.to_datetime(l_shipdate),
            }
        ),
        out_dir,
        "lineitem",
    )


def gen_events(out_dir: str, sf: float, rng: np.random.Generator) -> None:
    n = int(ROWS_PER_SF["events"] * sf)
    # sorted micro-second timestamps over Jan 2024 (the driver's shape)
    span_us = 30 * 24 * 3600 * 1_000_000
    ts_us = np.sort(rng.integers(0, span_us, n))
    ts = np.datetime64("2024-01-01") + ts_us.astype("timedelta64[us]")
    _write(
        pd.DataFrame(
            {
                "event_id": np.arange(n, dtype=np.int64),
                "ts": pd.to_datetime(ts),
                "user_id": rng.integers(0, max(2, int(15_000 * sf)), n).astype(
                    np.int64
                ),
                "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
                "value": np.round(rng.exponential(60.0, n), 2),
                "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n)],
            }
        ),
        out_dir,
        "events",
    )


def _doc_texts(n: int, rng: np.random.Generator) -> list[str]:
    """Zipfian text over a LARGE vocabulary. Deliberate divergence from
    the driver's tables: TESTDATA's documents draw from a ~30-word
    vocabulary, which makes MinHash-LSH candidate pairs inherently
    QUADRATIC (measured on the driver's own parquet: 3,001 candidates at
    500 docs → 312,113 at 5,000 — every doc is a near-dup of every
    other). That regime is a property of the toy corpus, not of any
    engine; scaling it 10× just benchmarks a 62M-row pair explosion. A
    web corpus' shingle sets are near-unique outside genuine near-dups,
    so the sweep corpus uses an 8k-word Zipf vocabulary + 30–120-token
    docs; candidate volume then scales ~linearly and the planted
    dup/near-dup structure (below) is what the dedup tier actually finds.
    """
    vocab = np.array(
        EN_VOCAB
        + [
            "batch", "spark", "column", "sort", "hash", "group", "agg",
            "filter", "query", "window", "stream", "merge", "table", "row",
            "key", "scan", "vector", "line", "part", "order", "value",
            "data", "big", "small", "fast", "slow",
        ]
        + [f"term{i:04d}" for i in range(8000)]
    )
    # mixed head/tail distribution: ~30% of tokens from the small common
    # vocabulary, ~70% uniform over the 8k tail terms — a pure 1/rank
    # Zipf over 8k words still concentrates enough mass in its head that
    # min-hashes collide corpus-wide (measured: 46M LSH candidates);
    # this mix keeps shingle sets document-specific outside real overlap
    n_common = len(vocab) - 8000
    probs = np.empty(len(vocab))
    probs[:n_common] = 0.30 / n_common
    probs[n_common:] = 0.70 / 8000
    lengths = rng.integers(30, 121, n)
    texts = [
        " ".join(rng.choice(vocab, int(ln), p=probs)) for ln in lengths
    ]
    # plant exact dups (~0.16%) and near-dups (~1%: copy with 2 token
    # edits — inside typical Jaccard-0.8 shingle similarity)
    n_dup = max(1, n // 625)
    n_near = max(1, n // 100)
    for i in rng.choice(n, n_dup, replace=False):
        texts[int(i)] = texts[int(rng.integers(0, n))]
    for i in rng.choice(n, n_near, replace=False):
        src = texts[int(rng.integers(0, n))].split()
        if len(src) > 4:
            for _ in range(2):
                src[int(rng.integers(0, len(src)))] = str(vocab[int(rng.integers(0, len(vocab)))])
        texts[int(i)] = " ".join(src)
    return texts


def gen_documents(out_dir: str, sf: float, rng: np.random.Generator) -> None:
    n = int(ROWS_PER_SF["documents"] * sf)
    texts = _doc_texts(n, rng)
    _write(
        pd.DataFrame(
            {
                "doc_id": np.arange(n, dtype=np.int64),
                "text": texts,
                "lang": np.array(DOC_LANGS)[
                    rng.choice(len(DOC_LANGS), n, p=DOC_LANG_P)
                ],
                "source": [f"src{i}" for i in rng.integers(0, 20, n)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        out_dir,
        "documents",
    )


def gen_embeddings(out_dir: str, sf: float, rng: np.random.Generator) -> None:
    n = int(ROWS_PER_SF["embeddings"] * sf)
    dim = 64
    labels = rng.integers(0, 10, n).astype(np.int32)
    # the driver's geometry (measured at sf0.01/sf0.1): iid gaussian
    # unit-norm vectors — cosine ~ N(0, 1/sqrt(64)), so the >=0.35 pair
    # fraction is the natural ~0.2% gaussian tail and pair-producing
    # queries scale the same way they do on the driver's tables
    vecs = rng.normal(0.0, 1.0, (n, dim))
    # a small planted near-identical set (~0.2%) keeps a genuine
    # near-dup regime present without distorting the pair-count scaling
    n_near = max(1, n // 500)
    src = rng.choice(n, n_near, replace=False)
    dst = rng.choice(n, n_near, replace=False)
    vecs[dst] = vecs[src] + rng.normal(0.0, 0.05, (n_near, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(
        pd.DataFrame(
            {
                "vec_id": np.arange(n, dtype=np.int64),
                "embedding": [v.astype(np.float32) for v in vecs],
                "label": labels,
            }
        ),
        out_dir,
        "embeddings",
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=1.0)
    ap.add_argument("--out", default="/tmp/dqc_scale")
    args = ap.parse_args()
    sf_str = f"{args.sf:g}"
    out_dir = os.path.join(args.out, f"sf{sf_str}")
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(SEED)
    gen_dims(out_dir)
    n_cust = gen_customer(out_dir, args.sf, rng)
    n_supp = gen_supplier(out_dir, args.sf, rng)
    n_part = gen_part(out_dir, args.sf, rng)
    gen_orders_lineitem(out_dir, args.sf, rng, n_cust, n_supp, n_part)
    gen_events(out_dir, args.sf, rng)
    gen_documents(out_dir, args.sf, rng)
    gen_embeddings(out_dir, args.sf, rng)
    print(f"done: {out_dir}")


if __name__ == "__main__":
    main()
