"""Seeded input generator for the benchmark.

Writes the star-schema parquet tables the registry queries read
(region nation customer supplier part orders lineitem events documents
embeddings) and the five yearly happiness CSVs the streaming leg
ingests. The same seed always gives byte-identical inputs; the program
under test only ever sees the generated files.

Table shapes follow the synthetic TPC-H-ish layout the engine is
developed against: independent uniform columns, one row group per
file, near-duplicate documents marked with a trailing ``dup`` token,
and unit-norm 64-dim embeddings drawn around ten label centres.
"""

from __future__ import annotations

import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

# canonical feature -> header name, per layout family
_FEATURE_HEADERS = {
    "gdp": ("Economy (GDP per Capita)", "Economy..GDP.per.Capita.", "GDP per capita"),
    "social": ("Family", "Family", "Social support"),
    "health": ("Health (Life Expectancy)", "Health..Life.Expectancy.",
               "Healthy life expectancy"),
    "freedom": ("Freedom", "Freedom", "Freedom to make life choices"),
    "corrupt": ("Trust (Government Corruption)", "Trust..Government.Corruption.",
                "Perceptions of corruption"),
    "score": ("Happiness Score", "Happiness.Score", "Score"),
}
_FEATURE_MAX = {"gdp": 1.7, "social": 1.6, "health": 1.1, "freedom": 0.65,
                "corrupt": 0.5}
NA_FRACTION = 0.02


def _ts_us(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten parquet tables; returns row counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = table_sizes(sf)
    i32 = np.int32

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=i32)),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=i32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(i32)),
        "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(i32)),
        "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": rng.choice(names, n["part"]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]).astype(i32)),
        "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) / 10.0, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, n["orders"], 1000.0, 500_000.0),
        "o_orderdate": _ts_us(_days(rng, n["orders"], "1995-01-01", "2001-08-01")),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
    })
    m = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": pa.array(rng.integers(1, 8, m).astype(i32)),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, m, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _ts_us(_days(rng, m, "1995-01-02", "2001-11-04")),
    })
    ne = n["events"]
    gaps_us = rng.exponential(30 * 86_400e6 / ne, ne).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps_us).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts_us(ts),
        "user_id": rng.integers(0, max(10, int(15_000 * sf)), ne),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = [" ".join(rng.choice(VOCAB, int(k))) for k in rng.integers(10, 100, nd)]
    # 5% near-duplicates: a copy of another document plus a marker token
    for i in rng.choice(nd, nd // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    _write(out_dir, "documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    nv = n["embeddings"]
    centres = rng.normal(size=(10, 64))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, 10, nv)
    vecs = rng.normal(size=(nv, 64)) / 8.0 + 0.15 * centres[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(i32)),
    })
    return {**n, "region": 5, "nation": 25}


def write_happiness(out_dir: str, seed: int, rows_per_year: int,
                    layout_dir: str) -> dict[int, str]:
    """Write the five yearly happiness CSVs with the header of the same
    year's file in ``layout_dir`` (2017 fully quoted, as published) and
    ``N/A`` cells in the feature columns. Returns {year: path}. Every
    (country, year) key is unique."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    paths = {}
    for year in range(2015, 2020):
        with open(os.path.join(layout_dir, f"{year}.csv"), newline="", encoding="utf-8") as f:
            header = next(csv.reader(f))
        family = 0 if year < 2017 else (1 if year == 2017 else 2)
        countries = [f"Country {i:04d}" for i in rng.permutation(rows_per_year)]
        feats = {k: rng.uniform(0, hi, rows_per_year) for k, hi in _FEATURE_MAX.items()}
        score = (2.5 + 1.2 * feats["gdp"] + 0.8 * feats["social"]
                 + 1.0 * feats["health"] + 1.5 * feats["freedom"]
                 + 0.9 * feats["corrupt"] + rng.normal(0, 0.3, rows_per_year))
        cells = {k: [f"{v:.5f}" for v in vals] for k, vals in feats.items()}
        cells["score"] = [f"{v:.3f}" for v in score]
        for k in _FEATURE_MAX:
            for i in np.flatnonzero(rng.random(rows_per_year) < NA_FRACTION):
                cells[k][i] = "N/A"
        by_header = {_FEATURE_HEADERS[k][family]: v for k, v in cells.items()}
        path = os.path.join(out_dir, f"{year}.csv")
        with open(path, "w", newline="", encoding="utf-8") as f:
            w = csv.writer(f, quoting=csv.QUOTE_ALL if year == 2017 else csv.QUOTE_MINIMAL)
            w.writerow(header)
            for i in range(rows_per_year):
                row = []
                for col in header:
                    if col in by_header:
                        row.append(by_header[col][i])
                    elif col in ("Country", "Country or region"):
                        row.append(countries[i])
                    elif "ank" in col:
                        row.append(str(i + 1))
                    elif col == "Region":
                        row.append(REGIONS[i % 5])
                    else:
                        row.append(f"{rng.uniform(0, 2):.4f}")
                w.writerow(row)
        paths[year] = path
    return paths
