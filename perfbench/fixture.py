"""Benchmark fixture: a seeded base plus its 10x key-offset copy.

The base holds the ten tables region .. embeddings with the schemas and the
sf0.001 row counts of FIXTURES.md. Its values are drawn by this module, not
taken from the repository's sf0.001 fixture, whose generator is not in the
repository: the value domains follow FIXTURES.md, and the document texts
copy only what can be read off that fixture (500 distinct texts of 10 to 99
words drawn from one 31-word vocabulary, no punctuation). Everything else
about the texts is a guess. ``tools/gen_sf.py``'s ``generate`` then derives
the 10x fixture from the base by key-offset replication, so every relational
key stays unique and the documents gain exact and near duplicates.

The fixture is built once per checkout under ``.bench_build/perfbench`` and
reused by later runs; it does not depend on the run's ``--seed``.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys

import duckdb
import numpy as np
import pandas as pd

FIXTURE_SEED = 42
COPIES = 10
# base row counts, those of FIXTURES.md at sf0.001; the 10x fixture
# multiplies every fact table by COPIES
BASE_ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}
FIXED_TABLES = ("region", "nation")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64
VERSION = "v2"


def _days(rng, start: str, span: int, n: int) -> pd.Series:
    base = np.datetime64(start, "D")
    return pd.Series(base + rng.integers(0, span, n).astype("timedelta64[D]"))


def _documents(rng, n: int) -> pd.DataFrame:
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))) for _ in range(n)]
    langs = rng.choice(
        ["en", "de", "fr", "es", "zh"], n, p=[0.44, 0.14, 0.14, 0.14, 0.14]
    )
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _base_frames(seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    r = BASE_ROWS
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    colors = "blue red green black white small large tiny".split()
    nouns = "anvil widget bolt gear spring valve lever wheel".split()
    vec = rng.normal(0.0, 1.0, (r["embeddings"], EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    event_s = np.sort(rng.uniform(0, 30 * 86400, r["events"]))
    return {
        "region": pd.DataFrame(
            {
                "r_regionkey": np.arange(5, dtype=np.int32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(r["customer"], dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(r["customer"])],
                "c_nationkey": rng.integers(0, 25, r["customer"]).astype(np.int32),
                "c_acctbal": money(-999.99, 9999.99, r["customer"]),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                    r["customer"],
                ),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(r["supplier"], dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(r["supplier"])],
                "s_nationkey": rng.integers(0, 25, r["supplier"]).astype(np.int32),
                "s_acctbal": money(-999.99, 9999.99, r["supplier"]),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(r["part"], dtype=np.int64),
                "p_name": [
                    f"{colors[rng.integers(0, 8)]} {nouns[rng.integers(0, 8)]}"
                    for _ in range(r["part"])
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, r["part"])],
                "p_type": rng.choice(
                    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                    r["part"],
                ),
                "p_size": rng.integers(1, 51, r["part"]).astype(np.int32),
                "p_retailprice": 900.0 + (np.arange(r["part"]) % 1000) / 10.0,
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(r["orders"], dtype=np.int64),
                "o_custkey": rng.integers(0, r["customer"], r["orders"]),
                "o_orderstatus": rng.choice(["F", "O", "P"], r["orders"]),
                "o_totalprice": money(1000.0, 500000.0, r["orders"]),
                "o_orderdate": _days(rng, "1995-01-01", 2404, r["orders"]),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    r["orders"],
                ),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, r["orders"], r["lineitem"]),
                "l_partkey": rng.integers(0, r["part"], r["lineitem"]),
                "l_suppkey": rng.integers(0, r["supplier"], r["lineitem"]),
                "l_linenumber": rng.integers(1, 8, r["lineitem"]).astype(np.int32),
                "l_quantity": rng.integers(1, 51, r["lineitem"]).astype(np.float64),
                "l_extendedprice": money(900.0, 105000.0, r["lineitem"]),
                "l_discount": rng.integers(0, 11, r["lineitem"]) / 100.0,
                "l_tax": rng.integers(0, 9, r["lineitem"]) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], r["lineitem"]),
                "l_linestatus": rng.choice(["F", "O"], r["lineitem"]),
                "l_shipdate": _days(rng, "1995-01-02", 2499, r["lineitem"]),
            }
        ),
        "events": pd.DataFrame(
            {
                "event_id": np.arange(r["events"], dtype=np.int64),
                "ts": pd.Timestamp("2024-01-01")
                + pd.to_timedelta(np.round(event_s * 1e6).astype(np.int64), unit="us"),
                "user_id": rng.integers(0, max(1, r["events"] // 66), r["events"]),
                "event_type": rng.choice(
                    ["click", "error", "purchase", "signup", "view"], r["events"]
                ),
                "value": np.round(rng.exponential(50.0, r["events"]) + 0.01, 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, r["events"])],
            }
        ),
        "documents": _documents(rng, r["documents"]),
        "embeddings": pd.DataFrame(
            {
                "vec_id": np.arange(r["embeddings"], dtype=np.int64),
                "embedding": list(vec),
                "label": rng.integers(0, 10, r["embeddings"]).astype(np.int32),
            }
        ),
    }


def _write_base(out: str, seed: int) -> None:
    os.makedirs(out)
    con = duckdb.connect()
    for name, frame in _base_frames(seed).items():
        con.register("frame", frame)
        cast = "embedding::FLOAT[] AS embedding" if name == "embeddings" else None
        cols = ", ".join(
            cast if c == "embedding" else f'"{c}"' for c in frame.columns
        )
        con.sql(
            f"COPY (SELECT {cols} FROM frame) TO '{out}/{name}.parquet' "
            "(FORMAT PARQUET)"
        )
        con.unregister("frame")
    con.close()


def row_counts(path: str) -> dict[str, int]:
    con = duckdb.connect()
    try:
        return {
            t: con.sql(f"SELECT count(*) FROM '{path}/{t}.parquet'").fetchone()[0]
            for t in TABLES
        }
    finally:
        con.close()


def verify(base: str, scaled: str) -> None:
    """Fact tables hold COPIES x the base rows; region and nation are unchanged."""
    want = row_counts(base)
    got = row_counts(scaled)
    for t in TABLES:
        expect = want[t] if t in FIXED_TABLES else want[t] * COPIES
        if got[t] != expect:
            raise RuntimeError(f"fixture {t}: {got[t]} rows, expected {expect}")


def prepare(root: str) -> str:
    """Return the 10x fixture directory under ``root``, building it if absent."""
    home = os.path.join(root, ".bench_build", "perfbench", f"fixture-{VERSION}")
    scaled = os.path.join(home, "x10")
    if not os.path.isdir(scaled):
        tmp = f"{home}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        sys.path.insert(0, os.path.join(root, "tools"))
        from gen_sf import generate

        _write_base(os.path.join(tmp, "base"), FIXTURE_SEED)
        with contextlib.redirect_stdout(sys.stderr):
            generate(COPIES, os.path.join(tmp, "base"), os.path.join(tmp, "x10"))
        os.makedirs(os.path.dirname(home), exist_ok=True)
        os.rename(tmp, home)
    verify(os.path.join(home, "base"), scaled)
    return scaled

