"""The benchmark's operations, one list per workload, and their output checks.

An op is one query built, planned and run to the ``noop`` sink, one YAML job
loaded and run to its sinks, or one append of the jobs' run reports to the
run history. Every op's output is checked once per run, outside the timed
region, against a computation made apart from Spark: a DuckDB oracle compared
by canonical hash, an independent recomputation, or a property the method
must have.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field
from itertools import combinations

import duckdb
import pandas as pd
import yaml

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
from oracle_harness import canonical_hash  # noqa: E402

CURATION = [
    "q_dedup_minhash_lsh",
    "q_dedup_simhash",
    "q_text_c4_rules",
    "q_text_repetition_signals",
    "q_text_perplexity_buckets",
    "q_udf_pandas_scalar",
]
# the MinHash op over a text column whose name holds a backtick; it raises
# ParseException while the operator interpolates column names into SQL
# without escaping
BACKTICK_OP = "minhash_backtick_column"
# the run-history op; its check finds too few rows while write_run_report
# stamps every stage row with its own finished_at, so vacuum_run_history
# keeps HISTORY_KEEP stage rows instead of HISTORY_KEEP runs
HISTORY_OP = "history"
HISTORY_KEEP = 3
JOBS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jobs")


class CheckFailed(AssertionError):
    pass


class HistoryTooShort(CheckFailed):
    """The history holds only some of the stage rows of the kept runs."""


def known_fault(name: str, exc: Exception) -> bool:
    """Whether a failure of op ``name`` is the known fault the op is kept
    for; any other failure makes the run incorrect."""
    from pyspark.errors import ParseException

    if name == BACKTICK_OP:
        return isinstance(exc, ParseException)
    return name == HISTORY_OP and isinstance(exc, HistoryTooShort)


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def oracle_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    from xetl_spark.queries import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check_oracle(got: pd.DataFrame, want: pd.DataFrame) -> None:
    expect(len(got) == len(want), f"{len(got)} rows, oracle has {len(want)}")
    expect(canonical_hash(got) == canonical_hash(want), "value hash differs from oracle")


# ---------------------------------------------------------------- MinHash


def shingles(text: str, n: int = 3) -> set[str]:
    """The operator's documented shingles: lowercased alphanumeric word
    tokens, word n-grams joined by one space, and the whole token list as
    one shingle for a document shorter than n tokens."""
    toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def identical_pairs(docs: pd.DataFrame) -> set[tuple[int, int]]:
    out = set()
    for text, grp in docs[docs.text.str.strip() != ""].groupby("text"):
        out.update(combinations(sorted(int(i) for i in grp.doc_id), 2))
    return out


def check_minhash(got: pd.DataFrame, docs: pd.DataFrame, threshold: float = 0.5) -> None:
    sets = {int(i): shingles(t) for i, t in zip(docs.doc_id, docs.text)}
    pairs = set()
    for a, b, j in zip(got.doc_a, got.doc_b, got.jaccard):
        a, b = int(a), int(b)
        expect(a < b, f"pair ({a}, {b}) is not ordered")
        expect((a, b) not in pairs, f"pair ({a}, {b}) emitted twice")
        pairs.add((a, b))
        sa, sb = sets[a], sets[b]
        true_j = len(sa & sb) / len(sa | sb)
        expect(true_j >= threshold, f"pair ({a}, {b}) has Jaccard {true_j:.4f}")
        expect(round(true_j, 4) == round(float(j), 4), f"pair ({a}, {b}) reports {j}, true {true_j:.4f}")
    missing = identical_pairs(docs) - pairs
    expect(not missing, f"{len(missing)} identical-text pairs not emitted, e.g. {min(missing) if missing else ''}")


def check_simhash(got: pd.DataFrame, docs: pd.DataFrame, radius: int = 3) -> None:
    pairs = set(zip(got.doc_a.astype(int), got.doc_b.astype(int)))
    expect(len(pairs) == len(got), "a pair is emitted twice")
    expect(all(a < b for a, b in pairs), "a pair is not ordered")
    expect(got.hamming.between(0, radius).all(), f"a pair lies beyond Hamming radius {radius}")
    text = dict(zip(docs.doc_id.astype(int), docs.text))
    same = {(a, b) for a, b in pairs if text[a] == text[b]}
    zero = set(zip(got.doc_a[got.hamming == 0].astype(int), got.doc_b[got.hamming == 0].astype(int)))
    expect(same <= zero, "identical texts with a non-zero Hamming distance")
    missing = identical_pairs(docs) - pairs
    expect(not missing, f"{len(missing)} identical-text pairs not emitted")


def same_pairs(got: pd.DataFrame, want: pd.DataFrame) -> None:
    key = lambda d: set(zip(d.doc_a.astype(int), d.doc_b.astype(int), d.jaccard.round(4)))  # noqa: E731
    expect(key(got) == key(want), "pair set differs from the plainly named column's")


# ---------------------------------------------------------------- ops


@dataclass
class QueryOp:
    """A registry query (or a direct operator call) run to the noop sink."""

    name: str
    build: Callable  # (spark, sf_dir) -> DataFrame
    check: Callable  # (pandas output, Checker) -> None


@dataclass
class JobOp:
    """One YAML job: Job.from_yaml, then run_job to its sinks."""

    name: str
    manifest: str
    parallel: bool
    sink: str
    check: Callable  # (JobOp, Checker) -> None


@dataclass
class HistoryOp:
    """Appends the run reports of the jobs run since the last history op to
    the run-history sink (run_report, write_run_report) and vacuums it."""

    path: str
    name: str = HISTORY_OP
    pending: list = field(default_factory=list)  # (results, job) of runs not yet reported
    written: list = field(default_factory=list)  # reports in the order they were appended


class Checker:
    """Computations made apart from Spark, over the same fixture parquet."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        self.con = oracle_views(sf_dir)
        self.docs = self.con.sql("SELECT doc_id, text FROM documents").df()
        self.minhash_plain: pd.DataFrame | None = None

    def oracle(self, name: str) -> pd.DataFrame:
        from xetl_spark.queries import REGISTRY

        return self.con.sql(REGISTRY[name].oracle).df()

    def sink(self, path: str) -> pd.DataFrame:
        return self.con.sql(
            f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true)"
        ).df()

    def close(self) -> None:
        self.con.close()


def _registry_op(name: str) -> QueryOp:
    def build(spark, sf_dir):
        from xetl_spark.queries import REGISTRY

        return REGISTRY[name].fn(spark, sf_dir)

    def check(got, ck: Checker):
        check_oracle(got, ck.oracle(name))

    return QueryOp(name, build, check)


def _minhash_op() -> QueryOp:
    op = _registry_op("q_dedup_minhash_lsh")

    def check(got, ck: Checker):
        check_minhash(got, ck.docs)
        ck.minhash_plain = got

    op.check = check
    return op


def _backtick_op() -> QueryOp:
    col = "te`xt"

    def build(spark, sf_dir):
        from pyspark.sql import functions as F

        from xetl_spark.operators.dedup import minhash_near_duplicates
        from xetl_spark.queries import load

        (docs,) = load(spark, sf_dir, "documents")
        pairs = minhash_near_duplicates(
            docs.withColumnRenamed("text", col), col, "doc_id",
            n=3, num_hashes=24, bands=8, threshold=0.5,
        )
        return pairs.select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))

    def check(got, ck: Checker):
        expect(ck.minhash_plain is not None, "plain MinHash output missing")
        same_pairs(got, ck.minhash_plain)

    return QueryOp(BACKTICK_OP, build, check)


def _simhash_op() -> QueryOp:
    op = _registry_op("q_dedup_simhash")
    op.check = lambda got, ck: check_simhash(got, ck.docs)
    return op


def query_ops() -> list[QueryOp]:
    special = {"q_dedup_minhash_lsh": _minhash_op, "q_dedup_simhash": _simhash_op}
    ops = [special[n]() if n in special else _registry_op(n) for n in CURATION]
    # after the plain MinHash op, whose output the backtick op is checked against
    return ops + [_backtick_op()]


# ---------------------------------------------------------------- jobs


def check_curation_sink(op: JobOp, ck: Checker) -> None:
    out = ck.sink(op.sink)
    expect(len(out) > 0, "curation sink is empty")
    expect(out.text.is_unique, "curation sink holds a repeated text")
    expect(set(out.doc_id) <= set(ck.docs.doc_id), "curation sink holds an unknown doc_id")


def job_sql_oracle(manifest: str, sf_dir: str, con: duckdb.DuckDBPyConnection) -> pd.DataFrame:
    """DuckDB's own evaluation of a job made of read_parquet and sql stages."""
    spec = yaml.safe_load(manifest)
    sink_input = None
    for cmd in spec["commands"]:
        env = cmd["env"]
        if cmd["task"] == "read_parquet":
            path = env["PATH"].replace("${SF_DIR}", sf_dir)
            con.sql(f"CREATE OR REPLACE TEMP VIEW {cmd['name']} AS SELECT * FROM '{path}'")
        elif cmd["task"] == "sql":
            con.sql(f"CREATE OR REPLACE TEMP VIEW {cmd['name']} AS {env['QUERY']}")
        elif cmd["task"] == "write_parquet":
            sink_input = env["INPUT"]
    return con.sql(f"SELECT * FROM {sink_input}").df()


def check_star_sink(op: JobOp, ck: Checker) -> None:
    got = ck.sink(op.sink)
    want = job_sql_oracle(op.manifest, ck.sf_dir, ck.con)
    expect(len(want) > 0, "star oracle is empty")
    check_oracle(got, want)


def check_history(op: HistoryOp, ck: "Checker") -> None:
    """The history holds exactly the stage rows of the runs vacuum keeps."""
    kept = op.written[-HISTORY_KEEP:]
    want = Counter((r["job"], st["name"]) for r in kept for st in r["stages"])
    got = Counter(ck.con.sql(f"SELECT job, stage FROM '{op.path}/*.parquet'").fetchall())
    if got == want:
        return
    msg = f"history holds {sum(got.values())} stage rows, the last {len(kept)} runs have {sum(want.values())}"
    raise HistoryTooShort(msg) if got < want else CheckFailed(msg)


def job_ops(sf_dir: str, work_dir: str) -> list:
    shutil.rmtree(work_dir, ignore_errors=True)
    ops: list = []
    for name, parallel, check in (
        ("curation", False, check_curation_sink),
        ("star", True, check_star_sink),
    ):
        data = os.path.join(work_dir, "data", name)
        os.makedirs(data)
        with open(os.path.join(JOBS_DIR, f"{name}.yml"), encoding="utf-8") as f:
            text = (
                f.read()
                .replace("__SF_DIR__", sf_dir)
                .replace("__OUT_DIR__", os.path.join(work_dir, "out"))
                .replace("__DATA_DIR__", data)
            )
        ops.append(JobOp(name, text, parallel, os.path.join(work_dir, "out", name), check))
    return ops + [HistoryOp(os.path.join(work_dir, "history"))]
