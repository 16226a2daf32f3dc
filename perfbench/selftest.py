"""Self-test of the benchmark's output checks.

    python3 perfbench/selftest.py

Each kind of check must pass the program's real output and fail a perturbed
copy of it: one changed value, one dropped row, one extra pair that is not a
near duplicate. A short curation run must count the backtick op as exactly
one failed op per pass. Exits 0 when every case behaves, 1 otherwise.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import subprocess
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fixture  # noqa: E402
import ops  # noqa: E402
import run  # noqa: E402

FAILURES: list[str] = []


def case(label: str, fn, *args, should_pass: bool) -> None:
    try:
        fn(*args)
        passed = True
    except ops.CheckFailed:
        passed = False
    ok = passed == should_pass
    print(f"{'ok  ' if ok else 'FAIL'} {label}: check {'passed' if passed else 'failed'}")
    if not ok:
        FAILURES.append(label)


def changed(df, col):
    out = df.copy()
    out.loc[out.index[0], col] = out[col].iloc[0] + 1
    return out


def dropped(df):
    return df.iloc[1:].copy()


def extra_pair(pairs, docs, value_col, value):
    """A pair of documents that share no shingle, so no near duplicate."""
    sets = {int(i): ops.shingles(t) for i, t in zip(docs.doc_id, docs.text)}
    ids = sorted(sets)
    a = ids[0]
    b = next(i for i in ids[1:] if not sets[a] & sets[i] and (a, i) not in set(zip(pairs.doc_a, pairs.doc_b)))
    row = pd.DataFrame([{"doc_a": a, "doc_b": b, value_col: value}])
    return pd.concat([pairs, row], ignore_index=True)


def first_identical(pairs, docs):
    a, b = min(ops.identical_pairs(docs))
    return pairs[~((pairs.doc_a == a) & (pairs.doc_b == b))]


def with_sink(op, frame, ck, tmp):
    """A copy of a job op whose sink holds ``frame`` instead."""
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    ck.con.register("frame", frame)
    ck.con.sql(f"COPY frame TO '{tmp}/part-0.parquet' (FORMAT PARQUET)")
    ck.con.unregister("frame")
    return dataclasses.replace(op, sink=tmp)


def main() -> int:
    spark_args = argparse.Namespace(workload="pipeline", seed=1, seconds=0, trace=0)
    os.environ.update({"SPARK_GRAFT_CPUS": str(run.TASK_THREADS), "XETL_DRIVER_MEM": run.DRIVER_MEM})
    from layers import Tracer

    from xetl_spark.session import get_session

    sf_dir = fixture.prepare(run.ROOT)
    work = os.path.join(run.ROOT, ".bench_build", "perfbench", f"selftest-{os.getpid()}")
    spark = get_session("perfbench-selftest")
    gateway = spark.sparkContext._gateway
    try:
        ck = ops.Checker(sf_dir)
        docs = ck.docs
        c4 = spark_out(spark, sf_dir, "q_text_c4_rules")
        want = ck.oracle("q_text_c4_rules")
        case("oracle hash, real output", ops.check_oracle, c4, want, should_pass=True)
        case("oracle hash, one changed value", ops.check_oracle, changed(c4, "n_lines"), want, should_pass=False)
        case("oracle hash, one dropped row", ops.check_oracle, dropped(c4), want, should_pass=False)

        mh = spark_out(spark, sf_dir, "q_dedup_minhash_lsh")
        case("minhash, real output", ops.check_minhash, mh, docs, should_pass=True)
        case("minhash, one changed Jaccard", ops.check_minhash, changed(mh, "jaccard"), docs, should_pass=False)
        case("minhash, one dropped identical pair", ops.check_minhash, first_identical(mh, docs), docs, should_pass=False)
        case("minhash, one extra non-duplicate pair", ops.check_minhash, extra_pair(mh, docs, "jaccard", 0.9), docs, should_pass=False)
        case("backtick pair set, same pairs", ops.same_pairs, mh, mh, should_pass=True)
        case("backtick pair set, one dropped row", ops.same_pairs, dropped(mh), mh, should_pass=False)

        sh = spark_out(spark, sf_dir, "q_dedup_simhash")
        case("simhash, real output", ops.check_simhash, sh, docs, should_pass=True)
        case("simhash, one changed distance", ops.check_simhash, changed(sh, "hamming").assign(hamming=lambda d: d.hamming + 3), docs, should_pass=False)
        case("simhash, one dropped identical pair", ops.check_simhash, first_identical(sh, docs), docs, should_pass=False)

        bench = run.Bench(spark_args, spark, sf_dir, work, Tracer(False))
        bench.check_pass()
        print("job check pass:", bench.bad or "all checks passed")
        cur, star, hist = bench.ops
        got = ck.sink(cur.sink)
        case("curation sink, real output", ops.check_curation_sink, cur, ck, should_pass=True)
        dup = pd.concat([got, got.iloc[:1]], ignore_index=True)
        case("curation sink, one repeated text", ops.check_curation_sink, with_sink(cur, dup, ck, work + "/p1"), ck, should_pass=False)
        unknown = got.assign(doc_id=got.doc_id.where(got.index != got.index[0], 10**9))
        case("curation sink, one unknown doc_id", ops.check_curation_sink, with_sink(cur, unknown, ck, work + "/p2"), ck, should_pass=False)
        sgot = ck.sink(star.sink)
        case("star sink, real output", ops.check_star_sink, star, ck, should_pass=True)
        case("star sink, one changed value", ops.check_star_sink, with_sink(star, changed(sgot, "revenue"), ck, work + "/p3"), ck, should_pass=False)
        case("star sink, one dropped row", ops.check_star_sink, with_sink(star, dropped(sgot), ck, work + "/p4"), ck, should_pass=False)

        rows = [(r["job"], st["name"]) for r in hist.written[-ops.HISTORY_KEEP:] for st in r["stages"]]
        exact = pd.DataFrame(rows, columns=["job", "stage"])
        case("history, exactly the kept runs", ops.check_history, dataclasses.replace(hist, path=with_sink(star, exact, ck, work + "/h1").sink), ck, should_pass=True)
        case("history, one extra row", ops.check_history, dataclasses.replace(hist, path=with_sink(star, pd.concat([exact, exact.iloc[:1]]), ck, work + "/h2").sink), ck, should_pass=False)
        exempt(ck, hist, star, exact, work)
        ck.close()
        bench.checker.close()
    finally:
        spark.stop()
        run.stop_jvm(gateway)
        shutil.rmtree(work, ignore_errors=True)

    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "curation",
         "--seed", "1", "--seconds", str(2 * run.PASS_S["curation"]), "--trace", "0"],
        cwd=run.ROOT, capture_output=True, text=True, timeout=600,
    )
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    passes = res["attempted"] // (len(ops.CURATION) + 1)
    ok = (
        res["correct"] and passes == 2 and res["failed"] == passes
        and res["attempted"] == passes * (len(ops.CURATION) + 1)
    )
    print(f"{'ok  ' if ok else 'FAIL'} backtick op: {res['failed']} failed of {res['attempted']} over {passes} passes")
    if not ok:
        FAILURES.append("backtick op count")
    print("self-test:", "all cases behave" if not FAILURES else f"{len(FAILURES)} cases misbehave")
    return 1 if FAILURES else 0


def exempt(ck, hist, star, exact, work) -> None:
    """Only the known faults keep a run correct: a ParseException from the
    backtick op, and a history holding too few of the kept runs' rows."""
    from pyspark.errors import ParseException

    def failure(path):
        try:
            ops.check_history(dataclasses.replace(hist, path=path), ck)
        except ops.CheckFailed as exc:
            return exc
        raise AssertionError("history check passed")

    short = failure(with_sink(star, exact.iloc[1:], ck, work + "/h3").sink)
    extra = failure(with_sink(star, pd.concat([exact, exact.iloc[:1]]), ck, work + "/h4").sink)
    for label, name, exc, want in (
        ("backtick ParseException", ops.BACKTICK_OP, ParseException("x"), True),
        ("backtick wrong pair set", ops.BACKTICK_OP, ops.CheckFailed("x"), False),
        ("backtick other error", ops.BACKTICK_OP, RuntimeError("x"), False),
        ("history too few rows", ops.HISTORY_OP, short, True),
        ("history extra row", ops.HISTORY_OP, extra, False),
        ("history write error", ops.HISTORY_OP, RuntimeError("x"), False),
        ("other op ParseException", "q_dedup_simhash", ParseException("x"), False),
    ):
        got = ops.known_fault(name, exc)
        print(f"{'ok  ' if got == want else 'FAIL'} known fault, {label}: {'exempt' if got else 'not exempt'}")
        if got != want:
            FAILURES.append(f"known fault, {label}")


def spark_out(spark, sf_dir, name):
    from xetl_spark.queries import REGISTRY

    return REGISTRY[name].fn(spark, sf_dir).toPandas()


if __name__ == "__main__":
    sys.exit(main())
