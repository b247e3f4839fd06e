#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the program):

* the same seed generates byte-identical inputs, another seed does not;
* a corrupted output fails its correctness check, for every workload's
  check (one of them end to end through Spark);
* span self times sum to the traced wall time, for a synthetic span tree
  with parallel children and for a real traced pipeline step;
* the reported medians choose samples by the steal measured during
  them, not by their times.

    python3 perfbench/selftest.py

Run from the root of a checkout; exits non-zero when a test fails.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402
from spans import Span, compute_self_times  # noqa: E402


def _digests(d: Path) -> dict[str, str]:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(d.iterdir())}


def _generate(seed: int, out: Path) -> None:
    gen.make_star(np.random.default_rng(seed), out)
    gen.make_documents(np.random.default_rng(seed), out)
    gen.make_delta_inputs(np.random.default_rng(seed), out)


def test_same_seed_same_bytes(tmp: Path) -> None:
    _generate(5, tmp / "a")
    _generate(5, tmp / "b")
    _generate(6, tmp / "c")
    a, b, c = (_digests(tmp / x) for x in "abc")
    assert a == b, "same seed gave different input bytes"
    differ = [name for name in a if a[name] != c[name]]
    # only the fixed dimension tables may coincide across seeds
    assert set(a) - set(differ) <= {"nation.parquet", "region.parquet"}, differ


def _expect_failure(fn, what: str) -> None:
    try:
        fn()
    except checks.CheckFailed:
        return
    raise AssertionError(f"corrupted {what} passed its check")


def _bump(table: pa.Table, column: str, delta) -> pa.Table:
    i = table.column_names.index(column)
    col = table.column(column).to_pylist()
    col[len(col) // 2] += delta
    return table.set_column(i, column, pa.array(col, table.schema.field(column).type))


def test_corruption_fails_checks(tmp: Path) -> None:
    # delta_upsert_log: one price changed, one row lost
    base, batches = gen.make_delta_inputs(np.random.default_rng(3), tmp / "d")
    want = checks.delta_model_states(base, batches[:2], "o_orderkey")[1]
    checks.compare_tables(want, want, ["o_orderkey"])
    _expect_failure(lambda: checks.compare_tables(
        _bump(want, "o_totalprice", 0.01), want, ["o_orderkey"]), "delta read-back")
    _expect_failure(lambda: checks.compare_tables(
        want.slice(1), want, ["o_orderkey"]), "delta read-back (row lost)")
    # operator_curation: hash, foreign doc_id, surviving exact duplicate
    docs = pa.table({"doc_id": [1, 2, 3], "text": ["a", "b", "c"]})
    assert checks.table_hash(docs) == checks.table_hash(docs.take([2, 0, 1]))
    assert checks.table_hash(docs) != checks.table_hash(_bump(docs, "doc_id", 10))
    checks.check_curation(docs, {1, 2, 3, 4}, [[1, 4]])
    _expect_failure(lambda: checks.check_curation(docs, {1, 2}, []), "curation ids")
    _expect_failure(lambda: checks.check_curation(docs, {1, 2, 3}, [[1, 3]]),
                    "curation dedup")


def test_spans_sum_synthetic() -> None:
    ms = 1_000_000
    root = Span("run", "run", 0, None, end_ns=100 * ms)
    a = Span("stages", "a", 10 * ms, root, end_ns=60 * ms)  # parallel with b
    b = Span("stages", "b", 20 * ms, root, end_ns=80 * ms)
    op = Span("operators", "op", 30 * ms, a, end_ns=50 * ms)
    spans = [root, a, b, op]
    compute_self_times(spans, root)
    assert abs(sum(s.self_s for s in spans) - 0.1) < 1e-9
    # 10-20 a alone, 20-30 a|b, 30-50 op|b, 50-60 a|b
    assert abs(a.self_s - (0.010 + 0.005 + 0.005)) < 1e-9, a.self_s
    assert abs(op.self_s - 0.010) < 1e-9 and abs(root.self_s - 0.030) < 1e-9


def test_calm_median() -> None:
    from run import calm_median

    # calm samples only, whatever their times
    assert calm_median([5.0, 1.0, 9.0, 2.0], [0.0, 0.5, 0.01, 0.3]) == (7.0, 2)
    # fewer than half calm: the half with the least steal, ties in
    # sample order, not the fastest half
    assert calm_median([4.0, 1.0, 3.0, 2.0, 5.0], [0.05, 0.3, 0.05, 0.2, 0.05]) == (4.0, 3)


def test_end_to_end(tmp: Path) -> None:
    """A traced sql_star_etl step: self times sum to the wall time;
    then one written file is corrupted and the read-back check fails."""
    import run
    import workloads
    from spans import Tracer

    spark, _ = run.start_spark(tmp)
    try:
        tracer = Tracer()
        wl = workloads.StarEtl(spark, tmp, 1, tracer)
        wl.prepare()
        wl.begin_tracing()
        tracer.install()
        try:
            wl.step(traced=True)
        finally:
            tracer.uninstall()
        assert wl.failed == 0 and wl.layer_rows, "traced step failed"
        row = wl.layer_rows[0]
        assert abs(row["trace.self_sum_s"] - row["trace.wall_s"]) < 1e-6, row
        assert row["spark.jobs"] > 0 and row["stages.eager_jobs"] == 0, row

        dest = tmp / "out" / "star"
        part = next(p for p in sorted(dest.rglob("*.parquet")))
        t = pq.read_table(part)
        i = t.column_names.index("revenue")
        t = t.set_column(i, "revenue", pc.add(t.column("revenue"), 1.0))
        pq.write_table(t, part)
        # drop the checksum sidecar, or Spark's reader rejects the file
        # before the benchmark's check sees the data
        (part.parent / f".{part.name}.crc").unlink(missing_ok=True)
        table, _, _ = wl._run("readback_parquet.yml", {"location": str(dest)},
                              False, "read", collect=True)
        _expect_failure(lambda: wl.check(table), "sql_star_etl destination")
    finally:
        run.stop_spark(spark)


def main() -> int:
    if not (ROOT / "aqueducts_spark" / "__init__.py").is_file():
        print(f"selftest: no aqueducts_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"selftest-{os.getpid()}"
    work.mkdir(parents=True)
    failed = 0
    tests = [
        ("same seed, same bytes", lambda: test_same_seed_same_bytes(work / "gen")),
        ("corrupted outputs fail", lambda: test_corruption_fails_checks(work / "chk")),
        ("self times sum (synthetic)", test_spans_sum_synthetic),
        ("calm median picks by steal", test_calm_median),
        ("end to end: self times, corrupted file", lambda: test_end_to_end(work / "e2e")),
    ]
    try:
        for name, fn in tests:
            try:
                fn()
                print(f"ok    {name}")
            except Exception as exc:
                failed += 1
                print(f"FAIL  {name}: {type(exc).__name__}: {str(exc)[:2000]}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
