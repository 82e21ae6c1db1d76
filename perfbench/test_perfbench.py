"""Self-tests of the benchmark's own code (no Spark session needed).

Run from the repository root: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys
from collections import defaultdict

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from spans import Span, Tracer  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class _AnyTracer:
    """Every span lasts 1 s and every counter reads 1."""

    counts = defaultdict(lambda: 1.0)

    def total(self, name: str) -> float:
        return 1.0


def _fake_measure() -> dict:
    summary = stats.summarize([1.0, 2.0, 3.0], 3, 6.0, 3, 0)
    return {
        "setup": {"cold_start_s": 3.0, "start_s": 1.0, "warm_up_s": 2.0},
        "summary": summary,
        "attempted": 3,
        "failed": 0,
    }


def test_metric_names_are_declared():
    bench = declared()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for w in run.WORKLOADS:
        got = run.report_measure(w, _fake_measure())
        assert {k: u for k, (_, u) in got.items()} == e2e
    got = run.layer_metrics(_AnyTracer())
    assert {k: u for k, (_, u) in got.items()} == layer
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    for name in [*e2e, *layer, *run.WORKLOADS]:
        assert NAME.fullmatch(name) and len(name) <= 64, name


@pytest.mark.parametrize("n", list(range(1, 40)) + [99, 100, 101, 199, 200, 1000, 1001, 5000])
def test_tail_percentile_has_ten_samples_beyond(n):
    samples = [float(i) for i in range(n)]
    value, p = stats.tail(samples)
    if p is None:
        assert all(stats.beyond(n, q) < stats.TAIL_MIN_BEYOND for q in stats.TAIL_PERCENTILES)
        assert value == max(samples)
        return
    above = sum(1 for s in samples if s > value)
    assert above >= stats.TAIL_MIN_BEYOND
    higher = [q for q in stats.TAIL_PERCENTILES if q > p]
    assert all(stats.beyond(n, q) < stats.TAIL_MIN_BEYOND for q in higher)


def test_forced_wrong_answer_raises_failed_frac(tmp_path):
    """Three operations through run.run_ops, checked against a registry
    oracle: one right, one wrong, one that raises."""
    from pyspark.sql import Row
    from __spark_entry__ import oracle_sql

    gen.write_corpus(str(tmp_path), seed=7)
    oracle = checks.Oracle(str(tmp_path), workloads.CORPUS_TABLES)
    try:
        sql = oracle_sql()["term_query_positive"]
        expected = oracle.expected("term_query_positive", sql)
        rows = [Row(**r) for r in checks._fetch(oracle.con, sql)]
    finally:
        oracle.close()
    wrong = [Row(**{**rows[0].asDict(), "n_chars": rows[0]["n_chars"] + 1})] + rows[1:]
    now = [0.0]

    def op(result):
        def run_one():
            now[0] += 1.0
            if result is None:
                raise RuntimeError("forced failure")
            return 1.0, [(1.0, 1)], result
        return run_one

    ops = iter([op(rows), op(wrong), op(None)])
    res = run.run_ops(lambda: next(ops)(), lambda r: checks.spark_rows_match(r, expected), 3.0,
                      clock=lambda: now[0])
    assert (res["attempted"], res["failed"]) == (3, 2)
    summary = stats.summarize(res["lat"], res["items"], res["busy"], res["attempted"], res["failed"])
    assert summary["failed_frac"] == 2 / 3
    assert summary["samples"] == 2


def _generate(out: str, seed: int) -> None:
    docs = gen.write_corpus(f"{out}/sf", seed)
    gen.write_inflated(f"{out}/x10", docs, 10)
    gen.Poller(docs, seed).poll(f"{out}/polls", 4)
    gen.curated_drops(f"{out}/drops", seed, 2, 50)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(_same_tree(f"{a}/{d}", f"{b}/{d}") for d in cmp.common_dirs)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        _generate(str(tmp_path / name), seed)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_generated_inputs_have_the_declared_shares(tmp_path):
    docs = gen.documents(5, 5000)
    assert sum(t.endswith(" dup") for t in docs["text"].to_pylist()) == 5000 * gen.DUP_FRAC
    poller = gen.Poller(docs, 5, dup_frac=0.2, corrupt_frac=0.01)
    paths = poller.poll(str(tmp_path), 15) + poller.poll(str(tmp_path), 25)
    urls, n, bad = gen.valid_urls(paths)
    assert n == 40 * sum(gen.PAGE_SIZES.values())
    assert 0 < bad < 0.03 * n
    assert 0.6 * n < len(urls) < 0.9 * n  # re-fetches repeat URLs


def test_self_time_subtracts_child_time():
    tr = Tracer("t")
    tr.spans = [
        Span("parent", 0.0, 10.0, None, "t"),
        Span("a", 1.0, 4.0, 0, "t"),
        Span("b", 5.0, 7.0, 0, "t"),
        Span("leaf", 5.5, 6.5, 2, "t"),
        Span("a", 8.0, 9.0, 0, "t"),
    ]
    self_s = tr.self_times()
    assert self_s == {"parent": 4.0, "a": 4.0, "b": 1.0, "leaf": 1.0}
    assert tr.total("a") == 4.0


def test_refuses_to_run_outside_a_checkout(tmp_path):
    import subprocess

    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "etl_10x", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0 and proc.stdout == ""
