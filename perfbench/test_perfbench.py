"""Self-check of the benchmark's own code on tiny webs: the digest and
oracle comparison, the count and commit checks, the exit code without a
program, and that both kinds of run print every metric BENCHMARK.json
names, on a workload with and without a store.

    python3 -m pytest perfbench/test_perfbench.py -q

(about two minutes: one Spark session, crawls over a 120-page web)
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import check  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

TINY = Workload(
    name="tiny",
    why="self-check",
    web={"n_pages": 120, "n_hosts": 4, "richness": 1},
    n_seeds=8,
    crawl={
        "mode": "best_first", "max_depth": 256, "max_pages": 120,
        "base_budget": 64 * 64, "global_budget": 64,
        "max_retries": 0, "max_iterations": 128, "track_host_state": False,
    },
)


def _simulated(seed: int = 3):
    from crawl4ai_spark.sources.synthetic_web import (
        robots_rows, seed_urls, synthetic_pages_pdf,
    )
    from crawl4ai_spark.testing.simulator import simulate_crawl

    web = TINY.web_config(seed)
    pages = {r["url"]: r for r in synthetic_pages_pdf(web).to_dict("records")}
    rules = {r["host"]: r["rules"] for r in robots_rows(web)}
    return simulate_crawl(pages, rules, seed_urls(web, TINY.n_seeds), TINY.crawl_config())


def test_workloads_are_the_ones_benchmark_json_names():
    assert [(w["name"], w["why"]) for w in BENCH["workloads"]] == [
        (w.name, w.why) for w in WORKLOADS.values()
    ]


def test_summary_catches_a_changed_order_or_seen_set():
    sim = _simulated()
    want = check.simulator_summary(sim)
    order = [(e["iteration"], i, e["url"], e["seq"], e["outcome"])
             for i, e in enumerate(sim.crawl_order, 1)]
    assert want["pages"] == sim.pages_crawled > 0
    assert sum(want["outcomes"].values()) == want["log_rows"] == len(order)

    def redo(order, seen):
        return check.summarize(order, seen, sim.iterations)

    # batch ranks restart in every iteration in the engine's crawl_log
    ranks: dict[int, int] = {}
    engine_order = []
    for it, _, url, seq, outcome in order:
        ranks[it] = ranks.get(it, 0) + 1
        engine_order.append((it, ranks[it], url, seq, outcome))
    seen = sorted(sim.seen)
    assert check.mismatch(redo(engine_order[::-1], seen), want) == []

    swapped = list(engine_order)
    a, b = swapped[0], swapped[1]
    swapped[0], swapped[1] = a[:2] + b[2:], b[:2] + a[2:]
    assert check.mismatch(redo(swapped, seen), want) == ["order_digest"]
    assert check.mismatch(redo(engine_order, seen[1:]), want) == ["seen_digest", "seen_size"]
    flipped = engine_order[:-1] + [engine_order[-1][:4] + ("fetch_error",)]
    assert "outcomes" in check.mismatch(redo(flipped, seen), want)
    with pytest.raises(ValueError):
        redo(engine_order[:-1] + [engine_order[-1][:4] + ("lost",)], seen)


def test_without_the_program_it_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, *BENCH["command"][1:], "--workload", "bulk_best_first",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.fixture(scope="module")
def bench():
    b = run.Bench(TINY, seed=3)
    try:
        b.setup()
        yield b
    finally:
        b.close()


def _assert_metrics(result: dict, declared: list[dict]) -> None:
    json.loads(json.dumps(result))
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]


def test_timed_run_prints_every_end_to_end_metric(bench):
    r = bench.timed(0)
    assert (r["correct"], r["attempted"], r["failed"]) == (True, 1, 0)
    _assert_metrics(r, BENCH["end_to_end"])
    assert all(m["value"] > 0 for m in r["metrics"].values())


def test_traced_run_prints_every_per_layer_metric(bench):
    r = bench.traced()
    assert r["correct"] and r["failed"] == 0
    _assert_metrics(r, BENCH["per_layer"])
    m = {k: v["value"] for k, v in r["metrics"].items()}
    assert m["state.commits"] == m["state.commit_mb"] == m["state.resume_s"] == 0
    assert m["politeness.outcome.success"] == bench.oracle["pages"]
    assert m["crawl.supersteps"] == bench.oracle["supersteps"]


def test_interrupted_crawl_resumes_to_the_oracle_with_the_expected_commits(bench):
    bench.wl = dataclasses.replace(TINY, interrupt_after=1)
    try:
        assert bench.oracle["supersteps"] > 1
        c = bench.crawl()
        assert bench.check(c, "interrupted crawl") == 0
        assert len(c["commits"]) == bench.oracle["supersteps"] + 2
        assert len(c["loads"]) >= 3 and c["resume"] > 0
        bench.expected_commits = lambda: bench.oracle["supersteps"] + 3
        assert bench.check(c, "interrupted crawl") == 1
        bench.release(c)
    finally:
        bench.wl = TINY
        del bench.expected_commits


def test_traced_interrupted_crawl_reports_its_store(bench):
    bench.wl = dataclasses.replace(TINY, interrupt_after=1)
    try:
        r = bench.traced()
    finally:
        bench.wl = TINY
    assert r["correct"] and r["failed"] == 0
    m = {k: v["value"] for k, v in r["metrics"].items()}
    assert m["state.commits"] == bench.oracle["supersteps"] + 2
    assert m["state.commit_s"] > 0 and m["state.commit_mb"] > 0
    assert m["state.load_s"] > 0 and m["state.resume_s"] > 0


def test_a_crawl_that_differs_from_the_oracle_counts_as_failed(bench):
    oracle = bench.oracle
    bench.oracle = dict(oracle, seen_size=oracle["seen_size"] + 1)
    try:
        r = bench.timed(0)
    finally:
        bench.oracle = oracle
    assert (r["correct"], r["attempted"], r["failed"]) == (False, 1, 1)
