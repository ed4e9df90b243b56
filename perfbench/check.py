"""Output check: a crawl is summarised by digests of its crawl order and
seen set plus its exact counts, and the summary must equal the
oracle's: the sequential simulator's for the same web, seeds and
config.  An interrupted and resumed crawl must land on the same
summary as the uninterrupted one the simulator describes."""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter

OUTCOMES = ("success", "retry", "gave_up", "fetch_error", "robots_blocked")


def _digest(rows) -> str:
    h = hashlib.sha256()
    for row in rows:
        h.update(json.dumps(row, separators=(",", ":")).encode())
        h.update(b"\n")
    return h.hexdigest()


def summarize(order: list[tuple], seen: list[str], supersteps: int) -> dict:
    """`order` is the crawl log as (iteration, batch_rank, url, seq,
    outcome) rows; `seen` the URL-seen set."""
    order = sorted(order)
    outcomes = Counter(r[4] for r in order)
    unknown = set(outcomes) - set(OUTCOMES)
    if unknown:
        raise ValueError(f"unknown crawl outcomes {sorted(unknown)}")
    return {
        "order_digest": _digest(order),
        "seen_digest": _digest(sorted(seen)),
        "pages": outcomes["success"],
        "supersteps": supersteps,
        "log_rows": len(order),
        "seen_size": len(seen),
        "outcomes": {o: outcomes[o] for o in OUTCOMES},
    }


def engine_summary(spark, log_path: str, res) -> tuple[dict, list[tuple]]:
    """Summary and crawl order of an engine crawl whose crawl_log was
    written to `log_path` (read back, so the check sees what was
    written)."""
    order = [tuple(r) for r in spark.read.parquet(log_path).select(
        "iteration", "batch_rank", "url", "seq", "outcome"
    ).collect()]
    seen = [r["url"] for r in res.seen.select("url").collect()]
    return summarize(order, seen, res.state.iteration), order


def simulator_summary(sim) -> dict:
    ranks: Counter = Counter()
    order = []
    for ev in sim.crawl_order:
        ranks[ev["iteration"]] += 1
        order.append((ev["iteration"], ranks[ev["iteration"]], ev["url"],
                      ev["seq"], ev["outcome"]))
    return summarize(order, list(sim.seen), sim.iterations)


def _source_hash(root: str) -> str:
    """Hash of every source file the simulator's answer depends on."""
    h = hashlib.sha256()
    for base in ("crawl4ai_spark", "perfbench"):
        for dirpath, dirnames, filenames in os.walk(os.path.join(root, base)):
            dirnames.sort()
            for fn in sorted(filenames):
                if fn.endswith(".py"):
                    path = os.path.join(dirpath, fn)
                    h.update(os.path.relpath(path, root).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def oracle_summary(root: str, cache_dir: str, key: str, web, robots,
                   seeds, cfg) -> dict:
    """Simulator summary for one workload and seed, computed once and
    kept in `cache_dir` under a key that includes the source hash and
    the inputs, so a changed program or config never reads a stale
    answer."""
    from crawl4ai_spark.sources.synthetic_web import synthetic_pages_pdf
    from crawl4ai_spark.testing.simulator import simulate_crawl

    inputs = hashlib.sha256(repr((web, cfg, list(seeds))).encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"oracle-{key}-{_source_hash(root)}-{inputs}.json")
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        pass
    pages = {r["url"]: r for r in synthetic_pages_pdf(web).to_dict("records")}
    rules = {r["host"]: r["rules"] for r in robots}
    out = simulator_summary(simulate_crawl(pages, rules, seeds, cfg))
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


def mismatch(got: dict, want: dict) -> list[str]:
    """Names of the summary fields that differ."""
    return sorted(k for k in want if got.get(k) != want[k])
