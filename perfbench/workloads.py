"""The benchmark's three crawl workloads.

Each workload is one crawl, from a seed list to written `docs` and
`crawl_log` tables, over a synthetic web generated from the run's
`--seed`.  The engine sees only the generated inputs (pages, robots,
seeds, config).  Sizes are chosen so that a whole benchmark run —
Spark start, corpus, the timed crawl and the output check — takes
35-45 s on a 4-core host.  Every crawl is capped at a fixed number of
supersteps: a seed-dependent tail superstep of a few pages would
otherwise add a whole superstep's fixed cost to some seeds and not to
others.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Any

# Throughput mode: base_budget ≥ global_budget · max_delay / base_delay,
# so the per-host cap provably never binds and host state is not tracked.
_BULK_BATCH = 4096


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    web: dict[str, Any]          # WebConfig fields except `seed`
    n_seeds: int
    crawl: dict[str, Any]        # CrawlConfig fields
    # checkpoint_resume: supersteps the first engine runs before it
    # "crashes"; a fresh engine then resumes from the store.  None = the
    # crawl runs uninterrupted with no store attached.
    interrupt_after: int | None = None

    def web_config(self, seed: int):
        from crawl4ai_spark.sources.synthetic_web import WebConfig

        return WebConfig(seed=seed, **self.web)

    def crawl_config(self, **overrides):
        from crawl4ai_spark.plans.config import CrawlConfig

        return replace(CrawlConfig(**self.crawl), **overrides)


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="bulk_best_first",
            why=(
                "best-first throughput crawl, budgets never bind, two fat "
                "supersteps: per-page work (fetch join, extraction, urlnorm, "
                "seen anti-join) has its largest share of crawl time here"
            ),
            web={"n_pages": 3000, "n_hosts": 8, "richness": 8},
            n_seeds=640,
            crawl={
                "mode": "best_first", "max_depth": 256, "max_pages": 3000,
                "base_budget": _BULK_BATCH * 64, "global_budget": _BULK_BATCH,
                "max_retries": 0, "max_iterations": 2,
                "track_host_state": False,
            },
        ),
        Workload(
            name="polite_frontier",
            why=(
                "per-host budgets bind, host state and retries on, ~75 pages "
                "per superstep: the fixed per-superstep driver and Spark job "
                "cost dominates"
            ),
            web={"n_pages": 1000, "n_hosts": 16, "richness": 8},
            n_seeds=64,
            crawl={
                "mode": "best_first", "max_depth": 256, "max_pages": 1000,
                "base_budget": 8, "global_budget": 256, "max_iterations": 2,
            },
        ),
        Workload(
            name="checkpoint_resume",
            why=(
                "the bulk crawl with a narrow global budget and a snapshot "
                "commit every superstep, interrupted after one superstep and "
                "resumed by a fresh engine: persistence cost"
            ),
            web={"n_pages": 1000, "n_hosts": 8, "richness": 8},
            n_seeds=320,
            crawl={
                "mode": "best_first", "max_depth": 256, "max_pages": 1000,
                "base_budget": 400 * 64, "global_budget": 400,
                "max_retries": 0, "max_iterations": 2,
                "track_host_state": False,
            },
            interrupt_after=1,
        ),
    )
}
