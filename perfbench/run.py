#!/usr/bin/env python3
"""Crawl benchmark over the public engine API.

    python3 perfbench/run.py --workload bulk_best_first --seed 1 \
        --seconds 5 --trace 0

Run from the root of a checkout.  One run is one process and one
workload: it starts a `local[<=4]` Spark session, generates the
workload's synthetic web from `--seed` and prewarms an engine; all of
that is `setup_s`.

`--trace 0` then runs whole crawls, one at a time, until `--seconds`
have passed (at least one; with `--seconds 1` exactly one, the first
crawl in the JVM), and reports the median crawl.  Each crawl is timed
from the `run()` call until its `docs` and `crawl_log` tables are
written, and is checked against the sequential simulator (check.py).
`--trace 1` instead runs two untraced crawls and one traced crawl and
measures each layer from outside (layers.py).

The last line of stdout is one JSON object.  `attempted` and `failed`
count the checked crawls and those that raised or differed from the
oracle; `metrics` holds the end-to-end metrics (`--trace 0`) or the
per-layer ones (`--trace 1`) named in BENCHMARK.json.  Exit code 2 means
the program under test is not importable from the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SLOTS = min(4, len(os.sched_getaffinity(0)))
HEAP = "2g"
# C1 only: under the default tiered JIT, C2 compiles in the background
# through the first crawl and many after it (each crawl faster than the
# one before, ~30% more CPU per crawl on 4 cores), so crawl times ride
# on compilation; C1 settles within about one crawl.  C1's default
# 48 MB code cache fills and disables the compiler, hence 256 MB.
# ParallelGC with a fixed heap: eden is touched in full early in setup,
# so peak memory follows retained data, not G1's adaptive young sizing.
# No perf-data file: it would be written under /tmp.
JVM_OPTS = (f"-Xms{HEAP} -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m "
            f"-XX:+UseParallelGC -XX:ParallelGCThreads={SLOTS} -XX:-UsePerfData")
SAMPLE_PAGES = 256     # pages per standalone extraction probe


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Bench:
    def __init__(self, workload, seed: int) -> None:
        self.wl = workload
        self.seed = seed
        self.tmp = os.path.join(ROOT, ".perfbench_tmp", str(os.getpid()))
        self.spark = None
        self.spans: dict[str, float] = {}
        self._n = 0

    # ── setup ────────────────────────────────────────────────────────
    def setup(self) -> None:
        """Everything before the first crawl: session, corpus, prewarm
        (timed together as `setup_s`), then the oracle (untimed)."""
        from crawl4ai_spark.session import get_spark
        from crawl4ai_spark.sources.synthetic_web import (
            robots_rows, seed_urls, synthetic_pages_df,
        )

        local = os.path.join(self.tmp, "spark-local")
        os.makedirs(local, exist_ok=True)
        for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
            del os.environ[k]   # the program's own defaults, not the caller's
        os.environ.update({
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",   # spark-submit's own JVM
            "TMPDIR": self.tmp,
        })
        t_setup = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{SLOTS}]", shuffle_partitions=SLOTS,
            extra_conf={
                "spark.driver.memory": HEAP,
                "spark.driver.extraJavaOptions": f"{JVM_OPTS} -Djava.io.tmpdir={self.tmp}",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spans["session.start_s"] = time.perf_counter() - t_setup

        t0 = time.perf_counter()
        self.web = self.wl.web_config(self.seed)
        self.pages = synthetic_pages_df(self.spark, self.web, num_partitions=SLOTS).persist()
        self.pages.count()
        self.robots_list = robots_rows(self.web)
        self.robots = self.spark.createDataFrame(self.robots_list)
        self.seeds = seed_urls(self.web, n_seeds=self.wl.n_seeds)
        self.spans["synthetic_web.gen_s"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        self._engine(self.wl.crawl_config()).prewarm()
        self.spans["crawl.prewarm_s"] = time.perf_counter() - t0

        self.setup_s = time.perf_counter() - t_setup
        log(f"setup {self.setup_s:.2f}s: " + ", ".join(
            f"{k} {v:.2f}" for k, v in self.spans.items()))

        import check

        t0 = time.perf_counter()
        self.oracle = check.oracle_summary(
            ROOT, os.path.join(ROOT, ".perfbench_cache"),
            f"{self.wl.name}-{self.seed}", self.web, self.robots_list,
            self.seeds, self.wl.crawl_config(),
        )
        log(f"oracle {time.perf_counter() - t0:.2f}s")

    def _engine(self, cfg, store=None):
        from crawl4ai_spark.plans.crawl import CrawlEngine

        return CrawlEngine(self.spark, cfg, self.pages, self.robots, store=store)

    # ── one crawl ────────────────────────────────────────────────────
    def crawl(self, work=None, mem=None) -> dict:
        """One crawl from the seed list to written docs + crawl_log.

        On a workload with `interrupt_after` the first engine commits
        every superstep and stops after that many; a fresh engine then
        resumes from the store and writes the result.  `work` is a
        context manager entered round the timed calls; `mem` a
        PeakMemory sampler switched on during them."""
        import check
        import proctree
        from layers import RecordingStore

        self._n += 1
        out_dir = os.path.join(self.tmp, f"crawl{self._n}")
        cfg = self.wl.crawl_config()
        store = None
        if self.wl.interrupt_after is not None:
            store = RecordingStore(os.path.join(out_dir, "store"))
        spent = {"wall": 0.0, "cpu": 0.0}

        def timed(fn):
            if mem is not None:
                mem.active.set()
            cpu0, t0 = proctree.cpu_seconds(), time.perf_counter()
            try:
                return fn()
            finally:
                spent["wall"] += time.perf_counter() - t0
                spent["cpu"] += proctree.cpu_seconds() - cpu0
                if mem is not None:
                    mem.active.clear()

        def write(res):
            t0 = time.perf_counter()
            res.docs.write.parquet(os.path.join(out_dir, "docs"))
            res.crawl_log.write.parquet(os.path.join(out_dir, "crawl_log"))
            spent["write"] = time.perf_counter() - t0
            return res

        with work if work is not None else contextlib.nullcontext():
            if store is None:
                res = timed(lambda: write(self._engine(cfg).run(self.seeds)))
            else:
                first = self._engine(
                    self.wl.crawl_config(max_iterations=self.wl.interrupt_after), store)
                timed(lambda: first.run(self.seeds))
                fresh = self._engine(cfg, store)
                before = spent["wall"]
                res = timed(lambda: write(fresh.resume()))
                spent["resume"] = spent["wall"] - before
        summary, order = check.engine_summary(
            self.spark, os.path.join(out_dir, "crawl_log"), res)
        return {
            **spent, "summary": summary, "order": order, "res": res, "dir": out_dir,
            "pages": res.state.pages_crawled, "supersteps": res.state.iteration,
            "commits": store.commits if store else [],
            "loads": store.loads if store else [],
        }

    def expected_commits(self) -> int:
        """Store commits of one interrupted crawl: the first engine
        commits supersteps 1..K and once more at its end, the resumed
        one commits K+1..S and once more at its end."""
        if self.wl.interrupt_after is None:
            return 0
        return self.oracle["supersteps"] + 2

    def check(self, c: dict, what: str) -> int:
        """1 when the crawl differs from the oracle or commits another
        number of times than expected, else 0."""
        import check

        bad = check.mismatch(c["summary"], self.oracle)
        if c["pages"] != c["summary"]["pages"]:
            bad.append("pages_crawled")
        if len(c["commits"]) != self.expected_commits():
            bad.append("commits")
        if bad:
            log(f"{what}: output differs from the oracle in {bad}")
        return int(bool(bad))

    def release(self, c: dict) -> None:
        """Drop a checked crawl's result tables and files, and collect
        both heaps so Spark's cleaner frees the crawl's cached blocks
        and shuffle files before the next crawl starts."""
        c.pop("res", None)
        c.pop("order", None)
        gc.collect()
        self.spark._jvm.System.gc()
        shutil.rmtree(c["dir"], ignore_errors=True)

    # ── the two kinds of run ─────────────────────────────────────────
    def timed(self, seconds: float) -> dict:
        import proctree

        crawls, attempted, failed = [], 0, 0
        t_end = time.perf_counter() + seconds
        with proctree.PeakMemory() as mem:
            while attempted == 0 or time.perf_counter() < t_end:
                attempted += 1
                try:
                    c = self.crawl(mem=mem)
                except Exception:
                    traceback.print_exc()
                    failed += 1
                    continue
                failed += self.check(c, f"crawl {attempted}")
                self.release(c)
                crawls.append(c)
                log(f"crawl {attempted}: {c['wall']:.2f}s {c['pages']} pages "
                    f"{c['supersteps']} supersteps")
        if not crawls:
            raise RuntimeError("no crawl finished")
        pages = sum(c["pages"] for c in crawls)
        return self.result({
            "urls_per_s": (statistics.median(c["pages"] / c["wall"] for c in crawls), "urls/s"),
            "superstep_s": (statistics.median(c["wall"] / c["supersteps"] for c in crawls), "s"),
            "setup_s": (self.setup_s, "s"),
            "cpu_s_per_kpage": (1000 * sum(c["cpu"] for c in crawls) / pages, "cpu-s/kpage"),
            "peak_rss_mb": (mem.peak / 2**20, "MB"),
        }, attempted, failed)

    def traced(self) -> dict:
        """Per-layer metrics: the first crawl in the JVM and a second
        untraced one, one crawl traced from outside (Spark status store,
        recording store), then standalone layer probes over the traced
        crawl's own pages, links and seen set."""
        import layers
        from crawl4ai_spark.plans.crawl import make_step_udf
        from pyspark.sql import functions as F

        first = self.crawl()
        failed = self.check(first, "first crawl")
        self.release(first)
        untraced = self.crawl()
        failed += self.check(untraced, "untraced crawl")
        self.release(untraced)
        work = layers.SparkWork(self.spark)
        t = self.crawl(work=work)
        failed += self.check(t, "traced crawl")
        tot, steps, pages, s = work.totals, t["supersteps"], t["pages"], t["summary"]
        log(f"first crawl {first['wall']:.2f}s, untraced crawl {untraced['wall']:.2f}s, "
            f"traced crawl {t['wall']:.2f}s, "
            f"{pages} pages, {steps} supersteps")

        m: dict[str, tuple[float, str]] = {k: (v, "s") for k, v in self.spans.items()}
        m["crawl.first_crawl_extra_s"] = (first["wall"] - untraced["wall"], "s")
        m["crawl.supersteps"] = (steps, "count")
        m["crawl.pages_per_superstep"] = (pages / steps, "pages")
        m["crawl.spark_jobs_per_superstep"] = (tot["jobs"] / steps, "jobs")
        m["crawl.spark_stages_per_superstep"] = (tot["stages"] / steps, "stages")
        m["crawl.tasks_per_superstep"] = (tot["tasks"] / steps, "tasks")
        m["crawl.executor_run_ms_per_page"] = (tot["run_ms"] / pages, "ms")
        m["crawl.executor_cpu_ms_per_page"] = (tot["cpu_ms"] / pages, "ms")
        m["crawl.jvm_gc_ms_per_page"] = (tot["gc_ms"] / pages, "ms")
        m["crawl.shuffle_bytes_per_page"] = (tot["shuffle_bytes"] / pages, "bytes")
        m["crawl.result_write_s"] = (t["write"], "s")
        m["trace.overhead_pct"] = (100 * (t["wall"] - untraced["wall"]) / untraced["wall"], "%")
        for o, n in s["outcomes"].items():
            m[f"politeness.outcome.{o}"] = (n, "count")

        # persistence: the traced crawl's own store; 0 where none is attached
        commits = t["commits"]
        m["state.commits"] = (len(commits), "count")
        m["state.commit_s"] = (statistics.median(x[0] for x in commits) if commits else 0, "s")
        m["state.commit_mb"] = (
            statistics.median(x[1] for x in commits) / 2**20 if commits else 0, "MB")
        m["state.load_s"] = (sum(t["loads"]), "s")
        m["state.resume_s"] = (t.get("resume", 0), "s")

        cfg = self.wl.crawl_config()
        robots_map = {r["host"]: r["rules"] for r in self.robots_list}
        step_udf = make_step_udf(robots_map, cfg.user_agent)
        ok = sorted({r[2] for r in t["order"] if r[4] == "success"})
        crawled = self.spark.createDataFrame([(u,) for u in ok], "url string")
        sample = (self.pages.join(crawled, "url").filter(F.col("status_code") == 200)
                  .orderBy("page_id").limit(SAMPLE_PAGES)
                  .select("url", "host", "html").toPandas())
        m.update(layers.extraction_and_links(
            self.spark, step_udf, robots_map, cfg.user_agent, sample))

        links = layers.discovered_links(step_udf, self.pages, crawled, SLOTS)
        seen = t["res"].seen.select("url_hash").cache()
        n_links = links.count()
        new_urls = s["seen_size"] - len(self.seeds)
        m["seen.links_discovered"] = (n_links, "count")
        m["seen.new_urls"] = (new_urls, "count")
        m["seen.pass_ratio"] = (new_urls / n_links, "ratio")
        m.update(layers.seen_set(self.spark, seen, links, SLOTS))
        links.unpersist()
        seen.unpersist()
        self.release(t)
        return self.result(m, 3, failed)

    def result(self, metrics: dict, attempted: int, failed: int) -> dict:
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }

    # ── teardown ─────────────────────────────────────────────────────
    def close(self) -> None:
        """Stop Spark, end the JVM and every Python worker, and remove
        the run's scratch files."""
        import proctree

        if self.spark is not None:
            from pyspark import SparkContext

            children = proctree.tree()[1:]
            gateway = SparkContext._gateway
            try:
                self.spark.stop()
            finally:
                # let JVM proxies detach while the JVM still answers
                self.spark = self.pages = self.robots = None
                gc.collect()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()    # the JVM exits on EOF from its driver
                    proc.wait(timeout=60)
                SparkContext._gateway = SparkContext._jvm = None
                proctree.reap(children)
        shutil.rmtree(self.tmp, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(self.tmp))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import crawl4ai_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program under test from {ROOT}: {e}")
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
        return 2
    bench = Bench(WORKLOADS[args.workload], args.seed)
    try:
        bench.setup()
        result = bench.traced() if args.trace else bench.timed(args.seconds)
    finally:
        bench.close()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
