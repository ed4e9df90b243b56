"""Per-layer measurements for the traced run, taken from outside the
program: Spark's status store around the benchmark's own calls, a
SnapshotStore subclass, and standalone calls into each layer's public
functions over the workload's own pages, links and seen set."""

from __future__ import annotations

import statistics
import time

import pandas as pd

from crawl4ai_spark.plans.state import SnapshotStore


class RecordingStore(SnapshotStore):
    """SnapshotStore that records each commit's and load's wall time
    and each commit's bytes on disk."""

    def __init__(self, root: str) -> None:
        super().__init__(root)
        self.commits: list[tuple[float, int]] = []   # (seconds, bytes)
        self.loads: list[float] = []

    def commit(self, snapshot_id, tables, metrics=None, state=None) -> None:
        t0 = time.perf_counter()
        super().commit(snapshot_id, tables, metrics, state)
        dt = time.perf_counter() - t0
        m = self.read_manifest()
        size = sum(f["bytes"] for t in m["tables"].values() for f in t["files"])
        self.commits.append((dt, size))

    def load(self, spark, name):
        t0 = time.perf_counter()
        try:
            return super().load(spark, name)
        finally:
            self.loads.append(time.perf_counter() - t0)


class SparkWork:
    """Totals of the Spark jobs run inside a `with` block, read from
    the status store: the block runs under its own job group."""

    _GROUP = "perfbench-traced"

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.totals: dict[str, float] = {}

    def __enter__(self) -> "SparkWork":
        self.sc.setJobGroup(self._GROUP, "traced crawl")
        return self

    def __exit__(self, *exc) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(self._GROUP)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        t = dict.fromkeys(("jobs", "stages", "tasks", "run_ms", "cpu_ms",
                           "gc_ms", "shuffle_bytes"), 0.0)
        t["jobs"] = len(jobs)
        store = self.sc._jsc.sc().statusStore()
        for sid in sorted(stage_ids):
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                continue     # skipped: its output was reused
            t["stages"] += 1
            t["tasks"] += sd.numCompleteTasks()
            t["run_ms"] += sd.executorRunTime()
            t["cpu_ms"] += sd.executorCpuTime() / 1e6
            t["gc_ms"] += sd.jvmGcTime()
            t["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
        self.totals = t


def _time(fn, reps: int = 3) -> float:
    """Median wall seconds of `reps` calls.  A Spark `fn` must build its
    DataFrame inside the call: re-running one DataFrame reuses its
    shuffle output and skips the work being timed."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def extraction_and_links(spark, step_udf, robots_map, user_agent,
                         sample: pd.DataFrame) -> dict[str, tuple[float, str]]:
    """The extract layer split three ways over the same pages:
    `extract_one` alone, the fused step UDF's Python function called
    in-process, and the step UDF through Spark in one task, so the
    difference of the last two is the Arrow/JVM boundary.  Also link
    canonicalization and robots checks over the pages' links."""
    from crawl4ai_spark.extraction.udfs import extract_one
    from crawl4ai_spark.functions.urlnorm import canonicalize_for_crawl, get_host
    from crawl4ai_spark.sources.robots import build_parser
    from pyspark.sql import functions as F

    n = len(sample)
    urls, htmls = list(sample["url"]), list(sample["html"])
    extracted = []

    def run_extract():
        extracted.clear()
        extracted.extend(extract_one(u, h) for u, h in zip(urls, htmls))

    ms = {"extraction.extract_ms_per_page": _time(run_extract, 1) * 1e3 / n}

    cols = [sample["url"], sample["host"], sample["url"], sample["html"],
            pd.Series([200] * n), pd.Series([None] * n, dtype=object)]
    ms["extraction.step_fn_ms_per_page"] = (
        _time(lambda: step_udf.func(*cols), 1) * 1e3 / n
    )

    df = spark.createDataFrame(sample[["url", "host", "html"]]).repartition(1).cache()
    df.count()

    def job():
        df.select(step_udf(
            "url", "host", "url", "html", F.lit(200), F.lit(None).cast("string"),
        ).alias("ex")).select(F.sum(F.size("ex.pl_canon"))).collect()

    job()   # ship the UDF to the worker once
    ms["extraction.step_udf_ms_per_page"] = _time(job, 2) * 1e3 / n
    df.unpersist()
    ms["extraction.udf_boundary_ms_per_page"] = (
        ms["extraction.step_udf_ms_per_page"] - ms["extraction.step_fn_ms_per_page"]
    )
    out = {k: (v, "ms") for k, v in ms.items()}

    pairs = [(link["href"], u) for u, ex in zip(urls, extracted)
             for link in ex["links"] if isinstance(link["href"], str)]
    canon: list[str] = []

    def run_canon():
        canon.clear()
        canon.extend(c for c in (canonicalize_for_crawl(h, b) for h, b in pairs) if c)

    out["urlnorm.canon_us_per_link"] = (_time(run_canon, 1) * 1e6 / max(1, len(pairs)), "us")
    out["urlnorm.links_per_page"] = (len(pairs) / n, "links")

    parsers = {h: build_parser(r) for h, r in robots_map.items() if r and r.strip()}
    hosted = [(u, parsers.get(get_host(u))) for u in canon]

    def run_robots():
        for u, p in hosted:
            if p is not None:
                p.can_fetch(user_agent, u)

    out["robots.can_fetch_us_per_url"] = (_time(run_robots, 1) * 1e6 / max(1, len(hosted)), "us")
    return out


def seen_set(spark, seen_hashes, link_hashes, n_parts: int) -> dict[str, tuple[float, str]]:
    """keys/s of each seen-set structure over the workload's own seen
    set (`seen_hashes`: url_hash) and discovered links (`link_hashes`:
    h): the xxhash64 anti-join, cuckoo insert and probe, and the
    blocked-bloom probe.  Both inputs must be cached."""
    from crawl4ai_spark.operators.bloom import blocked_bloom_build, blocked_bloom_probe
    from crawl4ai_spark.operators.cuckoo import (
        SLOTS, cuckoo_add, cuckoo_probe_cogroup, empty_cuckoo,
    )
    from pyspark.sql import functions as F

    n_seen, n_links = seen_hashes.count(), link_hashes.count()
    out: dict[str, float] = {}

    def anti():
        return link_hashes.join(
            seen_hashes, link_hashes.h == seen_hashes.url_hash, "left_anti").count()

    new_keys = anti()
    out["seen.antijoin_keys_per_s"] = n_links / _time(anti)

    # buckets per shard for a designed load of at most 50%
    m = 256
    while m * n_parts * SLOTS < 2 * n_seen:
        m <<= 1
    empty = empty_cuckoo(spark, n_parts, m).cache()
    empty.count()
    filt = None

    def insert():
        nonlocal filt
        filt = cuckoo_add(empty, seen_hashes, hash_col="url_hash",
                          n_shards=n_parts).localCheckpoint(eager=True)

    out["seen.cuckoo_insert_keys_per_s"] = n_seen / _time(insert)

    def probe():
        return cuckoo_probe_cogroup(
            link_hashes, filt, hash_col="h", n_shards=n_parts,
        ).filter(~F.col("maybe_seen")).count()

    cuckoo_new = probe()
    out["seen.cuckoo_probe_keys_per_s"] = n_links / _time(probe)

    n_words = max(1 << 12, n_seen)
    bloom = blocked_bloom_build(seen_hashes, "url_hash", n_words).cache()
    bloom.count()

    def bprobe():
        return blocked_bloom_probe(
            link_hashes, bloom, "h", n_words,
        ).filter(~F.col("maybe_seen")).count()

    bloom_new = bprobe()
    out["seen.bloom_probe_keys_per_s"] = n_links / _time(bprobe)
    bloom.unpersist()
    empty.unpersist()
    # filters have no false negatives: every key they call new is new
    if cuckoo_new > new_keys or bloom_new > new_keys:
        raise AssertionError(
            f"filter reported {cuckoo_new}/{bloom_new} new keys, anti-join {new_keys}"
        )
    return {k: (v, "keys/s") for k, v in out.items()}


def discovered_links(step_udf, pages_df, crawled, n_parts: int):
    """Canonical links (post robots gate, as xxhash64 column `h`) that
    the crawled pages emit, recomputed with the engine's own step UDF
    over the corpus rows of the pages the crawl fetched successfully
    (`crawled`: one `url` column)."""
    from pyspark.sql import functions as F

    rows = pages_df.join(crawled, "url").filter(F.col("status_code") == 200)
    ex = rows.repartition(n_parts).select(step_udf(
        "url", "host", "url", "html", F.lit(200), F.lit(None).cast("string"),
    ).alias("ex"))
    links = ex.select(F.explode("ex.pl_canon").alias("link"))
    return links.select(F.xxhash64("link").alias("h")).cache()

