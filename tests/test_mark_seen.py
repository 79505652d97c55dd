"""mark_seen: pre-seeding the URL-seen set coherently across every
representation (the exact scheduler-layout table, the sketch) plus frontier
pruning — the additive dual of forget_urls. A pre-seeded url must never be
scheduled by the same fused loop that schedules it in a control run, a
mark_seen → forget_urls round-trip must restore schedulability, and a
Common-Crawl CDX index (warc_index) must seed directly."""

import numpy as np
from pyspark.sql import functions as F

from spiderspark.crawl import (
    FRONTIER_KEY,
    CrawlConfig,
    crawl_round,
    forget_urls,
    init_state,
    keyed_pages,
    mark_seen,
)
from spiderspark.frontier import (
    seeds_to_frontier,
    sketch_flag_maybe_seen,
    with_canonical,
)
from spiderspark.pages import gen_pages_pdf, seeds_pdf, url_for_ids
from spiderspark.politeness import HostPolicy
from spiderspark.schedule import assign_salts_static
from spiderspark.schemas import PAGES, SEEDS
from spiderspark.state import materialize_keyed

N = 4


def _keys_for_ids(spark, ids):
    urls = spark.createDataFrame(
        [(u,) for u in url_for_ids(np.array(ids, dtype=np.int64))], ["url"]
    )
    return with_canonical(urls).select("url_hash", "url_norm", "host")


def _sched_hashes(schedules):
    out = set()
    for s in schedules:
        out |= {r["url_hash"] for r in s.select("url_hash").collect()}
    return out


def _crawl3(spark, config, pk, seeds, preseed=None):
    state = init_state(spark, seeds, None, config)
    if preseed is not None:
        state = mark_seen(spark, state, preseed, config)
    scheds = []
    for _ in range(3):
        state, sched, _log = crawl_round(spark, state, pk, config)
        scheds.append(sched)
    return state, scheds


def test_mark_seen_suppresses_scheduling_all_tiers(spark):
    """Control run schedules the target urls; the pre-seeded run never does
    — under the mirror tier AND the sketch tier (bloom)."""
    pages = spark.createDataFrame(gen_pages_pdf(np.arange(300), 300), schema=PAGES)
    seeds = spark.createDataFrame(seeds_pdf(30, 300), schema=SEEDS)
    target_ids = list(range(0, 300, 10))  # includes many seed urls
    for tier in ("mirror", "sketch"):
        config = CrawlConfig(
            policy=HostPolicy(default_budget=1e9), state_buckets=N,
            seen_tier=tier,
        )
        pk = keyed_pages(pages, n_parts=N)
        keys = materialize_keyed(
            _keys_for_ids(spark, target_ids), n_parts=N, key="url_hash"
        )
        targets = {r["url_hash"] for r in keys.collect()}
        _, control = _crawl3(spark, config, pk, seeds)
        assert _sched_hashes(control) & targets, "control must hit targets"
        state, seeded = _crawl3(spark, config, pk, seeds, preseed=keys)
        assert not (_sched_hashes(seeded) & targets), (
            f"pre-seeded urls scheduled under tier={tier}"
        )
        # exact table carries them; frontier no longer does
        seen_hashes = {
            r["url_hash"]
            for seg in state.seen.segments
            for r in seg.select("url_hash").collect()
        }
        assert targets <= seen_hashes


def test_mark_seen_idempotent_and_batch_preserved(spark):
    """Re-marking the same keys adds no duplicate rows (segments stay
    disjoint) and is a no-op state-wise."""
    pages = spark.createDataFrame(gen_pages_pdf(np.arange(100), 100), schema=PAGES)
    seeds = spark.createDataFrame(seeds_pdf(10, 100), schema=SEEDS)
    config = CrawlConfig(policy=HostPolicy(default_budget=8.0), state_buckets=N)
    state = init_state(spark, seeds, None, config)
    keys = _keys_for_ids(spark, [1, 2, 3])
    s1 = mark_seen(spark, state, keys, config)
    n1 = s1.seen.total_rows()
    assert n1 == 3
    s2 = mark_seen(spark, s1, keys, config)
    assert s2.seen.total_rows() == 3
    assert s2 is s1  # empty delta short-circuits
    assert s1.seen.key == FRONTIER_KEY  # one table, in the frontier layout


def _n_maybe_seen(rows, sketch):
    return sketch_flag_maybe_seen(rows, sketch).filter(F.col("_maybe")).count()


def test_mark_seen_then_forget_restores_scheduling(spark):
    """Round-trip under both tiers with sketch_kind="cuckoo": mark_seen
    suppresses, forget_urls + re-injection schedules again (coherence
    across representations in BOTH directions). The sketch tier carries a
    real cuckoo sketch, so its insert and delete are both on the path."""
    from dataclasses import replace

    from spiderspark.crawl import _frontier_cols
    from spiderspark.frontier import dedup_within_batch

    pages = spark.createDataFrame(gen_pages_pdf(np.arange(120), 120), schema=PAGES)
    seeds = spark.createDataFrame(seeds_pdf(12, 120), schema=SEEDS)
    pk = keyed_pages(pages, n_parts=N)
    for tier in ("mirror", "sketch"):
        config = CrawlConfig(
            policy=HostPolicy(default_budget=1e9), state_buckets=N,
            sketch_kind="cuckoo", seen_tier=tier,
        )
        state = init_state(spark, seeds, None, config)
        keys = materialize_keyed(
            _keys_for_ids(spark, [0, 30, 60]), n_parts=N, key="url_hash"
        )
        targets = {r["url_hash"] for r in keys.collect()}
        state = mark_seen(spark, state, keys, config)
        state, sched1, _ = crawl_round(spark, state, pk, config)
        assert not ({r["url_hash"] for r in sched1.collect()} & targets)

        re_seeds = spark.createDataFrame(
            [(u, 5.0) for u in url_for_ids(np.array([0, 30, 60]))],
            schema=SEEDS,
        )
        rows = assign_salts_static(
            seeds_to_frontier(spark, re_seeds, batch_id=state.batch_id),
            state.salts,
        )
        if tier == "sketch":
            assert state.sketch.kind == "cuckoo"
            assert _n_maybe_seen(rows, state.sketch) == 3
        else:
            assert state.sketch is None
        state = forget_urls(spark, state, keys, config)
        if tier == "sketch":  # the cuckoo sketch forgot them too
            assert _n_maybe_seen(rows, state.sketch) == 0
        seg = materialize_keyed(
            dedup_within_batch(_frontier_cols(rows).repartition(N, "url_hash")),
            N, key=state.frontier.key, sort=state.frontier.sort_cols,
        )
        state = replace(state, frontier=state.frontier.append(seg))
        state, sched2, _ = crawl_round(spark, state, pk, config)
        got = {r["url_hash"] for r in sched2.collect()}
        assert targets <= got, f"forgotten urls must schedule again ({tier})"


def test_mark_seen_accepts_warc_index_keys(spark, tmp_path):
    """The advertised CDX pre-seeding path: warc_index output feeds
    mark_seen directly and its urls land in the exact seen table."""
    import os

    from spiderspark.warc import synthetic_warc_bytes, warc_index

    (tmp_path / "seg.warc.gz").write_bytes(synthetic_warc_bytes(12))
    idx = warc_index(spark, os.path.join(str(tmp_path), "*.warc.gz"))
    seeds = spark.createDataFrame(seeds_pdf(5, 100), schema=SEEDS)
    config = CrawlConfig(policy=HostPolicy(default_budget=4.0), state_buckets=N)
    state = init_state(spark, seeds, None, config)
    state = mark_seen(
        spark, state, idx.select("url_hash", "url_norm", "host"), config
    )
    assert state.seen.total_rows() == 12
