"""Which seen tier keeps which state. The default mirror tier filters only
through its exact scheduler-layout mirror, so a mirror-tier crawl must
never build, write, commit or resume a URL-seen sketch; the sketch tier
resumed from a mirror-tier snapshot must rebuild its sketch from the
committed mirror instead of silently running exact-only, and the mirror
tier resumed from a snapshot with no mirror must keep the committed
sketch."""

import os
import tempfile

import numpy as np
import pytest

from spiderspark.crawl import (
    CrawlConfig,
    commit_state,
    crawl,
    crawl_round,
    init_state,
    keyed_pages,
    mark_seen,
    resume,
)
from spiderspark.frontier import with_canonical
from spiderspark.pages import gen_pages_pdf, robots_pdf, seeds_pdf, url_for_ids
from spiderspark.politeness import HostPolicy
from spiderspark.schemas import PAGES, ROBOTS_TXT, SEEDS
from spiderspark.snapshots import ParquetManifestStore

N = 4
CORPUS = 300


@pytest.fixture(scope="module")
def inputs(spark):
    pages = spark.createDataFrame(
        gen_pages_pdf(np.arange(CORPUS), CORPUS), schema=PAGES
    )
    seeds = spark.createDataFrame(seeds_pdf(20, CORPUS), schema=SEEDS)
    robots = spark.createDataFrame(robots_pdf(), schema=ROBOTS_TXT)
    return pages, seeds, robots


def _config(**kw):
    return CrawlConfig(
        policy=HostPolicy(default_budget=5.0), state_buckets=N, **kw
    )


def _order(schedule):
    return [r["url_hash"] for r in schedule.orderBy("rank").collect()]


def _sketch_dirs(workdir):
    return [d for d in os.listdir(workdir) if d.startswith("sketch_")]


def test_mirror_tier_keeps_no_sketch(spark, inputs):
    """init_state → mark_seen → crawl_round → commit_state → resume under
    the default config: no call yields a sketch, no sketch directory is
    written, and the snapshot commits no seen_sketch table."""
    pages, seeds, robots = inputs
    config = _config()
    store = ParquetManifestStore(tempfile.mkdtemp(prefix="mirrorsnap-"))

    state = init_state(spark, seeds, robots, config)
    assert state.sketch is None
    keys = with_canonical(
        spark.createDataFrame(
            [(u,) for u in url_for_ids(np.arange(0, CORPUS, 7))], ["url"]
        )
    ).select("url_hash", "url_norm", "host")
    state = mark_seen(spark, state, keys, config)
    assert state.sketch is None
    state, schedule, fetch_log = crawl_round(
        spark, state, keyed_pages(pages, n_parts=N), config
    )
    assert state.sketch is None
    state = commit_state(spark, state, schedule, fetch_log, store)
    assert state.sketch is None
    assert _sketch_dirs(state.workdir) == []

    tables = store.manifest(state.snapshot_id)["tables"]
    assert "seen_sched" in tables
    assert "seen_sketch" not in tables

    resumed = resume(spark, store, config)
    assert resumed.sketch is None
    assert resumed.seen_sched is not None
    assert _sketch_dirs(resumed.workdir) == []


def test_sketch_tier_resumes_from_mirror_snapshot(spark, inputs):
    """Two mirror rounds into a store, then resume under seen_tier="sketch":
    the sketch is rebuilt from the committed mirror rows, and round 3 is the
    uninterrupted mirror run's round 3."""
    pages, seeds, robots = inputs
    mirror = _config()
    _, golden, _ = crawl(spark, seeds, pages, robots, rounds=3, config=mirror)

    store = ParquetManifestStore(tempfile.mkdtemp(prefix="tiersnap-"))
    crawl(spark, seeds, pages, robots, rounds=2, config=mirror, store=store)
    assert "seen_sketch" not in store.manifest(store.head())["tables"]

    sketch_cfg = _config(seen_tier="sketch")
    state = resume(spark, store, sketch_cfg)
    assert state.seen_sched is None
    assert len(state.sketch.paths) > 0
    state, s3, _ = crawl_round(
        spark, state, keyed_pages(pages, n_parts=N), sketch_cfg
    )
    assert len(_order(s3)) > 0
    assert _order(s3) == _order(golden[2])


def test_mirror_tier_resumes_sketch_from_sketch_snapshot(spark, inputs):
    """The reverse switch: two sketch-tier rounds into a store (no mirror
    committed), then resume under the default config. No mirror can come
    back, so the committed sketch is resumed instead of dropping to the
    exact-only branch, and round 3 is the uninterrupted run's round 3."""
    pages, seeds, robots = inputs
    sketch_cfg = _config(seen_tier="sketch")
    _, golden, _ = crawl(spark, seeds, pages, robots, rounds=3, config=sketch_cfg)

    store = ParquetManifestStore(tempfile.mkdtemp(prefix="revsnap-"))
    crawl(spark, seeds, pages, robots, rounds=2, config=sketch_cfg, store=store)
    tables = store.manifest(store.head())["tables"]
    assert "seen_sketch" in tables
    assert "seen_sched" not in tables

    mirror = _config()
    state = resume(spark, store, mirror)
    assert state.seen_sched is None
    assert len(state.sketch.paths) > 0
    state, s3, _ = crawl_round(
        spark, state, keyed_pages(pages, n_parts=N), mirror
    )
    assert len(_order(s3)) > 0
    assert _order(s3) == _order(golden[2])


def test_sketch_tier_resume_without_seen_tables_fails_loudly(spark, inputs):
    """A snapshot with neither a seen_sketch nor a seen_sched table (the
    sketch tier run exact-only) gives the sketch tier nothing to build its
    sketch from: resume names the tier instead of running exact-only."""
    pages, seeds, robots = inputs
    store = ParquetManifestStore(tempfile.mkdtemp(prefix="nosketch-"))
    crawl(
        spark, seeds, pages, robots, rounds=1,
        config=_config(seen_tier="sketch", use_bloom=False), store=store,
    )
    with pytest.raises(ValueError, match="seen_tier='sketch'"):
        resume(spark, store, _config(seen_tier="sketch"))
