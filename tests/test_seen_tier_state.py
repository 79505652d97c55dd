"""Which seen tier keeps which state. Both tiers keep ONE exact seen table
in the frontier's (host_bucket, salt) layout; only the sketch tier puts a
sketch in front of it. A mirror-tier crawl must never build, write, commit
or resume a URL-seen sketch; the sketch tier resumed from a mirror-tier
snapshot builds its sketch from the committed seen rows instead of silently
running exact-only; either tier resumes the other's snapshots exactly; and
resume refuses, loudly, snapshots this layout cannot read. Neither tier's
scheduling exchanges candidates on url_hash."""

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
    select_round,
)
from spiderspark.frontier import SketchRef, sketch_df, with_canonical, write_sketch_delta
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
    assert set(tables) == {
        "frontier", "seen", "host_state", "schedule", "fetch_log", "salt_table",
    }

    resumed = resume(spark, store, config)
    assert resumed.sketch is None
    assert resumed.seen.total_rows() == state.seen.total_rows() > 0
    assert _sketch_dirs(resumed.workdir) == []


def test_sketch_tier_resumes_from_mirror_snapshot(spark, inputs):
    """Two mirror rounds into a store, then resume under seen_tier="sketch":
    the sketch is built from the committed seen rows, and round 3 is the
    uninterrupted mirror run's round 3."""
    pages, seeds, robots = inputs
    mirror = _config()
    _, golden, _ = crawl(spark, seeds, pages, robots, rounds=3, config=mirror)

    store = ParquetManifestStore(tempfile.mkdtemp(prefix="tiersnap-"))
    crawl(spark, seeds, pages, robots, rounds=2, config=mirror, store=store)
    assert "seen_sketch" not in store.manifest(store.head())["tables"]

    sketch_cfg = _config(seen_tier="sketch")
    state = resume(spark, store, sketch_cfg)
    assert len(state.sketch.paths) > 0
    state, s3, _ = crawl_round(
        spark, state, keyed_pages(pages, n_parts=N), sketch_cfg
    )
    assert len(_order(s3)) > 0
    assert _order(s3) == _order(golden[2])


def test_mirror_tier_resumes_sketch_snapshot_without_sketch(spark, inputs):
    """The reverse switch: two sketch-tier rounds into a store, then resume
    under the default config. The exact seen table is the same in both
    tiers, so the mirror tier drops the committed sketch and still
    reproduces the uninterrupted run's round 3."""
    pages, seeds, robots = inputs
    sketch_cfg = _config(seen_tier="sketch")
    _, golden, _ = crawl(spark, seeds, pages, robots, rounds=3, config=sketch_cfg)

    store = ParquetManifestStore(tempfile.mkdtemp(prefix="revsnap-"))
    crawl(spark, seeds, pages, robots, rounds=2, config=sketch_cfg, store=store)
    assert "seen_sketch" in store.manifest(store.head())["tables"]

    mirror = _config()
    state = resume(spark, store, mirror)
    assert state.sketch is None
    state, s3, _ = crawl_round(
        spark, state, keyed_pages(pages, n_parts=N), mirror
    )
    assert len(_order(s3)) > 0
    assert _order(s3) == _order(golden[2])


def _recommit(spark, store, **replaced):
    """Commit the head snapshot again through ``store.commit`` with some of
    its tables swapped for ``replaced``."""
    head = store.head()
    tables = {
        name: store.read(spark, head, name)
        for name in store.manifest(head)["tables"]
    }
    tables.update(replaced)
    partition_by = {"seen_sketch": ["bucket"]} if "seen_sketch" in tables else {}
    store.commit(
        tables, store.manifest(head)["batch_id"], head, partition_by=partition_by
    )


def test_resume_refuses_pre_merge_layouts(spark, inputs):
    """Snapshots committed before the seen set moved to the scheduler
    layout cannot be resumed: a seen table keyed by url_hash alone (no
    host_bucket/salt), and a seen_sketch routed on url_hash. Each refusal is
    a ValueError naming the snapshot and what is missing."""
    pages, seeds, robots = inputs
    store = ParquetManifestStore(tempfile.mkdtemp(prefix="premerge-"))
    crawl(spark, seeds, pages, robots, rounds=1, config=_config(), store=store)
    old_seen = store.read(spark, store.head(), "seen").select("url_hash", "first_batch")
    _recommit(spark, store, seen=old_seen)
    with pytest.raises(ValueError, match=f"snapshot {store.head()}'s seen table has no host_bucket or salt"):
        resume(spark, store, _config())

    store = ParquetManifestStore(tempfile.mkdtemp(prefix="premerge-sketch-"))
    crawl(
        spark, seeds, pages, robots, rounds=1,
        config=_config(seen_tier="sketch"), store=store,
    )
    seen = store.read(spark, store.head(), "seen")
    by_hash = write_sketch_delta(
        seen, tempfile.mkdtemp(prefix="hashsketch-"), SketchRef.create(N, 1024, 0.01)
    )
    _recommit(spark, store, seen_sketch=sketch_df(spark, by_hash))
    with pytest.raises(ValueError, match=f"snapshot {store.head()}'s seen_sketch is routed on \\('url_hash',\\)"):
        resume(spark, store, _config(seen_tier="sketch"))
    # the mirror tier reads no sketch, so the same snapshot resumes there
    assert resume(spark, store, _config()).sketch is None


def test_sketch_tier_resume_refuses_other_state_buckets(spark, inputs):
    """bucket = pmod(hash(host_bucket, salt), state_buckets): a committed
    sketch read under another bucket count would answer from the wrong
    bits (silent false negatives), so resume refuses with a ValueError."""
    pages, seeds, robots = inputs
    store = ParquetManifestStore(tempfile.mkdtemp(prefix="buckets-"))
    crawl(
        spark, seeds, pages, robots, rounds=2,
        config=_config(seen_tier="sketch"), store=store,
    )
    other = CrawlConfig(
        policy=HostPolicy(default_budget=5.0), state_buckets=N + 1,
        seen_tier="sketch",
    )
    with pytest.raises(ValueError, match=f"n_buckets={N} but config.state_buckets={N + 1}"):
        resume(spark, store, other)


def test_select_round_never_exchanges_on_url_hash(spark, inputs):
    """With pre-seen keys in the one seen table, neither branch of
    select_round moves rows on url_hash: the mirror tier anti-joins the
    table in place, and the sketch tier's maybe-seen sliver meets it in its
    own (host_bucket, salt) layout."""
    _, seeds, robots = inputs
    keys = with_canonical(
        spark.createDataFrame(
            [(u,) for u in url_for_ids(np.arange(0, CORPUS, 3))], ["url"]
        )
    ).select("url_hash", "url_norm", "host")
    for tier in ("mirror", "sketch"):
        config = _config(seen_tier=tier)
        state = mark_seen(
            spark, init_state(spark, seeds, robots, config), keys, config
        )
        assert state.seen.total_rows() > 0
        if tier == "sketch":
            assert len(state.sketch.paths) > 0  # the sketch branch runs
        selected = select_round(spark, state, config)
        assert selected.count() > 0
        plan = selected._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning(url_hash" not in plan, (tier, plan)
