"""Round-2 scale-layout invariants (SURVEY.md §2.4 A4/J2 + state layout):

1. materialize_keyed pins partitioning+ordering: groupBy / SMJ / anti joins
   over stored state plan with ZERO exchanges on the stored side — the
   property that makes repeat crawl rounds O(delta) network instead of
   O(state).
2. The distributed sketch (bucket-partitioned parquet + partition-local
   membership) is semantically a Bloom filter: no false negatives ever,
   false-positive rate within spec, delta dirs OR-equivalent to their
   compaction.
3. No full-sketch broadcast and no driver-resident merged sketch exist in
   the crawl path (regression guard for the round-1 scale-killer).
"""

import os
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from spiderspark.frontier import (
    SketchRef,
    compact_sketch,
    dedup_against_seen,
    sketch_df,
    sketch_flag_maybe_seen,
    write_sketch_delta,
)
from spiderspark.state import SegmentedTable, materialize_keyed


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _n_hash_exchanges(df) -> int:
    return _plan(df).count("Exchange hashpartitioning")


@pytest.fixture()
def keyed(spark):
    df = spark.range(0, 5000).select(
        F.col("id").alias("url_hash"), (F.col("id") % 13).alias("v")
    )
    return materialize_keyed(df, n_parts=4)


def test_materialize_keyed_groupby_no_exchange(spark, keyed):
    g = keyed.groupBy("url_hash").agg(F.min("v").alias("m"))
    assert _n_hash_exchanges(g) == 0, _plan(g)


def test_materialize_keyed_smj_no_exchange_no_sort(spark):
    a = materialize_keyed(
        spark.range(0, 4000).select(F.col("id").alias("url_hash")), 4
    )
    b = materialize_keyed(
        spark.range(2000, 6000).select(F.col("id").alias("url_hash")), 4
    )
    j = a.join(b, "url_hash", "left_anti")
    plan = _plan(j)
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert j.count() == 2000


def test_materialize_keyed_repartition_false_honors_sort(spark):
    """repartition=False + sort must still deliver a SORTED segment: the
    per-round mirror delta's plan ends at a repartition (no ordering), and
    a silently-dropped sort would make every later round's co-partitioned
    anti-probe re-sort the stored side (the round-5 mirror contract is
    zero exchange AND zero sort on both sides)."""
    keys = ("host_bucket", "salt")
    sort = ("host_bucket", "salt", "url_hash")
    delta = spark.range(0, 4000).select(
        (F.col("id") % 7).alias("host_bucket"),
        (F.col("id") % 3).alias("salt"),
        F.col("id").alias("url_hash"),
    ).repartition(4, *keys)  # laid out but NOT sorted
    seg = materialize_keyed(delta, key=keys, repartition=False, sort=sort)
    probe = materialize_keyed(
        spark.range(2000, 6000).select(
            (F.col("id") % 7).alias("host_bucket"),
            (F.col("id") % 3).alias("salt"),
            F.col("id").alias("url_hash"),
        ),
        n_parts=4, key=keys, sort=sort,
    )
    j = probe.join(seg, list(sort), "left_anti")
    plan = _plan(j)
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert "Sort [" not in plan, plan
    assert j.count() == 2000


def test_segment_anti_probe_coparitioned(spark, keyed):
    seen = SegmentedTable.from_df(
        spark.range(0, 1000).select(
            F.col("id").alias("url_hash"), F.lit(0).cast("long").alias("first_batch")
        ),
        n_parts=4,
    )
    out = seen.anti_probe(keyed)
    assert _n_hash_exchanges(out) == 0, _plan(out)
    assert out.count() == 4000


def _mk_sketch(spark, tmp, keys, n_buckets=4, cap=4096):
    ref = SketchRef.create(n_buckets, cap, 0.01)
    keys_df = spark.createDataFrame(
        [(int(k),) for k in keys], "url_hash long"
    )
    return write_sketch_delta(keys_df, os.path.join(tmp, "d0"), ref)


def test_sketch_no_false_negatives(spark):
    tmp = tempfile.mkdtemp(prefix="sketchtest-")
    rng = np.random.RandomState(7)
    keys = rng.randint(-(2**62), 2**62, size=20_000)
    ref = _mk_sketch(spark, tmp, keys, n_buckets=4, cap=8192)
    probe = spark.createDataFrame([(int(k),) for k in keys], "url_hash long")
    flagged = sketch_flag_maybe_seen(probe, ref)
    assert flagged.filter(~F.col("_maybe")).count() == 0  # zero false negatives


def test_sketch_fpp_within_spec(spark):
    tmp = tempfile.mkdtemp(prefix="sketchtest-")
    rng = np.random.RandomState(11)
    seen_keys = rng.randint(-(2**62), 2**62, size=8_000)
    ref = _mk_sketch(spark, tmp, seen_keys, n_buckets=4, cap=4096)
    fresh = rng.randint(-(2**62), 2**62, size=20_000)
    probe = spark.createDataFrame([(int(k),) for k in fresh], "url_hash long")
    fp = sketch_flag_maybe_seen(probe, ref).filter(F.col("_maybe")).count()
    assert fp / 20_000 < 0.03  # 1% target + slack


def test_sketch_delta_dirs_equal_compaction(spark):
    tmp = tempfile.mkdtemp(prefix="sketchtest-")
    rng = np.random.RandomState(3)
    a = rng.randint(-(2**60), 2**60, size=3_000)
    b = rng.randint(-(2**60), 2**60, size=3_000)
    ref = SketchRef.create(4, 4096, 0.01)
    ref = write_sketch_delta(
        spark.createDataFrame([(int(k),) for k in a], "url_hash long"),
        os.path.join(tmp, "d0"), ref,
    )
    ref = write_sketch_delta(
        spark.createDataFrame([(int(k),) for k in b], "url_hash long"),
        os.path.join(tmp, "d1"), ref,
    )
    assert len(ref.paths) == 2
    compacted = compact_sketch(spark, ref, os.path.join(tmp, "base"))
    assert len(compacted.paths) == 1
    probe = spark.createDataFrame(
        [(int(k),) for k in np.concatenate([a, b, rng.randint(0, 2**60, 5000)])],
        "url_hash long",
    )
    before = sorted(
        r["url_hash"]
        for r in sketch_flag_maybe_seen(probe, ref).filter("_maybe").collect()
    )
    after = sorted(
        r["url_hash"]
        for r in sketch_flag_maybe_seen(probe, compacted).filter("_maybe").collect()
    )
    assert before == after  # compaction is a pure OR — bit-identical answers
    # compacted rows: exactly one per populated bucket
    rows = sketch_df(spark, compacted).groupBy("bucket").count().collect()
    assert all(r["count"] == 1 for r in rows)


def test_dedup_against_seen_equals_exact(spark):
    """Sketch tier is an accelerator, not a semantic: candidates with the
    sketch == candidates with exact-only dedup."""
    tmp = tempfile.mkdtemp(prefix="sketchtest-")
    frontier_rows = spark.range(0, 3000).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.concat(F.lit("u"), F.col("id")).alias("url_norm"),
        F.col("id").alias("url_hash"),
        F.lit("h").alias("host"),
        F.lit(0).cast("int").alias("host_bucket"),
        F.lit(0).cast("int").alias("salt"),
        F.lit(0.0).alias("priority"),
        F.lit(0).cast("int").alias("depth"),
        F.lit(0).cast("long").alias("discovered_batch"),
        F.lit(0).cast("int").alias("attempt"),
    )
    frontier = SegmentedTable.from_df(frontier_rows, n_parts=4)
    seen_df = spark.range(1000, 1800).select(
        F.col("id").alias("url_hash"), F.lit(0).cast("long").alias("first_batch")
    )
    seen = SegmentedTable.from_df(seen_df, n_parts=4)
    ref = SketchRef.create(4, 4096, 0.01)
    ref = write_sketch_delta(
        seen.segments[0], os.path.join(tmp, "d0"), ref, assume_keyed_layout=True
    )
    with_sketch = sorted(
        r["url_hash"]
        for r in dedup_against_seen(spark, frontier, seen, ref).collect()
    )
    exact_only = sorted(
        r["url_hash"]
        for r in dedup_against_seen(spark, frontier, seen, None).collect()
    )
    assert with_sketch == exact_only == list(range(1000)) + list(range(1800, 3000))


def test_no_full_sketch_broadcast_in_source():
    """Regression guard: the crawl path must not broadcast sketch bits or
    rebuild a merged BucketedBloom on the driver (round-1 scale-killer)."""
    import inspect

    import spiderspark.crawl as crawl
    import spiderspark.frontier as frontier

    src = inspect.getsource(crawl) + inspect.getsource(frontier)
    assert "sparkContext.broadcast" not in src
    assert "from_bucket_rows" not in src


def test_snapshot_ids_never_clobber(spark):
    """Two commits sharing a parent get DISTINCT ids (ADVICE round 1)."""
    from spiderspark.snapshots import ParquetManifestStore

    store = ParquetManifestStore(tempfile.mkdtemp(prefix="snapids-"))
    s1 = store.commit({"t": spark.range(3)}, batch_id=1, parent_id=None)
    s2 = store.commit({"t": spark.range(4)}, batch_id=2, parent_id=s1)
    s3 = store.commit({"t": spark.range(5)}, batch_id=2, parent_id=s1)  # same parent
    assert len({s1, s2, s3}) == 3
    assert store.read(spark, s2, "t").count() == 4
    assert store.read(spark, s3, "t").count() == 5


def test_empty_delta_dir_readable_and_harmless(spark):
    """ADVICE r02 (high): a delta written from an EMPTY key set holds zero
    data files (only _SUCCESS); sketch_df / compact_sketch / membership must
    treat it as a zero contribution, not raise UNABLE_TO_INFER_SCHEMA."""
    tmp = tempfile.mkdtemp(prefix="sketchtest-")
    rng = np.random.RandomState(21)
    keys = rng.randint(-(2**62), 2**62, size=2_000)
    ref = _mk_sketch(spark, tmp, keys)
    empty = spark.createDataFrame([], "url_hash long")
    ref = write_sketch_delta(empty, os.path.join(tmp, "d_empty"), ref)

    # read path: no schema inference on the files-less dir
    total = sketch_df(spark, ref).count()
    assert total > 0  # the non-empty delta's rows are all still there

    # membership unchanged: every real key still maybe-seen
    probe = spark.createDataFrame([(int(k),) for k in keys], "url_hash long")
    assert sketch_flag_maybe_seen(probe, ref).filter(~F.col("_maybe")).count() == 0

    # compaction across (real, empty) deltas also survives
    compacted = compact_sketch(spark, ref, os.path.join(tmp, "base"))
    assert (
        sketch_flag_maybe_seen(probe, compacted).filter(~F.col("_maybe")).count() == 0
    )


def test_crawl_round_with_nothing_newly_seen_commits(spark):
    """ADVICE r02 (high), end-to-end: a store-backed round in which NO url
    becomes seen (no page fetched, attempts left) must not crash commit —
    the sketch-delta write (sketch tier) and the mirror-segment write
    (default mirror tier) are both skipped for the empty newly-seen
    segment."""
    from spiderspark.crawl import CrawlConfig, crawl_round, init_state, keyed_pages
    from spiderspark.politeness import HostPolicy
    from spiderspark.snapshots import ParquetManifestStore

    seeds = spark.createDataFrame(
        [(f"http://h{i}.example/p/{i}", 0.0) for i in range(20)],
        "url string, priority double",
    )
    # empty corpus → every fetch misses; max_attempts=3 keeps them requeued
    pages = keyed_pages(
        spark.createDataFrame([], "url string, html binary"), n_parts=4
    )
    for tier in ("mirror", "sketch"):
        config = CrawlConfig(
            policy=HostPolicy(default_budget=8.0), state_buckets=4,
            max_attempts=3, seen_tier=tier,
        )
        store = ParquetManifestStore(tempfile.mkdtemp(prefix="snapstore-"))
        state = init_state(spark, seeds, None, config)
        state, schedule, _log = crawl_round(
            spark, state, pages, config, store=store
        )
        assert schedule.count() > 0
        assert state.snapshot_id is not None
        assert state.seen.total_rows() == 0  # nothing seen...
        if tier == "sketch":
            assert len(state.sketch.paths) == 0  # ...and no delta dir written
        else:
            assert state.sketch is None
            assert state.seen_sched.total_rows() == 0


def test_durable_segment_keeps_layout_contract(spark):
    """materialize_keyed_durable: the bucketed-table roundtrip must keep
    co-partitioned joins exchange-free, like the in-memory layout."""
    from spiderspark.state import materialize_keyed_durable

    base = tempfile.mkdtemp(prefix="durseg-")
    a = materialize_keyed_durable(
        spark.range(0, 4000).select(F.col("id").alias("url_hash")),
        n_parts=4, base_dir=base,
    )
    b = materialize_keyed(
        spark.range(2000, 6000).select(F.col("id").alias("url_hash")), 4
    )
    j = a.join(b, "url_hash", "left_anti")
    plan = _plan(j)
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert j.count() == 2000
    # composite key variant (the frontier layout)
    c = materialize_keyed_durable(
        spark.range(0, 4000).select(
            (F.col("id") % 8).cast("int").alias("host_bucket"),
            (F.col("id") % 2).cast("int").alias("salt"),
            F.col("id").alias("url_hash"),
        ),
        n_parts=4, key=("host_bucket", "salt"),
        sort=("host_bucket", "salt", "url_hash"), base_dir=base,
    )
    g = c.groupBy("host_bucket", "salt", "url_hash").agg(F.count(F.lit(1)).alias("n"))
    assert _n_hash_exchanges(g) == 0, _plan(g)


def test_durable_reclaim_spares_rewrapped_segments(spark):
    """Reclaim identity is PLAN-derived (inputFiles), not an attribute tag:
    a carried-forward segment that was re-read from disk and re-wrapped —
    sharing no Python object provenance with the original frame — must
    still protect its files through a reclaim round, while a genuinely
    unreferenced segment is dropped (catalog entry + files)."""
    from spiderspark.state import (
        _DURABLE_TABLES,
        _referenced_durables,
        drop_durable_segments,
        materialize_keyed_durable,
    )

    base = tempfile.mkdtemp(prefix="durreclaim-")
    a = materialize_keyed_durable(
        spark.range(0, 100).select(F.col("id").alias("url_hash")),
        n_parts=2, base_dir=base,
    )
    b = materialize_keyed_durable(
        spark.range(100, 200).select(F.col("id").alias("url_hash")),
        n_parts=2, base_dir=base,
    )
    (name_a,) = _referenced_durables(a)
    (name_b,) = _referenced_durables(b)
    path_a, path_b = _DURABLE_TABLES[name_a], _DURABLE_TABLES[name_b]

    # the live carried-forward frame is a filter over a fresh re-read —
    # exactly the shape that loses any attribute tagged onto the original
    rewrapped = spark.read.parquet(path_a).filter(F.col("url_hash") >= 0)
    drop_durable_segments(spark, [a, b], [rewrapped])
    assert os.path.exists(path_a)
    assert rewrapped.count() == 100  # files intact, frame still readable
    assert not os.path.exists(path_b)  # unreferenced one actually reclaimed
    assert name_b not in _DURABLE_TABLES

    drop_durable_segments(spark, [rewrapped], [])
    assert not os.path.exists(path_a)
    assert name_a not in _DURABLE_TABLES


def test_durable_reclaim_handles_empty_segments(spark):
    """A zero-row durable segment writes NO part files, so inputFiles alone
    cannot identify it — the analyzed-plan fallback must (a) still protect
    a LIVE empty segment from a reclaim round and (b) actually drop a
    superseded empty segment instead of leaking its catalog entry + dir
    once per drained round forever."""
    from spiderspark.state import (
        _DURABLE_TABLES,
        _referenced_durables,
        drop_durable_segments,
        materialize_keyed_durable,
    )

    base = tempfile.mkdtemp(prefix="duremptyreclaim-")
    empty = materialize_keyed_durable(
        spark.range(0, 0).select(F.col("id").alias("url_hash")),
        n_parts=2, base_dir=base,
    )
    assert empty.inputFiles() == []  # the premise: no part files
    (name_e,) = _referenced_durables(empty)  # plan fallback identifies it
    path_e = _DURABLE_TABLES[name_e]

    # (a) live empty segment survives a reclaim where it appears in `new`
    drop_durable_segments(spark, [empty], [empty])
    assert name_e in _DURABLE_TABLES and os.path.exists(path_e)
    assert empty.count() == 0  # still readable

    # (b) superseded empty segment is actually reclaimed
    drop_durable_segments(spark, [empty], [])
    assert name_e not in _DURABLE_TABLES
    assert not os.path.exists(path_e)


def test_durable_mode_crawl_matches_default_and_resumes(spark):
    """CrawlConfig(durable_state=True): identical schedules to the default
    in-memory mode, and resume from a snapshot continues identically."""
    import numpy as np

    from spiderspark.crawl import CrawlConfig, crawl, crawl_round, keyed_pages, resume
    from spiderspark.pages import gen_pages_pdf, robots_pdf, seeds_pdf
    from spiderspark.politeness import HostPolicy
    from spiderspark.schemas import ROBOTS_TXT, SEEDS
    from spiderspark.snapshots import ParquetManifestStore

    pages = spark.createDataFrame(
        gen_pages_pdf(np.arange(400), 400),
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    seeds = spark.createDataFrame(seeds_pdf(20, 400), schema=SEEDS)
    robots = spark.createDataFrame(robots_pdf(), schema=ROBOTS_TXT)

    def orderings(schedules):
        return [[r["url_hash"] for r in s.orderBy("rank").collect()] for s in schedules]

    base_cfg = CrawlConfig(policy=HostPolicy(default_budget=4.0), state_buckets=4)
    dur_cfg = CrawlConfig(
        policy=HostPolicy(default_budget=4.0), state_buckets=4, durable_state=True
    )
    _, sched_mem, _ = crawl(spark, seeds, pages, robots, rounds=4, config=base_cfg)
    store = ParquetManifestStore(tempfile.mkdtemp(prefix="dursnap-"))
    _, sched_dur, _ = crawl(
        spark, seeds, pages, robots, rounds=2, config=dur_cfg, store=store
    )
    golden = orderings(sched_mem)
    assert orderings(sched_dur) == golden[:2]

    st = resume(spark, store, dur_cfg)
    pk = keyed_pages(pages, n_parts=dur_cfg.state_buckets)
    st, s3, _ = crawl_round(spark, st, pk, dur_cfg)
    st, s4, _ = crawl_round(spark, st, pk, dur_cfg)
    assert orderings([s3, s4]) == golden[2:4]
