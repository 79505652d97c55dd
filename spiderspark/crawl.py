"""The crawl loop: schedule → fetch → extract → discover → commit
(SURVEY.md §3.1) — the batch re-expression of the reference's
thread-pool-over-queues semantics.

One ``crawl_round`` is the unit of the throughput metric ("frontier URLs
scheduled+deduped/sec", BASELINE.json:2) and of the ordering invariant: the
returned schedule's (rank, url_hash) sequence must equal the pure-python
oracle's for the same seeds + politeness budget at any parallelism.

Scale shape (the repeat-round exchange budget — see docs/PLANS.md
"Scheduler layout"):

- The frontier is a SegmentedTable in the SCHEDULER layout: hash-partitioned
  by (host_bucket, salt) — salt from the per-crawl static table — at a
  fixed ``state_buckets``, sorted by (host_bucket, salt, url_hash). The
  exact seen set is ONE table in the same layout (rows host_bucket, salt,
  url_hash, first_batch). Every per-round touch of the big state — schedule
  removal, delta resolve, seen anti-probes — plans as a co-partitioned SMJ
  or broadcast probe with ZERO exchange and ZERO sort on the stored side.
  Network per round is O(delta + schedule), not O(state).
- Scheduling itself never exchanges the candidates either. The mirror tier
  anti-joins each gated segment against the seen table in place and ranks
  phase 1 layout-satisfied; the sketch tier runs ONE partition-local pass
  (frontier.membership_prefix_topk) fusing sketch membership with the exact
  per-host budget pre-selection, and probes only the maybe-seen sliver
  against the seen table. Either way only the O(hosts × budget) kept set
  reaches the final window.
- The URL-seen sketch is distributed (frontier.SketchRef): membership is a
  partition-local side-read of only the task's bucket slice (bucket routing
  == the frontier partitioning, so salting also evens slice sizes under
  Zipf skew); updates are bucket-partitioned delta directories; compaction
  is a distributed groupBy(bucket) merge. Bloom (default) or cuckoo
  (deletion support) tiers behind the same rows. Nothing sketch-shaped ever
  lives on the driver or in a broadcast. Only ``seen_tier="sketch"`` keeps
  a sketch; the default mirror tier filters through the exact table alone.
- Iterative-loop hygiene: each round's state is re-materialized through
  ``materialize_keyed`` (plans stay shallow; the checkpoint write is
  partition-local — no network) or, with ``durable_state=True``, through
  bucketed parquet tables that keep the same layout contract while
  surviving executor loss; transient persists are dropped at round end.
"""

from __future__ import annotations

import os
import tempfile
from dataclasses import dataclass, field, replace

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .canon import extract_outlinks_series, extract_text_series
from .frontier import (
    SketchRef,
    compact_sketch,
    dedup_within_batch,
    host_bucket_col,
    membership_prefix_topk,
    seeds_to_frontier,
    sketch_df,
    with_canonical,
    write_sketch_delta,
)
from .politeness import (
    HostPolicy,
    init_host_state,
    insertion_gate,
    join_host_state,
    robots_gate,
    update_host_state,
)
from .schedule import (
    assign_salts_static,
    per_host_topk_final,
    static_salt_table,
    to_schedule,
)
from .schemas import FRONTIER, HOST_STATE, SEEN
from .snapshots import SnapshotStore
from .state import (
    SegmentedTable,
    materialize_keyed,
    materialize_many,
    resolve_frontier_delta,
)

# the frontier's physical partitioning: both columns are pure functions of
# the canonical url, so (FRONTIER_KEY..., url_hash) is a consistent compound
# identity and every per-round window/join over the stored layout plans
# exchange-free (see docs/PLANS.md "Scheduler layout")
FRONTIER_KEY = ("host_bucket", "salt")


@dataclass(frozen=True)
class CrawlConfig:
    policy: HostPolicy = field(default_factory=HostPolicy)
    # state_buckets is BOTH the state-partition count and the sketch bucket
    # count: bucket = pmod(hash(host_bucket, salt), state_buckets) equals
    # the stored partition id, so membership tasks read exactly one sketch
    # slice. Sandbox default sized for local[32]; cluster: O(total cores),
    # fixed for the lifetime of a crawl.
    state_buckets: int = 32
    # the sketch knobs (bloom_capacity_per_bucket, bloom_fpp, sketch_kind)
    # apply only under seen_tier="sketch": the mirror tier builds no sketch
    bloom_capacity_per_bucket: int = 1 << 16
    bloom_fpp: float = 0.01
    skew_threshold: int = 50_000
    # how per-round seen filtering runs over the stored frontier segments.
    # Both tiers keep the same exact seen table in the scheduler layout
    # ((host_bucket, salt) partitioned, sorted on (..., url_hash)):
    # - "mirror" (default; round-5 measured winner): the filter is one
    #   co-partitioned zero-exchange/zero-sort LEFT-ANTI merge join against
    #   that table — entirely JVM-side (the fused bloom pass's dominant cost
    #   was the JVM→Python Arrow IPC crossing of every candidate, measured
    #   85% of the stage; 32M/32: schedule stage 19-23 s → 5.4-9 s, same
    #   digest).
    # - "sketch": a bloom/cuckoo sketch in front of the exact table, read by
    #   the membership + guarded-prefix pre-selection
    #   (frontier.membership_prefix_topk) — ~1.2 bits per seen key instead
    #   of the exact table's 16 key bytes: the right tier when the seen set
    #   dwarfs what per-task sequential reads should pay per round, or for
    #   TTL expiry at that scale. The only tier that builds a sketch; until
    #   its first delta exists it filters like the mirror tier.
    # Both tiers produce byte-identical schedules (test_fused_schedule).
    seen_tier: str = "mirror"
    # sketch tier only — filter family: "bloom" (default) or "cuckoo" (adds
    # deletion for re-crawl-after-TTL deployments; see sketch.CuckooFilter).
    # The mirror tier expires TTL'd urls (forget_urls) under either value.
    sketch_kind: str = "bloom"
    max_depth: int = 64
    # reference parity: failed lookups are re-queued (SURVEY.md §0.3.5);
    # a URL is retried until it has been scheduled max_attempts times, then
    # enters the seen set as exhausted
    max_attempts: int = 2
    # LSM knobs: segments/delta-dirs allowed before the amortized compaction
    max_segments: int = 4
    # durable_state=True routes every state-segment materialization through
    # bucketed parquet tables (state.materialize_keyed_durable) instead of
    # localCheckpoint executor blocks: the layout contract survives the disk
    # roundtrip AND any executor loss — the cluster fault-tolerance mode.
    # In-sandbox the in-memory fast path stays the default (no disk write
    # per round). See docs/PLANS.md "State layout".
    durable_state: bool = False
    # Where durable segments/sketch deltas live. On a cluster this MUST be
    # shared storage (HDFS/S3/NFS) — the default driver-local tempdir is
    # only durable on a single-node sandbox.
    durable_dir: str | None = None


@dataclass
class CrawlState:
    frontier: SegmentedTable
    # the ONE exact URL-seen table, in the frontier's layout: key =
    # FRONTIER_KEY, rows schemas.SEEN (host_bucket, salt, url_hash,
    # first_batch), sorted on (host_bucket, salt, url_hash)
    seen: SegmentedTable
    host_state: DataFrame
    # the sketch tier's bloom/cuckoo sketch in front of ``seen``; None under
    # the mirror tier
    sketch: SketchRef | None
    batch_id: int
    workdir: str
    k_cap: int
    # per-crawl STATIC (host, n_salts) table: salt must be a stable function
    # of the url for the crawl's lifetime so (host_bucket, salt) can be the
    # state's physical partitioning AND the sketch routing. The schedule
    # is invariant to the salting scheme, so a stale size estimate costs
    # balance, never correctness. Re-salting requires a seen-table and
    # sketch rebuild.
    salts: DataFrame
    snapshot_id: int | None = None

    @property
    def seen_sched(self) -> None:
        """Always None: the scheduler-layout mirror of the seen set is now
        ``seen`` itself. Kept, read-only, because the benchmark's state
        counters (perfbench/workloads.py ``_state_counts``) still read this
        name; drop it when that harness next changes."""
        return None


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return extract_text_series(html)


@F.pandas_udf(T.ArrayType(T.StringType()))
def outlinks_udf(html: pd.Series, base: pd.Series) -> pd.Series:
    return extract_outlinks_series(html, base)


def _materialize(df: DataFrame) -> DataFrame:
    """Plain eager materialization for tables with no layout contract
    (schedule, fetch_log, candidates)."""
    return df.localCheckpoint(eager=True)


# every state table's sort order within its FRONTIER_KEY partitions
_STATE_SORT = (*FRONTIER_KEY, "url_hash")


def _keyed_mat(config: CrawlConfig, workdir: str):
    """The state-segment materializer for this crawl: pins ``df`` in the
    state layout (FRONTIER_KEY-partitioned at ``state_buckets``, sorted on
    ``_STATE_SORT``) — in memory (default fast path) or as durable bucketed
    tables (fault-tolerant mode). ``repartition=False`` is for plans already
    in that layout (a partition-local write, no exchange)."""
    n = config.state_buckets
    if not config.durable_state:
        def mat(df, repartition=True):
            return materialize_keyed(df, n, FRONTIER_KEY, repartition, _STATE_SORT)
        return mat
    from .state import materialize_keyed_durable

    base = os.path.join(workdir, "segments")

    def mat(df, repartition=True):
        return materialize_keyed_durable(
            df, n, FRONTIER_KEY, repartition, _STATE_SORT, base
        )

    return mat


def _new_sketch(config: CrawlConfig) -> SketchRef:
    return SketchRef.create(
        config.state_buckets, config.bloom_capacity_per_bucket, config.bloom_fpp,
        routing=FRONTIER_KEY, kind=config.sketch_kind,
    )


def _frontier_cols(df: DataFrame) -> DataFrame:
    return df.select(*[f.name for f in FRONTIER.fields])


def _routed(df: DataFrame, salts: DataFrame) -> DataFrame:
    """(url_hash, url_norm, host) rows → (host_bucket, salt, url_hash): the
    slot the url's frontier and seen rows live in."""
    return assign_salts_static(
        df.select(
            "url_hash", "url_norm", "host",
            host_bucket_col(F.col("host")).alias("host_bucket"),
        ),
        salts,
    ).select(*_STATE_SORT)


def _pinned_keys(keys: DataFrame, n: int) -> DataFrame:
    """A routed key batch deduped and pinned in the state layout — one
    exchange; probes against the stored segments are then co-partitioned."""
    return materialize_keyed(
        keys.repartition(n, *FRONTIER_KEY).distinct(),
        n, FRONTIER_KEY, repartition=False, sort=_STATE_SORT,
    )


def init_state(
    spark: SparkSession,
    seeds: DataFrame,
    robots: DataFrame | None,
    config: CrawlConfig,
) -> CrawlState:
    n = config.state_buckets
    host_state = _materialize(
        init_host_state(robots, config.policy)
        if robots is not None
        else spark.createDataFrame([], HOST_STATE)
    )
    # robots-disallowed URLs are dropped at INSERTION time — they can never
    # be scheduled (robots is static per crawl), so keeping them would grow
    # frontier state unboundedly with re-gated dead rows. Pinned once: the
    # salt table and the first frontier segment both read these rows, and
    # re-deriving them would canonicalise every seed twice
    rows = _materialize(
        insertion_gate(seeds_to_frontier(spark, seeds, batch_id=0), host_state)
    )
    # static salt table from the seed host distribution (any size estimate
    # is schedule-invariant; late-heavy hosts cost balance only)
    salts = _materialize(
        static_salt_table(
            rows.groupBy("host").agg(F.count(F.lit(1)).alias("_n")),
            config.skew_threshold,
        )
    )
    rows = assign_salts_static(rows, salts)
    if config.durable_dir:
        workdir = config.durable_dir
        os.makedirs(workdir, exist_ok=True)
    else:
        workdir = tempfile.mkdtemp(prefix="spiderspark-state-")
    seg0 = _keyed_mat(config, workdir)(dedup_within_batch(_frontier_cols(rows)))
    frontier = SegmentedTable((seg0,), n, key=FRONTIER_KEY)
    # only the sketch tier reads a sketch, so only it builds one
    sketch = _new_sketch(config) if config.seen_tier == "sketch" else None
    caps = host_state.agg(F.max("capacity").alias("m")).collect()
    k_cap = int(
        max(config.policy.default_budget, (caps[0]["m"] or 0) if caps else 0)
    )
    return CrawlState(
        frontier=frontier,
        seen=SegmentedTable.empty(n, key=FRONTIER_KEY),
        host_state=host_state,
        sketch=sketch,
        batch_id=0,
        workdir=workdir,
        k_cap=k_cap,
        salts=salts,
    )


def keyed_pages(pages: DataFrame, n_parts: int | None = None) -> DataFrame:
    """Pages table keyed by url_hash of the canonical url — computed once,
    outside the loop, and stored in the keyed layout so the per-round fetch
    join never exchanges the corpus (only the small schedule side moves).
    Column pruning matters here: ``html`` is the fat column; downstream
    joins select it explicitly only at fetch time.

    At 100 TB this materialization is the Iceberg pages table bucketed by
    url_hash — same layout contract, durable storage."""
    # jvm_fast=False: the JVM-gate split plans two scans of the source, and
    # this source carries the fat html column — one Arrow pass beats a
    # double parquet read here
    keyed = with_canonical(pages, jvm_fast=False).select(
        "url_hash", "url_norm", "html"
    )
    if n_parts is None:
        return keyed
    return materialize_keyed(keyed, n_parts)


def select_round(
    spark: SparkSession, state: CrawlState, config: CrawlConfig
) -> DataFrame:
    """Steps 1-4 of a crawl round: dedup + politeness + per-host budget
    selection over the current state — the scheduling core, factored out so
    the driver contract (``__spark_entry__.schedule_round_df``) value-checks
    the EXACT code path ``crawl_round`` runs, sketch branch included.

    Politeness/robots gate each stored segment in place (broadcast joins —
    layout preserved). Then one of two branches:

    - Exact (the mirror tier; the sketch tier before its first delta):
      each gated segment anti-joins the seen table — co-partitioned SMJ,
      zero exchange and zero sort on BOTH sides, no Python crossing — then
      phase-1 ranks within (host_bucket, salt, host), layout-satisfied (no
      exchange) with the k_cap literal keeping the WindowGroupLimit bounded
      sort.
    - Sketch (``state.sketch`` has deltas): ONE partition-local pass fuses
      sketch membership with the exact guarded-prefix budget pre-selection
      (frontier.membership_prefix_topk) — the big frontier segments are
      never exchanged AND never fully ranked. Only the maybe-seen sliver of
      the kept set meets the seen table, in that table's own layout. The
      tier of choice when the seen set dwarfs per-round sequential-read
      budgets (~1.2 bits vs 16 bytes read per seen key).

    Either way only the O(hosts × budget) kept rows reach the final window.
    """
    from pyspark.sql import Window

    from .schedule import order_cols

    use_sketch = state.sketch is not None and len(state.sketch.paths) > 0
    parts = []
    for seg in state.frontier.segments:
        budgeted = join_host_state(seg, state.host_state, config.policy)
        gated = robots_gate(budgeted).filter(F.col("host_budget") > 0)
        if use_sketch:
            # join_back=seg: the thin pass reads the gated view once; the
            # kept keys rejoin the CHECKPOINTED segment, so the big side
            # never pays a second budget+robots pass — those columns are
            # re-derived on the tiny kept set below
            kept = _materialize(
                membership_prefix_topk(gated, state.sketch, join_back=seg)
            )
            definite = kept.filter(~F.col("_maybe")).drop("_maybe")
            sliver = (
                kept.filter(F.col("_maybe"))
                .drop("_maybe")
                .repartition(state.seen.n_parts, *FRONTIER_KEY)
            )
            parts.append(definite.unionByName(state.seen.anti_probe(sliver)))
            continue
        unseen = state.seen.anti_probe(gated)
        w1 = Window.partitionBy("host_bucket", "salt", "host").orderBy(
            *order_cols()
        )
        parts.append(
            unseen.withColumn("_r1", F.row_number().over(w1))
            .filter(
                (F.col("_r1") <= F.lit(int(state.k_cap)))
                & (F.col("_r1") <= F.col("host_budget"))
            )
            .drop("_r1")
        )
    if not parts:
        return spark.createDataFrame([], FRONTIER).withColumn(
            "host_budget", F.lit(0).cast("long")
        )
    kept = parts[0]
    for p in parts[1:]:
        kept = kept.unionByName(p)
    if use_sketch:
        kept = robots_gate(
            join_host_state(kept, state.host_state, config.policy)
        ).filter(F.col("host_budget") > 0)
    return per_host_topk_final(kept, "host_budget", k_cap=state.k_cap)


def crawl_round(
    spark: SparkSession,
    state: CrawlState,
    pages: DataFrame,
    config: CrawlConfig,
    store: SnapshotStore | None = None,
) -> tuple[CrawlState, DataFrame, DataFrame]:
    """Run one round; returns (state', schedule, fetch_log)."""
    batch_id = state.batch_id + 1
    n = config.state_buckets

    # 1-4. dedup + politeness + per-host budget selection (see select_round)
    selected = select_round(spark, state, config)

    # 5. deterministic total order → the round's schedule (the invariant unit)
    schedule = to_schedule(selected, batch_id, materialize=_materialize)

    # 6. "fetch" (sandbox: join pages on url_hash; cluster: swap a fetching
    #    mapInPandas here) + pinned text extraction + lineage/metrics.
    #    pages is stored keyed → only the small schedule side exchanges.
    #    r08 (guide §2.3 shuffle fewer bytes / §5; VERDICT r07 item 5): the
    #    fat ``html`` column is DROPPED before the checkpoint — text AND
    #    outlinks are derived in the same projection (one ArrowEvalPython
    #    node: html crosses the Python boundary once and feeds both
    #    kernels), plus the two scalar facts downstream steps need
    #    (``bytes``, ``is_fetched``). The round's biggest intermediate then
    #    stores text+outlinks instead of raw html, and every downstream
    #    rescan (fetch_log, discovery, requeue, newly-seen) reads the
    #    narrow derivative columns, not the page bytes.
    fetched = _materialize(
        schedule.repartition(n, "url_hash")
        .join(pages.select("url_hash", "html"), "url_hash", "left")
        .withColumn("text", extract_text_udf("html"))
        .withColumn("outlinks", outlinks_udf("html", "url"))
        .withColumn(
            "bytes", F.coalesce(F.length("html"), F.lit(0)).cast("long")
        )
        .withColumn("is_fetched", F.col("html").isNotNull())
        .drop("html")
    )
    # fetch_log stays LAZY: it is a pure narrow projection of the checkpoint
    # just pinned above (spark_partition_id is stable over checkpointed
    # blocks, every other column deterministic), so each consumer — the
    # snapshot commit, the metrics sink, a caller's digest — pays one cheap
    # partition-local rescan instead of the round paying an extra eager job.
    fetch_log = fetched.select(
        F.lit(batch_id).cast("long").alias("batch_id"),
        F.spark_partition_id().alias("partition_id"),
        "url_hash",
        "host",
        F.when(~F.col("is_fetched"), F.lit("missing"))
        .otherwise(F.lit("fetched"))
        .alias("status"),
        "bytes",
        F.xxhash64("text").alias("text_hash"),
    )

    # 7. discovery: outlinks of fetched pages → frontier rows at depth+1
    #    (already extracted pre-checkpoint; this is a pure explode)
    discovered = (
        fetched.filter(F.col("is_fetched") & (F.col("depth") < config.max_depth))
        .select(
            F.explode("outlinks").alias("url"),
            F.col("priority").alias("parent_priority"),
            F.col("depth").alias("parent_depth"),
        )
    )
    # jvm_fast=False: discovered is explode(outlinks_udf(html)) — the split's
    # two source scans would run the HTML outlink-extraction UDF twice
    new_frontier_rows = (
        with_canonical(discovered, jvm_fast=False)
        .withColumn("priority", F.col("parent_priority"))
        .withColumn("depth", (F.col("parent_depth") + 1).cast("int"))
        .withColumn("salt", F.lit(0).cast("int"))
        .withColumn("discovered_batch", F.lit(batch_id).cast("long"))
        .withColumn("attempt", F.lit(0).cast("int"))
    )

    # 8. state update with retry semantics (reference re-queues failures):
    #    done = fetched OR attempts exhausted → seen; failed-with-budget-left
    #    → requeued at attempt+1. Semantics are EXACTLY
    #      seen'     = seen ∪ done
    #      frontier' = dedup(frontier ∖ scheduled ∪ discovered ∪ requeued)
    #                  ∖ seen'
    #    decomposed so the big tables move zero bytes: the schedule removal
    #    is an anti-probe of each stored segment (co-partitioned, schedule
    #    side tiny); discovered∪requeued become a deduped, seen-filtered,
    #    robots-gated delta (only the delta exchanges); the min-struct
    #    resolve against the segments is a set of co-partitioned left joins.
    done_cond = F.col("is_fetched") | (
        F.col("attempt") + 1 >= F.lit(config.max_attempts)
    )
    mat = _keyed_mat(config, state.workdir)
    # 10. politeness accounting reads only the pinned schedule; the
    #     newly-seen segment reads only the pinned fetch, its keys routed by
    #     their TRUE (host_bucket, salt) — the slot a future frontier row for
    #     the url lands in. Two independent small jobs — overlapped, because
    #     run serially each costs a fixed driver round-trip that never
    #     scales with cores (the measured non-scaling term of the strong
    #     pair; see state.materialize_many).
    sched_counts = schedule.groupBy("host").agg(F.count(F.lit(1)).alias("scheduled"))
    newly_seen_seg, host_state = materialize_many([
        lambda: mat(
            _routed(fetched.filter(done_cond), state.salts).withColumn(
                "first_batch", F.lit(batch_id).cast("long")
            )
        ),
        lambda: _materialize(
            update_host_state(state.host_state, sched_counts, config.policy)
        ),
    ])
    # skip the segment and the sketch delta when nothing became seen this
    # round (drained frontier / all fetches failed with attempts left): an
    # empty segment adds a useless probe to every later anti-join, an empty
    # sketch write a files-less directory to every membership side-read.
    # The segment is checkpointed, so the probe is a partition-local scan.
    have_newly_seen = not newly_seen_seg.isEmpty()
    seen = state.seen
    if have_newly_seen:
        seen = seen.append(newly_seen_seg).maybe_compact(
            config.max_segments, materializer=mat
        )

    requeued = fetched.filter(~done_cond).select(
        "url",
        "url_norm",
        "url_hash",
        "host",
        host_bucket_col(F.col("host")).alias("host_bucket"),
        "priority",
        "depth",
        F.lit(batch_id).cast("long").alias("discovered_batch"),
        (F.col("attempt") + 1).cast("int").alias("attempt"),
    )
    # delta rows get their STABLE salt (function of url_norm + the static
    # table — a requeued url lands back in exactly its old (hb, salt) slot)
    delta = assign_salts_static(
        new_frontier_rows.select(
            *[c for c in FRONTIER.fieldNames() if c != "salt"]
        ).unionByName(requeued),
        state.salts,
    )
    # delta is O(discovered + requeued) and pays ONE small exchange, into
    # the state layout: the within-batch dedup then groups in place, and the
    # seen anti-probe below and the resolve are co-partitioned with the
    # stored tables. The big tables never move.
    delta = dedup_within_batch(
        _frontier_cols(delta).repartition(n, *FRONTIER_KEY),
        extra_keys=FRONTIER_KEY,
    )
    delta_plan = insertion_gate(delta, state.host_state)  # never insert dead rows

    # 9. the frontier delta pin and the sketch delta write are independent:
    #    run them CONCURRENTLY. The sketch delta is written straight from the
    #    pinned newly-seen segment — its layout is the sketch's bucketing.
    sketch = state.sketch
    thunks = [lambda: mat(seen.anti_probe(delta_plan), repartition=False)]
    if sketch is not None and have_newly_seen:
        sketch_path = os.path.join(state.workdir, f"sketch_delta_{batch_id:06d}")
        thunks.append(
            lambda: write_sketch_delta(
                newly_seen_seg, sketch_path, sketch, assume_keyed_layout=True
            )
        )
    delta, *sketch_out = materialize_many(thunks)
    if sketch_out:
        sketch = sketch_out[0]
        if len(sketch.paths) > config.max_segments:
            old_paths = sketch.paths
            sketch = compact_sketch(
                spark, sketch, os.path.join(state.workdir, f"sketch_base_{batch_id:06d}")
            )
            import shutil

            for p in old_paths:  # reclaim workdir deltas; never touch the
                if p.startswith(state.workdir):  # store (resume points there)
                    shutil.rmtree(p, ignore_errors=True)

    # schedule removal: anti-probe each stored segment with the scheduled
    # keys brought into the frontier layout — co-partitioned, zero exchange
    # and zero sort on the stored side (segments are sorted on join_cols)
    sched_keys = _routed(schedule, state.salts).repartition(n, *FRONTIER_KEY)
    remaining = SegmentedTable(
        tuple(
            seg.join(sched_keys, state.frontier.join_cols, "left_anti")
            for seg in state.frontier.segments
        ),
        n_parts=n,
        key=state.frontier.key,
    )
    updated_plans, winners = resolve_frontier_delta(remaining, delta)
    # the rewritten segments and the winners segment are disjoint-keyed and
    # independent — pin them concurrently (each is a small partition-local
    # job; serialized, this loop was another flat ~4 s/loop of the pair)
    segments = materialize_many(
        [(lambda p=p: mat(p, repartition=False)) for p in updated_plans]
        + [lambda: mat(winners, repartition=False)]
    )
    frontier = SegmentedTable(
        tuple(segments), n_parts=n, key=state.frontier.key
    ).maybe_compact(config.max_segments, materializer=mat)

    new_state = CrawlState(
        frontier=frontier,
        seen=seen,
        host_state=host_state,
        sketch=sketch,
        batch_id=batch_id,
        workdir=state.workdir,
        k_cap=state.k_cap,
        salts=state.salts,
    )

    if config.durable_state:
        # every new segment is eagerly written above, so the old round's
        # bucketed tables (rewritten frontier segments; compacted-away seen
        # segments; an empty newly-seen segment never appended) are
        # reclaimable now — catalog entries AND files
        from .state import drop_durable_segments

        drop_durable_segments(spark, state.frontier.segments, frontier.segments)
        drop_durable_segments(
            spark, state.seen.segments + (newly_seen_seg,), seen.segments
        )

    if store is not None:
        new_state = commit_state(spark, new_state, schedule, fetch_log, store)
    return new_state, schedule, fetch_log


def mark_seen(
    spark: SparkSession,
    state: CrawlState,
    keys_df: DataFrame,
    config: CrawlConfig,
) -> CrawlState:
    """Pre-seed the URL-seen set, coherent across EVERY representation the
    state carries — the additive dual of :func:`forget_urls`. Use cases:
    continuing someone else's crawl, or seeding straight from a
    Common-Crawl CDX index (``spiderspark.warc.warc_index`` emits exactly
    the required key shape): ``mark_seen(spark, state,
    index.select("url_hash", "url_norm", "host"), config)``.

    ``keys_df``: url_hash, url_norm, host. Semantics are EXACTLY the
    crawl_round newly-seen path: the keys are routed by their
    (host_bucket, salt), already-seen keys are dropped (segments stay
    disjoint), the remainder is appended to the exact table, folded into
    the sketch delta (bloom AND cuckoo — insertion is additive), and
    matching frontier rows are PRUNED through the same co-partitioned
    anti-joins as schedule removal, so state never carries rows that can no
    longer schedule. Only a sketch-tier state carries a sketch; a
    mirror-tier state writes none.

    Cost/scale: O(keys) exchange to route the batch; stored segments are
    probed/rewritten with zero exchange and zero sort on their side."""
    mat = _keyed_mat(config, state.workdir)
    keys = _pinned_keys(
        _routed(keys_df, state.salts).withColumn(
            "first_batch", F.lit(state.batch_id).cast("long")
        ),
        state.seen.n_parts,
    )
    # genuinely-new keys only (the layout survives the anti-joins)
    new_seg = mat(state.seen.anti_probe(keys), repartition=False)
    if new_seg.isEmpty():
        return state
    seen = state.seen.append(new_seg).maybe_compact(
        config.max_segments, materializer=mat
    )

    sketch = state.sketch
    if sketch is not None:
        import uuid

        # uuid suffix: repeated seed/forget cycles must never reuse a delta
        # path (write_sketch_delta overwrites)
        sketch_path = os.path.join(
            state.workdir, f"sketch_seed_{uuid.uuid4().hex[:8]}"
        )
        sketch = write_sketch_delta(
            new_seg, sketch_path, sketch, assume_keyed_layout=True
        )

    # prune now-unschedulable frontier rows (same co-partitioned anti-join
    # class as crawl_round's schedule removal)
    fr_keys = new_seg.select(*state.frontier.join_cols)
    segments = materialize_many(
        [
            (lambda p=p: mat(
                p.join(fr_keys, state.frontier.join_cols, "left_anti"),
                repartition=False,
            ))
            for p in state.frontier.segments
        ]
    )
    frontier = SegmentedTable(
        tuple(segments), n_parts=state.frontier.n_parts, key=state.frontier.key
    )
    return replace(state, seen=seen, sketch=sketch, frontier=frontier)


def forget_urls(
    spark: SparkSession,
    state: CrawlState,
    keys_df: DataFrame,
    config: CrawlConfig,
) -> CrawlState:
    """TTL expiry, coherent across EVERY seen representation the state
    carries: the exact seen table and the sketch tier's cuckoo sketch.
    After this, re-injecting the urls into the frontier (caller's move —
    fresh priority/depth via ``seeds_to_frontier`` + ``frontier.append``,
    see tests/test_cuckoo_delete.py) makes the same crawl loop schedule
    them again. Deleting from only ONE representation leaves the other
    stale: the exact table's anti-join would still suppress the url (a
    silent no-op re-crawl), and a stale sketch entry keeps its filter slot
    and sends the url through the exact anti-join as a maybe every round —
    which is why this is one call.

    ``keys_df``: url_hash, url_norm, host (the shape a schedule row
    carries). Only urls KNOWN to have entered the seen set may be passed
    (the cuckoo deletion precondition — sketch.CuckooFilter.delete). A
    bloom sketch cannot unset bits, so a sketch-tier state carrying one
    refuses loudly: sketch-tier TTL deployments configure
    ``CrawlConfig(sketch_kind="cuckoo")``. The mirror tier keeps no
    sketch, so it expires urls under either ``sketch_kind``.

    Cost/scale: O(keys) exchange to route the key batch; every stored
    segment is rewritten through a co-partitioned LEFT-ANTI join — zero
    exchange and zero sort on the stored side, the same class of pass as a
    compaction, amortized over the TTL batch."""
    import uuid

    from .frontier import sketch_delete

    if state.sketch is not None and state.sketch.kind != "cuckoo":
        raise ValueError(
            "forget_urls: the state carries a bloom sketch, which cannot "
            "unset bits — configure CrawlConfig(sketch_kind='cuckoo') for "
            "re-crawl-after-TTL deployments (or the default mirror tier, "
            "which keeps no sketch)"
        )
    mat = _keyed_mat(config, state.workdir)
    keys = _pinned_keys(_routed(keys_df, state.salts), state.seen.n_parts)
    seen = SegmentedTable(
        tuple(
            mat(seg.join(keys, list(_STATE_SORT), "left_anti"), repartition=False)
            for seg in state.seen.segments
        ),
        n_parts=state.seen.n_parts, key=state.seen.key,
    )

    sketch = state.sketch
    if sketch is not None:
        out = os.path.join(state.workdir, f"sketch_ttl_{uuid.uuid4().hex[:8]}")
        sketch = sketch_delete(spark, sketch, keys, out)

    return replace(state, seen=seen, sketch=sketch)


def commit_state(
    spark: SparkSession,
    state: CrawlState,
    schedule: DataFrame,
    fetch_log: DataFrame,
    store: SnapshotStore,
) -> CrawlState:
    """S5/S6: atomic snapshot of the full state + this round's outputs."""
    tables = {
        "frontier": state.frontier.df(spark, FRONTIER),
        "seen": state.seen.df(spark, SEEN),
        "host_state": state.host_state,
        "schedule": schedule,
        "fetch_log": fetch_log,
        "salt_table": state.salts,
    }
    partition_by = {}
    if state.sketch is not None:
        tables["seen_sketch"] = sketch_df(spark, state.sketch)
        partition_by["seen_sketch"] = ["bucket"]
    snapshot_id = store.commit(
        tables, state.batch_id, store.head(), partition_by=partition_by
    )
    return replace(state, snapshot_id=snapshot_id)


def _resume_sketch(
    spark: SparkSession,
    store: SnapshotStore,
    snapshot_id: int,
    tables: dict,
    seen: SegmentedTable,
    config: CrawlConfig,
    workdir: str,
) -> SketchRef:
    """The sketch tier's URL-seen sketch for a resumed state: the committed
    ``seen_sketch`` rows when the snapshot has them, else (a mirror-tier
    snapshot keeps no sketch) a build from the resumed seen table, whose
    segment is already bucketed by the sketch routing."""
    n = config.state_buckets
    if "seen_sketch" not in tables:
        sketch = _new_sketch(config)
        if seen.segments[0].isEmpty():  # resume pins exactly one segment
            return sketch  # never write a files-less delta directory
        return write_sketch_delta(
            seen.segments[0],
            os.path.join(workdir, "sketch_base_resume"),
            sketch,
            assume_keyed_layout=True,
        )
    path = store.table_path(snapshot_id, "seen_sketch")
    sk_df = spark.read.parquet(path)
    # bucket = pmod(hash(routing cols), n_buckets): a sketch routed on other
    # columns (snapshots from before the scheduler-layout routing carry no
    # routing column and route on url_hash) or built for another bucket
    # count would read the WRONG bits — silent false negatives
    missing = [c for c in ("routing", "kind") if c not in sk_df.columns]
    if missing:
        raise ValueError(
            f"resume: snapshot {snapshot_id}'s seen_sketch has no "
            f"{' or '.join(missing)} column, so it is not routed on "
            f"{FRONTIER_KEY}; it cannot be resumed"
        )
    first = sk_df.select(
        "n_bits", "n_hashes", "n_buckets", "routing", "kind"
    ).head(1)
    if not first:
        return _new_sketch(config)
    row = first[0]
    routing = tuple(row["routing"].split(","))
    if routing != FRONTIER_KEY:
        raise ValueError(
            f"resume: snapshot {snapshot_id}'s seen_sketch is routed on "
            f"{routing}, not on {FRONTIER_KEY}; it cannot be resumed"
        )
    if int(row["n_buckets"]) != n:
        raise ValueError(
            f"resume: snapshot {snapshot_id}'s seen_sketch has "
            f"n_buckets={row['n_buckets']} but config.state_buckets={n}; "
            "resume with the original value"
        )
    return SketchRef(
        (path,), n, int(row["n_bits"]), int(row["n_hashes"]), routing,
        str(row["kind"]),
    )


def resume(spark: SparkSession, store: SnapshotStore, config: CrawlConfig) -> CrawlState:
    """§3.3 exact resume: validate lineage, reload the state tables in their
    layout, point the sketch tier's sketch at the stored bucket-partitioned
    rows (NO driver rebuild; see ``_resume_sketch``), continue at batch
    N+1. Either tier resumes a snapshot committed under the other: the exact
    seen table is the same, and only the sketch tier keeps a sketch.

    Raises ``ValueError`` when the store has no snapshot, when lineage
    validation fails, and for snapshots this layout cannot read: a ``seen``
    table without (host_bucket, salt), or a ``seen_sketch`` not routed on
    them or built for another ``state_buckets``."""
    snapshot_id = store.head()
    if snapshot_id is None:
        raise ValueError("resume: the store has no snapshot to resume from")
    if not store.validate(snapshot_id, spark):
        raise ValueError(f"resume: snapshot {snapshot_id} failed lineage validation")
    m = store.manifest(snapshot_id)
    n = config.state_buckets
    seen_df = store.read(spark, snapshot_id, "seen")
    missing = [c for c in FRONTIER_KEY if c not in seen_df.columns]
    if missing:
        raise ValueError(
            f"resume: snapshot {snapshot_id}'s seen table has no "
            f"{' or '.join(missing)} column: it was committed before the seen "
            "set moved to the scheduler layout and cannot be resumed"
        )
    seen = SegmentedTable.from_df(seen_df, n_parts=n, key=FRONTIER_KEY)
    workdir = tempfile.mkdtemp(prefix="spiderspark-state-")
    sketch = (
        _resume_sketch(spark, store, snapshot_id, m["tables"], seen, config, workdir)
        if config.seen_tier == "sketch"
        else None
    )
    host_state = _materialize(store.read(spark, snapshot_id, "host_state"))
    caps = host_state.agg(F.max("capacity").alias("m")).collect()
    k_cap = int(
        max(config.policy.default_budget, (caps[0]["m"] or 0) if caps else 0)
    )
    salts = _materialize(store.read(spark, snapshot_id, "salt_table"))
    return CrawlState(
        frontier=SegmentedTable.from_df(
            store.read(spark, snapshot_id, "frontier"),
            n_parts=n,
            key=FRONTIER_KEY,
        ),
        seen=seen,
        host_state=host_state,
        sketch=sketch,
        batch_id=int(m["batch_id"]),
        workdir=workdir,
        k_cap=k_cap,
        salts=salts,
        snapshot_id=snapshot_id,
    )


def crawl(
    spark: SparkSession,
    seeds: DataFrame,
    pages: DataFrame,
    robots: DataFrame | None = None,
    rounds: int = 3,
    config: CrawlConfig | None = None,
    store: SnapshotStore | None = None,
    state: CrawlState | None = None,
):
    """Convenience driver: run ``rounds`` rounds; returns (state, schedules,
    fetch_logs) with schedules as a list of per-round DataFrames."""
    config = config or CrawlConfig()
    # key + store the pages side ONCE in the keyed layout: the fetch join
    # probes it every round with zero exchange on the corpus side
    pages_k = keyed_pages(pages, n_parts=config.state_buckets)
    if state is None:
        state = init_state(spark, seeds, robots, config)
    schedules, logs = [], []
    for _ in range(rounds):
        state, schedule, fetch_log = crawl_round(spark, state, pages_k, config, store)
        schedules.append(schedule)
        logs.append(fetch_log)
    return state, schedules, logs
