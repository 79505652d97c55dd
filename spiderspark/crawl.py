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
  seen set stays keyed by url_hash. Every per-round touch of the big state
  — schedule removal, delta resolve, seen anti-probes — plans as a
  co-partitioned SMJ or broadcast probe with ZERO exchange and ZERO sort on
  the stored side. Network per round is O(delta + schedule), not O(state).
- Scheduling itself never exchanges the candidates either: ONE partition-
  local pass (frontier.membership_prefix_topk) fuses sketch membership with
  the exact per-host budget pre-selection; only the O(hosts × budget) kept
  set reaches the final window. The classic two-phase window remains as the
  exact-tier-only fallback (no sketch yet / use_bloom=False).
- The URL-seen sketch is distributed (frontier.SketchRef): membership is a
  partition-local side-read of only the task's bucket slice (bucket routing
  == the frontier partitioning, so salting also evens slice sizes under
  Zipf skew); updates are bucket-partitioned delta directories; compaction
  is a distributed groupBy(bucket) merge. Bloom (default) or cuckoo
  (deletion support) tiers behind the same rows. Nothing sketch-shaped ever
  lives on the driver or in a broadcast. Only ``seen_tier="sketch"`` keeps
  a sketch; the default mirror tier filters through its exact mirror.
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
    dedup_against_seen,
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
    per_host_topk,
    per_host_topk_final,
    static_salt_table,
    to_schedule,
)
from .schemas import FRONTIER, HOST_STATE, SEEN, SEEN_SCHED
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
    # count: bucket = pmod(hash(url_hash), state_buckets) equals the stored
    # partition id, so membership tasks read exactly one sketch slice.
    # Sandbox default sized for local[32]; cluster: O(total cores), fixed
    # for the lifetime of a crawl.
    state_buckets: int = 32
    # the sketch knobs (bloom_capacity_per_bucket, bloom_fpp, use_bloom,
    # sketch_kind) apply only under seen_tier="sketch": the mirror tier
    # builds no sketch (it only keeps a committed one when resuming a
    # snapshot that has no mirror, unless use_bloom=False — see resume)
    bloom_capacity_per_bucket: int = 1 << 16
    bloom_fpp: float = 0.01
    skew_threshold: int = 50_000
    # sketch tier only: False runs it exact-only (no sketch; the classic
    # anti-join + two-phase window)
    use_bloom: bool = True
    # how per-round seen filtering runs over the stored frontier segments:
    # - "mirror" (default; round-5 measured winner): the seen set keeps an
    #   EXACT second copy in the scheduler layout ((host_bucket, salt)
    #   partitioned, sorted on (..., url_hash)), so the filter is one
    #   co-partitioned zero-exchange/zero-sort LEFT-ANTI merge join —
    #   entirely JVM-side (the fused bloom pass's dominant cost was the
    #   JVM→Python Arrow IPC crossing of every candidate, measured 85% of
    #   the stage; 32M/32: schedule stage 19-23 s → 5.4-9 s, same digest).
    # - "sketch": the bloom/cuckoo membership + guarded-prefix pre-selection
    #   (frontier.membership_prefix_topk) — reads ~1.2 bits per seen key
    #   instead of the mirror's 16 key bytes: the right tier when the seen
    #   set dwarfs what per-task sequential reads should pay per round. The
    #   only tier that builds a sketch.
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
    # how the budget-preselected kept keys rejoin the big frontier segment:
    # "layout" (default — kept keys repartition on the frontier routing and
    # join on (host_bucket, salt, url_hash): layout-satisfied, the big side
    # moves zero bytes, nothing is ever driver-sized, one fewer driver
    # round-trip than a broadcast build; ALSO measured fastest at sandbox
    # scale: 219k vs 200k URLs/s best-of interleaved at 2M/32 cores) or
    # "broadcast" (kept set must fit a broadcast; kept for A/B). See
    # frontier.membership_prefix_topk.
    kept_join: str = "layout"
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
    seen: SegmentedTable
    host_state: DataFrame
    # the sketch tier's: None with use_bloom=False and under the mirror
    # tier, unless that tier resumed a snapshot with no mirror (see resume)
    sketch: SketchRef | None
    batch_id: int
    workdir: str
    k_cap: int
    # per-crawl STATIC (host, n_salts) table: salt must be a stable function
    # of the url for the crawl's lifetime so (host_bucket, salt) can be the
    # frontier's physical partitioning AND the sketch routing. The schedule
    # is invariant to the salting scheme, so a stale size estimate costs
    # balance, never correctness. Re-salting requires a sketch rebuild.
    salts: DataFrame | None = None
    snapshot_id: int | None = None
    # the seen set's scheduler-layout mirror (seen_tier="mirror"):
    # key = FRONTIER_KEY, rows (host_bucket, salt, url_hash) — None when the
    # tier is off or the snapshot predates it (select_round then falls back
    # to the sketch / classic branches)
    seen_sched: SegmentedTable | None = None


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


def _keyed_mat(config: CrawlConfig, workdir: str):
    """The state-segment materializer for this crawl: in-memory layout pin
    (default fast path) or durable bucketed tables (fault-tolerant mode)."""
    if not config.durable_state:
        def mat(df, n_parts=None, key="url_hash", repartition=True, sort=None):
            return materialize_keyed(df, n_parts, key, repartition, sort)
        return mat
    from .state import materialize_keyed_durable

    base = os.path.join(workdir, "segments")

    def mat(df, n_parts=None, key="url_hash", repartition=True, sort=None):
        return materialize_keyed_durable(
            df, n_parts or config.state_buckets, key, repartition, sort, base
        )

    return mat


def _wants_sketch(config: CrawlConfig) -> bool:
    """Only the sketch tier reads the URL-seen sketch (select_round's mirror
    branch never does), so only it builds one."""
    return config.seen_tier == "sketch" and config.use_bloom


def _new_sketch(config: CrawlConfig) -> SketchRef:
    return SketchRef.create(
        config.state_buckets, config.bloom_capacity_per_bucket, config.bloom_fpp,
        routing=FRONTIER_KEY, kind=config.sketch_kind,
    )


def _frontier_cols(df: DataFrame) -> DataFrame:
    return df.select(*[f.name for f in FRONTIER.fields])


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
    frontier0 = SegmentedTable.empty(n, key=FRONTIER_KEY)
    seg0 = _keyed_mat(config, workdir)(
        dedup_within_batch(_frontier_cols(rows)),
        n_parts=n,
        key=FRONTIER_KEY,
        sort=frontier0.sort_cols,
    )
    frontier = frontier0.append(seg0)
    sketch = _new_sketch(config) if _wants_sketch(config) else None
    caps = host_state.agg(F.max("capacity").alias("m")).collect()
    k_cap = int(
        max(config.policy.default_budget, (caps[0]["m"] or 0) if caps else 0)
    )
    return CrawlState(
        frontier=frontier,
        seen=SegmentedTable.empty(n),
        host_state=host_state,
        sketch=sketch,
        batch_id=0,
        workdir=workdir,
        k_cap=k_cap,
        salts=salts,
        seen_sched=(
            SegmentedTable.empty(n, key=FRONTIER_KEY)
            if config.seen_tier == "mirror"
            else None
        ),
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
    the EXACT code path ``crawl_round`` runs, fused tier included.

    Mirror tier (default): each gated segment anti-joins the seen set's
    scheduler-layout mirror — co-partitioned SMJ, zero exchange and zero
    sort on BOTH sides, no Python crossing — then phase-1 ranks within
    (host_bucket, salt, host), layout-satisfied (no exchange) with the
    k_cap literal keeping the WindowGroupLimit bounded sort; only the
    O(hosts × budget) phase-1 winners reach the final window.

    Sketch tier: politeness/robots gate each stored segment in place
    (broadcast joins — layout preserved), then ONE partition-local pass
    fuses bloom membership with the exact guarded-prefix budget
    pre-selection (frontier.membership_prefix_topk) — the big frontier
    segments are never exchanged AND never fully ranked; only the kept set
    moves: the maybe-seen sliver to the seen layout for the exact
    anti-join, the survivors into the final per-host window. The tier of
    choice when the seen set dwarfs per-round sequential-read budgets
    (~1.2 bits vs 16 bytes read per seen key)."""
    if config.seen_tier == "mirror" and state.seen_sched is not None:
        from pyspark.sql import Window

        from .schedule import order_cols

        kept_parts = []
        for seg in state.frontier.segments:
            budgeted = join_host_state(seg, state.host_state, config.policy)
            gated = robots_gate(budgeted).filter(F.col("host_budget") > 0)
            unseen = state.seen_sched.anti_probe(gated)
            w1 = Window.partitionBy("host_bucket", "salt", "host").orderBy(
                *order_cols()
            )
            kept_parts.append(
                unseen.withColumn("_r1", F.row_number().over(w1))
                .filter(
                    (F.col("_r1") <= F.lit(int(state.k_cap)))
                    & (F.col("_r1") <= F.col("host_budget"))
                )
                .drop("_r1")
            )
        if not kept_parts:
            return spark.createDataFrame([], FRONTIER).withColumn(
                "host_budget", F.lit(0).cast("long")
            )
        kept = kept_parts[0]
        for p in kept_parts[1:]:
            kept = kept.unionByName(p)
        return per_host_topk_final(kept, "host_budget", k_cap=state.k_cap)
    use_fused = state.sketch is not None and len(state.sketch.paths) > 0
    if use_fused:
        survivor_parts = []
        for seg in state.frontier.segments:
            budgeted = join_host_state(seg, state.host_state, config.policy)
            gated = robots_gate(budgeted).filter(F.col("host_budget") > 0)
            # join_back=seg: the thin pass reads the gated view once; the
            # kept keys rejoin the CHECKPOINTED segment, so the big side
            # never pays a second budget+robots pass — those columns are
            # re-derived on the tiny kept set below
            kept = _materialize(
                membership_prefix_topk(
                    gated, state.sketch, join_back=seg,
                    join_strategy=config.kept_join,
                )
            )
            definite = kept.filter(~F.col("_maybe")).drop("_maybe")
            sliver = (
                kept.filter(F.col("_maybe"))
                .drop("_maybe")
                .repartition(state.seen.n_parts, "url_hash")
            )
            survivor_parts.append(
                definite.unionByName(state.seen.anti_probe(sliver))
            )
        survivors = survivor_parts[0]
        for p in survivor_parts[1:]:
            survivors = survivors.unionByName(p)
        survivors = robots_gate(
            join_host_state(survivors, state.host_state, config.policy)
        ).filter(F.col("host_budget") > 0)
        selected = per_host_topk_final(survivors, "host_budget", k_cap=state.k_cap)
    else:
        # exact-tier-only fallback (use_bloom=False, or round 1 before any
        # delta exists): candidates pay one O(candidates) exchange to the
        # seen layout for the anti-join, then the classic two-phase window
        handles: list[DataFrame] = []
        candidates = _materialize(
            dedup_against_seen(
                spark, state.frontier, state.seen, state.sketch,
                persist_handles=handles,
            )
        )
        for h in handles:
            h.unpersist()
        budgeted = join_host_state(candidates, state.host_state, config.policy)
        gated = robots_gate(budgeted).filter(F.col("host_budget") > 0)
        selected = per_host_topk(gated, "host_budget", k_cap=state.k_cap)
    return selected


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
    #     newly-seen segment reads only the pinned fetch. Two independent
    #     small jobs — overlapped, because run serially each costs a fixed
    #     driver round-trip that never scales with cores (the measured
    #     non-scaling term of the strong pair; see state.materialize_many).
    sched_counts = schedule.groupBy("host").agg(F.count(F.lit(1)).alias("scheduled"))
    newly_seen_seg, host_state = materialize_many([
        lambda: mat(
            fetched.filter(done_cond).select(
                "url_hash", F.lit(batch_id).cast("long").alias("first_batch")
            ),
            n_parts=n,
        ),
        lambda: _materialize(
            update_host_state(state.host_state, sched_counts, config.policy)
        ),
    ])
    seen = state.seen.append(newly_seen_seg).maybe_compact(
        config.max_segments,
        materializer=lambda df: mat(df, n_parts=n),
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
    # delta is O(discovered + requeued): it pays two small exchanges — the
    # url_hash layout for the within-batch dedup + seen anti-probe, then the
    # frontier (hb, salt) layout for the resolve. The big tables never move.
    delta = dedup_within_batch(
        _frontier_cols(delta).repartition(n, "url_hash")
    )
    delta_plan = insertion_gate(delta, state.host_state)  # never insert dead rows

    # 9. sketch'/mirror' inputs: this round's newly-seen keys routed by
    #    their TRUE (host_bucket, salt) — the same routing a future frontier
    #    row for the url will carry into its membership task / its mirror
    #    anti-join partition. Prepared here so the mirror segment pin and
    #    the sketch delta write (both independent of the frontier delta) can
    #    run CONCURRENTLY with the round's dominant job below.
    sketch = state.sketch
    seen_sched = state.seen_sched
    # skip them when nothing became seen this round (drained frontier / all
    # fetches failed with attempts left): an empty write would leave a
    # files-less directory and add a useless path to every future membership
    # side-read. newly_seen_seg is checkpointed, so the emptiness probe is a
    # cheap partition-local scan.
    have_newly_seen = not newly_seen_seg.isEmpty()
    newly_routed = None
    if (sketch is not None or seen_sched is not None) and have_newly_seen:
        newly_routed = assign_salts_static(
            fetched.filter(done_cond).select(
                "url_hash", "url_norm", "host",
                host_bucket_col(F.col("host")).alias("host_bucket"),
            ),
            state.salts,
        ).repartition(n, *FRONTIER_KEY)

    thunks = [
        lambda: mat(
            seen.anti_probe(_frontier_cols(delta_plan)),
            n_parts=n,
            key=FRONTIER_KEY,
            sort=state.frontier.sort_cols,
        )
    ]
    mirror_idx = sketch_idx = None
    if seen_sched is not None and have_newly_seen:
        mirror_idx = len(thunks)
        thunks.append(
            lambda: mat(
                newly_routed.select("host_bucket", "salt", "url_hash"),
                n_parts=n,
                key=FRONTIER_KEY,
                repartition=False,
                sort=seen_sched.sort_cols,
            )
        )
    if sketch is not None and have_newly_seen:
        sketch_path = os.path.join(state.workdir, f"sketch_delta_{batch_id:06d}")
        # a resumed pre-schema sketch may route by url_hash — re-key for it
        for_sketch = (
            newly_routed
            if tuple(sketch.routing) == FRONTIER_KEY
            else newly_routed.repartition(n, *sketch.routing)
        )
        sketch_idx = len(thunks)
        thunks.append(
            lambda: write_sketch_delta(
                for_sketch, sketch_path, sketch, assume_keyed_layout=True
            )
        )
    results = materialize_many(thunks)
    delta = results[0]
    if mirror_idx is not None:
        seen_sched = seen_sched.append(results[mirror_idx]).maybe_compact(
            config.max_segments,
            materializer=lambda df: mat(
                df, n_parts=n, key=FRONTIER_KEY, sort=state.seen_sched.sort_cols
            ),
        )
    if sketch_idx is not None:
        sketch = results[sketch_idx]
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
    sched_keys = (
        assign_salts_static(
            schedule.select(
                "url_hash", "url_norm", "host",
                host_bucket_col(F.col("host")).alias("host_bucket"),
            ),
            state.salts,
        )
        .select(*state.frontier.join_cols)
        .repartition(n, *state.frontier.keys)
    )
    remaining = SegmentedTable(
        tuple(
            seg.join(sched_keys, state.frontier.join_cols, "left_anti")
            for seg in state.frontier.segments
        ),
        n_parts=n,
        key=state.frontier.key,
    )
    updated_plans, winners = resolve_frontier_delta(remaining, delta)
    f_sort = state.frontier.sort_cols
    # the rewritten segments and the winners segment are disjoint-keyed and
    # independent — pin them concurrently (each is a small partition-local
    # job; serialized, this loop was another flat ~4 s/loop of the pair)
    segments = materialize_many(
        [
            (lambda p=p: mat(p, n_parts=n, key=FRONTIER_KEY, repartition=False, sort=f_sort))
            for p in updated_plans
        ]
        + [lambda: mat(winners, n_parts=n, key=FRONTIER_KEY, repartition=False, sort=f_sort)]
    )
    frontier = SegmentedTable(
        tuple(segments), n_parts=n, key=state.frontier.key
    ).maybe_compact(
        config.max_segments,
        materializer=lambda df: mat(df, n_parts=n, key=FRONTIER_KEY, sort=f_sort),
    )

    new_state = CrawlState(
        frontier=frontier,
        seen=seen,
        host_state=host_state,
        sketch=sketch,
        batch_id=batch_id,
        workdir=state.workdir,
        k_cap=state.k_cap,
        salts=state.salts,
        seen_sched=seen_sched,
    )

    if config.durable_state:
        # every new segment is eagerly written above, so the old round's
        # bucketed tables (rewritten frontier segments; compacted-away seen
        # segments) are reclaimable now — catalog entries AND files
        from .state import drop_durable_segments

        drop_durable_segments(spark, state.frontier.segments, frontier.segments)
        drop_durable_segments(spark, state.seen.segments, seen.segments)
        if state.seen_sched is not None and seen_sched is not None:
            drop_durable_segments(
                spark, state.seen_sched.segments, seen_sched.segments
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
    crawl_round newly-seen path: already-seen keys are dropped (segments
    stay disjoint), the remainder is appended to the exact table, routed
    into the scheduler-layout mirror, folded into the sketch delta (bloom
    AND cuckoo — insertion is additive), and matching frontier rows are
    PRUNED through the same co-partitioned anti-joins as schedule removal,
    so state never carries rows that can no longer schedule. Only a
    sketch-tier state carries a sketch; a mirror-tier state writes none.

    Cost/scale: O(keys) exchange to route the batch; stored segments are
    probed/rewritten with zero exchange and zero sort on their side."""
    mat = _keyed_mat(config, state.workdir)
    n = state.seen.n_parts
    batch_id = state.batch_id

    keys = keys_df.select("url_hash", "url_norm", "host").dropDuplicates(
        ["url_hash"]
    )
    keyed = materialize_keyed(keys, n_parts=n, key=state.seen.key)
    # genuinely-new keys only (keyed layout survives the anti-joins)
    new_keys = mat(
        state.seen.anti_probe(keyed), n_parts=n, repartition=False
    )
    if new_keys.isEmpty():
        return state

    seen = state.seen.append(
        mat(
            new_keys.select(
                "url_hash", F.lit(batch_id).cast("long").alias("first_batch")
            ),
            n_parts=n,
            repartition=False,
            sort=state.seen.sort_cols,
        )
    ).maybe_compact(
        config.max_segments, materializer=lambda df: mat(df, n_parts=n)
    )

    routed = assign_salts_static(
        new_keys.withColumn("host_bucket", host_bucket_col(F.col("host"))),
        state.salts,
    ).repartition(n, *FRONTIER_KEY)

    seen_sched = state.seen_sched
    if seen_sched is not None:
        seen_sched = seen_sched.append(
            mat(
                routed.select("host_bucket", "salt", "url_hash"),
                n_parts=n,
                key=FRONTIER_KEY,
                repartition=False,
                sort=seen_sched.sort_cols,
            )
        ).maybe_compact(
            config.max_segments,
            materializer=lambda df: mat(
                df, n_parts=n, key=FRONTIER_KEY,
                sort=state.seen_sched.sort_cols,
            ),
        )

    sketch = state.sketch
    if sketch is not None:
        import uuid

        # uuid suffix: repeated seed/forget cycles must never reuse a delta
        # path (write_sketch_delta overwrites)
        sketch_path = os.path.join(
            state.workdir, f"sketch_seed_{uuid.uuid4().hex[:8]}"
        )
        for_sketch = (
            routed
            if tuple(sketch.routing) == FRONTIER_KEY
            else routed.repartition(n, *sketch.routing)
        )
        sketch = write_sketch_delta(
            for_sketch, sketch_path, sketch, assume_keyed_layout=True
        )

    # prune now-unschedulable frontier rows (same co-partitioned anti-join
    # class as crawl_round's schedule removal)
    fr_keys = routed.select(*state.frontier.join_cols).repartition(
        n, *state.frontier.keys
    )
    f_sort = state.frontier.sort_cols
    segments = materialize_many(
        [
            (lambda p=p: mat(
                p.join(fr_keys, state.frontier.join_cols, "left_anti"),
                n_parts=n, key=FRONTIER_KEY, repartition=False, sort=f_sort,
            ))
            for p in state.frontier.segments
        ]
    )
    frontier = SegmentedTable(
        tuple(segments), n_parts=n, key=state.frontier.key
    )

    return replace(
        state, seen=seen, seen_sched=seen_sched, sketch=sketch,
        frontier=frontier,
    )


def forget_urls(
    spark: SparkSession,
    state: CrawlState,
    keys_df: DataFrame,
    config: CrawlConfig,
) -> CrawlState:
    """TTL expiry, coherent across EVERY seen representation the state
    carries: the exact url_hash table, the scheduler-layout mirror
    (``seen_tier="mirror"``, the default), and the sketch tier's cuckoo
    sketch. After this, re-injecting the urls into the frontier (caller's
    move — fresh priority/depth via ``seeds_to_frontier`` +
    ``frontier.append``, see tests/test_cuckoo_delete.py) makes the same
    crawl loop schedule them again. Deleting from only ONE representation
    leaves the others stale: the mirror's anti-join would still suppress
    the url (a silent no-op re-crawl), and a stale sketch entry keeps its
    filter slot and sends the url through the exact anti-join as a maybe
    every round — which is why this is one call.

    ``keys_df``: url_hash, url_norm, host (the shape a schedule row
    carries). Only urls KNOWN to have entered the seen set may be passed
    (the cuckoo deletion precondition — sketch.CuckooFilter.delete). A
    bloom sketch cannot unset bits, so a sketch-tier state carrying one
    refuses loudly: sketch-tier TTL deployments configure
    ``CrawlConfig(sketch_kind="cuckoo")`` (or ``use_bloom=False``). The
    mirror tier keeps no sketch, so it expires urls under either
    ``sketch_kind``.

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
            "re-crawl-after-TTL deployments (or use_bloom=False, or the "
            "default mirror tier, which keeps no sketch)"
        )
    mat = _keyed_mat(config, state.workdir)
    n = state.seen.n_parts

    keys_hash = materialize_keyed(
        keys_df.select("url_hash").distinct(), n_parts=n, key=state.seen.key
    )
    seen = SegmentedTable(
        tuple(
            mat(
                seg.join(keys_hash, "url_hash", "left_anti"),
                n_parts=n, key=state.seen.key, repartition=False,
                sort=state.seen.sort_cols,
            )
            for seg in state.seen.segments
        ),
        n_parts=n, key=state.seen.key,
    )

    routed = None
    if state.seen_sched is not None or state.sketch is not None:
        routed = assign_salts_static(
            keys_df.select("url_hash", "url_norm", "host").withColumn(
                "host_bucket", host_bucket_col(F.col("host"))
            ),
            state.salts,
        )

    seen_sched = state.seen_sched
    if seen_sched is not None:
        routed_keys = materialize_keyed(
            routed.select(*seen_sched.sort_cols),
            n_parts=seen_sched.n_parts, key=FRONTIER_KEY,
            sort=seen_sched.sort_cols,
        )
        seen_sched = SegmentedTable(
            tuple(
                mat(
                    seg.join(routed_keys, list(seen_sched.sort_cols), "left_anti"),
                    n_parts=seen_sched.n_parts, key=FRONTIER_KEY,
                    repartition=False, sort=seen_sched.sort_cols,
                )
                for seg in seen_sched.segments
            ),
            n_parts=seen_sched.n_parts,
            key=seen_sched.key,
            id_col=seen_sched.id_col,
        )

    sketch = state.sketch
    if sketch is not None:
        out = os.path.join(state.workdir, f"sketch_ttl_{uuid.uuid4().hex[:8]}")
        sketch = sketch_delete(spark, sketch, routed, out)

    return replace(state, seen=seen, seen_sched=seen_sched, sketch=sketch)


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
    }
    if state.salts is not None:
        tables["salt_table"] = state.salts
    if state.seen_sched is not None:
        tables["seen_sched"] = state.seen_sched.df(spark, SEEN_SCHED)
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
    config: CrawlConfig,
    workdir: str,
) -> SketchRef:
    """The sketch tier's URL-seen sketch for a resumed state: the committed
    ``seen_sketch`` rows when the snapshot has them, else a rebuild from the
    committed ``seen_sched`` mirror (a mirror-tier snapshot keeps no
    sketch), so switching tiers never silently drops to the exact-only
    branch."""
    n = config.state_buckets
    if "seen_sketch" in tables:
        path = store.table_path(snapshot_id, "seen_sketch")
        sk_df = spark.read.parquet(path)
        # pre-schema snapshots (before routing/kind rode the rows) fall back
        # to the only semantics they could have had — url_hash routing,
        # bloom filters — mirroring the manifest-schema fallback in
        # snapshots.py; selecting absent columns would fail the resume loudly
        # for data that is perfectly resumable
        have = set(sk_df.columns)
        sel = ["n_bits", "n_hashes", "n_buckets"] + [
            c for c in ("routing", "kind") if c in have
        ]
        first = sk_df.select(*sel).head(1)
        if not first:
            return _new_sketch(config)
        stored_nb = int(first[0]["n_buckets"])
        # bucket routing is pmod(hash(routing cols), n_buckets): resuming
        # under a different bucket count would read the WRONG bits — silent
        # false negatives. Fail loudly instead. The routing column list
        # rides the rows for the same reason.
        assert stored_nb == n, (
            f"snapshot sketch has n_buckets={stored_nb} but "
            f"config.state_buckets={n}; resume with the original value"
        )
        return SketchRef(
            (path,),
            stored_nb,
            int(first[0]["n_bits"]),
            int(first[0]["n_hashes"]),
            tuple(first[0]["routing"].split(","))
            if "routing" in have
            else ("url_hash",),
            str(first[0]["kind"]) if "kind" in have else "bloom",
        )
    if "seen_sched" not in tables:
        raise ValueError(
            f"resume under seen_tier={config.seen_tier!r}: snapshot "
            f"{snapshot_id} has neither a seen_sketch nor a seen_sched table "
            "to build the URL-seen sketch from"
        )
    # the mirror rows already carry the sketch routing (host_bucket, salt)
    # plus url_hash: bucket them once and fold them in as the base delta
    sketch = _new_sketch(config)
    mirror = store.read(spark, snapshot_id, "seen_sched")
    if mirror.isEmpty():  # never write a files-less delta directory
        return sketch
    return write_sketch_delta(
        mirror.repartition(n, *FRONTIER_KEY),
        os.path.join(workdir, "sketch_base_resume"),
        sketch,
        assume_keyed_layout=True,
    )


def resume(spark: SparkSession, store: SnapshotStore, config: CrawlConfig) -> CrawlState:
    """§3.3 exact resume: validate lineage, point the sketch at the stored
    bucket-partitioned rows (NO rescan of seen, NO driver rebuild), continue
    at batch N+1. The sketch tier resumes a sketch (see ``_resume_sketch``);
    the mirror tier resumes one only from a snapshot that has no mirror to
    come back (pre-mirror, or committed under the sketch tier), where the
    committed sketch is the only seen filter left."""
    snapshot_id = store.head()
    assert snapshot_id is not None, "nothing to resume from"
    assert store.validate(snapshot_id, spark), "lineage validation failed"
    m = store.manifest(snapshot_id)
    n = config.state_buckets
    workdir = tempfile.mkdtemp(prefix="spiderspark-state-")
    mirror_lost = (
        config.use_bloom
        and "seen_sketch" in m["tables"]
        and "seen_sched" not in m["tables"]
    )
    sketch = (
        _resume_sketch(spark, store, snapshot_id, m["tables"], config, workdir)
        if _wants_sketch(config) or mirror_lost
        else None
    )
    host_state = _materialize(store.read(spark, snapshot_id, "host_state"))
    caps = host_state.agg(F.max("capacity").alias("m")).collect()
    k_cap = int(
        max(config.policy.default_budget, (caps[0]["m"] or 0) if caps else 0)
    )
    salts = (
        _materialize(store.read(spark, snapshot_id, "salt_table"))
        if "salt_table" in m["tables"]
        else _materialize(
            spark.createDataFrame([], "host string, n_salts int")
        )
    )
    # the scheduler-layout mirror resumes from its committed table; a
    # snapshot without one (pre-mirror, or committed under the sketch tier)
    # leaves it None and select_round falls back to the resumed sketch's
    # fused branch, or to the exact-only branch when there is no sketch
    # (the mirror cannot be rebuilt from the seen table alone —
    # (host_bucket, salt) needs the host, which SEEN drops)
    seen_sched = None
    if config.seen_tier == "mirror" and "seen_sched" in m["tables"]:
        seen_sched = SegmentedTable.from_df(
            store.read(spark, snapshot_id, "seen_sched"),
            n_parts=n,
            key=FRONTIER_KEY,
        )
    return CrawlState(
        frontier=SegmentedTable.from_df(
            store.read(spark, snapshot_id, "frontier"),
            n_parts=n,
            key=FRONTIER_KEY,
        ),
        seen=SegmentedTable.from_df(store.read(spark, snapshot_id, "seen"), n_parts=n),
        host_state=host_state,
        sketch=sketch,
        batch_id=int(m["batch_id"]),
        workdir=workdir,
        k_cap=k_cap,
        salts=salts,
        snapshot_id=snapshot_id,
        seen_sched=seen_sched,
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
