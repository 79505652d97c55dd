"""One timed headline round, factored out so the harness can repeat it.

Mirrors the production round shape: the seen set + its distributed sketch
are PRE-EXISTING state (prepared outside the clock, as a real round reads
them from the snapshot store); the timed section pays exactly what a round
pays — canonicalize + within-batch dedup of the incoming frontier,
sketch membership (partition-local bucket-slice reads) + exact residual,
politeness + skew-split top-k + deterministic global order, and the
sketch delta-write for the URLs that just got scheduled.

Sandbox wall-clock is noisy (shared box): repeating the identical round in
one process and taking the fastest repeat removes transient contention from
the scaling comparison. On a quiet cluster the repeats agree.
"""

from __future__ import annotations

import os
import time
import uuid


def one_round_mirror(
    spark,
    raw,
    seen_sched,
    policy,
    n_buckets: int,
    delta_root: str,
    salts,
) -> dict:
    """The EXACT-MIRROR scheduler round (round-5 measured winner): the seen
    set is stored as a second copy in the SCHEDULER layout — (host_bucket,
    salt) partitioned, sorted on (host_bucket, salt, url_hash) — so seen
    filtering is ONE co-partitioned sort-merge LEFT-ANTI join with zero
    exchange and zero sort on BOTH sides, entirely JVM-side, and selection
    degenerates to the plain two-phase WindowGroupLimit top-k (phase 1
    partitioned by (host_bucket, salt, host) — layout-satisfied, no
    exchange).

    Why this beats the bloom tier at sandbox scale (measured, 32M/32
    cores, interleaved: schedule stage 19-23 s bloom → 5.4-9 s mirror,
    identical digests): the fused bloom pass must move every candidate's
    numeric projection across the JVM→Python Arrow IPC boundary, and that
    crossing — not the membership kernel, not the join-back — is ~85% of
    the stage cost (trivial-function crossing: 3.9 s of the 4.9 s kept
    term at 8M; mapInArrow no faster). The mirror path crosses nothing.

    Scale trade (documented in BENCH/BASELINE.md): the mirror anti-join
    READS O(seen) key bytes per round per task-set (sequential, local,
    co-partitioned — the same volume the bloom tier's sliver anti-probe
    already reads), while the bloom side-read is ~1.2 bits/key; at
    10^10-seen the bloom tier remains the low-read-volume configuration
    and stays one env var away (SPIDERSPARK_BENCH_STRATEGY=fused). Both
    produce byte-identical schedules.

    The timed state update is the mirror delta: the scheduled keys
    materialized into a new keyed mirror segment (O(schedule) exchange —
    the same class of write the sketch delta was)."""
    from pyspark.sql import Window, functions as F

    from .frontier import dedup_within_batch, seeds_to_frontier
    from .politeness import join_host_state, robots_gate
    from .schedule import (
        assign_salts_static,
        order_cols,
        per_host_topk_final,
        to_schedule,
    )
    from .schemas import HOST_STATE
    from .state import materialize_keyed

    t0 = time.time()
    keyed = materialize_keyed(
        dedup_within_batch(
            assign_salts_static(
                seeds_to_frontier(spark, raw, batch_id=0), salts
            ).repartition(n_buckets, "host_bucket", "salt"),
            extra_keys=("host_bucket", "salt"),
        ),
        repartition=False,
    )
    t_canon = time.time() - t0

    t2 = time.time()
    empty_hs = spark.createDataFrame([], HOST_STATE)
    budgeted = join_host_state(keyed, empty_hs, policy)
    gated = robots_gate(budgeted).filter(F.col("host_budget") > 0)
    unseen = gated.join(
        seen_sched, ["host_bucket", "salt", "url_hash"], "left_anti"
    )
    # phase 1 keyed (host_bucket, salt, host): same groups as (host, salt)
    # — host_bucket is a function of host — but the partition keys now
    # contain the layout's hash keys, so the window plans with NO exchange;
    # the literal k_cap conjunct keeps the WindowGroupLimit bounded sort
    k_cap = int(policy.default_budget)
    w1 = Window.partitionBy("host_bucket", "salt", "host").orderBy(*order_cols())
    kept = (
        unseen.withColumn("_r1", F.row_number().over(w1))
        .filter((F.col("_r1") <= F.lit(k_cap)) & (F.col("_r1") <= F.col("host_budget")))
        .drop("_r1")
    ).localCheckpoint(eager=True)
    t_kept = time.time() - t2
    selected = per_host_topk_final(kept, "host_budget", k_cap=k_cap)
    schedule = to_schedule(
        selected, batch_id=1, materialize=lambda df: df.localCheckpoint(eager=True)
    )
    t_sched = time.time() - t2

    t3 = time.time()
    digest_holder: dict = {}

    def _digest():
        digest_holder["row"] = schedule.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(concat(rank, ':', url_hash)))").alias("d"),
        ).collect()[0]

    from concurrent.futures import ThreadPoolExecutor

    from .frontier import host_bucket_col

    newly_seen = assign_salts_static(
        schedule.select(
            "url_hash", "url_norm", "host",
            host_bucket_col(F.col("host")).alias("host_bucket"),
        ),
        salts,
    ).select("host_bucket", "salt", "url_hash")
    with ThreadPoolExecutor(max_workers=1) as pool:
        fut = pool.submit(_digest)
        # the mirror delta: a new keyed segment of the scheduled keys
        materialize_keyed(
            newly_seen, n_parts=n_buckets, key=("host_bucket", "salt"),
            sort=("host_bucket", "salt", "url_hash"),
        )
        fut.result()
    digest_row = digest_holder["row"]
    t_delta = time.time() - t3
    wall = time.time() - t0
    return {
        "wall_s": round(wall, 3),
        "canon_dedup_s": round(t_canon, 3),
        "schedule_s": round(t_sched, 3),
        "kept_s": round(t_kept, 3),
        "sketch_delta_s": round(t_delta, 3),  # mirror delta (same slot)
        "n_scheduled": digest_row["n"],
        "schedule_digest": int(digest_row["d"] or 0),
    }


def one_round_fused(
    spark,
    raw,
    seen_table,
    sketch,
    policy,
    n_buckets: int,
    delta_root: str,
    salts,
) -> dict:
    """The scheduler-layout round: candidates keyed by (host_bucket, salt)
    — ONE full-width exchange per round. Dedup plans exchange-free on the
    layout (groupBy superset keys); membership + budget pre-selection run in
    one partition-local pass (frontier.membership_prefix_topk, task reads
    exactly its own sketch slice); only the kept sliver exchanges for the
    exact anti-join; the final per-host window ranks O(selected) rows. The
    schedule digest is IDENTICAL to one_round's (selection proved exact for
    any salt assignment).

    ``salts``: the per-crawl static (host, n_salts) table — state, prepared
    outside the clock like the seen set."""
    from pyspark.sql import functions as F

    from .frontier import (
        dedup_within_batch,
        membership_prefix_topk,
        seeds_to_frontier,
        write_sketch_delta,
    )
    from .politeness import join_host_state, robots_gate
    from .schedule import assign_salts_static, per_host_topk_final, to_schedule
    from .schemas import HOST_STATE
    from .state import materialize_keyed

    t0 = time.time()
    keyed = materialize_keyed(
        dedup_within_batch(
            assign_salts_static(
                seeds_to_frontier(spark, raw, batch_id=0), salts
            ).repartition(n_buckets, "host_bucket", "salt"),
            extra_keys=("host_bucket", "salt"),
        ),
        repartition=False,
    )
    t_canon = time.time() - t0

    t2 = time.time()
    empty_hs = spark.createDataFrame([], HOST_STATE)
    budgeted = join_host_state(keyed, empty_hs, policy)
    gated = robots_gate(budgeted).filter(F.col("host_budget") > 0)
    # join_back=keyed: the kept keys rejoin the checkpointed segment — the
    # 8M-row side pays the budget+robots pass ONCE (in the thin pass); the
    # tiny kept set re-derives those columns for the final window.
    kept = membership_prefix_topk(
        gated, sketch, join_back=keyed
    ).localCheckpoint(eager=True)
    t_kept = time.time() - t2  # gating pass + join-back + checkpoint
    definite = kept.filter(~F.col("_maybe")).drop("_maybe")
    sliver = (
        kept.filter(F.col("_maybe"))
        .drop("_maybe")
        .repartition(seen_table.n_parts, "url_hash")
    )
    survivors = robots_gate(
        join_host_state(
            definite.unionByName(seen_table.anti_probe(sliver)), empty_hs, policy
        )
    ).filter(F.col("host_budget") > 0)
    selected = per_host_topk_final(
        survivors, "host_budget", k_cap=int(policy.default_budget)
    )
    # materialize the schedule ONCE: the digest agg and the sketch delta
    # write below both read the checkpoint instead of re-executing the rank
    # window + offsets join per action (was 2 extra executions per round)
    schedule = to_schedule(
        selected, batch_id=1, materialize=lambda df: df.localCheckpoint(eager=True)
    )
    t_sched = time.time() - t2

    t3 = time.time()
    digest_holder: dict = {}

    def _digest():
        digest_holder["row"] = schedule.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(concat(rank, ':', url_hash)))").alias("d"),
        ).collect()[0]

    if sketch is not None:
        from concurrent.futures import ThreadPoolExecutor

        from .frontier import host_bucket_col

        # the key's bucket must be derived from the URL's TRUE (hb, salt) —
        # the same routing a future frontier row for this url will carry —
        # or the bits land in a slice that row's membership task never reads
        newly_seen = assign_salts_static(
            schedule.select(
                "url_hash", "url_norm", "host",
                host_bucket_col(F.col("host")).alias("host_bucket"),
            ),
            salts,
        )
        # overlap the two independent actions on the checkpointed schedule:
        # the digest agg rides along while the delta write runs (local mode
        # schedules concurrent jobs fine; both inputs are pinned blocks)
        with ThreadPoolExecutor(max_workers=1) as pool:
            fut = pool.submit(_digest)
            write_sketch_delta(
                newly_seen.repartition(n_buckets, "host_bucket", "salt"),
                os.path.join(delta_root, f"delta-{uuid.uuid4().hex[:8]}"),
                sketch,
                assume_keyed_layout=True,
            )
            fut.result()
    else:
        _digest()
    digest_row = digest_holder["row"]
    t_delta = time.time() - t3
    wall = time.time() - t0
    return {
        "wall_s": round(wall, 3),
        "canon_dedup_s": round(t_canon, 3),
        "schedule_s": round(t_sched, 3),
        "kept_s": round(t_kept, 3),  # schedule_s sub-term: membership+join
        "sketch_delta_s": round(t_delta, 3),
        "n_scheduled": digest_row["n"],
        "schedule_digest": int(digest_row["d"] or 0),
    }


def one_round(
    spark,
    raw,
    seen_table,
    sketch,
    policy,
    n_buckets: int,
    delta_root: str,
) -> dict:
    from pyspark.sql import functions as F

    from .frontier import dedup_against_seen, dedup_within_batch, seeds_to_frontier, write_sketch_delta
    from .politeness import join_host_state, robots_gate
    from .schedule import assign_salts, per_host_topk, to_schedule
    from .schemas import HOST_STATE
    from .state import SegmentedTable, materialize_keyed

    t0 = time.time()
    frontier_seg = materialize_keyed(
        dedup_within_batch(
            seeds_to_frontier(spark, raw, batch_id=0).repartition(
                n_buckets, "url_hash"
            )
        ),
        repartition=False,
    )
    frontier = SegmentedTable((frontier_seg,), n_parts=n_buckets)
    t_canon = time.time() - t0

    t2 = time.time()
    handles: list = []
    # materialize candidates once (same as crawl.crawl_round): the
    # scheduling DAG below consumes them 2-3× (salt counts + salt join +
    # windows) — measured ~15% whole-round win over recomputation
    candidates = dedup_against_seen(
        spark, frontier, seen_table, sketch, persist_handles=handles
    ).localCheckpoint(eager=True)
    for h in handles:
        h.unpersist()
    handles = []
    budgeted = join_host_state(candidates, spark.createDataFrame([], HOST_STATE), policy)
    gated = robots_gate(budgeted).filter(F.col("host_budget") > 0)
    selected = per_host_topk(
        assign_salts(gated, skew_threshold=20_000),
        "host_budget",
        k_cap=int(policy.default_budget),
    )
    schedule = to_schedule(selected, batch_id=1)
    digest_row = schedule.agg(
        F.count(F.lit(1)).alias("n"),
        # xor of hash(rank:url_hash): order-insensitive, overflow-free, and
        # sensitive to any change in the rank→url assignment
        F.expr("bit_xor(xxhash64(concat(rank, ':', url_hash)))").alias("d"),
    ).collect()[0]
    t_sched = time.time() - t2

    t3 = time.time()
    if sketch is not None:
        write_sketch_delta(
            schedule.select("url_hash").repartition(n_buckets, "url_hash"),
            os.path.join(delta_root, f"delta-{uuid.uuid4().hex[:8]}"),
            sketch,
            assume_keyed_layout=True,
        )
    t_delta = time.time() - t3
    wall = time.time() - t0

    for h in handles:
        h.unpersist()
    return {
        "wall_s": round(wall, 3),
        "canon_dedup_s": round(t_canon, 3),
        "schedule_s": round(t_sched, 3),
        "sketch_delta_s": round(t_delta, 3),
        "n_scheduled": digest_row["n"],
        "schedule_digest": int(digest_row["d"] or 0),
    }
