"""The benchmark workloads: set-up, one timed pass, and the output check.

Set-up and passes call only the engine's public production functions
(``crawl.keyed_pages`` in set-up; ``crawl.init_state``, ``crawl.mark_seen``,
``crawl.select_round``, ``schedule.to_schedule``, ``crawl.crawl_round``,
``crawl.commit_state`` and ``crawl.resume`` in passes) on inputs from
``perfbench.inputs``, and each call in a pass is wrapped in a span
(``perfbench.trace.Spans``). A pass returns its operations (a pass, a round
or a resume) with their walls, and what the check needs; checks run after
the pass, outside every timed region.
"""

from __future__ import annotations

import os
import shutil
import statistics
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from spiderspark.crawl import (
    CrawlConfig,
    commit_state,
    crawl_round,
    init_state,
    keyed_pages,
    mark_seen,
    resume,
    select_round,
)
from spiderspark.pages import robots_pdf
from spiderspark.politeness import HostPolicy
from spiderspark.schedule import to_schedule
from spiderspark.schemas import FRONTIER, PAGES, ROBOTS_TXT, SEEDS, SEEN
from spiderspark.snapshots import ParquetManifestStore

from . import inputs, reference

LEGACY_DIGEST = 9041699649581384481
LEGACY_ROWS = 50_000


@dataclass
class Op:
    kind: str  # "pass", "round" or "resume"
    wall_s: float


@dataclass
class PassResult:
    wall_s: float
    ops: list[Op]
    round_walls: list[float]  # scheduling rounds; crawl rounds with their commit
    check: dict  # what the workload's check compares with the reference
    # traced passes only: state counts before the first round, then per round
    initial_counts: dict = field(default_factory=dict)
    rounds: list[dict] = field(default_factory=list)


def _checkpoint(df):
    return df.localCheckpoint(eager=True)


def _force(df):
    """Run a lazy DataFrame to a sink that keeps nothing."""
    df.write.format("noop").mode("overwrite").save()


def schedule_digest_df(schedule):
    row = schedule.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(concat(rank, ':', url_hash)))").alias("d"),
    ).collect()[0]
    return {"rows": int(row["n"]), "digest": int(row["d"] or 0)}


def _round_outputs(schedule, fetch_log) -> dict:
    """What the oracle comparison needs from one crawl round."""
    order = [r["url_hash"] for r in schedule.orderBy("rank").select("url_hash").collect()]
    fetched = [
        (r["url_hash"], r["text_hash"])
        for r in fetch_log.filter(F.col("status") == "fetched")
        .select("url_hash", "text_hash")
        .collect()
    ]
    return {
        "scheduled": len(order),
        "fetched": len(fetched),
        "schedule": order,
        "text_digest": reference.text_digest(fetched),
    }


def _state_counts(state) -> dict:
    n_seg = len(state.frontier.segments) + len(state.seen.segments)
    if state.seen_sched is not None:
        n_seg += len(state.seen_sched.segments)
    return {
        "state.seen_rows": state.seen.total_rows(),
        "state.frontier_rows": state.frontier.total_rows(),
        "state.segments": n_seg,
        "sketch.deltas": len(state.sketch.paths) if state.sketch is not None else 0,
    }


def _table_digest(df) -> tuple[int, int]:
    """(rows, bit_xor of every row's xxhash64): equal for equal multisets."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(xxhash64({', '.join(df.columns)}))").alias("d"),
    ).collect()[0]
    return int(row["n"]), int(row["d"] or 0)


def _state_digest(spark, state) -> dict:
    """Digests of the tables a resumed state is rebuilt from, and its batch."""
    return {
        "batch_id": state.batch_id,
        "frontier": _table_digest(state.frontier.df(spark, FRONTIER)),
        "seen": _table_digest(state.seen.df(spark, SEEN)),
        "host_state": _table_digest(state.host_state),
    }


def _round_counts(state, schedule, fetch_log=None) -> dict:
    fetched = 0
    if fetch_log is not None:
        fetched = fetch_log.filter(F.col("status") == "fetched").count()
    return {"round.scheduled": schedule.count(), "round.fetched": fetched, **_state_counts(state)}


class Workload:
    name = ""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work

    def setup(self, spark, rep: int):
        """One set-up repetition; returns the inputs a pass reads."""
        raise NotImplementedError

    def reference(self, ctx):
        """The expected outputs, computed without the engine under test."""
        raise NotImplementedError

    def warm_up(self, spark, ctx) -> None:
        """Run, once and untimed, the calls of a pass whose first run in a
        session pays most of the session's one-off cost (JVM code
        generation and compilation, Python worker start). The other calls'
        first runs cost a few tenths of a second more than later ones, and
        warming them too would add a whole cold pass to every run."""
        raise NotImplementedError

    def run_pass(self, spark, ctx, spans, pass_id: int, traced: bool) -> PassResult:
        raise NotImplementedError

    def check(self, result: PassResult, ref) -> list[str | None]:
        """One entry per operation of the pass: None, or what mismatched."""
        raise NotImplementedError

    def corrupt(self, ref):
        """A reference no correct output matches (self-test of the checks)."""
        raise NotImplementedError

    def urls_per_s(self, results: list[PassResult]) -> float:
        raise NotImplementedError

    def _dir(self, *parts) -> str:
        path = os.path.join(self.work, *parts)
        os.makedirs(path, exist_ok=True)
        return path


# ---------------------------------------------------------------------------
# schedule: URL-side layers only
# ---------------------------------------------------------------------------


class Schedule(Workload):
    SMOKE = {"n_urls": 10_000}
    name = "schedule"

    # 8 state buckets: O(cores) on a 4-core box (the legacy 32 was sized
    # for local[32]); --legacy keeps 32
    def __init__(self, seed, work, n_urls=100_000, buckets=8):
        super().__init__(seed, work)
        self.n_urls = n_urls
        # 1000 urls/host at 2M rows, the legacy headline's politeness budget
        self.budget = max(1, n_urls // 2000)
        self.config = CrawlConfig(
            policy=HostPolicy(default_budget=float(self.budget)), state_buckets=buckets
        )

    def setup(self, spark, rep):
        d = self._dir(f"setup{rep}")
        gen = inputs.frontier(self.seed, self.n_urls)
        self.raw_rows = len(gen.raw)
        spark.createDataFrame(gen.raw, schema="url string, priority double").write.parquet(
            f"{d}/raw"
        )
        spark.createDataFrame(
            inputs.seen_keys_pdf(gen.seen_ids), schema="url_norm string, host string"
        ).withColumn("url_hash", F.xxhash64("url_norm")).write.parquet(f"{d}/seen")
        return {
            "gen": gen,
            "raw": spark.read.parquet(f"{d}/raw"),
            "seen": spark.read.parquet(f"{d}/seen"),
        }

    def reference(self, ctx):
        gen = ctx["gen"]
        return reference.schedule_reference(gen.ids, gen.seen_ids, self.budget)

    def warm_up(self, spark, ctx):
        # a cold init_state takes about 13 s against 5 s warm; the rest of
        # a cold pass adds about 1 s
        init_state(spark, ctx["raw"], None, self.config)

    def run_pass(self, spark, ctx, spans, pass_id, traced):
        cfg = self.config
        state, t_init = spans.call("init_state", pass_id, 0, init_state, spark, ctx["raw"], None, cfg)
        state, t_seen = spans.call("mark_seen", pass_id, 0, mark_seen, spark, state, ctx["seen"], cfg)
        initial = _state_counts(state) if traced else {}

        def select():
            sel = select_round(spark, state, cfg)
            if traced:
                _force(sel)
            return sel

        sel, t_sel = spans.call("select_round", pass_id, 1, select)
        sched, t_sch = spans.call("to_schedule", pass_id, 1, to_schedule, sel, 1, _checkpoint)
        wall = t_init + t_seen + t_sel + t_sch
        return PassResult(
            wall,
            [Op("pass", wall)],
            [t_sel + t_sch],
            {"schedule": schedule_digest_df(sched)},
            initial,
            [_round_counts(state, sched)] if traced else [],
        )

    def check(self, result, ref):
        got = result.check["schedule"]
        if got != ref:
            return [f"schedule {got} != reference {ref}"]
        return [None]

    def corrupt(self, ref):
        return {**ref, "digest": ref["digest"] ^ 1}

    def urls_per_s(self, results):
        """Raw frontier rows per second of median pass wall."""
        return self.raw_rows / statistics.median(r.wall_s for r in results)


# ---------------------------------------------------------------------------
# crawl: fetch, extraction, discovery, commit and resume
# ---------------------------------------------------------------------------


class Crawl(Workload):
    SMOKE = {"n_pages": 2_000, "n_seeds": 200, "budget": 20}
    name = "crawl"

    # 4 state buckets, one per core: at this size a round is bound by
    # per-task latency, and 8 buckets made about 1.8 times as many tasks
    def __init__(self, seed, work, n_pages=10_000, n_seeds=1_000, budget=100, buckets=4):
        super().__init__(seed, work)
        self.n_pages = n_pages
        self.n_seeds = n_seeds
        self.budget = budget
        self.config = CrawlConfig(
            policy=HostPolicy(default_budget=float(budget)), state_buckets=buckets
        )

    def setup(self, spark, rep):
        d = self._dir(f"setup{rep}")
        pages = inputs.corpus(self.n_pages)
        seeds = inputs.crawl_seeds(self.seed, self.n_pages, self.n_seeds)
        robots = robots_pdf()
        spark.createDataFrame(pages, schema=PAGES).write.parquet(f"{d}/pages")
        spark.createDataFrame(seeds, schema=SEEDS).write.parquet(f"{d}/seeds")
        spark.createDataFrame(robots, schema=ROBOTS_TXT).write.parquet(f"{d}/robots")
        return {
            "pages_pdf": pages,
            "seeds_pdf": seeds,
            "robots_pdf": robots,
            "seeds": spark.read.parquet(f"{d}/seeds"),
            "robots": spark.read.parquet(f"{d}/robots"),
            # keyed once, outside the loop, as crawl.crawl does
            "pages": keyed_pages(
                spark.read.parquet(f"{d}/pages"), n_parts=self.config.state_buckets
            ),
        }

    def reference(self, ctx):
        return reference.crawl_reference(
            ctx["pages_pdf"], ctx["seeds_pdf"], ctx["robots_pdf"], float(self.budget)
        )

    def warm_up(self, spark, ctx):
        # init_state and crawl_round hold about 6 s of the 7 s a cold pass
        # adds; commit_state and resume add about 1 s between them
        state = init_state(spark, ctx["seeds"], ctx["robots"], self.config)
        crawl_round(spark, state, ctx["pages"], self.config)

    def run_pass(self, spark, ctx, spans, pass_id, traced):
        """init_state, one crawl_round, commit_state, and resume from that
        snapshot. The round must match the oracle's first round, and the
        resumed state must equal the committed one table for table."""
        cfg = self.config
        root = os.path.join(self.work, f"store{pass_id}")
        shutil.rmtree(root, ignore_errors=True)
        store = ParquetManifestStore(root)
        state, t_init = spans.call(
            "init_state", pass_id, 0, init_state, spark, ctx["seeds"], ctx["robots"], cfg
        )
        initial = _state_counts(state) if traced else {}
        (state, sched, log), t_round = spans.call(
            "crawl_round", pass_id, 1, crawl_round, spark, state, ctx["pages"], cfg
        )
        # the same commit crawl_round runs when handed the store, made here
        # so that it is timed and traced as its own call
        state, t_commit = spans.call(
            "commit_state", pass_id, 1, commit_state, spark, state, sched, log, store
        )
        resumed, t_resume = spans.call("resume", pass_id, 1, resume, spark, store, cfg)
        wall = t_init + t_round + t_commit + t_resume
        seen = [r["url_hash"] for r in state.seen.df(spark, SEEN).select("url_hash").collect()]
        result = PassResult(
            wall,
            [Op("round", t_round + t_commit), Op("resume", t_resume)],
            [t_round + t_commit],
            {
                "round": _round_outputs(sched, log),
                "seen_digest": reference.seen_digest(seen),
                "committed": _state_digest(spark, state),
                "resumed": _state_digest(spark, resumed),
            },
            initial,
            [_round_counts(state, sched, log)] if traced else [],
        )
        shutil.rmtree(root, ignore_errors=True)
        return result

    def check(self, result, ref):
        got = result.check["round"]
        bad = [k for k in ("scheduled", "fetched", "schedule", "text_digest") if got[k] != ref[k]]
        if result.check["seen_digest"] != ref["seen_digest"]:
            bad.append("seen set")
        committed, resumed = result.check["committed"], result.check["resumed"]
        differ = [k for k in committed if resumed[k] != committed[k]]
        return [
            f"round 1: {', '.join(bad)} differ from the oracle" if bad else None,
            f"resumed {', '.join(differ)} differ from the committed state" if differ else None,
        ]

    def corrupt(self, ref):
        return {**ref, "text_digest": "0" * 64}

    def urls_per_s(self, results):
        """Pages fetched per second of median pass wall."""
        fetched = statistics.median(r.check["round"]["fetched"] for r in results)
        return fetched / statistics.median(r.wall_s for r in results)


WORKLOADS = {w.name: w for w in (Schedule, Crawl)}
