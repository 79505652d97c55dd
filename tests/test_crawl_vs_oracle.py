"""The flagship invariant (BASELINE.json:14): for the same seed list +
politeness budget, the Spark engine reproduces the oracle's crawl ordering
and final URL-seen set — and extracted text is byte-identical per url.

Runs multi-round crawls over the deterministic synthetic corpus with robots
gating, token buckets, bloom dedup and discovery all active.
"""

import numpy as np
import pytest

from spiderspark.crawl import CrawlConfig, crawl
from spiderspark.politeness import HostPolicy
from spiderspark.pages import gen_pages_pdf, robots_pdf, seeds_pdf
from spiderspark.schemas import ROBOTS_TXT, SEEDS

from tests.oracle_crawler import OracleConfig, OracleCrawler, schedule_hashes

CORPUS = 300
ROUNDS = 3
BUDGET = 5.0


def _spark_run(spark, rounds=ROUNDS, sketch_kind="bloom", seen_tier="mirror"):
    pages = spark.createDataFrame(
        gen_pages_pdf(np.arange(CORPUS), CORPUS),
        schema="url string, warc_ts timestamp, html binary, text string, lang string",
    )
    seeds = spark.createDataFrame(seeds_pdf(20, CORPUS), schema=SEEDS)
    robots = spark.createDataFrame(robots_pdf(), schema=ROBOTS_TXT)
    config = CrawlConfig(
        policy=HostPolicy(default_budget=BUDGET, round_seconds=60.0),
        state_buckets=4,
        bloom_capacity_per_bucket=4096,
        sketch_kind=sketch_kind,
        seen_tier=seen_tier,
    )
    state, schedules, logs = crawl(
        spark, seeds, pages, robots, rounds=rounds, config=config
    )
    ordered = [
        [r["url_hash"] for r in s.orderBy("rank").collect()] for s in schedules
    ]
    from spiderspark.schemas import SEEN
    seen = sorted(
        r["url_hash"] for r in state.seen.df(spark, SEEN).collect()
    )
    return ordered, seen, state, schedules, logs


def _oracle_run(rounds=ROUNDS):
    pages_pdf = gen_pages_pdf(np.arange(CORPUS), CORPUS)
    pages = dict(zip(pages_pdf["url"], pages_pdf["html"]))
    seeds = list(seeds_pdf(20, CORPUS).itertuples(index=False, name=None))
    robots = dict(zip(robots_pdf()["host"], robots_pdf()["body"]))
    oracle = OracleCrawler(
        seeds,
        pages,
        robots,
        OracleConfig(default_budget=BUDGET, round_seconds=60.0),
    )
    per_round = [schedule_hashes(s) for s in oracle.run(rounds)]
    return per_round, oracle


@pytest.fixture(scope="module")
def oracle_result():
    return _oracle_run()


def test_ordering_and_seen_match_oracle(spark, oracle_result):
    oracle_rounds, oracle = oracle_result
    spark_rounds, spark_seen, state, _, _ = _spark_run(spark)
    assert state.sketch is None  # the default mirror tier: exact table only
    assert spark_rounds == oracle_rounds, "crawl ordering diverged"
    assert spark_seen == sorted(oracle.seen), "final URL-seen set diverged"
    # sanity: the crawl actually did something non-trivial
    assert sum(len(r) for r in oracle_rounds) > 20
    assert len(oracle_rounds[1]) > 0  # discovery fed later rounds


def test_cuckoo_tier_changes_nothing(spark, oracle_result):
    """CrawlConfig(sketch_kind='cuckoo'): the cuckoo approximate tier must
    be schedule-invisible exactly like bloom (false positives fall through
    to the exact tier; inserts raise rather than drop)."""
    oracle_rounds, oracle = oracle_result
    cuckoo_rounds, cuckoo_seen, state, _, _ = _spark_run(
        spark, sketch_kind="cuckoo", seen_tier="sketch"
    )
    assert state.sketch.kind == "cuckoo" and len(state.sketch.paths) > 0
    assert cuckoo_rounds == oracle_rounds
    assert cuckoo_seen == sorted(oracle.seen)


def test_bloom_tier_changes_nothing(spark, oracle_result):
    """Bloom is an accelerator, not a semantic: the sketch tier's schedule
    equals the oracle's, as the exact-only default mirror run's does (zero
    false negatives + exact residual)."""
    oracle_rounds, oracle = oracle_result
    bloom_rounds, bloom_seen, state, _, _ = _spark_run(spark, seen_tier="sketch")
    assert state.sketch.kind == "bloom" and len(state.sketch.paths) > 0
    assert bloom_rounds == oracle_rounds
    assert bloom_seen == sorted(oracle.seen)


def test_text_byte_identity(spark, oracle_result):
    """Extracted text byte-identical per url (BASELINE.json:15): engine
    fetch_log text hashes equal xxhash64 of the oracle's extracted text."""
    from spiderspark.hashing import xxhash64_int

    _, oracle = oracle_result
    _, _, _, _, logs = _spark_run(spark)
    got = {}
    for log in logs:
        for r in log.filter("status = 'fetched'").collect():
            got[r["url_hash"]] = r["text_hash"]
    want = {
        xxhash64_int(norm): xxhash64_int(text)
        for norm, text in oracle.texts.items()
    }
    assert got == want


def test_politeness_budget_respected(spark):
    """No host exceeds its per-round budget; host0 (crawl-delay 2 → cap 30,
    budget min(5,30)=5) and all defaults ≤ 5."""
    spark_rounds, _, state, schedules, _ = _spark_run(spark)
    for s in schedules:
        counts = (
            s.groupBy("host").count().collect()
        )
        for row in counts:
            assert row["count"] <= BUDGET, (row["host"], row["count"])


def test_robots_disallow_enforced(spark):
    """host1 disallows /p/1* except /p/10*: no scheduled url on host1 may
    match the disallowed prefix."""
    _, _, state, schedules, _ = _spark_run(spark)
    for s in schedules:
        for r in s.filter("host = 'host1.example'").collect():
            path = r["url_norm"].split("host1.example")[1]
            if path.startswith("/p/1") and not path.startswith("/p/10"):
                raise AssertionError(f"robots-disallowed url scheduled: {r['url_norm']}")
