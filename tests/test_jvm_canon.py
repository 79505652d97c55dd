"""JVM-side canon fast-tier parity (round 5, frontier.with_canonical).

The JVM gate (`_JVM_FAST_RE` + dot-segment guard, Java regex) must be a
CONSERVATIVE subset of the Python kernel's tier-1/tier-2 probes: every row
it accepts is rebuilt JVM-side, so acceptance of any row the pandas kernel
would rewrite differently is a silent corruption of the url_norm/url_hash
identity the whole engine keys on. These tests pin:

  1. byte-identity of the full with_canonical surface (split vs kernel-only)
     on every adversarial shape the canon tier tests use, PLUS the
     Java-vs-Python regex divergence cases (\\s semantics, \\Z vs \\z,
     unicode whitespace, C0/C1 controls) that motivated the allowlist
     construction;
  2. the same identity on a deterministic fuzz corpus;
  3. a coverage floor on the bench URL mix — a pattern typo that silently
     routes everything to Python keeps results correct but forfeits the
     win; this pin makes that a test failure, not a perf mystery.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F, types as T

from spiderspark.frontier import (
    _JVM_DOTSEG_RE,
    _JVM_FAST_RE,
    with_canonical,
)

_SCHEMA = T.StructType([T.StructField("url", T.StringType())])


def _both(spark, urls: list) -> None:
    df = spark.createDataFrame([(u,) for u in urls], _SCHEMA)
    cols = ["url", "url_norm", "host", "url_hash", "host_bucket"]
    got = sorted(
        tuple(r) for r in with_canonical(df, jvm_fast=True).select(*cols).collect()
    )
    want = sorted(
        tuple(r) for r in with_canonical(df, jvm_fast=False).select(*cols).collect()
    )
    assert got == want


ADVERSARIAL = [
    # the canon-tier representative mix (tests/test_canon.py)
    "http://host3.example/p/123",
    "http://host3.example/p/123?x=1&y=2",
    "HTTP://HOST3.example/p/123",
    "http://host3.example:80/p/123",
    "http://host3.example/a/../p/./123",
    "http://host3.example/p/%7e123",
    "http://h.example/p?",
    "http://h.example/p#frag",
    "http://h.example./p",
    "http://user@h.example/p",
    "  http://h.example/p  ",
    "http://h.example/.well-known/x",
    "http://h.example/p/..",
    "http://h.example/p?q=/../x",
    # dot segment terminated by '?' — the round-5 guard hole (VERDICT r05):
    # must route to the kernel in BOTH the JVM gate and the pandas tiers
    "http://h.example/.?q",
    "http://h.example/..?q",
    "http://h.example/a/..?q",
    "HTTP://0/.?0",
    "HTTP://HOST.example:80/a/..?q",
    "http://h.example/a/.?x=%7e",
    "https://h.example/",
    "ftp://h.example/p",
    "host.example/p",
    "",
    "http://héllo.example/p",
    "http://h_x.example/p",
    # tier-2 clause boundaries
    "HTTP://HOST5.example:80/p/5",
    "HTTPS://Host.Example:443/a?q=1",
    "hTtP://MiXeD.Case/p",
    "https://h.example:80/p",
    "HTTP://h.example:443/p",
    "HTTP://h.example:8080/p",
    "HTTPS://A/p",
    # Java-vs-Python regex divergences the allowlist must exclude:
    "http://h.example/p\n",        # \Z(Java) matches before final \n; \z must not
    "http://h.example/p\r\n",
    "http://h.example/p ",    # unicode NBSP: Python \s yes, Java \s no
    "http://h.example/p ",    # LINE SEPARATOR
    "http://h.example/p\x1c",      # FS control: Python \s yes, Java (?U)\s no
    "http://h x.example/p",   # unicode whitespace inside host
    "http://h.example/p q",        # plain space mid-path
    "http://h.example/p\tq",
    # query-only '?' and allowlist-boundary characters
    "http://h.example/p?a?b",      # second '?' inside query (identity)
    "http://h.example/p?a=[1]",    # '[' not in allowlist → kernel (still identity)
    "http://h.example/p/(x)",      # parens in path (identity, in allowlist)
    "http://h.example/p;v=1,2",
    "http://h.example/p?q=a+b",
    None,                          # NULL url routes through the kernel path
]


def test_jvm_split_parity_adversarial(spark):
    _both(spark, ADVERSARIAL)


def test_jvm_split_parity_fuzz(spark):
    """Deterministic fuzz: URL-ish strings assembled from an alphabet that
    includes every gate-relevant character class (scheme case, default and
    non-default ports, %, #, ?, dots, controls, unicode whitespace, IDN)."""
    rng = np.random.RandomState(0xC0FFEE)
    alphabet = list(
        "abcXYZ019-._~:@!$&'()*+,;=/%?#"
    ) + [" ", "\x1c", " ", "\t", "\n", "é", ".."]
    prefixes = ["http://", "HTTP://", "https://", "HtTpS://", "", "ftp://"]
    hosts = ["h.example", "HOST.example", "h.example:80", "h.example:443",
             "h.example:8080", "h_x", "h.example.", "a"]
    urls = []
    for _ in range(400):
        body = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 12)))
        urls.append(
            prefixes[rng.randint(len(prefixes))]
            + hosts[rng.randint(len(hosts))]
            + "/"
            + body
        )
    _both(spark, urls)


def test_single_arrow_crossing(spark):
    """The P5 filter must NOT duplicate the canon UDF: Catalyst pushes a
    predicate that references UDF outputs below the projection and plans a
    SECOND ArrowEvalPython (every row crossing Arrow twice — a round-5 plan
    audit found the engine had paid this since round 1; the UDF is now
    declared nondeterministic to pin one eval). The fast branch must plan
    ZERO Python — its gate implies the filter, so no post-filter exists."""
    df = spark.createDataFrame([("http://h.example/p",)], _SCHEMA)
    split = with_canonical(df)._jdf.queryExecution().executedPlan().toString()
    kernel = (
        with_canonical(df, jvm_fast=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert split.count("ArrowEvalPython") == 1  # slow branch only
    assert kernel.count("ArrowEvalPython") == 1
    fast_side = split.split("ArrowEvalPython")[0]
    assert "canon_host_udf" not in fast_side


def test_jvm_gate_coverage_on_bench_mix(spark):
    """≥50% of the bench generator's URL mix must take the JVM branch
    (measured ~92%: ~61% tier-1 identity + ~31% tier-2 case/port; only the
    ~8% dot-segment rows cross Arrow). Guards against a silent-correct
    pattern regression."""
    from spiderspark.bench import frontier_urls_dist

    raw = frontier_urls_dist(spark, 20_000, 4)
    url = F.col("url")
    is_fast = url.rlike(_JVM_FAST_RE) & ~url.rlike(_JVM_DOTSEG_RE)
    agg = raw.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(is_fast, 1).otherwise(0)).alias("fast"),
    ).collect()[0]
    assert agg["fast"] / agg["n"] >= 0.5
    # and the accepted fraction really is byte-identical through the engine
    sample = raw.limit(2000)
    _both(spark, [r["url"] for r in sample.collect()])

def test_env_kill_switch(spark, monkeypatch):
    """SPIDERSPARK_JVM_CANON=0 must route the DEFAULT call (no explicit
    jvm_fast arg) to the kernel-only plan — the cluster rollback lever has
    to actually disable the split."""
    df = spark.createDataFrame([("http://h.example/p",)], _SCHEMA)
    monkeypatch.setenv("SPIDERSPARK_JVM_CANON", "0")
    plan = with_canonical(df)._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan  # no fast/slow split
    assert plan.count("ArrowEvalPython") == 1
    monkeypatch.delenv("SPIDERSPARK_JVM_CANON")
    plan_on = with_canonical(df)._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan_on


def test_stale_derived_columns_replaced_on_both_branches(spark):
    """An input that already carries host and url_hash (e.g. a frontier row
    canonicalised again) gets them replaced, not duplicated: the default
    JVM-gate branch and the kernel-only branch return the same columns and
    the same rows, with none of the stale values left."""
    df = spark.createDataFrame(
        [(u, "stale.example", 7) for u in ADVERSARIAL],
        "url string, host string, url_hash long",
    )
    split = with_canonical(df)
    kernel = with_canonical(df, jvm_fast=False)
    cols = ["url", "url_norm", "host", "url_hash", "host_bucket"]
    assert split.columns == kernel.columns == cols
    got = sorted(tuple(r) for r in split.collect())
    assert got == sorted(tuple(r) for r in kernel.collect())
    assert len(got) > 0
    assert all(r[2] != "stale.example" and r[3] != 7 for r in got)
