"""Frontier pipeline: canonicalize → hash → bucket → dedup (SURVEY.md §2.2-2.4).

Scale notes (the parts that must survive 1000 executors × 100 TB):

- Canonicalization + hashing + host extraction happen in ONE select so the
  whole batch crosses the JVM↔Python Arrow boundary once (SURVEY.md §4:
  each ArrowEvalPython node breaks WholeStageCodegen — batch the UDF work).
- ``url_hash`` is Spark's built-in ``xxhash64`` (JVM-side, codegen'd), NOT a
  UDF — only the RFC-3986 string rewrite needs Python.
- The exact-tier dedup is a left_anti join on the url identity; with the
  seen set stored in the probing side's keyed layout
  (state.materialize_keyed — the crawl keeps both in the (host_bucket,
  salt) scheduler layout) it plans as a co-partitioned SMJ with zero
  exchange and zero sort on the big side.
- The URL-seen sketch is FULLY DISTRIBUTED (SURVEY.md §2.4 A4/J2): the
  sketch lives as bucket-partitioned parquet (one Bloom per
  ``pmod(hash(url_hash), n_buckets)`` bucket, hive layout ``bucket=<b>/``);
  a membership task reads ONLY the bucket slices its rows route to — no
  executor, broadcast, or driver ever holds the whole sketch. At 10^10 keys
  / 1% fpp the sketch is ~12 GB; each of 1000 tasks touches ~12 MB. New
  keys are folded in as per-partition partial filters (vectorized numpy over
  Arrow batches) written as delta directories; ``compact_sketch`` OR-merges
  deltas distributedly (groupBy(bucket) + bit-OR, ≤ a handful of rows per
  group). ``build_bloom`` keeps the treeAggregate merge seam
  (BASELINE.json:6) for bootstrap/standalone sketch builds.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T
from pyspark.storagelevel import StorageLevel

from .canon import canonicalize_series, host_of_series
from .sketch import Bloom, BucketedBloom, optimal_params
from .state import SegmentedTable

N_HOST_BUCKETS = 64  # frontier partition count at sandbox scale; cluster: O(cores)


@F.pandas_udf(T.StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    return canonicalize_series(urls)


@F.pandas_udf(T.StringType())
def host_udf(url_norm: pd.Series) -> pd.Series:
    return host_of_series(url_norm)


_CANON_STRUCT = T.StructType(
    [
        T.StructField("url_norm", T.StringType()),
        T.StructField("host", T.StringType()),
    ]
)


@F.pandas_udf(_CANON_STRUCT)
def canon_host_udf(urls: pd.Series) -> pd.DataFrame:
    """canonicalize + host in ONE Arrow crossing (the hot path pays a single
    ArrowEvalPython stage; host_of runs on the already-normalized strings)."""
    norm = canonicalize_series(urls)
    return pd.DataFrame({"url_norm": norm, "host": host_of_series(norm)})


# The P5 validity filter references the UDF's outputs; Catalyst pushes that
# predicate below the projection and DUPLICATES the Python eval — two
# ArrowEvalPython nodes, i.e. every row crossed Arrow twice (found in the
# round-5 plan audit; had been true since round 1). Declaring the UDF
# nondeterministic (it is pure — this only hides it from pushdown) pins a
# single eval with the filter above it. Plan-asserted in test_jvm_canon.
_canon_host_udf_once = canon_host_udf.asNondeterministic()


def host_bucket_col(host: Column, n_buckets: int = N_HOST_BUCKETS) -> Column:
    """host-hash bucket (BASELINE.json:6) — JVM-side, no Python."""
    return F.pmod(F.xxhash64(host), F.lit(n_buckets)).cast("int")


# --- JVM-side canon fast tiers (round 5): rows provably handled by the
# kernel's tier-1 (identity) or tier-2 (case/default-port rebuild) never
# cross the Arrow boundary AT ALL — the crossing itself, not the kernel,
# is the measured cost (~0.5 µs/row: a trivial passthrough mapInPandas was
# 3.9 s of the 4.9 s kept term at 8M — BENCH/BASELINE.md round-5 §).
#
# Java-regex translation is CONSERVATIVE BY CONSTRUCTION: instead of
# translating the Python probes' complement classes ([^%?#\s] — whose \s
# differs between Python/unicode and Java/ASCII, and whose \Z≠Java \Z),
# the JVM patterns use explicit printable-ASCII ALLOWLISTS that are strict
# subsets of what the Python probes accept (no whitespace of any kind, no
# controls, no non-ASCII, no %/#). Every row the JVM gate accepts is
# therefore accepted by the Python tier-1/tier-2 probes too, whose
# fixed-point / rebuild-equivalence proofs (canon.py) then apply verbatim;
# every rejected row just pays the pandas kernel it pays today. Anchors:
# Java \z is absolute end-of-input (Java \Z ≠ Python \Z — it still matches
# before a final newline; rlike/regexp_extract use find(), so both ends
# are anchored explicitly).
_JVM_HOST = r"[A-Za-z0-9](?:[A-Za-z0-9.\-]*[A-Za-z0-9])?"
_JVM_PATHQ = (
    r"/[A-Za-z0-9/._~:@!$&'()*+,;=\-]*"
    r"(?:\?[A-Za-z0-9/._~:@!$&'()*+,;=?\-]+)?"
)
# scheme↔default-port consistency is encoded structurally (http may carry
# :80, https may carry :443, any other port falls through to the kernel)
_JVM_FAST_RE = (
    "^(?:[Hh][Tt][Tt][Pp]://" + _JVM_HOST + "(?::80)?"
    "|[Hh][Tt][Tt][Pp][Ss]://" + _JVM_HOST + "(?::443)?)"
    + _JVM_PATHQ + r"\z"
)
# same guard the Python tiers apply; scheme/host contain no '/', so the
# whole-string scan is equivalent to the path+query scan. '?' terminates a
# dot segment (start of query); '#' cannot occur in gate-accepted rows. A
# '/.' inside the query over-rejects to the kernel — conservative.
_JVM_DOTSEG_RE = r"/\.\.?(?:[/?]|\z)"
_JVM_PARTS_RE = (
    "^([A-Za-z]+)://(" + _JVM_HOST + r")(?::\d+)?(" + _JVM_PATHQ + r")\z"
)


def with_canonical(
    df: DataFrame, url_col: str = "url", jvm_fast: bool | None = None
) -> DataFrame:
    """P2+P3+P4+bucket in one pass; invalid/non-http(s) URLs filtered (P5).

    ``jvm_fast`` (default on; env kill-switch SPIDERSPARK_JVM_CANON=0):
    split the input on the JVM identity/case-port gate — accepted rows are
    rebuilt entirely JVM-side (lower(scheme) ++ '://' ++ lower(host) ++
    path?query, the default port structurally dropped; for tier-1 shapes
    the rebuild IS the input) and only the remainder crosses Arrow into
    the pandas kernel. Byte-identical output either way (pinned in
    tests/test_jvm_canon.py). Pass ``jvm_fast=False`` at call sites whose
    upstream is expensive to evaluate twice (the split plans TWO scans of
    the source): fat-column scans (pages.html) or UDF-producing plans
    (outlink explode).

    CORRECTNESS requirement, not just a cost trade: the split evaluates
    the source plan twice (``df.filter(is_fast)`` unioned with its
    complement), so the upstream MUST be deterministic. A plan containing
    ``rand()``, ``sample()``, a nondeterministic UDF, or a re-read of
    mutable storage can disagree between the two scans and silently
    duplicate or drop rows. For such inputs either pass
    ``jvm_fast=False`` (single-scan kernel path) or materialize first
    (``df.localCheckpoint()`` / ``.cache()`` + count) before calling.
    Every in-repo call site is deterministic; this contract is on the
    public API's callers."""
    if jvm_fast is None:
        jvm_fast = os.environ.get("SPIDERSPARK_JVM_CANON", "1") != "0"
    url = F.col(url_col)
    # an input that already carries derived columns (a re-canonicalised
    # frontier row) gets them replaced, in the same place on both branches
    derived = ("url_norm", "host", "url_hash", "host_bucket")
    out_cols = [c for c in df.columns if c not in derived] + list(derived)

    def _kernel_branch(part: DataFrame) -> DataFrame:
        out = (
            part.withColumn("_c", _canon_host_udf_once(url))
            .withColumn("url_norm", F.col("_c.url_norm"))
            .withColumn("host", F.col("_c.host"))
            .drop("_c")
            .withColumn("url_hash", F.xxhash64("url_norm"))
            .withColumn("host_bucket", host_bucket_col(F.col("host")))
        )
        return out.filter(
            (F.col("host") != "")
            & F.col("url_norm").startswith("http")
            & (F.length("url_norm") <= 2048)
        ).select(*out_cols)

    if not jvm_fast:
        return _kernel_branch(df)
    # the length pre-check makes the gate IMPLY the P5 filter on the rebuilt
    # outputs (host ≥1 char and scheme ∈ {http,https} by regex shape;
    # length(url_norm) ≤ length(url) — the rebuild only lowercases and drops
    # a default port), so fast rows skip the post-filter entirely; rows
    # failing only the length pre-check fall to the kernel branch, whose
    # exact filter on length(url_norm) decides them as before.
    # The dot-segment regex only fires behind a literal contains('/.')
    # pre-check: every _JVM_DOTSEG_RE match starts with the two literal
    # bytes "/." (the pattern is /\.\.?(...)), so contains=false ⇒ no match,
    # and the regex scan is skipped for the (common) dot-free rows.
    is_fast = (
        url.rlike(_JVM_FAST_RE)
        & ~(url.contains("/.") & url.rlike(_JVM_DOTSEG_RE))
        & (F.length(url) <= 2048)
    )
    # Gate-accepted rows are rebuilt with plain string ops instead of
    # regexp_extract (r08: 4 extract passes → instr/substr — measured ~15%
    # off the canon term at 2M rows, byte-identical output). Positions are
    # well-defined BY THE GATE: scheme has no '/' or ':' so the first "://"
    # is the scheme separator; the host charset has no '/' so the first '/'
    # after the authority starts the path (PATHQ guarantees one exists);
    # ':' can only occur as the structurally-matched default port, so the
    # ':80'/':443' suffix tests are unambiguous.
    p_sep = F.instr(url, "://")
    scheme_l = F.lower(F.substr(url, F.lit(1), p_sep - 1))
    after = F.substr(url, p_sep + 3)
    p_slash = F.instr(after, "/")
    hostport_l = F.lower(F.substr(after, F.lit(1), p_slash - 1))
    pathq = F.substr(after, p_slash)
    host_jvm = (
        F.when(
            hostport_l.endswith(":80"),
            F.substr(hostport_l, F.lit(1), F.length(hostport_l) - 3),
        )
        .when(
            hostport_l.endswith(":443"),
            F.substr(hostport_l, F.lit(1), F.length(hostport_l) - 4),
        )
        .otherwise(hostport_l)
    )
    fast = (
        df.filter(is_fast)
        .withColumn("host", host_jvm)
        .withColumn(
            "url_norm", F.concat(scheme_l, F.lit("://"), F.col("host"), pathq)
        )
        .withColumn("url_hash", F.xxhash64("url_norm"))
        .withColumn("host_bucket", host_bucket_col(F.col("host")))
        .select(*out_cols)
    )
    # NULL url: rlike is NULL → the isNull disjunct routes it to the
    # kernel (which maps it to "" → filtered there), not to limbo
    slow = _kernel_branch(df.filter(url.isNull() | ~is_fast))
    return fast.unionByName(slow)


def seeds_to_frontier(spark, seeds: DataFrame, batch_id: int = 0) -> DataFrame:
    """S3: seed rows (url, priority) → frontier rows at depth 0."""
    return (
        with_canonical(seeds)
        .withColumn("priority", F.coalesce(F.col("priority"), F.lit(0.0)).cast("double"))
        .withColumn("salt", F.lit(0).cast("int"))
        .withColumn("depth", F.lit(0).cast("int"))
        .withColumn("discovered_batch", F.lit(batch_id).cast("long"))
        .withColumn("attempt", F.lit(0).cast("int"))
        .select(
            "url", "url_norm", "url_hash", "host", "host_bucket", "salt",
            "priority", "depth", "discovered_batch", "attempt",
        )
    )


def dedup_within_batch(
    frontier: DataFrame, extra_keys: tuple[str, ...] = ()
) -> DataFrame:
    """A2: keep ONE row per url_hash — deterministically the best one by the
    engine's total order (priority, depth, discovered_batch, url).

    ``dropDuplicates`` keeps an arbitrary row under parallelism, which would
    break the ordering fixture; a min_by-style groupBy keeps determinism AND
    map-side partial aggregation (vs a window over a full shuffle+sort).
    When the input is already hash-partitioned by url_hash the groupBy plans
    with no exchange at all.

    ``extra_keys``: additional grouping columns that are FUNCTIONS of the
    url (e.g. host_bucket, salt — both derived from url_norm, like url_hash
    itself). Grouping by (extra_keys, url_hash) is semantically identical,
    but lets Catalyst prove the groupBy exchange-free when the input is
    partitioned on ``extra_keys`` (hash exprs ⊆ grouping exprs).
    """
    keys = list(extra_keys) + ["url_hash"]
    ordered_struct = F.struct(
        F.col("priority"), F.col("depth"), F.col("discovered_batch"),
        F.col("url"),  # total tie-break: url string is unique per row
        *[F.col(c) for c in frontier.columns if c not in
          ("priority", "depth", "discovered_batch", "url", *keys)],
    )
    best = frontier.groupBy(*keys).agg(F.min(ordered_struct).alias("r"))
    return best.select(*keys, "r.*").select(*frontier.columns)


def anti_join_seen(frontier: DataFrame, seen: DataFrame) -> DataFrame:
    """J1 exact tier: frontier ∖ seen on url_hash (left_anti)."""
    return frontier.join(seen.select("url_hash"), "url_hash", "left_anti")


# ---------------------------------------------------------------------------
# Distributed URL-seen sketch (A4 build + J2 membership)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class SketchRef:
    """Handle to the distributed sketch: a list of bucket-partitioned
    parquet directories (base + LSM-style deltas, OR-equivalent) plus the
    shared Bloom parameters. Readers OR all rows they find for a bucket, so
    deltas need no eager merge; ``compact_sketch`` bounds the list.

    ``routing`` is the column tuple the bucket is derived from. The CONTENT
    of every bucket filter is always url_hash bits; routing only decides
    WHICH bucket a key's bits live in, and must equal the partitioning of
    the table the membership pass runs over (bucket expr == Spark's
    HashPartitioning expr ⇒ one slice per task). ``("url_hash",)`` matches
    the url_hash-keyed state layout; ``("host_bucket", "salt")`` matches the
    scheduler-layout frontier (see membership_prefix_topk)."""

    paths: tuple[str, ...]
    n_buckets: int
    n_bits: int
    n_hashes: int
    routing: tuple[str, ...] = ("url_hash",)
    # "bloom" (default: unconditional zero false negatives, bit-OR
    # compaction) or "cuckoo" (per-delta partial-key filters: supports
    # deletion for re-crawl-after-TTL deployments; deltas can't bit-merge,
    # so compaction rewrites rows and membership checks each delta's filter)
    kind: str = "bloom"

    @classmethod
    def create(
        cls,
        n_buckets: int,
        capacity_per_bucket: int,
        fpp: float,
        routing: tuple[str, ...] = ("url_hash",),
        kind: str = "bloom",
    ) -> "SketchRef":
        n_bits, n_hashes = optimal_params(max(1, capacity_per_bucket), fpp)
        return cls((), n_buckets, n_bits, n_hashes, tuple(routing), kind)


def sketch_bucket_col(n_buckets: int, *cols: str) -> Column:
    """Bucket routing = pmod(murmur3(cols), n_buckets) — the SAME function
    Spark's ``repartition(n, *cols)`` uses, so a table stored in the keyed
    layout on the same columns with n_parts == n_buckets has exactly one
    bucket per partition: a membership task reads exactly one sketch slice."""
    cols = cols or ("url_hash",)
    return F.pmod(F.hash(*cols), F.lit(n_buckets)).cast("int")


_PARTIAL_SCHEMA = (
    "bucket int, kind string, bits binary, n_bits long, n_hashes int, "
    "n_buckets int, routing string"
)  # n_buckets AND the routing column list ride every row: bucket =
# pmod(hash(routing cols), n_buckets), so a resume under a DIFFERENT bucket
# count or routing must fail loudly, not read wrong bits


def _partials_fn(
    n_bits: int,
    n_hashes: int,
    n_buckets: int,
    routing: str = "url_hash",
    kind: str = "bloom",
):
    def partials(batches):
        # one partial filter per bucket present in THIS partition — with
        # bucket-aligned input each partition holds exactly one bucket, so
        # total partial volume is n_buckets × bucket_bits, independent of
        # parallelism (what keeps the merge from moving hundreds of GB)
        if kind == "cuckoo":
            # a cuckoo partial is sized to ITS keys (for_capacity headroom
            # makes insert overflow practically impossible; an overflow
            # still raises — never a silent drop). Schema reuse for the
            # cuckoo geometry: n_bits := the filter's internal bucket
            # count, n_hashes := slots per bucket.
            from .sketch import CuckooFilter

            acc: dict[int, list] = {}
            for pdf in batches:
                if not len(pdf):
                    continue
                keys = pdf["url_hash"].to_numpy()
                buckets = pdf["_bucket"].to_numpy()
                for b in pd.unique(buckets):
                    acc.setdefault(int(b), []).append(keys[buckets == b])
            if acc:
                rows = []
                for b, chunks in acc.items():
                    ks = np.concatenate(chunks)
                    f = CuckooFilter.for_capacity(len(ks)).add(ks)
                    rows.append((b, f.to_bytes(), f.n_buckets, f.SLOTS_PER_BUCKET))
                yield pd.DataFrame(
                    {
                        "bucket": [r[0] for r in rows],
                        "kind": "cuckoo",
                        "bits": [r[1] for r in rows],
                        "n_bits": np.int64([r[2] for r in rows]),
                        "n_hashes": np.int32([r[3] for r in rows]),
                        "n_buckets": np.int32(n_buckets),
                        "routing": routing,
                    }
                )
            return

        local: dict[int, Bloom] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            keys = pdf["url_hash"].to_numpy()
            buckets = pdf["_bucket"].to_numpy()
            for b in pd.unique(buckets):
                f = local.get(int(b))
                if f is None:
                    f = local[int(b)] = Bloom(n_bits, n_hashes)
                f.add(keys[buckets == b])
        if local:
            yield pd.DataFrame(
                {
                    "bucket": list(local.keys()),
                    "kind": "bloom",
                    "bits": [f.to_bytes() for f in local.values()],
                    "n_bits": np.int64(n_bits),
                    "n_hashes": np.int32(n_hashes),
                    "n_buckets": np.int32(n_buckets),
                    "routing": routing,
                }
            )

    return partials


def sketch_partial_rows(
    keys_df: DataFrame, ref: SketchRef, assume_keyed_layout: bool = False
) -> DataFrame:
    """Per-partition partial filters as (bucket, bits) rows — stage 1 of the
    distributed build. ``keys_df`` must carry url_hash plus ref.routing's
    columns. ``assume_keyed_layout=True`` skips the bucket exchange when the
    input is already in the keyed layout on the routing columns with
    n_parts == n_buckets (each partition IS one bucket)."""
    cols = list(dict.fromkeys(("url_hash",) + ref.routing))
    keyed = keys_df.select(*cols).withColumn(
        "_bucket", sketch_bucket_col(ref.n_buckets, *ref.routing)
    )
    if not assume_keyed_layout:
        keyed = keyed.repartition(ref.n_buckets, "_bucket")
    return keyed.mapInPandas(
        _partials_fn(
            ref.n_bits, ref.n_hashes, ref.n_buckets,
            ",".join(ref.routing), ref.kind,
        ),
        schema=_PARTIAL_SCHEMA,
    )


def write_sketch_delta(
    keys_df: DataFrame,
    path: str,
    ref: SketchRef,
    assume_keyed_layout: bool = False,
) -> SketchRef:
    """Fold new keys into the sketch by writing a bucket-partitioned delta
    directory (hive layout). No executor ever holds more than its own
    partition's buckets; nothing visits the driver."""
    rows = sketch_partial_rows(keys_df, ref, assume_keyed_layout)
    rows.write.mode("overwrite").partitionBy("bucket").parquet(path)
    return SketchRef(
        ref.paths + (path,), ref.n_buckets, ref.n_bits, ref.n_hashes,
        ref.routing, ref.kind,
    )


def sketch_df(spark, ref: SketchRef) -> DataFrame:
    """All sketch rows as one DataFrame (commit/inspection path). Multiple
    rows per bucket are legal — readers OR them."""
    from .schemas import SEEN_SKETCH

    dfs = []
    for p in ref.paths:
        # explicit schema: a delta directory can legally hold zero data files
        # (every partition's partial was empty), and schema inference on a
        # files-less dir raises UNABLE_TO_INFER_SCHEMA; the sketch schema is
        # fixed, so never infer it
        df = spark.read.schema(SEEN_SKETCH).parquet(p)
        dfs.append(
            df.select(
                F.col("bucket").cast("int"),
                F.col("kind"),
                F.col("bits"),
                F.col("n_bits").cast("long"),
                F.col("n_hashes").cast("int"),
                F.col("n_buckets").cast("int"),
                F.col("routing"),
            )
        )
    if not dfs:
        return spark.createDataFrame([], SEEN_SKETCH)
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def compact_sketch(spark, ref: SketchRef, out_path: str) -> SketchRef:
    """Distributed compaction of all delta directories into one:
    groupBy(bucket), then bloom rows bit-OR into a single row (each group
    holds at most one row per delta — a handful) while cuckoo rows are
    rewritten as-is (partial-key filters can't merge; the read path checks
    each — same semantics, and the path LIST still collapses to one)."""
    n_words = ref.n_bits // 64

    def or_rows(pdf: pd.DataFrame) -> pd.DataFrame:
        bloom_mask = pdf["kind"] != "cuckoo"
        out = pdf[~bloom_mask].copy()
        if bloom_mask.any():
            words = np.zeros(n_words, dtype=np.uint64)
            for raw in pdf["bits"][bloom_mask]:
                words |= np.frombuffer(raw, dtype=np.uint64)
            merged_row = pd.DataFrame(
                {
                    "bucket": pdf["bucket"].iloc[:1],
                    "kind": "bloom",
                    "bits": [words.tobytes()],
                    "n_bits": np.int64(ref.n_bits),
                    "n_hashes": np.int32(ref.n_hashes),
                    "n_buckets": np.int32(ref.n_buckets),
                    "routing": ",".join(ref.routing),
                }
            )
            out = pd.concat([merged_row, out], ignore_index=True)
        return out

    merged = (
        sketch_df(spark, ref)
        .groupBy("bucket")
        .applyInPandas(or_rows, schema=_PARTIAL_SCHEMA)
    )
    merged.write.mode("overwrite").partitionBy("bucket").parquet(out_path)
    return SketchRef(
        (out_path,), ref.n_buckets, ref.n_bits, ref.n_hashes,
        ref.routing, ref.kind,
    )


def sketch_delete(
    spark, ref: SketchRef, keys_df: DataFrame, out_path: str
) -> SketchRef:
    """Distributed deletion from the URL-seen sketch — the capability the
    CUCKOO tier exists for (re-crawl-after-TTL: expired URLs leave the seen
    sketch so the scheduler will consider them again; a Bloom filter cannot
    unset bits, so the bloom tier raises).

    ``keys_df`` must carry url_hash plus ref.routing's columns (the same
    shape ``write_sketch_delta`` takes). Execution is a cogrouped pass per
    bucket: the keys route by the sketch bucket function, meet ALL of that
    bucket's filter rows (base + deltas), and each pending key is deleted
    from the FIRST filter that contains its fingerprint — at most one
    removal per key, so a URL inserted once cannot be over-deleted across
    delta generations. Every bucket's rows are rewritten to ``out_path``
    (hive-partitioned like any delta), and the returned ref's path list
    collapses to it — deletion doubles as a compaction. Nothing is ever
    driver-sized; the pass moves O(keys) plus each bucket's own slice.

    Cuckoo caveat (inherent to the construction, documented at
    sketch.CuckooFilter.delete): deleting a key that was NEVER inserted can
    evict another key sharing its (bucket, fingerprint); callers must only
    delete URLs they know entered the seen set — the TTL deployment
    satisfies this by construction."""
    if ref.kind != "cuckoo":
        raise ValueError(
            "sketch deletion requires the cuckoo tier "
            "(CrawlConfig(sketch_kind='cuckoo')); bloom filters cannot delete"
        )
    from .sketch import CuckooFilter

    cols = list(dict.fromkeys(("url_hash",) + ref.routing))
    keys = keys_df.select(*cols).withColumn(
        "_bucket", sketch_bucket_col(ref.n_buckets, *ref.routing)
    )
    rows = sketch_df(spark, ref)

    def del_fn(kpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(rpdf) or not len(kpdf):
            return rpdf  # no filters here, or nothing to delete: unchanged
        pending = kpdf["url_hash"].to_numpy()
        new_bits = []
        for _, row in rpdf.iterrows():
            if row["kind"] != "cuckoo":
                raise ValueError(
                    f"bucket {row['bucket']} holds a {row['kind']} row; "
                    "deletion is only defined on an all-cuckoo sketch"
                )
            f = CuckooFilter.from_bytes(row["bits"], int(row["n_bits"]))
            if len(pending):
                deleted = f.delete(pending)
                pending = pending[~deleted]
            new_bits.append(f.to_bytes())
        out = rpdf.copy()
        out["bits"] = new_bits
        return out

    merged = (
        keys.groupBy("_bucket")
        .cogroup(rows.groupBy("bucket"))
        .applyInPandas(del_fn, schema=_PARTIAL_SCHEMA)
    )
    merged.write.mode("overwrite").partitionBy("bucket").parquet(out_path)
    return SketchRef(
        (out_path,), ref.n_buckets, ref.n_bits, ref.n_hashes,
        ref.routing, ref.kind,
    )


def _load_bucket_rows(paths, bucket: int):
    """Worker-side: this bucket's (kind, bits, n_bits, n_hashes) rows across
    all sketch directories — the task touches ONLY its bucket's slices."""
    import pyarrow.dataset as pads

    rows = []
    for p in paths:
        try:
            dset = pads.dataset(p, format="parquet", partitioning="hive")
        except FileNotFoundError:
            continue  # path never written — zero contribution. ONLY missing
            # paths may be swallowed: any other IO/permission/corruption
            # error must fail the task (Spark retries it) — treating it as
            # "no bits" would return _maybe=False for genuinely-seen keys,
            # a silent false negative that re-crawls URLs forever
        if "bucket" not in dset.schema.names:
            continue
        tbl = dset.to_table(
            filter=pads.field("bucket") == int(bucket),
            columns=["kind", "bits", "n_bits", "n_hashes"],
        )
        rows.extend(
            zip(
                tbl.column("kind").to_pylist(),
                tbl.column("bits").to_pylist(),
                tbl.column("n_bits").to_pylist(),
                tbl.column("n_hashes").to_pylist(),
            )
        )
    return rows


def _bucket_membership_fn(paths, bucket: int, n_bits: int, n_hashes: int):
    """contains(keys) -> bool array over every filter row of this bucket:
    bloom rows are bit-OR'd into one filter (OR-equivalence); cuckoo rows
    can't merge, so each is checked and the results OR'd — identical
    no-false-negative semantics either way."""
    from .sketch import CuckooFilter

    words = np.zeros(n_bits // 64, dtype=np.uint64)
    any_bloom = False
    cuckoos = []
    for kind, raw, nb, nh in _load_bucket_rows(paths, bucket):
        if kind == "cuckoo":
            cuckoos.append(CuckooFilter.from_bytes(raw, int(nb)))
        else:
            words |= np.frombuffer(raw, dtype=np.uint64)
            any_bloom = True
    bloom = Bloom(n_bits, n_hashes, words) if any_bloom else None

    def contains(keys: np.ndarray) -> np.ndarray:
        out = np.zeros(len(keys), dtype=bool)
        if bloom is not None:
            out |= bloom.contains(keys)
        for cf in cuckoos:
            out |= cf.contains(keys)
        return out

    return contains


def sketch_flag_maybe_seen(df: DataFrame, ref: SketchRef) -> DataFrame:
    """J2 membership, fully distributed: route rows by bucket, test against
    ONLY that bucket's bits (side-read from the bucket-partitioned sketch —
    no broadcast, no driver-resident sketch). Adds boolean ``_maybe``;
    False ⇒ DEFINITELY unseen (Bloom has no false negatives).

    Runs partition-local (mapInPandas): when ``df`` is in the keyed layout
    with n_parts == n_buckets each task loads exactly one bucket slice; for
    any other layout it loads the (cached) slices its rows route to —
    correct either way, no exchange inserted either way.
    """
    paths, n_bits, n_hashes = ref.paths, ref.n_bits, ref.n_hashes
    in_cols = df.columns
    out_schema = T.StructType(
        df.schema.fields + [T.StructField("_maybe", T.BooleanType())]
    )

    def membership(batches):
        fns: dict[int, object] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            keys = pdf["url_hash"].to_numpy()
            buckets = pdf["_bucket"].to_numpy()
            out = np.zeros(len(pdf), dtype=bool)
            for b in pd.unique(buckets):
                f = fns.get(int(b))
                if f is None:
                    f = fns[int(b)] = _bucket_membership_fn(
                        paths, int(b), n_bits, n_hashes
                    )
                mask = buckets == b
                out[mask] = f(keys[mask])
            yield pdf[in_cols].assign(_maybe=out)

    return (
        df.withColumn("_bucket", sketch_bucket_col(ref.n_buckets, *ref.routing))
        .mapInPandas(membership, schema=out_schema)
    )


def dedup_against_seen(
    spark,
    frontier: SegmentedTable,
    seen: SegmentedTable,
    sketch: SketchRef | None = None,
    persist_handles: list | None = None,
) -> DataFrame:
    """J2+J1 composed per frontier segment: sketch pre-filter (if present)
    then exact residual against the seen segments.

    definite-new (sketch says unseen) ∪ (maybe-seen ∖ seen) — correct
    because Bloom false negatives are impossible; false positives just take
    the exact path. Exchange budget: the big frontier segments are NEVER
    exchanged (membership is partition-local; the exact tier either runs
    co-partitioned against the stored seen layout, or only on the maybe-seen
    sliver). ``persist_handles`` collects the per-segment flagged frames
    (each feeds two branches); the caller unpersists after materializing.
    """
    outs = []
    use_sketch = sketch is not None and len(sketch.paths) > 0
    for seg in frontier.segments:
        if not use_sketch:
            # exact tier only: chained co-partitioned anti joins — zero
            # exchange, zero sort on both sides (both stored keyed+sorted)
            outs.append(seen.anti_probe(seg))
            continue
        flagged = sketch_flag_maybe_seen(seg, sketch).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        if persist_handles is not None:
            persist_handles.append(flagged)
        definite = flagged.filter(~F.col("_maybe")).drop("_maybe")
        sliver = (
            flagged.filter(F.col("_maybe"))
            .drop("_maybe")
            .repartition(seen.n_parts, "url_hash")
        )
        outs.append(definite.unionByName(seen.anti_probe(sliver)))
    if not outs:
        from .schemas import FRONTIER

        return spark.createDataFrame([], FRONTIER)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# Fused membership + guarded-prefix top-k (the scheduler-layout fast path)
# ---------------------------------------------------------------------------

_PREFIX_ORDER = ("priority", "depth", "discovered_batch", "url_hash")


def guarded_prefix_keep(
    hkey: np.ndarray,
    priority: np.ndarray,
    depth: np.ndarray,
    batch: np.ndarray,
    keys: np.ndarray,
    maybe: np.ndarray,
    k: np.ndarray,
) -> np.ndarray:
    """The pure selection kernel of membership_prefix_topk: a boolean keep
    mask over the input rows (any order).

    Rows are walked per host (hkey) in the engine total order; a
    definite-unseen row (maybe=False) is kept while its definite-rank ≤ its
    budget k, a maybe-seen row while FEWER than k definite rows precede it
    within its host. The kept set is an exact superset of the per-host
    top-k over the truly-unseen rows for ANY truth assignment consistent
    with `maybe` (Bloom semantics: maybe=False ⇒ definitely unseen).
    Property-pinned against a brute-force reference in test_fused_schedule.
    """
    n = len(keys)
    out = np.zeros(n, dtype=bool)
    if not n:
        return out
    order = np.lexsort((keys, batch, depth, priority, hkey))
    g = hkey[order]
    is_maybe = maybe[order]
    d_cum = np.cumsum(~is_maybe)
    changed = np.empty(n, dtype=bool)
    changed[0] = True
    np.not_equal(g[1:], g[:-1], out=changed[1:])
    run_start = np.flatnonzero(changed)
    run_id = np.cumsum(changed) - 1
    run_base = np.concatenate(([0], d_cum[run_start[1:] - 1]))
    d_incl = d_cum - run_base[run_id]
    keep = (d_incl + is_maybe.astype(np.int64)) <= k[order]
    out[order[keep]] = True
    return out


def membership_prefix_topk(
    df: DataFrame,
    ref: SketchRef,
    k_col: str = "host_budget",
    join_back: DataFrame | None = None,
) -> DataFrame:
    """ONE partition-local pass that fuses J2 sketch membership with an
    EXACT per-host budget pre-selection — the operator that removes the
    full-candidate (host, salt) window exchange from the scheduling path.

    Requires ``df`` hash-partitioned on ref.routing (the scheduler layout,
    e.g. (host_bucket, salt)) with the politeness ``k_col`` already joined
    on. Per partition and per host, rows are walked in the engine total
    order keeping every row that could still make the host's top-budget
    after the seen rows are removed: a definite-unseen row (Bloom says
    unseen — no false negatives) is kept while its definite-rank ≤ budget; a
    maybe-seen row is kept while FEWER than budget definite rows precede it
    (if ≥ budget strictly better definitely-unseen rows exist, nothing this
    row turns out to be can put it in the top-budget). The kept union across
    partitions/batches is therefore an EXACT superset of the true per-host
    top-budget over unseen rows — the final small window re-ranks it after
    the exact anti-join clears the maybes.

    Output: kept rows + ``_maybe`` (False ⇒ definitely unseen). With no
    sketch (ref.paths empty) every row is maybe-seen and nothing can be
    pre-cut; callers should filter through the exact table alone then.

    Scale shape: input partitions are complete (host, salt) groups, so kept
    rows per partition ≈ hosts_in_partition × budget × (1 + seen-share) per
    Arrow batch — the downstream exchange is O(selected), not O(candidates).
    The task side-reads exactly its own sketch slice (routing == layout).

    Cost shape: the pandas pass sees an ALL-NUMERIC thin projection (host as
    a JVM xxhash64 key — string/array columns never cross the Arrow
    boundary; that conversion would dominate the stage) and emits only the
    kept (routing..., url_hash, _maybe) keys. Those are hash-repartitioned
    on ref.routing (O(kept) exchange) and joined back onto ``join_back``
    (default ``df``) on (routing..., url_hash) — layout-satisfied on the big
    side (hash exprs ⊆ join keys), so the big side moves ZERO bytes and,
    stored sorted on (routing..., url_hash), sorts zero rows. Nothing is
    ever driver-sized. Passing the CHECKPOINTED segment as ``join_back``
    while ``df`` is the gated/budgeted view of it saves a second full
    budget+robots pass over the big side — the caller re-derives those
    columns on the tiny kept set instead. Requires ``df`` deduped on
    url_hash (state segments are, by invariant).
    """
    paths, n_bits, n_hashes = ref.paths, ref.n_bits, ref.n_hashes
    # emit the routing columns that aren't url_hash itself (url_hash-routed
    # sketches would otherwise emit a duplicate column); the join always
    # includes url_hash, so join keys ⊇ routing either way
    routing = [c for c in ref.routing if c != "url_hash"]

    def fn(batches):
        fns: dict[int, object] = {}
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            keys = pdf["url_hash"].to_numpy()
            buckets = pdf["_bucket"].to_numpy()
            maybe = np.zeros(n, dtype=bool)
            for b in pd.unique(buckets):
                f = fns.get(int(b))
                if f is None:
                    f = fns[int(b)] = _bucket_membership_fn(
                        paths, int(b), n_bits, n_hashes
                    )
                m = buckets == b
                maybe[m] = f(keys[m])

            sel = np.flatnonzero(
                guarded_prefix_keep(
                    pdf["_hkey"].to_numpy(),
                    pdf["priority"].to_numpy(),
                    pdf["depth"].to_numpy(),
                    pdf["discovered_batch"].to_numpy(),
                    keys,
                    maybe,
                    pdf[k_col].to_numpy(),
                )
            )
            out = {c: pdf[c].to_numpy()[sel] for c in routing}
            out["url_hash"] = keys[sel]
            out["_maybe"] = maybe[sel]
            yield pd.DataFrame(out)

    thin = df.select(
        "url_hash",
        F.xxhash64("host").alias("_hkey"),
        "priority",
        "depth",
        "discovered_batch",
        k_col,
        sketch_bucket_col(ref.n_buckets, *ref.routing).alias("_bucket"),
        *routing,
    )
    out_schema = ", ".join(
        [f"{c} int" for c in routing] + ["url_hash long", "_maybe boolean"]
    )
    # repartition on the big side's exact layout columns (ref.routing); the
    # kept frame carries them all (extras + url_hash)
    kept_keys = thin.mapInPandas(fn, schema=out_schema).repartition(
        ref.n_buckets, *ref.routing
    )
    big = join_back if join_back is not None else df
    return big.join(kept_keys, routing + ["url_hash"])


# ---------------------------------------------------------------------------
# treeAggregate merge seam (BASELINE.json:6) — bootstrap / standalone builds
# ---------------------------------------------------------------------------


def build_bloom(
    df: DataFrame,
    n_buckets: int,
    capacity_per_bucket: int,
    fpp: float = 0.01,
    depth: int = 2,
    _params: tuple[int, int] | None = None,
) -> BucketedBloom:
    """A4: per-partition partial Blooms merged via treeAggregate — the
    mandated merge seam, used for bootstrap/standalone sketch builds (the
    crawl loop keeps the sketch distributed; see SketchRef). Inputs to the
    log-depth tree are already-built bit arrays, never row data.

    Routing here is BucketedBloom's own (pmod(url_hash, n_buckets)) — the
    driver-side object is self-contained and used only at small scale."""
    n_bits, n_hashes = _params or optimal_params(max(1, capacity_per_bucket), fpp)

    out_schema = T.StructType(
        [
            T.StructField("bucket", T.IntegerType()),
            T.StructField("bits", T.BinaryType()),
        ]
    )

    def partials(batches):
        local: dict[int, Bloom] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            keys = pdf["url_hash"].to_numpy()
            buckets = pdf["_bucket"].to_numpy()
            for b in pd.unique(buckets):
                f = local.get(int(b))
                if f is None:
                    f = local[int(b)] = Bloom(n_bits, n_hashes)
                f.add(keys[buckets == b])
        if local:
            yield pd.DataFrame(
                {
                    "bucket": list(local.keys()),
                    "bits": [f.to_bytes() for f in local.values()],
                }
            )

    partial_rows = (
        df.select("url_hash")
        .withColumn("_bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int"))
        .repartition(n_buckets, "_bucket")
        .mapInPandas(partials, schema=out_schema)
    )

    def seq_op(acc: BucketedBloom, row) -> BucketedBloom:
        acc.filters[row["bucket"]].merge(
            Bloom.from_bytes(bytes(row["bits"]), n_bits, n_hashes)
        )
        return acc

    def comb_op(a: BucketedBloom, b: BucketedBloom) -> BucketedBloom:
        return a.merge(b)

    zero = BucketedBloom(n_buckets, n_bits, n_hashes)
    return partial_rows.rdd.treeAggregate(zero, seq_op, comb_op, depth=depth)
