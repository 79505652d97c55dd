"""Independent correctness references for the benchmark workloads.

``schedule_reference`` recomputes the scheduling round's expected output in
NumPy from the generator's ids alone: every raw URL canonicalises to the
clean corpus URL of its id by construction, so no engine code is involved
beyond the pure-Python XXH64 that defines ``url_hash``.

``crawl_reference`` runs the repository's sequential oracle
(``tests/oracle_crawler.py``). The oracle calls the pinned scalar kernels
once per URL; each scalar call wraps a one-row pandas Series, which makes
the oracle slow at benchmark sizes. ``_batched_kernels`` serves those calls
from tables filled by the same Series kernels in one call each, falling back
to the scalar kernel for any input not in the table, so the oracle's
results are unchanged; at benchmark sizes the oracle takes about a second.
"""

from __future__ import annotations

import contextlib
import hashlib

import numpy as np
import pandas as pd

from spiderspark.hashing import xxhash64_int
from spiderspark.pages import host_ids, url_for_ids

_MASK = (1 << 64) - 1


def _signed(x: int) -> int:
    x &= _MASK
    return x - (1 << 64) if x >> 63 else x


def schedule_digest(pairs) -> int:
    """bit_xor(xxhash64(concat(rank, ':', url_hash))) — the engine-side
    digest of ``perfbench.workloads.schedule_digest_df``."""
    d = 0
    for rank, h in pairs:
        d ^= xxhash64_int(f"{rank}:{h}") & _MASK
    return _signed(d)


def schedule_reference(ids: np.ndarray, seen_ids: np.ndarray, budget: int) -> dict:
    """Expected (rows, digest) of init_state → mark_seen → select_round →
    to_schedule on the generated frontier with no robots: per host the
    ``budget`` best unseen urls by (priority, url_hash), depth and batch
    being 0 for every row, then ranked globally by the same key."""
    unseen = np.setdiff1d(np.unique(ids), seen_ids)
    df = pd.DataFrame(
        {
            "host": host_ids(unseen),
            "priority": unseen % 5,
            "url_hash": np.array(
                [xxhash64_int(u) for u in url_for_ids(unseen)], dtype=np.int64
            ),
        }
    )
    kept = (
        df.sort_values(["host", "priority", "url_hash"])
        .groupby("host", sort=False)
        .head(budget)
        .sort_values(["priority", "url_hash"])
    )
    hashes = kept["url_hash"].tolist()
    return {
        "rows": len(hashes),
        "digest": schedule_digest(enumerate(hashes, start=1)),
    }


@contextlib.contextmanager
def _batched_kernels(oracle_mod, pages: pd.DataFrame, seeds: pd.DataFrame):
    """Serve the oracle's scalar kernel calls from precomputed tables."""
    from spiderspark.canon import (
        canonicalize_series,
        extract_outlinks_series,
        host_of_series,
    )

    links = extract_outlinks_series(pages["html"], pages["url"])
    universe = pd.Series(
        pd.unique(
            pd.concat(
                [pages["url"], seeds["url"], links.explode().dropna()],
                ignore_index=True,
            )
        )
    )
    canon = dict(zip(universe, canonicalize_series(universe)))
    norms = pd.Series(pd.unique(pd.Series(list(canon.values()))))
    hosts = dict(zip(norms, host_of_series(norms)))
    texts = dict(zip(pages["html"], pages["text"]))
    outlinks = dict(zip(zip(pages["html"], pages["url"]), links))

    saved = {
        k: getattr(oracle_mod, k)
        for k in ("canonicalize", "host_of", "extract_text", "extract_outlinks")
    }

    def canonicalize(url):
        r = canon.get(url)
        return saved["canonicalize"](url) if r is None else r

    def host_of(norm):
        r = hosts.get(norm)
        return saved["host_of"](norm) if r is None else r

    def extract_text(html):
        r = texts.get(html)
        return saved["extract_text"](html) if r is None else r

    def extract_outlinks(html, base):
        r = outlinks.get((html, base))
        return saved["extract_outlinks"](html, base) if r is None else list(r)

    for k, fn in (
        ("canonicalize", canonicalize),
        ("host_of", host_of),
        ("extract_text", extract_text),
        ("extract_outlinks", extract_outlinks),
    ):
        setattr(oracle_mod, k, fn)
    try:
        yield
    finally:
        for k, fn in saved.items():
            setattr(oracle_mod, k, fn)


def seen_digest(hashes) -> str:
    payload = ",".join(str(h) for h in sorted(hashes))
    return hashlib.sha256(payload.encode()).hexdigest()


def text_digest(pairs) -> str:
    """Digest of a round's fetched (url_hash, xxhash64(text)) pairs."""
    payload = ",".join(f"{h}:{t}" for h, t in sorted(pairs))
    return hashlib.sha256(payload.encode()).hexdigest()


def crawl_reference(pages, seeds, robots, budget) -> dict:
    """The oracle's first round: its schedule, fetched texts and the seen
    set after it."""
    from tests import oracle_crawler as oc

    with _batched_kernels(oc, pages, seeds):
        oracle = oc.OracleCrawler(
            list(seeds.itertuples(index=False, name=None)),
            dict(zip(pages["url"], pages["html"])),
            dict(zip(robots["host"], robots["body"])),
            oc.OracleConfig(default_budget=budget, round_seconds=60.0),
        )
        sched = oracle.run_round()
        fetched = [
            (it.url_hash, xxhash64_int(oracle.texts[it.url_norm]))
            for it in sched
            if it.url_hash in oracle.pages
        ]
        return {
            "scheduled": len(sched),
            "fetched": len(fetched),
            "schedule": [it.url_hash for it in sched],
            "text_digest": text_digest(fetched),
            "seen_digest": oracle.seen_digest(),
        }
