"""Seeded input synthesis for the benchmark workloads.

Every generator is a pure function of its arguments (``seed`` included), so
the same seed gives the same inputs. URLs come from the corpus address space
of ``spiderspark.pages`` (Zipf hosts: host0-2 hold about 62% of ids), and
canonicalisation noise is injected as scheme/host case, an explicit default
port and dot segments. By construction every noisy URL canonicalises to the
clean ``url_for_ids`` form of its id, which is what lets the references in
``perfbench.reference`` avoid the engine's canonicaliser.

Seed 0 of ``frontier`` regenerates the legacy headline frontier of
``spiderspark.bench.frontier_urls_dist`` row for row (noise at ids divisible
by 5, 7 and 11; the seen set is the first third of the ids).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from spiderspark.pages import gen_pages_pdf, host_ids, url_for_ids


def add_noise(urls: pd.Series, case, port, dots) -> pd.Series:
    """Apply the three canonicalisation-noise kinds under boolean masks."""
    urls = urls.mask(case, urls.str.replace("http://host", "HTTP://HOST", regex=False))
    urls = urls.mask(port, urls.str.replace(".example/", ".example:80/", regex=False))
    return urls.mask(dots, urls.str.replace("/p/", "/a/../p/./", regex=False))


def _random_noise(rng, n: int):
    # 1 - (4/5)(6/7)(10/11) ≈ 38% of rows carry at least one kind of noise
    return rng.random(n) < 1 / 5, rng.random(n) < 1 / 7, rng.random(n) < 1 / 11


def seen_keys_pdf(ids: np.ndarray) -> pd.DataFrame:
    """mark_seen key shape (url_norm, host) for corpus ids; url_hash is added
    JVM-side at write time."""
    return pd.DataFrame(
        {
            "url_norm": url_for_ids(ids),
            "host": "host" + pd.Series(host_ids(ids)).astype(str) + ".example",
        }
    )


@dataclass
class Frontier:
    raw: pd.DataFrame  # url, priority — the init_state input
    ids: np.ndarray  # corpus id of every raw row (duplicates included)
    seen_ids: np.ndarray  # ids pre-marked seen before scheduling


def frontier(seed: int, n: int) -> Frontier:
    """Raw frontier of about ``n`` rows plus a seen set overlapping a third.

    Seed 0 is the legacy headline frontier; any other seed draws distinct
    ids, re-adds 5% of them as differently-noised duplicates (so within-batch
    dedup has work) and draws the seen third at random."""
    if seed == 0:
        ids = np.arange(n, dtype=np.int64)
        noise = (ids % 5 == 0, ids % 7 == 0, ids % 11 == 0)
        seen_ids = np.arange(n // 3, dtype=np.int64)
    else:
        rng = np.random.default_rng(seed)
        uniq = rng.choice(10 * n, size=n, replace=False).astype(np.int64)
        ids = np.concatenate([uniq, rng.choice(uniq, size=n // 20, replace=False)])
        noise = _random_noise(rng, len(ids))
        seen_ids = rng.choice(uniq, size=n // 3, replace=False)
    raw = pd.DataFrame(
        {
            "url": add_noise(url_for_ids(ids), *noise),
            "priority": (ids % 5).astype("float64"),
        }
    )
    return Frontier(raw, ids, seen_ids)


def corpus(n_pages: int) -> pd.DataFrame:
    """The fetchable page corpus (pages schema); a pure function of its size."""
    return gen_pages_pdf(np.arange(n_pages), n_pages)


def crawl_seeds(seed: int, n_pages: int, n_seeds: int) -> pd.DataFrame:
    """Seed list drawn by RNG from the whole corpus (so every host gets
    seeds in proportion to its share), with canonicalisation noise, a
    priority mix and 1% dead links that exercise the retry path."""
    rng = np.random.default_rng(seed)
    ids = rng.choice(n_pages, size=n_seeds, replace=False).astype(np.int64)
    urls = add_noise(url_for_ids(ids), *_random_noise(rng, n_seeds))
    n_dead = max(1, n_seeds // 100)
    dead = pd.Series(
        [f"http://dead{int(i)}.example/p/{int(i)}" for i in rng.integers(0, 10**6, n_dead)]
    )
    return pd.DataFrame(
        {
            "url": pd.concat([urls, dead], ignore_index=True),
            "priority": rng.integers(0, 5, n_seeds + n_dead).astype("float64"),
        }
    )

