"""Seeded boolean query-set generation from corpus word frequencies.

Reimplements the reference's generator semantics
(`/root/reference/code/generate_queries.py:13-40,70-156`): corpus-wide
word-frequency ranking → High/Mid/Low frequency pools by rank window
(H=100-500, M=501-2000, L=2001-10000 by default, min frequency 10) →
the 15 boolean templates sampled with a seeded RNG. Queries are emitted
over the *normalized* vocabulary (the reference generates from its
already-preprocessed corpus, which is why its runtime query
preprocessing can be a no-op).

The word-frequency distribution itself is the reference's P7 operator
(`utils.py:62-82`), `docquery.word_freq_top`.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

QUERY_TEMPLATES = [
    "_M_",
    "_L_",
    "_M_ AND _M_",
    "_L_ AND _L_",
    "_M_ OR _L_",
    "_H_ AND _M_",
    "_M_ AND NOT _H_",
    "_L_ AND NOT _M_",
    "(_M_ AND _M_) OR _L_",
    "(_H_ AND _M_) OR (_M_ AND _L_)",
    "(_M_ OR _L_) AND NOT _H_",
    "(_M_ AND _L_) AND (_M_ OR _L_)",
    "(_M_ AND NOT _H_) OR (_L_ AND NOT _M_)",
    "(_H_ OR _M_) AND (_L_ OR _M_)",
    "_L_ AND NOT _H_",
]


@dataclass(frozen=True)
class PoolSpec:
    min_word_freq: int = 10
    high: tuple[int, int] = (100, 500)  # rank windows, 1-based inclusive
    mid: tuple[int, int] = (501, 2000)
    low: tuple[int, int] = (2001, 10000)


def pools_from_frequencies(
    freqs: list[tuple[str, int]], spec: PoolSpec = PoolSpec()
) -> dict[str, list[str]]:
    eligible = [(w, f) for (w, f) in freqs if f >= spec.min_word_freq and w]
    def window(lo_hi):
        lo, hi = lo_hi
        return [w for (w, _) in eligible[lo - 1 : hi]]
    pools = {"H": window(spec.high), "M": window(spec.mid), "L": window(spec.low)}
    for name, pool in pools.items():
        if not pool:
            raise ValueError(
                f"pool {name} empty — corpus too small for spec {spec}; "
                "shrink the rank windows"
            )
    return pools


def generate_queries(
    pools: dict[str, list[str]],
    n_queries: int = 200,
    seed: int = 42,
    templates: list[str] | None = None,
) -> list[str]:
    rng = random.Random(seed)
    templates = templates or QUERY_TEMPLATES
    out = []
    for i in range(n_queries):
        template = templates[i % len(templates)]
        q = template
        for tag, pool_name in (("_H_", "H"), ("_M_", "M"), ("_L_", "L")):
            while tag in q:
                word = rng.choice(pools[pool_name])
                q = q.replace(tag, f'"{word}"', 1)
        out.append(q)
    return out
