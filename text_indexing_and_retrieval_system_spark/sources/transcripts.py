"""Deterministic synthetic multi-turn transcript corpus.

Schema fixed by BASELINE.json `input_hint`:
    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp

Design points:
- **Distributed + partition-invariant determinism**: generation runs as
  `spark.range(n_convs)` → `mapInPandas`, with an RNG seeded per
  conversation from (seed, conv_id). The produced rows are identical for
  any partitioning / executor count, which the resume and scaling tests
  rely on. At 10^12-turn scale the same generator shape works — no
  driver-side materialization.
- **Zipfian vocabulary** (~20k terms) so the reference's H/M/L
  frequency query pools (`/root/reference/code/generate_queries.py:13-20`)
  are realizable, plus embedded stopwords and morphological suffixes to
  exercise the normalize pipeline.
- No wall-clock anywhere: `ts` is a fixed base epoch + offset.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Iterator

import numpy as np
import pandas as pd

try:  # pyspark only needed for the distributed generator
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql import types as T
except ImportError:  # pragma: no cover
    DataFrame = SparkSession = T = None  # type: ignore

TRANSCRIPT_SCHEMA_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)

_ROLES = np.array(["user", "assistant", "system", "tool"])
_ROLE_P = np.array([0.40, 0.40, 0.05, 0.15])
_TOOLS = np.array(["", "search", "calculator", "browser", "python", "sql"])
_TOOL_P = np.array([0.55, 0.12, 0.08, 0.09, 0.09, 0.07])

_BASE_EPOCH = _dt.datetime(2025, 1, 1, tzinfo=_dt.timezone.utc)

_SYL_A = "br cl dr fl gr pl pr sk sl sp st tr ch sh th b c d f g h j k l m n p r s t v w".split()
_SYL_B = "a e i o u ai ea ou io oa".split()
_SYL_C = "ck ll ss nd nt rd rt st mp ng b d g k l m n p r t x z".split()
_SUFFIXES = ["", "", "", "", "s", "ing", "ed", "er", "ation", "ness", "ly", "ment"]


def build_vocabulary(size: int = 20000, seed: int = 7) -> np.ndarray:
    """Deterministic pseudo-English vocabulary, unique, stable order."""
    rng = np.random.RandomState(seed)
    words: list[str] = []
    seen: set[str] = set()
    # seed with common stopwords so removal is exercised (they land in the
    # top Zipf ranks, mirroring natural text)
    for w in (
        "the of and to a in is it you that he was for on are with as his "
        "they i at be this have from or had by not but what all were we "
        "when your can said there use an each which she do how their if"
    ).split():
        if w not in seen:
            words.append(w)
            seen.add(w)
    while len(words) < size:
        w = (
            _SYL_A[rng.randint(len(_SYL_A))]
            + _SYL_B[rng.randint(len(_SYL_B))]
            + _SYL_C[rng.randint(len(_SYL_C))]
        )
        if rng.rand() < 0.5:
            w += _SYL_B[rng.randint(len(_SYL_B))] + _SYL_C[rng.randint(len(_SYL_C))]
        w += _SUFFIXES[rng.randint(len(_SUFFIXES))]
        if w not in seen:
            words.append(w)
            seen.add(w)
    return np.array(words)


def zipf_probs(size: int, alpha: float = 1.07) -> np.ndarray:
    ranks = np.arange(1, size + 1, dtype=np.float64)
    p = 1.0 / (ranks + 2.7) ** alpha
    return p / p.sum()


_VOCAB_CACHE: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}


def _vocab(size: int = 20000, seed: int = 7):
    key = (size, seed)
    if key not in _VOCAB_CACHE:
        v = build_vocabulary(size, seed)
        _VOCAB_CACHE[key] = (v, zipf_probs(size))
    return _VOCAB_CACHE[key]


def generate_conversation(
    conv_idx: int,
    seed: int = 42,
    vocab_size: int = 20000,
    spread: str = "uniform",
) -> pd.DataFrame:
    """All turns of one conversation — pure function of (seed, conv_idx).

    `spread="uniform"` (default): iid Zipf word draws per turn — tf is
    almost always 1-2 and doc lengths are narrow, which makes per-block
    BM25 upper bounds FLAT (p99/p50 ≈ 1.09 measured) and leaves
    block-max skipping nothing to bite on.

    `spread="realistic"`: two properties of natural corpora that the
    uniform mode lacks, both of which block-max indexes exploit:
      1. *Bursty within-turn term repeats* — each sampled concept
         repeats with a capped-Zipf count (the two-Poisson / burstiness
         shape of real text) → varied tf.
      2. *Corpus drift over ingest order* — turn length and burstiness
         drift smoothly with conv_idx (corpora evolve over crawl/time:
         verbose eras, terse eras). Posting blocks cover CONSECUTIVE
         doc-id ranges, so drift is what makes per-block (max_tf,
         min_dl) bounds genuinely non-flat at block granularity; iid
         variation alone is flattened by the max/min over a 128-posting
         block. Skipping payoff measured on 1.01M realistic turns
         (BENCH.md): block skip rate 0.27 at k=10, 0.08 at k=50.
    """
    vocab, probs = _vocab(vocab_size)
    rng = np.random.RandomState((seed * 1_000_003 + conv_idx) % (2**31 - 1))
    n_turns = 1 + int(rng.zipf(1.6) % 40)  # zipfian turns/conv, 1..40
    conv_id = f"conv-{conv_idx:08d}"
    if spread == "realistic":
        # drift period of 60k convs >> the ~2k-conv span of one block.
        # Anti-correlated eras: verbose eras (long docs, tight sigma, no
        # bursts) give per-block bounds near the BM25 long-doc floor
        # (impact ~0.6 at tf=1, dl >> avgdl); terse eras (short bursty
        # turns) give bounds near the tf-saturated ceiling (~2.1). Both
        # the max_tf and min_dl knobs must move TOGETHER within an era —
        # tf saturation makes a single bursty posting cancel the
        # long-doc discount, and one short doc cancels the min_dl rise,
        # so iid mixing flattens the max/min over a 128-posting block.
        phase = 2.0 * np.pi * (conv_idx % 60000) / 60000.0
        s = np.sin(phase)
        len_mu = 3.4 + 1.6 * s  # era avg dl ~6 .. ~150
        burst_p = 0.30 * (0.5 - 0.5 * s) ** 2  # bursts only in terse eras
        lengths = np.clip(
            rng.lognormal(mean=len_mu, sigma=0.25, size=n_turns), 2, 1200
        ).astype(int)
    else:
        lengths = np.clip(
            rng.lognormal(mean=3.0, sigma=0.8, size=n_turns), 3, 400
        ).astype(int)
    total = int(lengths.sum())
    word_idx = rng.choice(vocab_size, size=total, p=probs)
    if spread == "realistic":
        # bursty repeats WITHIN each turn: a burst_p-fraction of concepts
        # repeat with a Zipf-tailed capped count, trimmed to the turn
        # budget and shuffled — vectorized per turn, no per-word sampling
        reps_all = np.where(
            rng.rand(total) < burst_p,
            np.minimum(rng.zipf(1.3, size=total), 20),
            1,
        )
        bounds = np.concatenate([[0], np.cumsum(lengths)])
        burst = np.empty(total, dtype=word_idx.dtype)
        for i in range(n_turns):
            s, e = int(bounds[i]), int(bounds[i + 1])
            ln = e - s
            rep = np.repeat(word_idx[s:e], reps_all[s:e])[:ln]
            burst[s:e] = rep[rng.permutation(ln)]
        word_idx = burst
    words = vocab[word_idx]
    # sprinkle punctuation/digits so char-strip matters
    deco = rng.rand(total)
    words = words.copy()
    words[deco < 0.03] = np.char.add(words[deco < 0.03], ",")
    words[(deco >= 0.03) & (deco < 0.04)] = np.char.add(
        words[(deco >= 0.03) & (deco < 0.04)], "!"
    )
    words[(deco >= 0.04) & (deco < 0.05)] = rng.randint(
        0, 10000, size=int(((deco >= 0.04) & (deco < 0.05)).sum())
    ).astype(str)
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[offsets[i] : offsets[i + 1]]) for i in range(n_turns)]
    roles = _ROLES[rng.choice(len(_ROLES), size=n_turns, p=_ROLE_P)]
    tools = _TOOLS[rng.choice(len(_TOOLS), size=n_turns, p=_TOOL_P)]
    tools = np.where(roles == "tool", np.where(tools == "", "search", tools), tools)
    ts = [
        _BASE_EPOCH + _dt.timedelta(seconds=int(conv_idx) * 3600 + i * 7)
        for i in range(n_turns)
    ]
    return pd.DataFrame(
        {
            "conv_id": conv_id,
            "turn_idx": np.arange(n_turns, dtype=np.int32),
            "role": roles,
            "text": texts,
            "tool": tools,
            "ts": ts,
        }
    )


def generate_transcripts_pandas(
    n_convs: int, seed: int = 42, vocab_size: int = 20000, spread: str = "uniform"
) -> pd.DataFrame:
    """Driver-side generation for small fixtures/oracles."""
    return pd.concat(
        [generate_conversation(i, seed, vocab_size, spread) for i in range(n_convs)],
        ignore_index=True,
    )


def generate_transcripts(
    spark: "SparkSession",
    n_convs: int,
    seed: int = 42,
    vocab_size: int = 20000,
    partitions: int | None = None,
    spread: str = "uniform",
) -> "DataFrame":
    """Distributed generator: spark.range over conv ids → mapInPandas."""
    if partitions is None:
        partitions = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 8)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for conv_idx in pdf["id"].tolist():
                yield generate_conversation(int(conv_idx), seed, vocab_size, spread)

    return (
        spark.range(0, n_convs, numPartitions=partitions)
        .mapInPandas(gen, schema=TRANSCRIPT_SCHEMA_DDL)
    )
