"""Stage 2 — blocking: MinHash-LSH band keys ∪ token-prefix keys.

Two key families per row (north rule: "MinHash-LSH band keys plus
normalized-token prefixes"):

- ``pfx:`` canonical tokens [2:4] (skipping the 2-token boilerplate prefix)
  — the analogue of belb's name-based grouping (belb/kbs/query.py:234-291).
- ``mh{b}:`` MinHash band keys: token-3gram shingles → P affine min-hashes
  over one blake2b per shingle → bands of r values, in one Arrow UDF.

Exact duplicates never get here: the pipeline contracts each group of rows
with one token sequence to its min-uid representative at normalize (the
dominant case in a code corpus: identical files vendored across repos), and
every key here is a pure function of ``norm_tokens``.

Scale design: keys are emitted as one exploded (uid, block_key) table,
repartitioned by block_key (aligned with the downstream self-join shuffle).
Skew is handled structurally in pairs.py via anchor-capped joins rather than
by dropping hot blocks (see pairs.py docstring).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from belb_spark.functions.pyworker import drop_archive_finders


@dataclass(frozen=True)
class BlockingConfig:
    minhash_perms: int = 16
    band_size: int = 2           # rows per band -> perms/band_size band keys
    shingle_width: int = 3
    use_prefix: bool = True
    prefix_start: int = 2        # 0-based token offset of the prefix key
    prefix_len: int = 2

    @property
    def n_bands(self) -> int:
        return self.minhash_perms // self.band_size


def _affine_consts(perms: int) -> tuple[np.ndarray, np.ndarray]:
    """Fixed odd multipliers / offsets (splitmix64 stream, seed 0x9E3779...)
    — deterministic across runs and machines, mod-2^64 arithmetic."""
    a, b = [], []
    x = np.uint64(0x9E3779B97F4A7C15)
    for _ in range(perms):
        x = np.uint64((int(x) * 6364136223846793005 + 1442695040888963407) % 2**64)
        a.append(int(x) | 1)
        x = np.uint64((int(x) * 6364136223846793005 + 1442695040888963407) % 2**64)
        b.append(int(x))
    return np.array(a, dtype=np.uint64), np.array(b, dtype=np.uint64)


def make_band_keys_udf(cfg: BlockingConfig):
    """Arrow-batched band-key generator: norm_tokens -> array of LSH band
    keys. One blake2b(8B) per distinct shingle, then ``perms`` affine
    permutations vectorized in numpy (min over shingles per permutation)."""
    perms, band_size, width = cfg.minhash_perms, cfg.band_size, cfg.shingle_width
    n_bands = cfg.n_bands
    A, B = _affine_consts(perms)

    def _band_keys(tokens: pd.Series) -> pd.Series:
        drop_archive_finders()
        out = []
        for ts in tokens:
            n = len(ts)
            if n >= width:
                shingles = {" ".join(ts[i : i + width]) for i in range(n - width + 1)}
            else:
                shingles = {" ".join(ts)}
            hs = np.fromiter(
                (
                    int.from_bytes(
                        hashlib.blake2b(s.encode(), digest_size=8).digest(), "big"
                    )
                    for s in shingles
                ),
                dtype=np.uint64,
                count=len(shingles),
            )
            # perms × shingles affine family, wraparound mod 2^64
            sig = (A[:, None] * hs[None, :] + B[:, None]).min(axis=1)
            out.append(
                [
                    f"mh{b}:" + "_".join(str(sig[b * band_size + r]) for r in range(band_size))
                    for b in range(n_bands)
                ]
            )
        return pd.Series(out)

    return F.pandas_udf(_band_keys, ArrayType(StringType()))


def shingles_col(tokens: str | Column, width: int = 3) -> Column:
    """Distinct token n-gram shingles of an array<string> column, built with
    ``sequence`` + higher-order ``transform`` (pure codegen, no explode).

    Short-doc semantics (aligned with the Arrow band-key UDF above and the
    DuckDB oracles): 0 < n < width emits ONE whole-text shingle (slice clips
    to the array); an empty token array emits NO shingles (its only gram is
    the empty string, removed below — tokens are non-empty so no legitimate
    gram is ""). Grams are built with ``slice`` — never ``element_at`` — so
    the expression is ANSI-safe (Spark 4 runs with ANSI on, where an
    out-of-range element_at throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT on any
    doc shorter than the width). Deliberately NOT wrapped in a CaseWhen
    guard: a ``when`` around the higher-order transform defeats codegen of
    the whole expression (measured 5× slower at sf0.1).
    """
    t = F.col(tokens) if isinstance(tokens, str) else tokens
    n = F.size(t)
    idx = F.sequence(F.lit(0), F.greatest(n - width, F.lit(0)))
    gram = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(t, (i + 1).cast("int"), width))
    )
    return F.array_remove(F.array_distinct(gram), "")


def block_keys(normalized: DataFrame, cfg: BlockingConfig = BlockingConfig()) -> DataFrame:
    """normalized (uid, norm_tokens) -> (uid, block_key) exploded.

    Returns one row per (uid, key); repartitioned by block_key so the
    downstream within-block self-join shuffles once on an aligned layout.

    PRECONDITION (ADVICE r4): the input must be unique on ``uid`` — there is
    deliberately no global distinct here (it was a full extra shuffle that
    never removed a row on the pipeline path, where normalize guarantees
    uniqueness). A caller passing duplicate-uid rows gets duplicate
    (uid, block_key) rows that inflate block sizes, window ranks, and the
    observed pair stats downstream. Both key families depend on
    ``norm_tokens`` alone, so exact duplicates share every key: the
    pipeline passes one representative per token sequence.
    """
    keys = []
    if cfg.use_prefix:
        pfx = F.concat(
            F.lit("pfx:"),
            F.concat_ws(
                "|", F.slice(F.col("norm_tokens"), cfg.prefix_start + 1, cfg.prefix_len)
            ),
        )
        keys.append(F.array(pfx))
    if cfg.minhash_perms > 0:
        keys.append(make_band_keys_udf(cfg)(F.col("norm_tokens")))

    # dedupe PER ROW, not globally: every key is family-prefixed ("pfx:",
    # "mh{b}:") and unique within its family, so a (uid, key) pair can only
    # repeat inside one row's concat array — array_distinct is the whole
    # dedup. The r1-r3 global `.distinct()` here was semantically a no-op
    # that shuffled + hash-aggregated the full exploded table once per run
    # (removed r4).
    out = normalized.select(
        "uid", F.explode(F.array_distinct(F.concat(*keys))).alias("block_key")
    )
    return out.repartition("block_key")
