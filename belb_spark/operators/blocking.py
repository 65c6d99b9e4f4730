"""Stage 2 — blocking: MinHash-LSH band keys ∪ token-prefix keys.

Two key families per row (north rule: "MinHash-LSH band keys plus
normalized-token prefixes"), both plain JVM expressions:

- ``pfx:`` canonical tokens [2:4] (skipping the 2-token boilerplate prefix)
  — the analogue of belb's name-based grouping (belb/kbs/query.py:234-291).
- ``mh{b}:`` MinHash band keys over the token-3gram shingles of
  :func:`shingles_col`: min-hash ``p`` is the ``array_min`` of
  ``xxhash64(p, shingle)``, and band ``b`` joins min-hashes 2b and 2b+1.
  A row with no tokens has no shingles, so it gets its prefix key only.

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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MINHASH_PERMS = 16   # two per band key -> 8 band keys
SHINGLE_WIDTH = 3
PREFIX_START = 2     # 0-based token offset of the prefix key
PREFIX_LEN = 2


def shingles_col(tokens: str | Column, width: int = 3) -> Column:
    """Distinct token n-gram shingles of an array<string> column, built with
    ``sequence`` + higher-order ``transform`` (pure codegen, no explode).
    This is the one shingle definition: the pipeline's band keys, dedup and
    text ops all shingle through it.

    Short-doc semantics (aligned with the DuckDB oracles): 0 < n < width
    emits ONE whole-text shingle (slice clips to the array); an empty token
    array emits NO shingles (its only gram is the empty string, removed
    below — tokens are non-empty so no legitimate gram is ""). Grams are
    built with ``slice`` — never ``element_at`` — so the expression is
    ANSI-safe (Spark 4 runs with ANSI on, where an out-of-range element_at
    throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT on any doc shorter than the
    width). Deliberately NOT wrapped in a CaseWhen guard: a ``when`` around
    the higher-order transform defeats codegen of the whole expression
    (measured 5× slower at sf0.1).
    """
    t = F.col(tokens) if isinstance(tokens, str) else tokens
    n = F.size(t)
    idx = F.sequence(F.lit(0), F.greatest(n - width, F.lit(0)))
    gram = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(t, (i + 1).cast("int"), width))
    )
    return F.array_remove(F.array_distinct(gram), "")


def _minhash(p: int) -> str:
    """SQL of min-hash ``p`` of the ``sh`` shingle array, as a string: NULL
    when the array is empty."""
    return f"CAST(array_min(transform(sh, s -> xxhash64({p}, s))) AS STRING)"


def block_keys(normalized: DataFrame) -> DataFrame:
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
    # the shingles are projected once: inlined into each of the 16
    # transforms, or guarded by a `when`, 02_blocks took twice as long
    sh = normalized.select(
        "uid",
        "norm_tokens",
        shingles_col("norm_tokens", SHINGLE_WIDTH).alias("sh"),
    )
    # SQL text, not F.transform lambdas: built from Python lambdas, the 16
    # min-hashes took ~1,300 py4j round trips, ~0.25 s of driver time per
    # call. concat, not concat_ws: a NULL min-hash (no shingles) must give
    # a NULL key, which array_compact drops
    bands = [
        F.expr(f"concat('mh{b}:', {_minhash(2 * b)}, '_', {_minhash(2 * b + 1)})")
        for b in range(MINHASH_PERMS // 2)
    ]
    pfx = F.concat(
        F.lit("pfx:"),
        F.concat_ws("|", F.slice("norm_tokens", PREFIX_START + 1, PREFIX_LEN)),
    )
    # every key is family-prefixed ("pfx:", "mh{b}:") and one row has one
    # key per family, so a row's keys are distinct and (uid, block_key) is
    # unique without any dedup
    out = sh.select(
        "uid", F.explode(F.array_compact(F.array(pfx, *bands))).alias("block_key")
    )
    return out.repartition("block_key")
