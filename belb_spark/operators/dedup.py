"""Deduplication operators over a generic (id, text) table.

Training-data-pipeline dedup family, each expressed Spark-first:

- exact dedup — hash-groupBy (belb A7 ``dropDuplicates`` analogue,
  belb/preprocessing/data.py:472-491)
- MinHash-LSH near-dup — shingle → minhash → band → bucket-join. The
  signature is md5-based (:func:`md5_minhash_sig`), so it is reproducible
  in any engine and the DuckDB oracles can check it; min over fixed-width
  lowercase hex == numeric min, so no integer casts are needed anywhere.
  xxhash64 only compresses the bucket keys fed to the pair builder
  (:func:`_bucket_pairs`). The ER pipeline's blocking shingles through the
  same :func:`blocking.shingles_col` but min-hashes with ``xxhash64(p,
  shingle)`` (blocking.py); dedup keeps md5 because its DuckDB oracles need
  a hash that both engines compute alike
- SimHash — bitwise majority over token hashes, built from md5 nibbles so it
  is engine-portable too
- n-gram Jaccard — shingle-set similarity over candidate pairs

All operators are pure DataFrame expressions (no UDFs): shingling uses
``sequence`` + higher-order ``transform``; signatures are ``array_min`` over
``transform``; only ``explode`` materializes rows.

Skew defense (shared with the ER pipeline): the band/shingle bucket
self-joins route through :func:`pairs.candidate_pairs`, so a hot
bucket (a boilerplate 5-gram shared by 10^5 files, a band key of a vendored
blob) is anchor-capped AND salted across reducers instead of going O(n²) on
one key. Buckets up to ``PairsConfig.full_join_max`` emit ALL pairs (the
exhaustive semantics the DuckDB oracles verify); bigger buckets emit
anchor→member pairs only — bounded, connectivity-preserving, and observable
via :func:`pairs.pair_stats` over the (id, bucket_key) rows (no silent
drops).

Lifecycle (r6): the per-doc DISTINCT-shingle ARRAY table (id, arr) is the
shared base of every consumer — MinHash signatures are per-row
``array_min`` transforms (no exploded groupBy), blocking explodes the
slim (id, key) rows off it, and the Jaccard verify is an
``array_intersect`` count over the candidate pairs (no exploded
intersection join). The base takes a lazy ``localCheckpoint``: it is
computed ONCE on the first action and every branch (sigs, blocks, both
verify sides) reads the materialized blocks. The r1-r5 alternative — a
fully lazy plan leaning on exchange reuse across the branches — left SIX
static copies of the tokenize+shingle pipeline in the plan (static
broadcast joins wrap branches in BroadcastExchange, outside AQE's
stage-reuse reach), measured 2-3× the wall of the checkpointed base at
sf1.0. The checkpoint blocks are reclaimed by the context cleaner when
the query's RDDs are GC'd (same lifecycle as the reliable checkpoint
files elsewhere). Results are lazy: a caller that runs several actions
over a pair table checkpoints it itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from belb_spark.operators.blocking import shingles_col
from belb_spark.operators.normalize import min_id_per_key
from belb_spark.operators.pairs import PairsConfig, candidate_pairs

HIGH_NIBBLE = ["8", "9", "a", "b", "c", "d", "e", "f"]  # hex digits with bit3 set


def tokens_col(text: str | Column, sep: str = " ") -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(t, sep), lambda x: x != F.lit(""))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, text) -> (id, rep_id, group_size): rep = min id of the identical-
    text group (md5 bucket). Window-based — no self-join."""
    return min_id_per_key(
        df, id_col, F.md5(F.col(text_col)), "rep_id", size_col="group_size"
    ).select(F.col(id_col), "rep_id", "group_size")


def md5_minhash_sig(shingles: Column, perms: int) -> list[Column]:
    """Engine-portable MinHash: sig[p] = min(md5(p || ':' || shingle)).
    Fixed-width hex strings compare like numbers."""
    return [
        F.array_min(
            F.transform(shingles, lambda s: F.md5(F.concat(F.lit(f"{p}:"), s)))
        ).alias(f"sig{p}")
        for p in range(perms)
    ]


def _bucket_pairs(exploded: DataFrame, cfg: PairsConfig) -> DataFrame:
    """(id, bucket_key) -> capped+salted candidate (id_a, id_b).

    The ER pipeline's within-block pair builder
    (:func:`pairs.candidate_pairs`): all pairs for buckets ≤
    cfg.full_join_max, anchor→member pairs (replicated-anchor salting)
    above — a hot bucket cannot emit O(n²) pairs onto one reducer.

    Bucket keys are xxhash64-compressed to 8 bytes before the builder: the
    window sort and the join's shuffles compare longs instead of ~30-70 char
    shingle/band strings. Provably output-neutral here: a 64-bit collision
    can only ADD candidate pairs, and every emitted pair is verified with
    the true shingle-set Jaccard (> 0 requires a genuinely shared shingle,
    which already makes the pair a candidate) — so false candidates are
    filtered and true ones are never lost. (Sole theoretical exception: a
    collision merging two buckets across the full_join_max cap boundary;
    ~n²/2⁶⁵ at any realistic bucket count.)"""
    blocks = exploded.select(
        F.col(exploded.columns[0]).alias("uid"),
        F.xxhash64(F.col(exploded.columns[1])).alias("block_key"),
    )
    return candidate_pairs(blocks, cfg).select(
        F.col("uid_a").alias("id_a"), F.col("uid_b").alias("id_b")
    )


def _doc_shingles(df: DataFrame, id_col: str, text_col: str, width: int) -> DataFrame:
    """(id, arr): per-doc DISTINCT-shingle array, materialized once via a
    lazy localCheckpoint. Every consumer — the per-row MinHash signatures,
    the blocking explode, and BOTH sides of the Jaccard verify joins —
    reads the checkpointed blocks instead of re-deriving the tokenize+
    shingle pipeline per branch (static broadcast joins otherwise copy the
    subtree outside AQE's stage-reuse reach: 6 evaluations in the r5 plan,
    measured 2-3× the wall at sf1.0). Blocks are MEMORY_AND_DISK and
    reclaimed by the context cleaner once the query's RDDs are GC'd."""
    base = df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        shingles_col(tokens_col(text_col), width).alias("arr"),
    )
    return base.localCheckpoint(eager=False)


def _jaccard_from_arrays(pairs: DataFrame, base: DataFrame, min_jaccard: float) -> DataFrame:
    """True shingle-set Jaccard per candidate pair, computed by joining the
    (id, arr) base onto both pair sides and counting
    ``array_intersect`` — |A∩B| over distinct arrays, |A∪B| = |A| + |B| −
    |A∩B|. Exact (raw shingle strings, no hashing) and identical to the
    DuckDB oracle's set semantics; shingles_col already emits distinct
    shingles. The joins move |pairs| rows, not |pairs|·|shingles| exploded
    rows (the r5 shape's verify shuffle). The ``jaccard > 0`` filter keeps
    the r5 inner-intersection-join semantics: a 0-intersection candidate
    (possible only through an xxhash64 bucket collision) is dropped — only
    observable at min_jaccard == 0."""
    # shuffle-hash, not broadcast: Catalyst's estimate broadcasts the fat
    # (id, arr) side TWICE (two HashedRelation builds of the whole shingle
    # table — measured +0.9 s at sf1.0); hashing the slim pair table against
    # a shuffled base is cheaper at every scale, and per-partition build
    # size is bounded by the shuffle partition count (guide §3.1)
    joined = pairs.join(
        base.select(F.col("id").alias("id_a"), F.col("arr").alias("arr_a")).hint(
            "shuffle_hash"
        ),
        "id_a",
    ).join(
        base.select(F.col("id").alias("id_b"), F.col("arr").alias("arr_b")).hint(
            "shuffle_hash"
        ),
        "id_b",
    )
    inter = F.size(F.array_intersect("arr_a", "arr_b"))
    jacc = inter / (F.size("arr_a") + F.size("arr_b") - inter)
    return (
        joined.withColumn("jaccard", jacc)
        .filter((F.col("jaccard") >= F.lit(min_jaccard)) & (F.col("jaccard") > 0))
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    perms: int = 8,
    band_size: int = 2,
    shingle_width: int = 3,
    min_jaccard: float = 0.2,
    pairs_cfg: PairsConfig = PairsConfig(),
) -> DataFrame:
    """Near-duplicate pairs: docs sharing any LSH band, verified with true
    shingle-set Jaccard ≥ min_jaccard. Output (id_a, id_b, jaccard).

    Band buckets bigger than ``pairs_cfg.full_join_max`` are anchor-capped +
    salted (see module docstring); the exhaustive all-pairs semantics hold
    for every bucket at or under the cap.

    Feeding :func:`~belb_spark.operators.clustering.connected_components`
    is safe lazily: CC eagerly checkpoints its input edge set first thing,
    so the pair plan is evaluated exactly once (the in-repo callers —
    ``entry()``/``q_cc_clusters`` — rely on that)."""
    base = _doc_shingles(df, id_col, text_col, shingle_width)
    # sig[p] = min md5 over the doc's distinct shingles — a per-row
    # array_min over the checkpointed array: no exploded groupBy, no
    # shuffle anywhere before the (tiny) band-key table. Zero-shingle docs
    # (empty/whitespace text) are excluded up front: their sigs would be
    # all-NULL and concat_ws would collapse every such doc into the same
    # degenerate band buckets — guaranteed wasted candidate pairs that the
    # r5 exploded shape structurally never produced (and the verify would
    # drop them anyway: jaccard 0/0 is NULL).
    sigs = base.filter(F.size("arr") > 0).select(
        "id", *md5_minhash_sig(F.col("arr"), perms)
    )
    bands = []
    for b in range(perms // band_size):
        parts = [F.col(f"sig{b * band_size + r}") for r in range(band_size)]
        bands.append(F.concat_ws("_", F.lit(str(b)), *parts))
    exploded = sigs.select("id", F.explode(F.array(*bands)).alias("band_key"))
    pairs = _bucket_pairs(exploded, pairs_cfg)
    return _jaccard_from_arrays(pairs, base, min_jaccard)


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash over the distinct-token set: bit b of the hash is the
    sign of Σ_tokens (±1 by bit 3 of md5-nibble b). Output (id, simhash)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens_col(text_col))).alias("tok"),
    ).withColumn("h", F.md5("tok"))
    sums = toks.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.substring("h", b + 1, 1).isin(HIGH_NIBBLE), 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(16)
        ]
    )
    hash_expr = None
    for b in range(16):
        bit = F.when(F.col(f"s{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        hash_expr = bit if hash_expr is None else hash_expr + bit
    return sums.select("id", hash_expr.cast("long").alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_width: int = 5,
    min_jaccard: float = 0.3,
    pairs_cfg: PairsConfig = PairsConfig(),
) -> DataFrame:
    """Pairs sharing ≥1 width-n token shingle with shingle-Jaccard ≥ cut.
    The shared-shingle prejoin is the blocking step (no full cross join);
    hot shingles above ``pairs_cfg.full_join_max`` docs are anchor-capped +
    salted instead of emitting O(n²) pairs on one reducer."""
    base = _doc_shingles(df, id_col, text_col, shingle_width)
    ex = base.select("id", F.explode("arr").alias("s"))
    pairs = _bucket_pairs(ex, pairs_cfg)
    return _jaccard_from_arrays(pairs, base, min_jaccard)


def synset_clusters(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """belb's identical-synset merge (belb/kbs/query.py:97-194): rows whose
    *distinct token set* is identical share a cluster; cluster id = min id
    (first identifier becomes canonical). Output (id, cluster)."""
    synset_key = F.md5(
        F.concat_ws("\x01", F.array_sort(F.array_distinct(tokens_col(text_col))))
    )
    return min_id_per_key(df, id_col, synset_key, "cluster").select(
        F.col(id_col).alias("id"), "cluster"
    )
