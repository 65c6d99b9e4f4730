"""Similarity search over an embedding column (array<float>).

- brute-force cosine top-k: the correctness baseline. Vectors are cast to
  double and the dot product is a ``zip_with`` + ``aggregate`` fold — pure
  JVM codegen, no Python. The small query side is broadcast; the corpus side
  streams, so the plan is a broadcast nested-loop that scales linearly in
  corpus size and never shuffles the corpus.
- SRP-LSH buckets (sign-random-projection): the scale path. Each vector gets
  a b-bit bucket from the signs of b fixed integer-weight hyperplanes
  (deterministic, engine-portable); ANN then only compares within buckets.
  At 100 TB the bucket column becomes the partition key and candidate
  generation is a bucket-equi-join instead of a cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 3,
) -> DataFrame:
    """Brute-force top-k by cosine. Output (query_id, vec_id, rank, cosine).

    Rank orders by (cosine rounded to ``round_digits``, then id) — fully
    deterministic under floating-point jitter across engines/partitionings.
    """
    corpus = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("nv", _norm(F.col("v")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("nq", _norm(F.col("qv")))

    joined = corpus.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = _dot(F.col("v"), F.col("qv")) / (F.col("nv") * F.col("nq"))
    scored = joined.withColumn("cosine", F.round(cos, round_digits))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cosine")
    )


def srp_weights(n_planes: int, dim: int, table: int = 0) -> list[list[float]]:
    """Deterministic integer hyperplane weights in [-6, 6] — reproducible in
    any engine from the same formula (no RNG state). ``table`` selects an
    independent plane set (plane index offset by table*n_planes), the
    LSH-band-table analogue for SRP: unioning tables multiplies recall on
    the near-dup band exactly like MinHash band tables."""
    # table enters through a second incommensurate term (mod-11 stride), not
    # a plane-index offset — a plain offset is periodic mod 13 and table 1
    # would repeat three of table 0's planes
    return [
        [
            float(
                ((i * (p + 3) + 5 * p + 7 + table * ((3 * i + 2 * p + 5) % 11)) % 13)
                - 6
            )
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def srp_bucket_col(
    vec_col: str = "embedding", n_planes: int = 8, dim: int = 64, table: int = 0
) -> Column:
    """long Column: b-bit sign pattern of fixed hyperplane projections —
    usable inline on any row that carries the vector (no id-join needed).
    Built as ONE parsed SQL expression: the n_planes × dim literal matrix
    as a py4j-built tree cost ~0.6 s of driver round-trips per plan build
    (see :func:`_cell_scores_sql`); the Catalyst tree and arithmetic are
    identical."""
    vec_sql = _vec_sql(vec_col)
    weights = srp_weights(n_planes, dim, table)
    bits = [
        f"(CASE WHEN {_sql_dot(vec_sql, _sql_darray(w))} >= 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p, w in enumerate(weights)
    ]
    return F.expr("cast((" + " + ".join(bits) + ") as bigint)")


def srp_lsh_buckets(
    embeddings: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: int = 0,
) -> DataFrame:
    """(vec_id, bucket): b-bit sign pattern of fixed hyperplane projections."""
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        srp_bucket_col(vec_col, n_planes, dim, table).alias("bucket"),
    )


def embedding_cosine_pairs(
    embeddings: DataFrame,
    min_cosine: float = 0.9,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 3,
    n_tables: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates share an SRP
    bucket in ANY of ``n_tables`` independent plane sets (bucket-equi
    self-join — the blocking step, no cross join), then exact cosine
    verification ≥ min_cosine. Output (id_a, id_b, cosine).

    Same shape as MinHash-LSH dedup but over the vector column: at 100 TB
    the (table, bucket) key is the shuffle key and a bucket is a tiny
    fraction of the corpus. Single-table recall on the near-dup band is the
    SRP collision probability (1 - θ/π)^planes; unioning tables raises it
    to 1 - (1 - (1-θ/π)^planes)^tables, exactly like MinHash band tables
    (pinned by a recall test on deterministic near-dup vectors).
    """
    from functools import reduce

    from belb_spark.operators.pairs import PairsConfig, candidate_pairs

    # slim (id, table<<planes | bucket) self-join through
    # pairs.candidate_pairs, the anchor-capped + salted builder the ER
    # pipeline and text dedup also use: a degenerate embedding set
    # collapsing into one bucket cannot go O(n²) on a single reducer, and
    # buckets ≤ full_join_max keep exhaustive all-pairs semantics. The
    # table id rides the high bits of the (long) block key, so one builder
    # pass covers all tables and the final distinct dedupes pairs found by
    # several tables. The block table stays live: both sides of the
    # builder's one join read the reused exchange below its window, and a
    # localCheckpoint of it measured flat (dedup_embedding_cosine at sf0.1,
    # local[4], best of 6: 0.53 s with, 0.51 s without).
    per_table = [
        srp_lsh_buckets(embeddings, n_planes, dim, id_col, vec_col, table=t).select(
            F.col("vec_id").alias("uid"),
            (F.col("bucket") + F.lit(t << n_planes)).alias("block_key"),
        )
        for t in range(n_tables)
    ]
    blocks = reduce(lambda a, b: a.unionByName(b), per_table)
    cand = candidate_pairs(blocks, PairsConfig()).select(
        F.col("uid_a").alias("id_a"), F.col("uid_b").alias("id_b")
    )
    # per-VECTOR norm, computed once on the 1-row-per-id side and carried
    # through the join — the r5 shape re-evaluated both norms per PAIR
    # (2 × |pairs| × dim multiplies for |ids| × dim of information). Same
    # expression over the same doubles: bit-identical cosine.
    v = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("nv", _norm(F.col("v")))
    cand = cand.join(
        v.select(
            F.col("vec_id").alias("id_a"),
            F.col("v").alias("v_a"),
            F.col("nv").alias("nv_a"),
        ),
        "id_a",
    ).join(
        v.select(
            F.col("vec_id").alias("id_b"),
            F.col("v").alias("v_b"),
            F.col("nv").alias("nv_b"),
        ),
        "id_b",
    )
    cos = _dot(F.col("v_a"), F.col("v_b")) / (F.col("nv_a") * F.col("nv_b"))
    return (
        cand.withColumn("cosine", F.round(cos, round_digits))
        .filter(F.col("cosine") >= F.lit(min_cosine))
        .select("id_a", "id_b", "cosine")
    )


def srp_ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share the query's SRP bucket, then exact
    cosine re-rank within the bucket (bucket-equi-join, no cross join). The
    bucket is computed INLINE on each side (r6) — the bucket table is a pure
    per-row function of the vector, so the former id-equi-join of each side
    with its own bucket table was a self-join of the corpus for zero
    information."""
    corpus = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        srp_bucket_col(vec_col, n_planes, dim).alias("bucket"),
    ).withColumn("nv", _norm(F.col("v")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        srp_bucket_col(vec_col, n_planes, dim).alias("qbucket"),
    ).withColumn("nq", _norm(F.col("qv")))
    joined = corpus.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("query_id")),
    )
    # norms ride the per-vector rows (computed once per id, not per joined
    # candidate row) — same expression over the same doubles, bit-identical
    cos = _dot(F.col("v"), F.col("qv")) / (F.col("nv") * F.col("nq"))
    w = Window.partitionBy("query_id").orderBy(
        F.round(cos, 3).desc(), F.col("vec_id").asc()
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", F.round(cos, 3).alias("cosine"))
    )


def ivf_centroids(
    embeddings: DataFrame,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic IVF-flat coarse quantizer: the centroids are the first
    ``n_cells`` corpus vectors by id — no iterative training, so the cell
    function is reproducible in any engine (the DuckDB oracle recomputes the
    same cells) and stable across partitionings. Trained (k-means)
    centroids are out of scope. Driver-side collect is bounded at n_cells
    rows."""
    rows = (
        embeddings.select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .orderBy("cid")
        .limit(n_cells)
        .collect()
    )
    return [(int(r["cid"]), list(r["v"])) for r in rows]


def _sql_darray(w: list[float]) -> str:
    """SQL text of a double-array literal. repr() emits the shortest
    round-tripping decimal, which Java's Double.parseDouble maps back to
    the identical IEEE double — bit-exact across the boundary."""
    return "array(" + ",".join(f"{float(x)!r}D" for x in w) + ")"


def _sql_dot(vec_sql: str, arr_sql: str) -> str:
    """SQL twin of :func:`_dot` (same fold order — identical doubles)."""
    return (
        f"aggregate(zip_with({vec_sql}, {arr_sql}, (x, y) -> x * y), "
        "0.0D, (acc, v) -> acc + v)"
    )


def _sql_norm(vec_sql: str) -> str:
    """SQL twin of :func:`_norm`."""
    return (
        f"sqrt(aggregate(transform({vec_sql}, x -> x * x), 0.0D, "
        "(acc, v) -> acc + v))"
    )


def _vec_sql(vec_col: str) -> str:
    return f"cast(`{vec_col}` as array<double>)"


def _cell_scores_sql(vec_sql: str, centroids: list[tuple[int, list[float]]]) -> str:
    """SQL text of array<struct<c: cosine-to-centroid (6dp), n:
    -centroid_id>> — the struct ordering makes array_max/sort pick highest
    cosine with smaller centroid id as the deterministic tie-break.

    Built as ONE ``F.expr`` string instead of a py4j expression tree: the
    n_cells × dim literal matrix cost ~1.1 s of py4j round-trips per plan
    build (profiled — lit() on a list is a per-element call), paid on
    every bench repeat. Parsing the equivalent SQL text is a single call;
    the resulting Catalyst tree (and therefore the arithmetic) is
    identical to the r5 Column-built one."""
    cells = []
    for cid, w in centroids:
        nw = sum(x * x for x in w) ** 0.5
        cos = f"({_sql_dot(vec_sql, _sql_darray(w))} / ({_sql_norm(vec_sql)} * {nw!r}D))"
        cells.append(f"named_struct('c', round({cos}, 6), 'n', {-cid})")
    return "array(" + ",".join(cells) + ")"


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat approximate top-k: corpus vectors are inverted by coarse
    cell; each query probes its ``n_probe`` nearest cells and exact-cosine
    re-ranks only those cells' vectors. Output (query_id, vec_id, rank,
    cosine), rank deterministic via (cosine 3dp desc, vec_id). The
    centroids are :func:`ivf_centroids`' first-K baseline, which the DuckDB
    oracle reproduces.

    Scale shape: the corpus side is shuffled ONCE by cell (at rest this is
    the table's bucket/partition key, so the probe join is partition-pruned
    to n_probe cells per query); the query→cell probe list is tiny and
    broadcast. Nothing driver-side except the bounded centroid fetch."""
    centroids = ivf_centroids(embeddings, n_cells, id_col, vec_col)

    # cell computed INLINE: the cell is a per-row function of the vector
    # (its highest-cosine centroid), so an id-equi-join of the corpus with
    # its own assignment table would be a corpus self-join (one whole extra
    # shuffle + join of the big side) for zero information.
    # The centroid matrix enters as ONE parsed SQL literal (_cell_scores_sql)
    # — the py4j-built tree cost ~1.1 s of driver round-trips per plan build.
    cells = F.expr(_cell_scores_sql(_vec_sql(vec_col), centroids))  # parsed once
    best = F.array_max(cells)
    corpus = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        (-best["n"]).cast("long").alias("cell"),
    ).withColumn("nv", _norm(F.col("v")))

    scores = F.reverse(F.array_sort(cells))
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        F.slice(scores, 1, n_probe).alias("_p"),
    ).select(
        "query_id",
        "qv",
        _norm(F.col("qv")).alias("nq"),
        F.explode(F.transform("_p", lambda s: -s["n"])).alias("cell"),
    )

    joined = corpus.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    # per-vector norms computed once per id row (not per probed candidate)
    cos = _dot(F.col("v"), F.col("qv")) / (F.col("nv") * F.col("nq"))
    w = Window.partitionBy("query_id").orderBy(
        F.round(cos, 3).desc(), F.col("vec_id").asc()
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", F.round(cos, 3).alias("cosine"))
    )
