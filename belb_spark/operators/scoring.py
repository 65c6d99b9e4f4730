"""Stage 4 — pairwise scoring: JVM Jaccard prefilter → one pandas UDF.

Plan shape (what .explain should show): both payloads (token_set,
norm_text) join onto the pair table by uid, the codegen Jaccard prefilter
drops weak pairs JVM-side, and the survivors cross into ONE ArrowEvalPython.
The score is a pure function of the two token sequences, and the pipeline
contracts exact duplicates to one representative at normalize, so each
pair is its own payload pair and every payload pair is scored once.

Combined score = w_jacc·token_jaccard + (1-w_jacc)·rich(norm_text) where
rich = Jaro-Winkler + norm-Levenshtein + char-3gram cosine (simfns.py).
Edges = pairs with score ≥ threshold (threshold tuned on the dev split,
reported on test — belb split discipline, belb/corpora/parser.py:19-27).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from belb_spark.functions.simfns import make_rich_score_udf, token_jaccard


JACCARD_PREFILTER = 0.35   # cheap JVM cut before Arrow transfer
W_JACC = 0.5
W_JW = 0.25
W_LEV = 0.35
W_COS = 0.40
CLIP_CHARS = 600
THRESHOLD = 0.62           # final edge cut (unless tuned on dev)


def score_pairs(pairs: DataFrame, normalized: DataFrame) -> DataFrame:
    """(uid_a, uid_b) + normalized (uid, token_set, norm_text) ->
    (uid_a, uid_b, score).

    Both payloads join onto the pairs by uid; pairs that fail the Jaccard
    prefilter are dropped before the one Arrow UDF. The pipeline passes
    representatives only (one row per token sequence), so no two pairs
    carry the same payload pair.
    """
    spark = pairs.sparkSession
    feats = normalized.select("uid", "token_set", "norm_text")
    payloads = (
        pairs.select("uid_a", "uid_b")
        .join(
            feats.select(
                F.col("uid").alias("uid_a"),
                F.col("token_set").alias("ts_a"),
                F.col("norm_text").alias("nt_a"),
            ),
            "uid_a",
        )
        .join(
            feats.select(
                F.col("uid").alias("uid_b"),
                F.col("token_set").alias("ts_b"),
                F.col("norm_text").alias("nt_b"),
            ),
            "uid_b",
        )
        .withColumn("jacc", token_jaccard("ts_a", "ts_b"))
        .filter(F.col("jacc") >= F.lit(JACCARD_PREFILTER))
    )
    # the Python-UDF stage gets its own exchange at 3 waves per core:
    # pipelining the UDF straight off the payload join raised local[4]
    # throughput but left local[16] flat, lowering the N→4N scaling ratio
    # (measured r4 at xxl)
    payloads = payloads.repartition(3 * spark.sparkContext.defaultParallelism)
    rich = make_rich_score_udf(W_JW, W_LEV, W_COS, CLIP_CHARS)
    return payloads.select(
        "uid_a",
        "uid_b",
        (
            F.col("jacc") * W_JACC
            + rich(F.col("nt_a"), F.col("nt_b")) * (1.0 - W_JACC)
        ).alias("score"),
    )


def edges_from_scores(scored: DataFrame, threshold: float) -> DataFrame:
    return scored.filter(F.col("score") >= F.lit(threshold)).select("uid_a", "uid_b")
