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

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from belb_spark.functions.simfns import make_rich_score_udf, token_jaccard


@dataclass(frozen=True)
class ScoringConfig:
    jaccard_prefilter: float = 0.35   # cheap JVM cut before Arrow transfer
    w_jacc: float = 0.5
    w_jw: float = 0.25
    w_lev: float = 0.35
    w_cos: float = 0.40
    clip_chars: int = 600
    threshold: float = 0.62           # final edge cut (dev-tuned)


def score_pairs(
    pairs: DataFrame, normalized: DataFrame, cfg: ScoringConfig = ScoringConfig()
) -> DataFrame:
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
        .filter(F.col("jacc") >= F.lit(cfg.jaccard_prefilter))
    )
    # the Python-UDF stage gets its own exchange at 3 waves per core:
    # pipelining the UDF straight off the payload join raised local[4]
    # throughput but left local[16] flat, lowering the N→4N scaling ratio
    # (measured r4 at xxl)
    payloads = payloads.repartition(3 * spark.sparkContext.defaultParallelism)
    rich = make_rich_score_udf(cfg.w_jw, cfg.w_lev, cfg.w_cos, cfg.clip_chars)
    return payloads.select(
        "uid_a",
        "uid_b",
        (
            F.col("jacc") * cfg.w_jacc
            + rich(F.col("nt_a"), F.col("nt_b")) * (1.0 - cfg.w_jacc)
        ).alias("score"),
    )


def edges_from_scores(scored: DataFrame, threshold: float) -> DataFrame:
    return scored.filter(F.col("score") >= F.lit(threshold)).select("uid_a", "uid_b")
