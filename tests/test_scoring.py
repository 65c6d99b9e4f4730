"""score_pairs scores the token sequences, not their space-join (ADVICE r2).

A canonical dictionary symbol containing whitespace makes two different
tokenizations share norm_text. Each must be scored with its own token_set:
an earlier md5(norm_text) payload key silently scored one with the other's.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from belb_spark.operators.scoring import score_pairs


def test_whitespace_symbols_not_conflated(spark):
    # rows 1 and 2 share norm_text "a b c" but have DIFFERENT token sets
    # (multi-word canonical symbols); row 3 is identical to row 1
    rows = [
        (1, ["a b", "c"]),
        (2, ["a", "b c"]),
        (3, ["a b", "c"]),
    ]
    normalized = (
        spark.createDataFrame(rows, "uid long, norm_tokens array<string>")
        .withColumn("norm_text", F.array_join("norm_tokens", " "))
        .withColumn("token_set", F.array_sort(F.array_distinct("norm_tokens")))
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "uid_a long, uid_b long"
    )
    scored = {
        (r["uid_a"], r["uid_b"]): r["score"]
        for r in score_pairs(pairs, normalized).collect()
    }
    # identical token sequences: jaccard 1.0, full score
    assert (1, 3) in scored and scored[(1, 3)] > 0.9
    # disjoint token SETS despite identical norm_text: fails the jaccard
    # prefilter — must NOT inherit row 1's payload through a shared hash
    assert (1, 2) not in scored

