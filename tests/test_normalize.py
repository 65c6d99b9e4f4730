import hashlib

from pyspark.sql import functions as F

from belb_spark.operators.normalize import (
    assign_uids,
    canonicalize,
    check_sha_invariant,
    normalize,
)


def test_normalize_derives_without_rewriting(spark, tiny_spark):
    norm = normalize(tiny_spark["repos"], tiny_spark["synonym_dict"])
    assert check_sha_invariant(norm) == 0
    row = norm.orderBy("uid").first()
    # sha matches an independent python computation
    assert row["content_sha"] == hashlib.sha256(row["content"].encode()).hexdigest()
    # tokens are lowercase [a-z0-9_]
    assert all(t == t.lower() for t in row["norm_tokens"])
    assert row["norm_text"] == " ".join(row["norm_tokens"])
    assert row["token_set"] == sorted(set(row["norm_tokens"]))


def test_synonyms_canonicalized(spark, tiny_spark):
    """Rows differing only by synonym/abbreviation renames normalize to the
    same token multiset (the pipeline's stand-in for belb synonym joins)."""
    norm = normalize(tiny_spark["repos"], tiny_spark["synonym_dict"])
    syn = {r["name"] for r in tiny_spark["synonym_dict"].collect() if r["description"] != 0}
    # no non-canonical dictionary surface form survives normalization
    bad = norm.select(F.explode("norm_tokens").alias("t")).filter(
        F.col("t").isin(list(syn))
    )
    assert bad.count() == 0


def test_assign_uids_deterministic_row_number(spark):
    df = spark.createDataFrame(
        [("r2", "p", "c", "go", "x"), ("r1", "p", "c", "go", "y")],
        "repo string, path string, commit string, lang string, content string",
    )
    out = {r["repo"]: r["uid"] for r in assign_uids(df).collect()}
    assert out == {"r1": 1, "r2": 2}


def test_assign_uids_key_ties_are_stable(spark):
    """Rows sharing (repo, path, commit) get the same uid on every
    evaluation, whatever the input's order and partitioning."""
    rows = [("r", "p", "c", "go", f"body {i}") for i in range(40)]
    schema = "repo string, path string, commit string, lang string, content string"
    a = spark.createDataFrame(rows, schema).repartition(1)
    b = spark.createDataFrame(rows[::-1], schema).repartition(5)
    uid_of = lambda df: {r["content"]: r["uid"] for r in assign_uids(df).collect()}
    assert uid_of(a) == uid_of(b)
    assert sorted(uid_of(a).values()) == list(range(1, 41))


def test_normalize_without_dict(spark, tiny_spark):
    norm = normalize(tiny_spark["repos"], None)
    assert norm.filter(F.col("norm_tokens").isNull()).count() == 0


def test_fused_udf_matches_split_and_map_canonicalize(spark, tiny_spark):
    """normalize()'s fused Arrow tokenize+canonicalize equals the pure-JVM
    reference on TINY: ``split`` on non-[a-z0-9_] runs of the lowercased
    content, then the map-literal :func:`canonicalize`."""
    syn = tiny_spark["synonym_dict"]
    fused = normalize(tiny_spark["repos"], syn).select("uid", "norm_tokens")
    base = assign_uids(tiny_spark["repos"]).withColumn(
        "tokens",
        F.filter(F.split(F.lower("content"), "[^a-z0-9_]+"), lambda t: t != F.lit("")),
    )
    ref = canonicalize(base, syn).select("uid", "norm_tokens")
    assert fused.count() == tiny_spark["repos"].count()
    assert fused.exceptAll(ref).count() == 0
    assert ref.exceptAll(fused).count() == 0


def test_assign_uids_dense_at_size(spark):
    """Dense, unique 1..n uids at 20k rows spread over 16 partitions, and
    the same assignment on every execution of the same DataFrame."""
    n = 20_000
    repos = (
        spark.range(n)
        .selectExpr(
            "concat('r', format_string('%06d', cast(id * 2654435761 % 999983 as int))) AS repo",
            "concat('p', id % 97) AS path",
            "cast(id as string) AS commit",
        )
        .repartition(16)
    )
    out = assign_uids(repos)
    agg = out.agg(
        F.countDistinct("uid").alias("d"),
        F.min("uid").alias("lo"),
        F.max("uid").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert (agg["d"], agg["lo"], agg["hi"], agg["n"]) == (n, 1, n, n)
    # re-executing the SAME DataFrame must reproduce the identical assignment
    again = out.agg(F.countDistinct("uid")).collect()[0][0]
    assert again == n
