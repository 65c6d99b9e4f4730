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


def test_assign_uids_scalable_matches_global(spark, tiny_spark):
    """The range-partitioned uid assignment is bit-identical to the global
    row_number (W1), with no single-partition sort of the full table."""
    from pyspark.sql import functions as F

    from belb_spark.operators.normalize import assign_uids, assign_uids_scalable

    repos = tiny_spark["repos"].drop("uid")
    want = {
        (r["repo"], r["path"], r["commit"]): r["uid"]
        for r in assign_uids(repos).select("repo", "path", "commit", "uid").collect()
    }
    got_df = assign_uids_scalable(repos, partitions=4)
    got = {
        (r["repo"], r["path"], r["commit"]): r["uid"]
        for r in got_df.select("repo", "path", "commit", "uid").collect()
    }
    assert got == want
    n = len(got)
    assert sorted(got.values()) == list(range(1, n + 1))  # dense 1..n


def test_assign_uids_scalable_dense_at_size(spark):
    """ADVICE r2 regression: the old repartitionByRange-derived bucket ids
    re-sampled per job, so the offsets job and the uid job disagreed at real
    sizes (60k rows -> 58,347 distinct uids). Bucket ids are now literal
    boundary comparisons — dense 1..n at 20k rows, every execution."""
    from belb_spark.operators.normalize import assign_uids_scalable

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
    out = assign_uids_scalable(repos, partitions=8)
    agg = out.agg(
        F.countDistinct("uid").alias("d"),
        F.min("uid").alias("lo"),
        F.max("uid").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert (agg["d"], agg["lo"], agg["hi"], agg["n"]) == (n, 1, n, n)
    # re-executing the SAME DataFrame (fresh jobs, fresh sampling in the old
    # code) must reproduce the identical assignment
    again = out.agg(F.countDistinct("uid")).collect()[0][0]
    assert again == n
