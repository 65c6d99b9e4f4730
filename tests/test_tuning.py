from pyspark.sql import Window
from pyspark.sql import functions as F

from belb_spark.operators.evaluate import tune_threshold


def test_tune_threshold_separates_known_margin(spark):
    """Positives score 0.9, negatives 0.4 — any threshold in (0.4, 0.9]
    gives F1=1.0; ties break upward (precision-safe)."""
    scored = spark.createDataFrame(
        [(1, 2, 0.9), (3, 4, 0.9), (5, 6, 0.4), (7, 8, 0.4)],
        "uid_a long, uid_b long, score double",
    )
    labeled = spark.createDataFrame(
        [(1, 2, True, "dev"), (3, 4, True, "dev"), (5, 6, False, "dev"), (7, 8, False, "dev")],
        "uid_a long, uid_b long, is_match boolean, split string",
    )
    t, f1s = tune_threshold(scored, labeled, "dev")
    assert 0.4 < t <= 0.9
    assert f1s[t] == 1.0
    # upward tie-break: the LARGEST threshold achieving max F1
    assert t == max(x for x, v in f1s.items() if v == 1.0)


def test_tune_threshold_unscored_pairs_count_as_negative(spark):
    """A labeled pair missing from the scored table (blocked away or
    prefiltered) is a predicted non-match at every threshold."""
    scored = spark.createDataFrame([(1, 2, 0.9)], "uid_a long, uid_b long, score double")
    labeled = spark.createDataFrame(
        [(1, 2, True, "dev"), (8, 9, True, "dev")],
        "uid_a long, uid_b long, is_match boolean, split string",
    )
    t, f1s = tune_threshold(scored, labeled, "dev")
    # recall capped at 0.5 -> best F1 = 2*1*0.5/1.5
    assert abs(f1s[t] - 2 / 3) < 1e-9


def test_pipeline_tuned_run(spark, tiny_spark, tmp_path):
    from belb_spark.pipeline import ERConfig, run_pipeline

    res = run_pipeline(
        spark,
        tiny_spark["repos"],
        tiny_spark["synonym_dict"],
        tiny_spark["labeled_pairs"],
        checkpoint_dir=str(tmp_path),
        cfg=ERConfig(tune_on_dev=True),
    )
    assert "tuned_threshold" in res.metrics
    # labeled pairs on non-representative rows are priced through their
    # anchors, so the dev edge F1 the threshold was picked at is not
    # starved of scores
    assert res.metrics["dev_f1_at_tuned"] >= 0.99
    assert res.metrics["eval"]["test"]["f1"] >= 0.99


def test_salt_distribution_bounds_hot_blocks(spark):
    """The observable skew bound of the salted pair builder on a corpus with
    hot prototypes (datagen SMALL: 4 prototypes with ~100 members each):
    after salting, no candidate-join reducer group exceeds ~rows_per_salt
    members. Groups are counted here from the builder's documented salt rule
    pmod(xxhash64(uid), ceil(bn / rows_per_salt)) over blocks of more than
    full_join_max rows. (That the pair set is the anchor-capped one is
    test_blocking_pairs.py::test_candidate_pairs_match_reference.)"""
    from belb_spark.datagen import SMALL, generate
    from belb_spark.operators.blocking import block_keys
    from belb_spark.operators.normalize import normalize
    from belb_spark.operators.pairs import PairsConfig

    tables = generate(SMALL)
    repos = spark.createDataFrame(tables["repos"])
    syn = spark.createDataFrame(tables["synonym_dict"])

    # skew bound on the real blocking keys of this corpus, with a salt
    # granularity small enough to force splitting of the hot blocks
    rows_per_salt = 32
    blocks = block_keys(normalize(repos, syn))
    bn = F.count(F.lit(1)).over(Window.partitionBy("block_key"))
    dist = (
        blocks.withColumn("bn", bn)
        .filter(F.col("bn") > PairsConfig().full_join_max)
        .withColumn(
            "salt",
            F.pmod(F.xxhash64("uid"), F.ceil(F.col("bn") / rows_per_salt)),
        )
        .groupBy("block_key", "salt")
        .agg(F.count(F.lit(1)).alias("members"))
        .toPandas()
    )
    assert len(dist) > 0  # hot tier non-empty: the prototypes ARE hot
    assert dist["members"].max() <= 2 * rows_per_salt
    # and the hot blocks genuinely split across several reducer groups
    assert (dist.groupby("block_key")["salt"].nunique() > 1).any()
