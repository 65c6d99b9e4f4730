import pytest
from pyspark.sql import functions as F

from belb_spark.operators.blocking import block_keys
from belb_spark.operators.normalize import exact_anchor, normalize
from belb_spark.operators.pairs import PairsConfig, candidate_pairs, pair_stats


@pytest.fixture(scope="module")
def norm(tiny_spark):
    return normalize(tiny_spark["repos"], tiny_spark["synonym_dict"]).cache()


@pytest.fixture(scope="module")
def blocks(norm):
    return block_keys(norm).cache()


def test_block_keys_deterministic(norm):
    a = block_keys(norm)
    b = block_keys(norm)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_key_families_present(blocks):
    fams = {
        r["fam"]
        for r in blocks.select(
            F.split("block_key", ":").getItem(0).alias("fam")
        ).distinct().collect()
    }
    # exactly two families: exact duplicates are contracted at normalize
    mh = {f for f in fams if f.startswith("mh")}
    assert mh and fams - mh == {"pfx"}


def test_band_keys_are_min_hashes_over_shingles(spark):
    """Band key b is ``mh{b}:`` + min-hashes 2b and 2b+1, where min-hash p
    is the min of ``xxhash64(p, shingle)`` over ``shingles_col``: an empty
    token array has no shingles and keeps only its prefix key, a 1- or
    2-token row has one whole-text shingle and all 8 band keys, and equal
    token arrays get equal key sets."""
    rows = [
        (1, []),
        (2, ["a"]),
        (3, ["a", "b"]),
        (4, ["w", "x", "y", "z"]),
        (5, ["w", "x", "y", "z"]),
    ]
    df = spark.createDataFrame(rows, "uid long, norm_tokens array<string>")
    keys: dict[int, set[str]] = {}
    for r in block_keys(df).collect():
        keys.setdefault(r["uid"], set()).add(r["block_key"])

    assert keys[1] == {"pfx:"}
    for uid in (2, 3):
        mh = {k.split(":")[0] for k in keys[uid] if k.startswith("mh")}
        assert mh == {f"mh{b}" for b in range(8)}, keys[uid]
    assert keys[4] == keys[5]
    h0, h1 = spark.sql("SELECT xxhash64(0, 'a b'), xxhash64(1, 'a b')").first()
    assert f"mh0:{h0}_{h1}" in keys[3]


def test_positive_pairs_covered_by_blocking(blocks, tiny_spark):
    """Every labeled positive pair must share at least one blocking key
    (recall precondition for F1 — SURVEY.md §7.2 step 4)."""
    lp = tiny_spark["labeled_pairs"].filter("is_match").select("uid_a", "uid_b")
    a = blocks.select(F.col("uid").alias("uid_a"), "block_key")
    b = blocks.select(F.col("uid").alias("uid_b"), "block_key")
    covered = lp.join(a, "uid_a").join(b, ["uid_b", "block_key"]).select("uid_a", "uid_b").distinct()
    n_lp = lp.count()
    n_cov = covered.count()
    assert n_cov == n_lp, f"blocking lost {n_lp - n_cov} positive pairs"


def test_candidate_pairs_unique_ordered(blocks):
    pairs = candidate_pairs(blocks, PairsConfig())
    assert pairs.filter(F.col("uid_a") >= F.col("uid_b")).count() == 0
    assert pairs.count() == pairs.distinct().count()


def test_anchor_cap_bounds_hot_blocks(blocks):
    """Pairs from a block of size n are ≤ full pairing, and for hot blocks
    ≈ anchor_rank · n (no quadratic blowup)."""
    cfg = PairsConfig(full_join_max=16, anchor_rank=4)
    stats = pair_stats(blocks, cfg)
    hot = stats.filter(F.col("block_size") > 16).collect()
    assert hot, "fixture should contain hot blocks"
    for r in hot:
        assert r["pairs_emitted"] <= 4 * (r["block_size"] - 1)
        assert r["pairs_emitted"] < r["pairs_theoretical"]


def test_candidate_pairs_match_reference(blocks):
    """candidate_pairs equals a pure-Python reference of the anchor cap over
    the collected blocks: every pair inside a block of ≤ full_join_max rows,
    otherwise the pairs (a, b), a < b, whose a is among the block's first
    anchor_rank uids — whatever the salt granularity. With
    hot_tier='within_salt' every pair inside a salt bucket is added, the
    salts recomputed here from the documented rule
    pmod(xxhash64(uid), ceil(bn / rows_per_salt))."""
    members: dict[str, list[int]] = {}
    for r in blocks.select("block_key", "uid").collect():
        members.setdefault(r["block_key"], []).append(r["uid"])
    uid_hash = {
        r["uid"]: r["h"]
        for r in blocks.select("uid", F.xxhash64("uid").alias("h")).distinct().collect()
    }

    def expected(cfg, rows_per_salt, hot_tier):
        out = set()
        for uids in members.values():
            us = sorted(uids)
            left = us if len(us) <= cfg.full_join_max else us[: cfg.anchor_rank]
            out.update((a, b) for a in left for b in us if a < b)
            if hot_tier == "within_salt":
                n_salts = -(-len(us) // rows_per_salt)
                buckets: dict[int, list[int]] = {}
                for u in us:
                    buckets.setdefault(uid_hash[u] % n_salts, []).append(u)
                for bucket in buckets.values():
                    out.update((a, b) for a in bucket for b in bucket if a < b)
        return out

    assert max(map(len, members.values())) > 64, "fixture should have hot blocks"
    for cfg in (PairsConfig(), PairsConfig(full_join_max=16, anchor_rank=4)):
        for rows_per_salt in (8, 512):
            for hot_tier in ("anchor", "within_salt"):
                want = expected(cfg, rows_per_salt, hot_tier)
                got = candidate_pairs(
                    blocks, cfg, rows_per_salt=rows_per_salt, hot_tier=hot_tier
                ).collect()
                pairs = [(r["uid_a"], r["uid_b"]) for r in got]
                case = (cfg, rows_per_salt, hot_tier)
                assert len(pairs) == len(set(pairs)), case
                assert set(pairs) == want, case


def test_exact_duplicates_contract_to_min_uid_anchor(spark):
    """exact_anchor keys on the token SEQUENCE: rows 1 and 3 share anchor 1,
    while row 2 shares their norm_text but not their tokens (multi-word
    canonical symbols, ADVICE r2) and is its own representative. TINY is
    checked on a pipeline run's checkpoints in
    test_e2e.py::test_blocks_hold_only_anchors."""
    rows = [(1, ["a b", "c"]), (2, ["a", "b c"]), (3, ["a b", "c"])]
    df = spark.createDataFrame(rows, "uid long, norm_tokens array<string>")
    got = {r["uid"]: r["anchor"] for r in exact_anchor(df).collect()}
    assert got == {1: 1, 2: 2, 3: 1}


def test_within_salt_hot_tier_recovers_member_pairs(spark):
    """VERDICT r3 'What's wrong' #3: hot_tier='within_salt' additionally
    emits every pair inside each salt bucket (recall for standalone dedup)
    while each reducer group stays bounded by ~rows_per_salt."""
    import pandas as pd

    from belb_spark.operators.pairs import PairsConfig, candidate_pairs

    # one hot block of 120 rows + one small block of 5
    rows = [(i, "hot") for i in range(120)] + [(1000 + i, "cold") for i in range(5)]
    blocks = spark.createDataFrame(pd.DataFrame(rows, columns=["uid", "block_key"]))
    cfg = PairsConfig(full_join_max=8, anchor_rank=2)

    anchor = candidate_pairs(blocks, cfg, rows_per_salt=16)
    within = candidate_pairs(blocks, cfg, rows_per_salt=16, hot_tier="within_salt")

    a_set = {(r["uid_a"], r["uid_b"]) for r in anchor.collect()}
    w_set = {(r["uid_a"], r["uid_b"]) for r in within.collect()}
    assert a_set <= w_set
    assert len(w_set) > len(a_set)  # member-member pairs recovered

    # expected recovered pairs: all pairs within each (block_key, salt)
    # bucket of the hot tier. Salts recomputed HERE from the raw documented
    # rule (pmod(xxhash64(uid), ceil(bn/rows_per_salt))), not read back
    # from the builder under test
    n_salts = -(-120 // 16)  # ceil(bn / rows_per_salt) for the hot block
    salted = blocks.filter(F.col("block_key") == "hot").select(
        "uid",
        "block_key",
        F.pmod(F.xxhash64("uid"), F.lit(n_salts)).cast("int").alias("salt"),
    )
    buckets = {}
    for r in salted.collect():
        buckets.setdefault((r["block_key"], r["salt"]), []).append(r["uid"])
    expected_within = set()
    for uids in buckets.values():
        us = sorted(uids)
        for i in range(len(us)):
            for j in range(i + 1, len(us)):
                expected_within.add((us[i], us[j]))
    assert expected_within <= w_set
    assert w_set == a_set | expected_within

    # the bound still holds: no reducer group materially over rows_per_salt
    assert max(map(len, buckets.values())) <= 2 * 16

    with pytest.raises(ValueError, match="hot_tier"):
        candidate_pairs(blocks, cfg, hot_tier="all")
