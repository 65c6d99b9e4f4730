"""Physical-plan regression tests: the plans stay the plans we designed.

These catch silent regressions Catalyst won't complain about — a broadcast
join decaying to sort-merge, a filter no longer reaching the parquet scan, a
second Python stage sneaking into scoring.
"""

import pytest
from pyspark.sql import functions as F

from belb_spark.operators import relational as R
from belb_spark.plans import plan_string
from plan_checks import (
    arrow_eval_count,
    final_plan_section,
    has_pushed_filters,
    shuffle_count,
    uses_broadcast_join,
)

SF = "/root/testdata/sf0.001"


def test_star_join_stays_broadcast(spark):
    df = R.star_join_revenue(spark, SF)
    assert uses_broadcast_join(df)
    assert "SortMergeJoin" not in plan_string(df)


def test_q1_filter_pushed_to_scan(spark):
    df = R.tpch_q1(spark, SF)
    assert has_pushed_filters(df)


def test_scan_prunes_columns(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    s = plan_string(li)
    assert "ReadSchema" in s
    # only the projected columns reach the reader
    assert "l_extendedprice" not in s.split("ReadSchema")[1][:300]


def test_scoring_has_exactly_one_python_stage(spark, tiny_spark):
    from belb_spark.operators.blocking import block_keys
    from belb_spark.operators.normalize import normalize
    from belb_spark.operators.pairs import candidate_pairs
    from belb_spark.operators.scoring import score_pairs

    norm = normalize(tiny_spark["repos"], tiny_spark["synonym_dict"])
    # normalization itself is one Arrow stage (tokenize+canonicalize fused)
    assert arrow_eval_count(norm) == 1
    # stage boundary (the pipeline checkpoints here) — downstream plans
    # must not re-evaluate upstream Python stages
    norm_ck = norm.localCheckpoint(eager=True)
    blocks = block_keys(norm_ck)
    assert arrow_eval_count(blocks) == 0  # band keys are JVM min-hashes
    pairs = candidate_pairs(blocks).localCheckpoint(eager=True)
    scored = score_pairs(pairs, norm_ck)
    # scoring adds exactly ONE Python stage (the rich scorer); the Jaccard
    # prefilter stays JVM-side
    s = plan_string(scored, "simple")
    assert s.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in s  # no row-at-a-time Python anywhere


def test_cosine_topk_broadcasts_queries(spark):
    from belb_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = cosine_topk(emb.filter("vec_id >= 10"), emb.filter("vec_id < 10"), k=3)
    assert uses_broadcast_join(df)


def test_q1_agg_single_exchange(spark):
    # one partial-agg + one exchange + one final-agg: a codegen defeat (the
    # r2 CaseWhen incident, commit 5dd65f5) or a lost partial aggregation
    # would add exchanges and show up here instead of as a bench mystery
    df = R.tpch_q1(spark, SF)
    assert shuffle_count(df) == 1


def test_candidate_pairs_reuses_window_exchange_live(spark, tiny_spark):
    """ADVICE r3: the scaling claims rest on the ``block_key`` exchange below
    the ranking window being evaluated ONCE across both sides of the salted
    join of a LIVE (non-checkpointed) block derivation. AQE performs the
    reuse at runtime, so assert on the executed final plan: the expensive
    subtree (the tokenizer's Arrow stage under the band-key min-hashes)
    appears exactly once, and the other side reads a ReusedExchange of the
    window's exchange."""
    from belb_spark.operators.blocking import block_keys
    from belb_spark.operators.normalize import normalize
    from belb_spark.operators.pairs import candidate_pairs

    # vacuous filter makes this plan canonically unique: other test files
    # cache an identical normalize(repos) plan, and the cache manager would
    # otherwise substitute an InMemoryRelation whose nested plan breaks the
    # node counts below
    repos = tiny_spark["repos"].filter(F.col("uid") >= -1)
    norm = normalize(repos, tiny_spark["synonym_dict"])
    pairs = candidate_pairs(block_keys(norm))
    pairs.collect()
    s = final_plan_section(pairs)
    assert s.count("ArrowEvalPython") == 1, s
    assert s.count("ReusedExchange") >= 1, s


def test_candidate_pairs_is_one_salted_join(spark, tiny_spark):
    """Every block, small or hot, pairs through ONE (block_key, salt)
    equi-join: a second join (a separate small-block self-join, anchors ×
    members, or a within-salt self-join) would add exchanges and stage
    rounds even where no block is hot."""
    from belb_spark.operators.blocking import block_keys
    from belb_spark.operators.normalize import normalize
    from belb_spark.operators.pairs import candidate_pairs

    blocks = block_keys(normalize(tiny_spark["repos"], tiny_spark["synonym_dict"]))
    for hot_tier in ("anchor", "within_salt"):
        s = plan_string(candidate_pairs(blocks, hot_tier=hot_tier), "simple")
        assert s.count("SortMergeJoin") == 1, s
        assert s.count("Join") == 1, s


def test_dedup_r6_plan_shape(spark, tiny_spark):
    """r6 dedup rewrite pins: the shingle tower is evaluated ONCE into the
    checkpointed (id, arr) base — the query plan must reference it as
    ExistingRDD scans with ZERO inline copies (the r5 plan carried six) —
    and the verify joins must be shuffle-hash, not broadcasts of the fat
    array side (a Catalyst estimate change that silently flips them back
    re-introduces two whole-table HashedRelation builds)."""
    from belb_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    docs = tiny_spark["repos"].select(
        F.col("uid").alias("doc_id"), F.col("content").alias("text")
    )
    for op in (minhash_lsh_pairs, ngram_jaccard_pairs):
        s = plan_string(op(docs, "doc_id", "text"))
        assert "array_distinct(transform" not in s, s[:2000]
        assert "ExistingRDD" in s
        assert "ShuffledHashJoin" in s
        # the merge hint keeps the builder self-joins shuffle-based, on the
        # window's block_key exchange, instead of broadcasting one side
        assert "SortMergeJoin" in s


def test_ann_r6_no_self_joins(spark):
    """r6 similarity pins: bucket/cell are computed inline — srp_ann_topk
    carries exactly ONE join (corpus x broadcast queries) and ivf_topk
    exactly one equi-join on cell; an id-equi self-join sneaking back in
    would re-shuffle the corpus against itself for zero information."""
    from belb_spark.operators.similarity import ivf_topk, srp_ann_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus, q = emb.filter("vec_id >= 10"), emb.filter("vec_id < 10")
    s = plan_string(srp_ann_topk(corpus, q, k=3), "simple")
    assert s.count("Join") == 1, s
    s = plan_string(ivf_topk(corpus, q, k=3, n_cells=4, n_probe=2), "simple")
    assert s.count("Join") == 1, s


def test_block_keys_has_no_global_distinct(spark, tiny_spark):
    """r4: the exploded key table needs no global dedup (keys are family-
    prefixed and per-row unique) — the plan must carry exactly ONE exchange
    (the pinned block_key repartition) and no aggregate; a reintroduced
    .distinct() would add a 17M-row shuffle at xxl."""
    from belb_spark.operators.blocking import block_keys
    from belb_spark.operators.normalize import normalize

    norm = normalize(
        tiny_spark["repos"].filter(F.col("uid") >= -2), tiny_spark["synonym_dict"]
    )
    blocks = block_keys(norm)
    assert shuffle_count(blocks) == 1
    assert "HashAggregate" not in plan_string(blocks, "simple")
