"""End-to-end ER pipeline: normalize → block → pairs → score → cluster → eval.

The skeleton from SURVEY.md §7.2 step 2 — each stage is a pure
DataFrame→DataFrame function checkpointed through CheckpointStore, with the
sha256(content) invariant asserted after every stage that still carries
content (BASELINE.json north rule) and rows-processed / pairs-scored metrics
recorded per stage.
"""

from __future__ import annotations

import dataclasses
import json
import pathlib
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from belb_spark.checkpoint import CheckpointStore, config_signature, input_fingerprint
from belb_spark.operators.blocking import block_keys
from belb_spark.operators.clustering import connected_components
from belb_spark.operators.evaluate import metrics_dict, pairwise_metrics
from belb_spark.operators.normalize import (
    assign_uids,
    check_sha_invariant,
    exact_anchor,
    normalize,
)
from belb_spark.operators.pairs import candidate_pairs
from belb_spark.operators.scoring import THRESHOLD, edges_from_scores, score_pairs
from belb_spark.session import codegen_compiles


# One physical path per stage: every stage checkpoints synchronously (build →
# plain-Parquet write at the build's own partitioning → read back), and the
# within-block self-join is the anchor-capped, salted builder. Only logical
# knobs live here; they are all part of the resume signature. Blocking,
# pair and scoring parameters are module constants, covered by the stage
# schema version. Physical choices are not knobs: CC checkpoint durability
# follows the master (clustering.reliable_checkpoints).
@dataclass(frozen=True)
class ERConfig:
    cc_max_iter: int = 30
    # tune the edge threshold on labeled dev pairs (belb split discipline)
    # instead of using scoring.THRESHOLD verbatim
    tune_on_dev: bool = False


# bump when a stage's checkpoint schema changes (columns added/removed/
# retyped): a resume against parquet written by another version must rebuild
# rather than fail mid-pipeline on a missing column. v3 = pair stats are
# committed in the 03_candidates manifest. v4 = 01_normalize stores the
# exact-duplicate anchor and 02–04 hold representatives only. v5 = band
# keys are xxhash64 min-hashes (were blake2b); bump too when a blocking,
# pair or scoring constant changes what a stage holds.
_STAGE_SCHEMA_VERSION = 5


@dataclass
class ERResult:
    assignment: DataFrame           # (uid, cluster)
    metrics: dict[str, Any]         # per-stage rows/pairs + eval f1 if labeled
    stages: list[dict[str, Any]]


def run_pipeline(
    spark: SparkSession,
    repos: DataFrame,
    synonym_dict: DataFrame | None = None,
    labeled_pairs: DataFrame | None = None,
    *,
    checkpoint_dir: str,
    cfg: ERConfig = ERConfig(),
) -> ERResult:
    # the resume signature covers config, input identity AND the stage
    # schema version: re-running the same checkpoint_dir over changed input
    # (ADVICE r1) or across a stage-schema change rebuilds instead of
    # reusing incompatible parquet
    sig = config_signature(
        {
            "cfg": dataclasses.asdict(cfg),
            "input": input_fingerprint(repos),
            "stage_schema": _STAGE_SCHEMA_VERSION,
        }
    )
    metrics: dict[str, Any] = {}

    store = CheckpointStore(spark, checkpoint_dir)

    # sha-invariant / QAQC count jobs run on a side thread, overlapped with
    # the next stage's compute instead of serializing the critical path
    from concurrent.futures import ThreadPoolExecutor

    checks = ThreadPoolExecutor(max_workers=2)
    try:
        return _run_pipeline_body(
            spark, repos, labeled_pairs, checkpoint_dir, cfg, sig, metrics,
            store, checks, synonym_dict,
        )
    except BaseException:
        # abort path: cancel queued sha-count jobs, not just stop accepting
        # new ones, so none outlives the failed call
        checks.shutdown(wait=False, cancel_futures=True)
        raise


def _run_pipeline_body(
    spark, repos, labeled_pairs, checkpoint_dir, cfg, sig, metrics, store,
    checks, synonym_dict,
) -> ERResult:
    compiles_at_start = codegen_compiles(spark)
    # explicit partitioning at ingest, before any expression-heavy stage: a
    # single-file local parquet source otherwise yields ONE input split and
    # serializes stage 01. 3 waves per core, matching shuffle partitions: a
    # straggler split costs 1/3 wave.
    repos_in = repos.repartition(3 * spark.sparkContext.defaultParallelism)
    # content lives ONLY here — uid-addressable for the sha checks. The 01
    # checkpoint stores (uid, content_sha, norm_tokens, anchor): content was
    # ~half its bytes and nothing downstream needs it (VERDICT r2 #1).
    # normalize and the sha checks both read repos_uid; assign_uids orders
    # key ties by the other columns, so its two evaluations give each row
    # the same uid.
    repos_uid = assign_uids(repos_in)

    # 1. normalize (content untouched; sha carried) + exact-duplicate
    # contraction. Every block key and every score is a pure function of
    # norm_tokens, so rows with one token sequence are one entity to every
    # later stage: each row stores its anchor (min uid of its token
    # sequence) and only representatives (uid == anchor) enter 02–04. The
    # representative count rides the write action as an Observation and
    # commits in the manifest. norm_text/token_set are derived again after
    # read — cheap JVM expressions, not worth the bytes.
    norm_obs = Observation("normalize")

    def build_normalized() -> DataFrame:
        return (
            exact_anchor(
                normalize(repos_uid, synonym_dict).select(
                    "uid", "content_sha", "norm_tokens"
                )
            )
            .observe(
                norm_obs,
                F.count(F.when(F.col("uid") == F.col("anchor"), 1)).alias(
                    "representatives"
                ),
            )
        )

    norm_res = store.run(
        "01_normalize", sig, build_normalized, metrics=lambda: dict(norm_obs.get)
    )
    norm = norm_res.df.withColumn(
        "norm_text", F.array_join("norm_tokens", " ")
    ).withColumn("token_set", F.array_sort(F.array_distinct("norm_tokens")))
    reps = norm.filter(F.col("uid") == F.col("anchor"))
    metrics["rows_in"] = norm_res.rows
    metrics["exact_dup_edges"] = norm_res.rows - norm_res.metrics["representatives"]

    def _sha_violations(df: DataFrame) -> int:
        return check_sha_invariant(
            repos_uid.select("uid", "content").join(
                df.select("uid", "content_sha"), "uid"
            )
        )

    sha_stage1 = checks.submit(_sha_violations, norm)

    # 2. blocking keys of the representatives — checkpointed. (Measured
    # alternative at xxl: fusing blocks into the candidates stage saved one
    # stage floor but cost MORE in the fused window tower — the compact
    # parquet round-trip feeds the pair builder's join cheaper than
    # re-flowing the live minhash, 52.5s vs 45.8s for 02+03 at local[16];
    # keep the two-stage shape.)
    blocks_res = store.run("02_blocks", sig, lambda: block_keys(reps))
    metrics["block_rows"] = blocks_res.rows

    # 3. candidate pairs between representatives. The no-silent-caps
    # accounting (emitted vs theoretical, max block, block rows) rides the
    # candidates action as a Spark Observation — zero extra jobs — and
    # commits in the 03_candidates manifest, so a resumed run reports it
    # without recomputing.
    pair_obs = Observation("pair_stats")
    cand_res = store.run(
        "03_candidates",
        sig,
        lambda: candidate_pairs(blocks_res.df, observe=pair_obs),
        metrics=lambda: dict(pair_obs.get),
    )
    stats = cand_res.metrics
    metrics["pairs_theoretical"] = int(stats["theoretical"] or 0)
    metrics["pairs_capped_estimate"] = int(stats["emitted"] or 0)
    metrics["max_block_size"] = int(stats["max_block"] or 0)
    metrics["candidate_pairs"] = cand_res.rows

    # 4. scoring
    scores_res = store.run("04_scores", sig, lambda: score_pairs(cand_res.df, reps))
    metrics["pairs_scored"] = scores_res.rows
    metrics["scoring_wall_sec"] = scores_res.wall_sec

    threshold = THRESHOLD
    if cfg.tune_on_dev and labeled_pairs is not None:
        from belb_spark.operators.evaluate import tune_threshold

        # labeled pairs are priced on their representatives; a pair inside
        # one exact-duplicate group is identical content and scores 1.0
        anc = norm.select("uid", "anchor")
        lp = (
            labeled_pairs.join(anc.toDF("uid_a", "anc_a"), "uid_a")
            .join(anc.toDF("uid_b", "anc_b"), "uid_b")
            .select(
                F.least("anc_a", "anc_b").alias("uid_a"),
                F.greatest("anc_a", "anc_b").alias("uid_b"),
                "is_match",
                "split",
            )
        )
        same = reps.select(
            F.col("uid").alias("uid_a"),
            F.col("uid").alias("uid_b"),
            F.lit(1.0).alias("score"),
        )
        threshold, dev_f1s = tune_threshold(scores_res.df.unionByName(same), lp, "dev")
        metrics["tuned_threshold"] = threshold
        metrics["dev_f1_at_tuned"] = dev_f1s[threshold]

    # 5. connected components over the representatives' edges, then every
    # row takes its anchor's cluster in one left join. Anchors are group
    # minima, so the component minimum over representatives is the minimum
    # over all rows; an anchor with no edge is its own cluster.
    def build_assignment() -> DataFrame:
        cc = connected_components(
            edges_from_scores(scores_res.df, threshold), max_iter=cfg.cc_max_iter
        )
        return (
            norm.select("uid", "anchor")
            .join(cc.withColumnRenamed("uid", "anchor"), "anchor", "left")
            .select("uid", F.coalesce("cluster", "anchor").alias("cluster"))
        )

    assign_res = store.run("05_clusters", sig, build_assignment)
    assignment = assign_res.df
    metrics["rows_clustered"] = assign_res.rows
    assert assign_res.rows == norm_res.rows, "row conservation broken (FIXTURES §7.2)"

    # final sha invariant: source content joined back through the full
    # lineage (norm sha + assignment) and re-hashed
    sha_final = checks.submit(
        _sha_violations, norm.select("uid", "content_sha").join(assignment, "uid")
    )

    # 6. evaluation
    if labeled_pairs is not None:
        ev = pairwise_metrics(assignment, labeled_pairs)
        metrics["eval"] = metrics_dict(ev)

    # resolve the overlapped QAQC jobs (nothing outlives the call)
    violations = sha_stage1.result()
    assert violations == 0, f"sha256 invariant broken in normalize: {violations}"
    violations = sha_final.result()
    assert violations == 0, f"sha256 invariant broken end-to-end: {violations}"
    checks.shutdown()
    # generated classes compiled during the call (0 on a warm run). The
    # counter is JVM-wide, so concurrent queries in the same JVM add to it.
    metrics["codegen_compiles"] = codegen_compiles(spark) - compiles_at_start

    stage_log = store.metrics_table()
    (pathlib.Path(checkpoint_dir) / "metrics.json").write_text(
        json.dumps({"stages": stage_log, "metrics": metrics}, indent=2, default=str)
    )
    return ERResult(assignment=assignment, metrics=metrics, stages=stage_log)
