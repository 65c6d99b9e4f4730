"""Stage 1 — normalization (derived columns only; content never rewritten).

Re-expresses belb's surface-form normalization (quote/tab stripping
``belb/preprocessing/data.py:680-686``, unicode-space cleanup
``belb/preprocessing/transform.py:154-163``, lowercase comparison
``belb/scripts/stats.py:86-94``) and synonym canonicalization (keep-preferred
dedup ``belb/kbs/kb.py:251-263`` + broadcast dictionary joins
``belb/kbs/kb.py:538-570``) as pure DataFrame expressions.

Tokenization and dictionary canonicalization run fused in ONE Arrow UDF
pass over ``content`` (C-regex + dict lookups with the dictionary in the
closure — no shuffle). :func:`canonicalize` is the pure-JVM map-literal
form of the same token rewrite for callers that already hold a token array.

The per-row invariant column ``content_sha = sha2(content, 256)`` is computed
here once and carried through every later stage (BASELINE.json north rule).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from belb_spark.functions.pyworker import drop_archive_finders


def assign_uids(repos: DataFrame) -> DataFrame:
    """Deterministic uid = row_number over the natural key (repo, path,
    commit) — never ``monotonically_increasing_id`` (SURVEY.md §4.4).

    NOTE: a global row_number is a single-partition sort at 10^12 rows; at
    that scale pre-assign uids at ingest (e.g. zipWithIndex per Iceberg
    partition + partition offsets). The testdata generator pre-assigns uids
    the same way, so this is only used when ``uid`` is absent.
    """
    if "uid" in repos.columns:
        return repos
    w = Window.orderBy("repo", "path", "commit")
    return repos.withColumn("uid", F.row_number().over(w).cast("long"))


def _lex_ge(keys: list[str], vals: tuple) -> "F.Column":
    """Lexicographic (col_1, ..., col_k) >= (val_1, ..., val_k) as a plain
    boolean expression (no struct literals — field-name-safe, codegen-able).
    NULL key columns compare as False (they sort into bucket 0)."""
    cond = F.col(keys[-1]) >= F.lit(vals[-1])
    for k, v in zip(reversed(keys[:-1]), reversed(vals[:-1])):
        cond = (F.col(k) > F.lit(v)) | ((F.col(k) == F.lit(v)) & cond)
    return F.coalesce(cond, F.lit(False))


def assign_uids_scalable(
    repos: DataFrame,
    keys: list[str] | None = None,
    partitions: int | None = None,
    sample_per_bucket: int = 64,
) -> DataFrame:
    """Deterministic dense uid WITHOUT a single-partition global sort (the
    W1 scale caveat on :func:`assign_uids`): bucket rows by driver-sampled
    key-range boundaries (a DETERMINISTIC pure function of the row — fixed
    literals, not ``repartitionByRange``'s per-execution sampler), number
    rows with a BUCKET-LOCAL window, then add broadcast per-bucket offsets.
    Three extra driver jobs (count, boundary sample, bucket counts), every
    stage parallel — the 10^12-row path.

    ADVICE r2 fix: the previous version derived bucket ids from
    ``repartitionByRange`` + ``spark_partition_id``, whose sampling seed
    changes per execution — the offsets job and the uid job saw DIFFERENT
    layouts, duplicating/skipping uids at real sizes. Bucket ids are now
    literal-boundary comparisons, identical in every job that evaluates
    them; no materialization is needed for consistency. (The input itself
    must be deterministic — true for any file-backed source.)

    Output is identical to ``assign_uids`` (row_number over the key order,
    1-based) — pinned by tests, including a 20k-row dense/unique check.
    """
    if "uid" in repos.columns:
        return repos
    keys = keys or ["repo", "path", "commit"]
    n = partitions or repos.sparkSession.sparkContext.defaultParallelism

    boundaries: list[tuple] = []
    if n > 1:
        total = repos.count()
        if total > 1:
            frac = min(1.0, (sample_per_bucket * n) / total)
            sampled = sorted(
                t
                for t in (
                    tuple(r[k] for k in keys)
                    for r in repos.select(*keys)
                    .sample(fraction=frac, seed=42)
                    .collect()
                )
                # null-keyed rows sort before every boundary (bucket 0 via
                # the coalesce in _lex_ge) — never use them AS boundaries
                if all(v is not None for v in t)
            )
            if sampled:
                # n-1 split points at even sample quantiles, deduped
                raw = [sampled[(len(sampled) * i) // n] for i in range(1, n)]
                boundaries = sorted(set(raw))

    if boundaries:
        pid = sum(
            (_lex_ge(keys, b).cast("int") for b in boundaries), F.lit(0)
        ).cast("int")
    else:
        pid = F.lit(0)
    local = repos.withColumn("_pid", pid).withColumn(
        "_local",
        F.row_number().over(Window.partitionBy("_pid").orderBy(*keys)),
    )
    counts = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n")).collect()
    offsets = {}
    acc = 0
    for r in sorted(counts, key=lambda r: r["_pid"]):
        offsets[r["_pid"]] = acc
        acc += r["_n"]
    pairs = []
    for k, v in sorted(offsets.items()):
        pairs.extend([F.lit(k), F.lit(v)])
    omap = F.create_map(*pairs) if pairs else F.create_map()
    return (
        local.withColumn("uid", (omap[F.col("_pid")] + F.col("_local")).cast("long"))
        .drop("_pid", "_local")
    )


def canonical_token_map(synonym_dict: DataFrame) -> dict[str, str]:
    """name -> canonical symbol (description==0 row of the identifier),
    mirroring belb's keep-preferred dedup (belb/kbs/kb.py:251-263)."""
    rows = synonym_dict.select("identifier", "name", "description").collect()
    symbol = {r.identifier: r.name for r in rows if r.description == 0}
    return {r.name: symbol[r.identifier] for r in rows if r.identifier in symbol}


def normalize(repos: DataFrame, synonym_dict: DataFrame | None = None) -> DataFrame:
    """repos(uid?, repo, path, commit, lang, content) ->
    + content_sha, norm_tokens (canonicalized), norm_text, token_set.

    Tokenize + canonicalize run fused in ONE Arrow pass over ``content``
    (C-regex + dict lookups — both serial bottlenecks when done as
    interpreted higher-order JVM expressions). Result-identical to a JVM
    ``split`` + :func:`canonicalize` (tested).
    """
    df = assign_uids(repos)
    df = df.withColumn("content_sha", F.sha2(F.col("content"), 256))
    cmap = canonical_token_map(synonym_dict) if synonym_dict is not None else {}

    def _tok_canon(content: pd.Series) -> pd.Series:
        drop_archive_finders()
        import re

        # tokens = maximal runs of [a-z0-9_] over the lowercased content;
        # everything else (quotes, tabs, unicode spaces, punctuation) acts as
        # a separator, which subsumes belb's strip/replace normalizations
        # X1-X4 (SURVEY.md §2.9)
        tok = re.compile(r"[a-z0-9_]+")
        get = cmap.get
        return content.map(lambda c: [get(t, t) for t in tok.findall(c.lower())])

    tc = F.pandas_udf(_tok_canon, ArrayType(StringType()))
    df = df.withColumn("norm_tokens", tc(F.col("content")))
    df = df.withColumn("norm_text", F.array_join("norm_tokens", " "))
    df = df.withColumn("token_set", F.array_sort(F.array_distinct("norm_tokens")))
    return df


def exact_anchor(normalized: DataFrame) -> DataFrame:
    """+ ``anchor``: the min uid among rows with the same token sequence —
    belb's exact dedup and identical-synset merge as one contraction
    (cluster id = min uid, FIXTURES.md invariant 4). Keyed on
    ``md5(to_json(norm_tokens))``, not on the space-joined text: a canonical
    symbol containing whitespace makes two tokenizations share norm_text
    (ADVICE r2). One window, no self-join."""
    h = Window.partitionBy(F.md5(F.to_json("norm_tokens")))
    return normalized.withColumn("anchor", F.min("uid").over(h))


def canonicalize(df: DataFrame, synonym_dict: DataFrame) -> DataFrame:
    """tokens -> norm_tokens via the synonym dictionary, as a pure-JVM
    map-literal ``transform`` — no shuffle, no Python. GetMapValue is a
    linear scan per token, so this suits patch-sized dictionaries; the
    pipeline's bulk path is the fused UDF in :func:`normalize`."""
    cmap = canonical_token_map(synonym_dict)
    if not cmap:
        return df.withColumn("norm_tokens", F.col("tokens"))
    pairs = []
    for k, v in sorted(cmap.items()):
        pairs.append(F.lit(k))
        pairs.append(F.lit(v))
    m = F.create_map(*pairs)
    return df.withColumn(
        "norm_tokens", F.transform("tokens", lambda t: F.coalesce(m[t], t))
    )


def check_sha_invariant(df: DataFrame) -> int:
    """Assert content_sha still equals sha256(content); returns #violations."""
    return df.filter(F.sha2(F.col("content"), 256) != F.col("content_sha")).count()
