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
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from belb_spark.functions.pyworker import drop_archive_finders


def assign_uids(
    repos: DataFrame, keys: tuple[str, ...] = ("repo", "path", "commit")
) -> DataFrame:
    """Deterministic dense uid = row_number over the natural key ``keys``
    (1-based) — never ``monotonically_increasing_id`` (SURVEY.md §4.4).

    NOTE: a global row_number is a single-partition sort at 10^12 rows; at
    that scale pre-assign uids at ingest (e.g. zipWithIndex per Iceberg
    partition + partition offsets). The testdata generator pre-assigns uids
    the same way, so this is only used when ``uid`` is absent.

    Rows that tie on ``keys`` are ordered by their remaining columns, so
    every evaluation of the same input gives each row the same uid (rows
    equal in every column are interchangeable).
    """
    if "uid" in repos.columns:
        return repos
    rest = [c for c in repos.columns if c not in keys]
    w = Window.orderBy(*keys, *rest)
    return repos.withColumn("uid", F.row_number().over(w).cast("long"))


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


def min_id_per_key(
    df: DataFrame, id_col: str, key: Column, out: str, size_col: str | None = None
) -> DataFrame:
    """+ ``out``: the min ``id_col`` among rows with the same ``key`` — the
    "same key ⇒ same entity" contraction (cluster id = min id, FIXTURES.md
    invariant 4). ``size_col`` adds the group's row count over the same
    window. One window, no self-join."""
    w = Window.partitionBy(key)
    cols = [F.min(id_col).over(w).alias(out)]
    if size_col:
        cols.append(F.count(F.lit(1)).over(w).alias(size_col))
    return df.select("*", *cols)


def exact_anchor(normalized: DataFrame) -> DataFrame:
    """+ ``anchor``: the min uid among rows with the same token sequence —
    belb's exact dedup and identical-synset merge as one contraction.
    Keyed on ``md5(to_json(norm_tokens))``, not on the space-joined text: a
    canonical symbol containing whitespace makes two tokenizations share
    norm_text (ADVICE r2)."""
    return min_id_per_key(
        normalized, "uid", F.md5(F.to_json("norm_tokens")), "anchor"
    )


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
