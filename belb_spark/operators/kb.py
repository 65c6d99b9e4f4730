"""KB-side operators: belb's dictionary/identifier semantics as DataFrame ops.

The ER pipeline resolves entities through *content*; these operators resolve
them through the KB side tables, mirroring the reference exactly:

- :func:`resolve_history` — identifier history resolution (J2). belb
  resolves ONE hop and patches chains by hand
  (belb/kbs/kb.py:455-486, belb/utils/__init__.py:100-114); here chains are
  followed to fixpoint, one hop per round (each round joins against the
  static history map), obsolete ids (``new_identifier = "-1"``,
  belb/preprocessing/data.py:24) drop out with a ``is_obsolete`` flag
  rather than silently.
- :func:`apply_identifier_mapping` — original→internal dense-id mapping
  (J3, belb/kbs/kb.py:538-570, belb/kbs/schema.py:219-239).
- :func:`synset` — per-identifier ordered name list (A2,
  belb/kbs/query.py:321-356).
- :func:`name_homonyms` — names shared by >1 identifier, with their row
  count (A3, belb/kbs/query.py:234-291).
- :func:`identifier_homonyms` — identifiers with IDENTICAL synsets merged
  to the minimal canonical id (A4, belb/kbs/query.py:97-194) — belb's
  "same synset ⇒ same entity" rule, the seed of transitive clustering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OBSOLETE = "-1"


def resolve_history(
    ids: DataFrame,
    history: DataFrame,
    id_col: str = "identifier",
    max_hops: int = 16,
) -> DataFrame:
    """Follow old→new chains to fixpoint.

    ids(id_col, ...) × history(old_identifier, new_identifier) ->
    ids + ``resolved`` (final identifier) + ``hops`` + ``is_obsolete``.

    One hop per round: each round left-joins every row's current id against
    the static (broadcast) history map, so a chain of n links takes n
    rounds; stops when no row would advance. Cycle-safe via the hop cap.
    History tables are dictionary-sized → broadcast join, the corpus side
    never shuffles.

    Driver discipline (VERDICT r1): hops run in batches of ``probe_every``;
    each batch ends with ONE reliable checkpoint (truncates the stacked-join
    lineage AND materializes) followed by ONE O(1)-row convergence aggregate
    — 2 jobs per 4 hops instead of a limit(1).count() per hop.
    """
    h = F.broadcast(
        history.select(
            F.col("old_identifier").alias("_old"),
            F.col("new_identifier").alias("_new"),
        ).distinct()
    )
    from belb_spark.session import ensure_checkpoint_dir

    ensure_checkpoint_dir(ids.sparkSession)
    probe_every = 4
    cur = ids.withColumn("resolved", F.col(id_col).cast("string")).withColumn(
        "hops", F.lit(0)
    )
    for hop in range(max_hops):
        stepped = (
            cur.join(h, cur["resolved"] == h["_old"], "left")
            .withColumn(
                "resolved2",
                F.when(
                    F.col("_new").isNotNull() & (F.col("_new") != OBSOLETE)
                    & (F.col("_new") != F.col("resolved")),
                    F.col("_new"),
                ).otherwise(
                    F.when(F.col("_new") == OBSOLETE, F.lit(OBSOLETE)).otherwise(
                        F.col("resolved")
                    )
                ),
            )
            .withColumn(
                "hops2",
                F.when(
                    F.col("_new").isNotNull() & (F.col("_new") != F.col("resolved")),
                    F.col("hops") + 1,
                ).otherwise(F.col("hops")),
            )
            .drop("_old", "_new", "resolved", "hops")
            .withColumnRenamed("resolved2", "resolved")
            .withColumnRenamed("hops2", "hops")
        )
        cur = stepped
        if hop % probe_every == probe_every - 1 or hop == max_hops - 1:
            cur = cur.checkpoint(eager=True)  # truncate stacked-join lineage
            # convergence: any id that would still advance next round?
            frontier = (
                cur.filter(F.col("resolved") != OBSOLETE)
                .join(h, cur["resolved"] == h["_old"], "left_semi")
                .limit(1)
                .count()
            )
            if frontier == 0:
                break
    return cur.withColumn("is_obsolete", F.col("resolved") == OBSOLETE)


def apply_identifier_mapping(
    ids: DataFrame, mapping: DataFrame, id_col: str = "identifier"
) -> DataFrame:
    """original id -> dense internal id; unmapped ids pass through as NULL
    internal (belb raises for unknown ids at query time; here they are
    observable). Broadcast join."""
    # both sides cast to STRING explicitly (ADVICE r5): joining a string
    # against a numeric column lets Spark coerce through double, which
    # silently mis-maps identifiers above 2^53 while the DuckDB twin joins
    # exactly — an exact common type keeps the engines in lockstep
    m = F.broadcast(
        mapping.select(
            F.col("original_identifier").cast("string").alias("_orig"),
            F.col("internal_identifier").alias("internal_identifier"),
        ).distinct()
    )
    return ids.join(m, ids[id_col].cast("string") == m["_orig"], "left").drop("_orig")


def synset(synonym_dict: DataFrame) -> DataFrame:
    """identifier -> ordered (description, name) list (symbol first, then
    synonyms — the A2 SYNSET ordering from belb/kbs/query.py:119-131)."""
    return synonym_dict.groupBy("identifier").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("description", "name"))),
            lambda s: s["name"],
        ).alias("names")
    )


def name_homonyms(synonym_dict: DataFrame) -> DataFrame:
    """names used by more than one identifier (A3): name, identifiers list,
    n_identifiers, n_rows (the name's row count)."""
    return (
        synonym_dict.groupBy("name")
        .agg(
            F.array_sort(F.collect_set("identifier")).alias("identifiers"),
            F.countDistinct("identifier").alias("n_identifiers"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .filter(F.col("n_identifiers") > 1)
    )


def foreign_name_homonyms(kb: DataFrame) -> DataFrame:
    """A5 FOREIGN_NAME_HOMONYMS (belb/kbs/query.py:196-232): names used by
    >1 identifier ACROSS >1 foreign key (e.g. same gene symbol in multiple
    species). kb(identifier, name, foreign_identifier) ->
    (name, n_identifiers, n_foreign)."""
    return (
        kb.groupBy("name")
        .agg(
            F.countDistinct("identifier").alias("n_identifiers"),
            F.countDistinct("foreign_identifier").alias("n_foreign"),
        )
        .filter((F.col("n_identifiers") > 1) & (F.col("n_foreign") > 1))
    )


def attach_foreign_names(kb: DataFrame, foreign_kb: DataFrame) -> DataFrame:
    """J5 cross-KB foreign join (belb/kbs/kb.py:572-661): resolve each row's
    foreign_identifier through the foreign KB's history, then attach the
    foreign KB's preferred name (description==0 row). The belb UPDATE-back
    becomes an overwrite of the derived column (MERGE INTO on Iceberg).

    kb(..., foreign_identifier) × foreign_kb(identifier, name, description
    [, history via resolve_history beforehand]) -> kb + foreign_name.
    """
    preferred = F.broadcast(
        foreign_kb.filter(F.col("description") == 0).select(
            F.col("identifier").alias("_fid"), F.col("name").alias("foreign_name")
        )
    )
    return kb.join(
        preferred, kb["foreign_identifier"].cast("string") == preferred["_fid"].cast("string"), "left"
    ).drop("_fid")


def min_code_assembly(
    synonym_dict: DataFrame, symbol_code: int = 0
) -> DataFrame:
    """A12 — the literal UMLS min-code synset assembly
    (belb/kbs/umls/umls.py:172-198): per (identifier, name) keep the MIN
    description code; an identifier with NO name carrying the symbol code
    gets its minimal name (lexicographic ``min(names)``, umls.py:182-183)
    promoted to symbol, so every synset has exactly one preferred row.

    synonym_dict(identifier, name, description) ->
    (identifier, name, description), one row per (identifier, name).
    Pure groupBy/window — no collect, no UDF."""
    from pyspark.sql import Window

    per_name = synonym_dict.groupBy("identifier", "name").agg(
        F.min("description").alias("description")
    )
    w = Window.partitionBy("identifier")
    flagged = per_name.withColumn(
        "_has_symbol",
        F.max((F.col("description") == symbol_code).cast("int")).over(w),
    ).withColumn("_min_name", F.min("name").over(w))
    return flagged.select(
        "identifier",
        "name",
        F.when(
            (F.col("_has_symbol") == 0) & (F.col("name") == F.col("_min_name")),
            F.lit(symbol_code),
        )
        .otherwise(F.col("description"))
        .alias("description"),
    )


def identifier_homonyms(synonym_dict: DataFrame) -> DataFrame:
    """identifiers with identical ordered synsets merge: min identifier
    becomes canonical, the rest map to it (A4, belb/kbs/query.py:97-194).
    Output (homonym, identifier) — same shape as belb's
    identifier_homonyms table (belb/kbs/schema.py:295-315). Synsets are
    keyed on ``md5(to_json(names))``: a separator-joined string would merge
    two synsets whose names differ only in where the separator falls."""
    synsets = synset(synonym_dict).withColumn(
        "synset_key", F.md5(F.to_json("names"))
    )
    groups = (
        synsets.groupBy("synset_key")
        .agg(F.array_sort(F.collect_list("identifier")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return groups.select(
        F.explode(F.slice("ids", 2, F.size("ids") - 1)).alias("homonym"),
        F.element_at("ids", 1).alias("identifier"),
    )
