"""KB-side operator tests: history fixpoint (chains, cycles, obsoletes),
identifier mapping, synset/homonym derivation — vs hand fixtures and the
datagen side tables."""

import pytest
from pyspark.sql import functions as F

from belb_spark.operators.kb import (
    apply_identifier_mapping,
    identifier_homonyms,
    name_homonyms,
    resolve_history,
    synset,
)


@pytest.fixture(scope="module")
def hist(spark):
    # chain a->b->c, obsolete x->-1, simple m->n, 2-cycle p<->q
    return spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "-1"), ("m", "n"), ("p", "q"), ("q", "p")],
        "old_identifier string, new_identifier string",
    )


def test_history_chain_resolved_to_fixpoint(spark, hist):
    ids = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("x",), ("m",), ("z",)], "identifier string"
    )
    out = {r["identifier"]: (r["resolved"], r["is_obsolete"]) for r in resolve_history(ids, hist).collect()}
    assert out["a"] == ("c", False)   # two hops — belb stops after one
    assert out["b"] == ("c", False)
    assert out["c"] == ("c", False)
    assert out["x"] == ("-1", True)
    assert out["m"] == ("n", False)
    assert out["z"] == ("z", False)   # not in history: unchanged


def test_history_cycle_terminates(spark, hist):
    ids = spark.createDataFrame([("p",)], "identifier string")
    out = resolve_history(ids, hist, max_hops=6).collect()
    assert len(out) == 1  # hop cap, no hang; lands on p or q
    assert out[0]["resolved"] in ("p", "q")


def test_datagen_history_chains(spark, tiny_spark):
    """Every non-obsolete datagen history chain resolves to the entity's
    head prototype (P{g}_0)."""
    h = tiny_spark["history"]
    ids = h.select(F.col("old_identifier").alias("identifier")).distinct()
    out = resolve_history(ids, h).collect()
    for r in out:
        if r["is_obsolete"]:
            continue
        assert r["resolved"].endswith("_0"), r


def test_identifier_mapping(spark, tiny_spark):
    m = tiny_spark["identifier_mapping"]
    ids = m.select(F.col("original_identifier").alias("identifier"))
    out = apply_identifier_mapping(ids, m)
    assert out.filter(F.col("internal_identifier").isNull()).count() == 0
    # EXT:g and P{g}_0 map to the same internal id (alternative-id edges)
    ext = {r["identifier"]: r["internal_identifier"] for r in out.collect()}
    for k, v in ext.items():
        if k.startswith("EXT:"):
            g = k.split(":")[1]
            assert ext.get(f"P{g}_0") == v


def test_synset_ordering_symbol_first(spark):
    sd = spark.createDataFrame(
        [(1, "zzz", 0), (1, "aaa", 1), (2, "solo", 0)],
        "identifier int, name string, description int",
    )
    out = {r["identifier"]: r["names"] for r in synset(sd).collect()}
    # sorted by (description, name): symbol (0) precedes synonym (1)
    assert out[1] == ["zzz", "aaa"]
    assert out[2] == ["solo"]


def test_name_homonyms(spark):
    sd = spark.createDataFrame(
        [(1, "shared", 0), (2, "shared", 1), (3, "unique", 0)],
        "identifier int, name string, description int",
    )
    rows = name_homonyms(sd).collect()
    assert len(rows) == 1
    assert rows[0]["name"] == "shared"
    assert rows[0]["identifiers"] == [1, 2]


def test_foreign_name_homonyms(spark):
    from belb_spark.operators.kb import foreign_name_homonyms

    kb = spark.createDataFrame(
        [
            (1, "tp53", 9606), (2, "tp53", 10090),   # same name, 2 species
            (3, "unique", 9606),
            (4, "same_fk", 9606), (5, "same_fk", 9606),  # 2 ids, 1 species
        ],
        "identifier int, name string, foreign_identifier int",
    )
    rows = foreign_name_homonyms(kb).collect()
    assert len(rows) == 1 and rows[0]["name"] == "tp53"


def test_attach_foreign_names(spark):
    from belb_spark.operators.kb import attach_foreign_names

    kb = spark.createDataFrame(
        [(1, "geneA", 9606), (2, "geneB", 777)],
        "identifier int, name string, foreign_identifier int",
    )
    foreign = spark.createDataFrame(
        [(9606, "homo sapiens", 0), (9606, "human", 1)],
        "identifier int, name string, description int",
    )
    out = {r["identifier"]: r["foreign_name"] for r in attach_foreign_names(kb, foreign).collect()}
    assert out[1] == "homo sapiens"   # preferred (description=0), not synonym
    assert out[2] is None             # unknown fk observable, not dropped


def test_identifier_homonyms_identical_synsets_merge(spark):
    sd = spark.createDataFrame(
        [
            (5, "n1", 0), (5, "n2", 1),
            (9, "n1", 0), (9, "n2", 1),     # identical synset as 5
            (7, "n1", 0),                   # different synset
            # one string split at two points: joining names with \x01
            # would key 11 and 12 alike
            (11, "a\x01b", 0), (11, "c", 1),
            (12, "a", 0), (12, "b\x01c", 1),
        ],
        "identifier int, name string, description int",
    )
    rows = identifier_homonyms(sd).collect()
    assert len(rows) == 1
    assert rows[0]["homonym"] == 9 and rows[0]["identifier"] == 5


def test_min_code_assembly_umls_semantics(spark):
    """Literal UMLS behavior (belb/kbs/umls/umls.py:172-198): min code per
    (identifier, name); identifiers without a symbol-coded name promote
    their lexicographically-min name to symbol."""
    from belb_spark.operators.kb import min_code_assembly

    d = spark.createDataFrame(
        [
            # id 1 already has a symbol (code 0) name
            (1, "alpha", 0), (1, "alpha", 5), (1, "beta", 3),
            # id 2 has none: 'aa' (lexicographic min, NOT shortest) promoted
            (2, "aa", 7), (2, "z", 2),
        ],
        "identifier long, name string, description long",
    )
    out = {(r["identifier"], r["name"]): r["description"]
           for r in min_code_assembly(d).collect()}
    assert out == {
        (1, "alpha"): 0,   # min(0, 5)
        (1, "beta"): 3,
        (2, "aa"): 0,      # promoted to symbol
        (2, "z"): 2,
    }
