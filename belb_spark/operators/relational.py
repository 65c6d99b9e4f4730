"""Relational operator coverage (SURVEY.md §2) over the driver's testdata.

Each function maps to inventory rows from SURVEY.md §2 (noted per function).
Numeric discipline: monetary aggregates are summed as DECIMAL (exact,
order-independent — safe under any partitioning) and cast to double only at
the output boundary, so results are bit-identical across engines and runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

DEC = "decimal(18,2)"


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A10-style grouped aggregation with filter pushdown (TPC-H Q1)."""
    li = load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast(DEC)
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    tax = F.col("l_tax").cast(DEC)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1).cast(DEC) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1).cast(DEC) - disc) * (F.lit(1).cast(DEC) + tax))
            .cast("double")
            .alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.round(F.col("sum_qty") / F.col("count_order"), 4))
    )


def star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-family: orders ⋈ customer ⋈ nation ⋈ region with broadcast dims
    (SURVEY.md §2.4 — dictionary joins become broadcast-hash)."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("revenue"),
        )
    )


def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: cumulative sum per customer over order date (belb's running
    passage-offset analogue, belb/preprocessing/data.py:408-424)."""
    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias("running_total"),
    )


def window_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/W4: keep-preferred dedup via ranking window
    (belb/kbs/kb.py:251-263)."""
    li = load(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in the testdata — the order-by
    # must be total w.r.t. the output columns for determinism across engines
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_quantity"
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_orderkey",
            F.col("l_partkey").alias("first_partkey"),
            F.col("l_quantity").cast("double").alias("first_qty"),
        )
    )


def semi_anti_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/U2: in-KB membership semi/anti-join (belb/kbs/query.py:293-309,
    belb/kbs/kb.py:428-453): customers with / without orders."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").select("o_custkey").distinct()
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left"
    ).select(
        "c_custkey", F.col("o_custkey").isNotNull().alias("has_orders")
    )


def explode_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1/E5: explode(split) + count (synonym pipe-split analogue,
    belb/kbs/ncbi_gene/ncbi_gene.py:91-119)."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def synset_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 SYNSET: group → ordered collect (belb/kbs/query.py:321-356);
    here: per source, the sorted distinct langs."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.array_join(F.array_sort(F.collect_set("lang")), ",").alias("langs"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5-family: JSON field extraction (dbSNP deep-JSON analogue,
    belb/kbs/dbsnp/dbsnp.py:57-147)."""
    events = load(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
    )


def events_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation (batch twin of the
    streaming/incremental.py job)."""
    events = load(spark, sf_dir, "events")
    return events.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
    )


def dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: dense int id per group key (belb's per-record int_id counters,
    belb/kbs/ctd_diseases/ctd_diseases.py:104-130).

    NOT a global dense_rank window over the full table — that forces every
    row through one single-partition sort (VERDICT r1 scale-killer).
    Instead: rank the tiny DISTINCT key table (single-partition sort over
    #distinct-brands rows only), then broadcast-join the id back — the big
    table never leaves its partitioning."""
    part = load(spark, sf_dir, "part")
    brand_ids = (
        part.select("p_brand")
        .distinct()
        .withColumn("brand_id", F.row_number().over(Window.orderBy("p_brand")))
    )
    return part.join(F.broadcast(brand_ids), "p_brand").select(
        "p_partkey", "p_brand", "brand_id"
    )


def min_by_shortest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: shortest-element selection (shortest name → preferred name,
    belb/kbs/umls/umls.py:181-183): per p_brand, the shortest p_name
    (ties: lexicographic)."""
    part = load(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.length("p_name"), "p_name")
    return (
        part.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_brand", F.col("p_name").alias("shortest_name"))
    )


def citations_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: pmid → set of identifiers (belb/kbs/cellosaurus/cellosaurus.py:
    200-226); here: user_id → ordered set of event types."""
    events = load(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("event_types"),
        F.count(F.lit(1)).alias("n_events"),
    )


def doc_chunking(spark: SparkSession, sf_dir: str, chunk: int = 20) -> DataFrame:
    """T5: split documents into ≤chunk-token clones (belb's upsample-by-max-
    mentions, belb/corpora/corpus.py:381-410). One row per (doc, chunk)."""
    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk)).cast("int")
    # zero-token guard: n_chunks=0 would make sequence(0, -1) yield the
    # DESCENDING array [0, -1] (two bogus empty chunks). Clamp the sequence
    # and drop empty chunk rows instead of wrapping the transform in a
    # CaseWhen (a `when` around a higher-order expression defeats codegen —
    # see blocking.shingles_col); real chunks are never "" since tokens are
    # non-empty, so the filter exactly matches the oracle's no-rows-for-
    # empty-docs semantics.
    chunks = F.transform(
        F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
        lambda i: F.concat_ws(
            " ", F.slice(toks, (i * chunk + 1).cast("int"), chunk)
        ),
    )
    return docs.select(
        "doc_id",
        F.posexplode(chunks).alias("chunk_idx", "chunk_text"),
    ).filter(F.col("chunk_text") != "").select(
        F.col("doc_id").cast("long"),
        F.col("chunk_idx").cast("long"),
        "chunk_text",
    )


def group_similarity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13/X7: pairwise similarity ratio over within-group combinations
    (belb/scripts/stats.py:203-216 uses ``Levenshtein.ratio``) — per lang,
    over the 8 shortest docs (prefix-clipped).

    Ratio semantics — DELIBERATELY ``1 - lev(a,b)/(len_a+len_b)`` with the
    uniform-cost (substitution=1) JVM ``levenshtein``, which is NOT
    python-Levenshtein's ``ratio`` (that normalizes the INDEL distance,
    substitution cost 2: 'ab' vs 'cd' is 0.0 there, 0.5 here; ADVICE r3).
    The uniform-cost formula is used because both engines have the identical
    builtin, so the DuckDB oracle mirrors it exactly; the indel-distance
    ``Levenshtein.ratio`` has no SQL builtin to oracle against, and the
    engine has no implementation of it. Output is the SUM of
    the ratio in parts-per-million as BIGINT: both engines compute the
    identical double per pair (integer inputs, same ops) and integer sums
    are order-independent, so the oracle hash-matches without
    float-accumulation drift. Two empty strings ratio as 1.0."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    top = (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 8)
        .select("lang", "doc_id", F.substring("text", 1, 60).alias("t"))
    )
    a = top.select("lang", F.col("doc_id").alias("id_a"), F.col("t").alias("t_a"))
    b = top.select("lang", F.col("doc_id").alias("id_b"), F.col("t").alias("t_b"))
    pairs = a.join(b, "lang").filter(F.col("id_a") < F.col("id_b"))
    lensum = F.length("t_a") + F.length("t_b")
    ratio_ppm = F.when(lensum == 0, F.lit(1_000_000).cast("long")).otherwise(
        F.round(F.lit(1e6) * (1 - F.levenshtein("t_a", "t_b") / lensum), 0).cast("long")
    )
    return pairs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(ratio_ppm).alias("total_ratio_ppm"),
    )


def event_type_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 set difference: event types seen before the cutoff but never after
    (notinkb = ids − inkb analogue, belb/kbs/kb.py:451)."""
    events = load(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-03").cast("timestamp")
    key = F.floor("value").cast("long").alias("value_bucket")
    first = events.filter(F.col("ts") < cutoff).select("event_type", key).distinct()
    second = events.filter(F.col("ts") >= cutoff).select("event_type", key).distinct()
    return first.exceptAll(second)


def stratified_quota_sample(
    df: DataFrame, strata_col: str, id_col: str, quota: int
) -> DataFrame:
    """Deterministic per-stratum quota sampling (domain-mixing primitive:
    cap every language/source at ``quota`` docs): rank rows within each
    stratum by (md5(id), id) — a uniform, seedless, engine-portable order —
    and keep the first ``quota``. Output rows + their sample_rank.

    Scale shape: one window shuffle on the stratum key; skew bounded by the
    biggest stratum (salt the window key if one domain dominates)."""
    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= quota)
    )
