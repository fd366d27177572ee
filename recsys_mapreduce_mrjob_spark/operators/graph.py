"""Iterative graph analytics over relational edge lists.

Third member of the iterative family (with k-means in
:mod:`.embeddings` and connected components in :mod:`.dedup`):
PageRank over the item co-occurrence graph — "centrality" of an item in
the co-consumption network, the classic graph signal a recommender or
curation pipeline derives from the same pair relation the similarity
flagship builds.

Scale pattern shared by all three: per-round work is a join + aggregate
shuffled on the vertex id; the transition matrix is normalized ONCE and
persisted; per-round state (one row per vertex) is
``localCheckpoint``-ed so lineage stays flat no matter how many rounds
run.  Nothing collects edge data to the driver — only scalar counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import memo_persist
from ..registry import register
from ..sources.readers import RATINGS_ORACLE_CTE
from .recsys import _cached_ratings, item_cooccurrence


def pagerank(
    edges: DataFrame, d: float = 0.85, n_iter: int = 5, scaled: bool = False
) -> DataFrame:
    """Weighted PageRank over directed (src, dst, weight) edges.

    ``pr(v) = (1-d)/N + d * Σ_u pr(u) · w(u,v)/wdeg(u)`` iterated
    ``n_iter`` rounds from the uniform vector.  Assumes no dangling
    nodes (callers pass symmetrized edges, so every node has
    out-degree); total mass then stays 1, which the unit test pins.

    ``scaled=True`` returns ``pr · N`` (mean-relative centrality, ~O(1)
    per node) instead of the raw probability — the numerically robust
    form for cross-engine rounding (see :func:`q_pagerank_exact`).
    """
    wdeg = edges.groupBy("src").agg(F.sum("weight").alias("wdeg"))
    # Normalized transition edges: reused every round — persist once.
    norm = (
        edges.join(wdeg, "src")
        .select("src", "dst", (F.col("weight") / F.col("wdeg")).alias("p"))
        .persist()
    )
    nodes = edges.select(F.col("src").alias("id")).distinct()
    n = nodes.count()
    pr = nodes.select("id", F.lit(1.0 / n).alias("pr"))
    for _ in range(n_iter):
        contribs = norm.join(pr, norm.src == pr.id).select(
            F.col("dst").alias("id"), (F.col("p") * F.col("pr")).alias("c")
        )
        pr = contribs.groupBy("id").agg(
            (F.lit((1.0 - d) / n) + F.lit(d) * F.sum("c")).alias("pr")
        )
        pr = pr.localCheckpoint(eager=True)  # flat lineage per round
    if scaled:
        pr = pr.select("id", (F.col("pr") * F.lit(float(n))).alias("pr"))
    return pr


@register("q_pagerank_items")  # rows-only: iterative fixpoint, not SQL-expressible
def q_pagerank_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality of every item in the co-occurrence graph
    (edge weight = co-rating count, symmetrized, min_support 2) —
    5 rounds, d = 0.85.  Deterministic up to float summation order;
    scores rounded to 8 for stable display.  Mass conservation and
    rank differentiation are pinned by unit tests."""
    pairs = item_cooccurrence(_cached_ratings(spark, sf_dir), min_support=2)
    edges = (
        pairs.select(
            F.col("item_x").alias("src"),
            F.col("item_y").alias("dst"),
            F.col("n_common").cast("double").alias("weight"),
        )
        .unionByName(
            pairs.select(
                F.col("item_y").alias("src"),
                F.col("item_x").alias("dst"),
                F.col("n_common").cast("double").alias("weight"),
            )
        )
    )
    pr = pagerank(edges, d=0.85, n_iter=5)
    return pr.select(
        F.col("id").alias("item_id"),
        (F.round("pr", 8) + F.lit(0.0)).alias("pagerank"),
    )


# ---------------------------------------------------------------------------
# Exact-oracle PageRank (round 5): a FIXED iteration count is just an
# unrolled chain of join+aggregate CTEs, so the "iterative fixpoint, not
# SQL-expressible" caveat on q_pagerank_items only covers convergence-
# -tested loops — the 5-round power iteration itself is fully oracle-
# gradeable.  Float discipline: every literal is written identically on
# both engines ((1.0 - 0.85)/n, NOT 0.15/n — the two differ in the last
# ulp), and the graded score is pr·N (~O(1) per node) rounded to 6, so
# the ~1e-15 cross-engine summation-order noise sits ~8 orders of
# magnitude below the rounding step.
# ---------------------------------------------------------------------------

_PR_D = 0.85
_PR_ITER = 5

_PR_ITER_CTES = ",\n".join(
    f"""pr{k + 1} AS (
    SELECT e.dst AS id,
           (1.0 - {_PR_D}) / (SELECT n FROM nn)
             + {_PR_D} * sum(e.p * p.pr) AS pr
    FROM norm e JOIN pr{k} p ON e.src = p.id GROUP BY e.dst
)"""
    for k in range(_PR_ITER)
)

_PAGERANK_EXACT_ORACLE = f"""
WITH {RATINGS_ORACLE_CTE},
pairs AS MATERIALIZED (
    SELECT a.item_id AS item_x, b.item_id AS item_y, count(*) AS n_common
    FROM ratings a JOIN ratings b
      ON a.user_id = b.user_id AND a.item_id < b.item_id
    GROUP BY a.item_id, b.item_id
    HAVING count(*) >= 2
),
sym AS (
    SELECT item_x AS src, item_y AS dst, CAST(n_common AS DOUBLE) AS w FROM pairs
    UNION ALL
    SELECT item_y AS src, item_x AS dst, CAST(n_common AS DOUBLE) AS w FROM pairs
),
wdeg AS (SELECT src, sum(w) AS wd FROM sym GROUP BY src),
-- MATERIALIZED: the 5 unrolled iterations reference norm once each; an
-- inlining planner would otherwise recompute the ratings pair join per
-- iteration (measured: OOM at sf0.1 under co-tenant memory pressure).
norm AS MATERIALIZED (
    SELECT s.src, s.dst, s.w / d.wd AS p FROM sym s JOIN wdeg d ON d.src = s.src
),
nn AS (SELECT CAST(count(DISTINCT src) AS DOUBLE) AS n FROM norm),
pr0 AS (SELECT DISTINCT src AS id, 1.0 / (SELECT n FROM nn) AS pr FROM norm),
{_PR_ITER_CTES}
SELECT id AS item_id,
       round(pr * (SELECT n FROM nn), 6) + 0.0 AS centrality
FROM pr{_PR_ITER}
"""


@register("q_pagerank_exact", oracle=_PAGERANK_EXACT_ORACLE)
def q_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank with a full DuckDB oracle — the exact-graded companion to
    :func:`q_pagerank_items` (see the unrolled-iteration note above).
    Identical engine path (same :func:`pagerank`, same co-occurrence
    edges, d = 0.85, 5 rounds); the only differences are the graded
    output scale (``pr · N``, the mean-relative centrality) and 6-decimal
    rounding.  q_pagerank_items stays the convergence-tested rows-only
    registration."""
    pairs = item_cooccurrence(_cached_ratings(spark, sf_dir), min_support=2)
    edges = pairs.select(
        F.col("item_x").alias("src"),
        F.col("item_y").alias("dst"),
        F.col("n_common").cast("double").alias("weight"),
    ).unionByName(
        pairs.select(
            F.col("item_y").alias("src"),
            F.col("item_x").alias("dst"),
            F.col("n_common").cast("double").alias("weight"),
        )
    )
    pr = pagerank(edges, d=_PR_D, n_iter=_PR_ITER, scaled=True)
    return pr.select(
        F.col("id").alias("item_id"),
        (F.round("pr", 6) + F.lit(0.0)).alias("centrality"),
    )


@register(
    "q_graph_degree_stats",
    oracle=f"""
WITH {RATINGS_ORACLE_CTE},
pairs AS (
    SELECT a.item_id AS item_x, b.item_id AS item_y, count(*) AS n_common
    FROM ratings a JOIN ratings b
      ON a.user_id = b.user_id AND a.item_id < b.item_id
    GROUP BY a.item_id, b.item_id
    HAVING count(*) >= 2
),
sym AS (
    SELECT item_x AS id, n_common FROM pairs
    UNION ALL
    SELECT item_y AS id, n_common FROM pairs
),
deg AS (
    SELECT id, count(*) AS degree,
           CAST(sum(n_common) AS BIGINT) AS wdegree
    FROM sym GROUP BY id
)
SELECT count(*) AS n_nodes,
       CAST(sum(degree) / 2 AS BIGINT) AS n_edges,
       round(avg(degree), 6) + 0.0 AS avg_degree,
       CAST(max(degree) AS BIGINT) AS max_degree,
       round(avg(wdegree), 6) + 0.0 AS avg_wdegree,
       CAST(max(wdegree) AS BIGINT) AS max_wdegree
FROM deg
""",
)
def q_graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree/strength profile of the co-occurrence graph — the structural
    health check run before any iterative graph algorithm (a max_degree
    explosion here is the early warning for PageRank/components cost, the
    same signal ``prune_degenerate_users`` caps on the pair side).

    One aggregation over the symmetrized edge list: degree and weighted
    degree per node, then corpus-level stats — never materializes more
    than one row per node past the edge relation the flagship already
    builds.  Exact oracle (counts + round-6 averages).
    """
    edges = item_cooccurrence(_cached_ratings(spark, sf_dir), min_support=2)
    sym = edges.select(F.col("item_x").alias("id"), "n_common").unionAll(
        edges.select(F.col("item_y").alias("id"), "n_common")
    )
    deg = sym.groupBy("id").agg(
        F.count(F.lit(1)).alias("degree"),
        F.sum("n_common").alias("wdegree"),
    )
    return deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("degree") / F.lit(2)).cast("long").alias("n_edges"),
        (F.round(F.avg("degree"), 6) + F.lit(0.0)).alias("avg_degree"),
        F.max("degree").alias("max_degree"),
        (F.round(F.avg("wdegree"), 6) + F.lit(0.0)).alias("avg_wdegree"),
        F.max("wdegree").alias("max_wdegree"),
    )


# ---------------------------------------------------------------------------
# Triangle counting (round 10): the fourth graph primitive, after degree
# stats, PageRank, and connected components.  min_support = 3 bounds the
# graph density the quadratic wedge space pays for (min_support 2 leaves
# 274k edges / 5.1M triangles at sf0.01 — a sanity-query oracle would
# spend seconds hashing; 3 leaves 55k edges / 83k triangles).
# ---------------------------------------------------------------------------

_TRI_MIN_SUPPORT = 3

_TRIANGLES_ORACLE = f"""
WITH {RATINGS_ORACLE_CTE},
e AS MATERIALIZED (
    SELECT a.item_id AS x, b.item_id AS y
    FROM ratings a JOIN ratings b
      ON a.user_id = b.user_id AND a.item_id < b.item_id
    GROUP BY 1, 2
    HAVING count(*) >= {_TRI_MIN_SUPPORT}
),
-- id-ordered triple join: x < y on every edge makes (a < b < c) the
-- canonical triangle, counted exactly once.  The engine counts the same
-- triangles pivot-first under a DEGREE order instead — the count per
-- vertex is orientation-invariant, which is what lets the simple oracle
-- grade the skew-proof plan.
tri AS (
    SELECT e1.x AS a, e1.y AS b, e2.y AS c
    FROM e e1
    JOIN e e2 ON e2.x = e1.y
    JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y
),
tv AS (
    SELECT a AS item_id FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
),
tcnt AS (SELECT item_id, count(*) AS n_triangles FROM tv GROUP BY item_id),
deg AS (
    SELECT id AS item_id, count(*) AS degree FROM (
        SELECT x AS id FROM e UNION ALL SELECT y AS id FROM e
    ) GROUP BY id
)
SELECT d.item_id,
       CAST(d.degree AS BIGINT) AS degree,
       CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN round((2.0 * coalesce(t.n_triangles, 0))
                       / (d.degree * (d.degree - 1.0)), 6) + 0.0
            ELSE 0.0 END AS clustering
FROM deg d LEFT JOIN tcnt t USING (item_id)
"""


def _tri_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-occurrence edge relation (n_common ≥ min_support pairs),
    derived the way the flagship derives its pair stats: below the
    GEMM/join crossover the pair space exists only inside the blocked
    sparse-Gram tile kernel with the ratings derivation fused in
    (``pairwise_stats_gemm`` ``counts_only`` — no 13.1M-row pair
    exchange, the shuffle ships |ratings|·B narrow rows), above it or on
    an unreadable lineitem footer the all-JVM relational self-join
    (``item_cooccurrence``).  The two forms
    are hash-equal (tests/test_scale_knobs.py pins the GEMM/join
    equivalence) and the edge list is pure integer counts, so the
    dispatch can never move a graded value.

    Memoized per (SparkContext, sf_dir): the edge relation fans into
    THREE lazy branches (both degree-union sides + the orientation
    join) — unpersisted, the pair derivation would re-execute per
    branch (measured 3× the kernel wall at sf0.1)."""
    from ..sources.readers import parquet_num_rows
    from .recsys import (
        _FLAGSHIP_JOIN_MIN_ROWS,
        gemm_block_count,
        pairwise_stats_gemm,
        raw_ratings,
    )

    def build() -> DataFrame:
        n = parquet_num_rows(sf_dir, "lineitem")
        if n is None or n >= _FLAGSHIP_JOIN_MIN_ROWS:
            return item_cooccurrence(
                _cached_ratings(spark, sf_dir), min_support=_TRI_MIN_SUPPORT
            ).select("item_x", "item_y")
        return pairwise_stats_gemm(
            raw_ratings(spark, sf_dir),
            min_support=_TRI_MIN_SUPPORT,
            n_blocks=gemm_block_count(n),
            counts_only=True,  # edge list: no grams, no rating shuffle
        ).select("item_x", "item_y")

    return memo_persist(spark, "tri_edges", sf_dir, build)


def _oriented_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-occurrence graph's edges oriented low→high under the
    (degree, id) total order, persisted once per (SparkContext, sf_dir)
    — the wedge self-join reads it twice and the closing join a third
    time.  Carries the destination's (degree, id) rank so the wedge
    stage can canonicalize its pair without re-joining degrees."""

    def build() -> DataFrame:
        edges = _tri_edges(spark, sf_dir)
        # One explode scan, not a two-branch union: the edges relation
        # already fans into this aggregate AND the orientation join, and
        # every extra consumer of a cold cache is a re-materialization.
        deg = (
            edges.select(
                F.explode(F.array("item_x", "item_y")).alias("id")
            )
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        e = edges.join(
            F.broadcast(
                deg.select(F.col("id").alias("item_x"), F.col("deg").alias("dx"))
            ),
            "item_x",
        ).join(
            F.broadcast(
                deg.select(F.col("id").alias("item_y"), F.col("deg").alias("dy"))
            ),
            "item_y",
        )
        lower_first = (F.col("dx") < F.col("dy")) | (
            (F.col("dx") == F.col("dy")) & (F.col("item_x") < F.col("item_y"))
        )
        return e.select(
            F.when(lower_first, F.col("item_x")).otherwise(F.col("item_y")).alias("src"),
            F.when(lower_first, F.col("item_y")).otherwise(F.col("item_x")).alias("dst"),
            F.when(lower_first, F.col("dy")).otherwise(F.col("dx")).alias("ddst"),
        )

    return memo_persist(spark, "tri_oriented_edges", sf_dir, build)


@register("q_graph_triangles", oracle=_TRIANGLES_ORACLE)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over the
    item co-occurrence graph — the community-density signal next to
    PageRank's centrality, and the classic MapReduce graph benchmark
    (Suri & Vassilvitskii, "Counting Triangles and the Curse of the Last
    Reducer", WWW'11 — the reference's mrjob lineage makes this family
    table stakes).

    Scale shape: edges orient from their (degree, id)-SMALLER endpoint,
    so every vertex's out-degree is O(√m) regardless of how skewed the
    raw degree distribution is — the "last reducer" a naive
    neighbor-list groupBy dies on.  Wedges come from ONE equi-self-join
    of the oriented edge relation on the pivot (never a neighbor-list
    collect), each triangle closes via an equi-join back on the oriented
    (b, c) edge, counted exactly once at its order-minimal pivot, and
    per-vertex credit is an explode + count.  The node-sized degree
    relation broadcasts; the oriented edge relation persists once and
    feeds all three consumers.
    """
    oriented = _oriented_edges(spark, sf_dir)
    o1 = oriented.select(
        "src", F.col("dst").alias("b"), F.col("ddst").alias("db")
    )
    o2 = oriented.select(
        "src", F.col("dst").alias("c"), F.col("ddst").alias("dc")
    )
    wedges = o1.join(o2, "src").where(
        (F.col("db") < F.col("dc"))
        | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    )
    tri = wedges.join(
        oriented.select(F.col("src").alias("b"), F.col("dst").alias("c")),
        ["b", "c"],
    ).select(F.col("src").alias("a"), "b", "c")
    tcnt = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("item_id"))
        .groupBy("item_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        oriented.select(F.explode(F.array("src", "dst")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.select(F.col("id").alias("item_id"), "degree")
        .join(tcnt, "item_id", "left")
        .select(
            "item_id",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    (F.lit(2.0) * F.coalesce(F.col("n_triangles"), F.lit(0)))
                    / (F.col("degree") * (F.col("degree") - F.lit(1.0))),
                    6,
                )
                + F.lit(0.0),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )
