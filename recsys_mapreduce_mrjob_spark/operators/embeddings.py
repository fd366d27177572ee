"""Similarity search over embedding columns (SURVEY.md §2.2.K).

North-star extension: the vector half of an LLM data pipeline —
``array<float>`` columns with typed metadata, k-NN retrieval, per-label
centroid search, corpus-level vector stats.  All vector arithmetic is
higher-order Catalyst expressions (:mod:`..functions.vectors`) in DOUBLE
precision — JVM-side, whole-stage codegen, no Python.

Scale story:
  - ``q_knn_cosine`` is the brute-force baseline: broadcast the single
    query vector, score every row, TakeOrderedAndProject the top-k.  One
    scan, no shuffle of the corpus — at 100 TB this is the *correct*
    exact algorithm, and it parallelizes embarrassingly.
  - ``q_knn_per_label`` is grouped retrieval: centroids are a
    64-row × n_labels aggregate (posexplode → avg per component),
    broadcast back against the corpus — the same shape as IVF's
    coarse-quantizer assignment pass.
  - The sub-linear ANN path (LSH bucketing, so candidates ≪ corpus) is
    ``q_knn_cosine_lsh`` in this module: deterministic sign-random
    projections, bucket equi-join, exact re-rank of candidates only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_sim, cosine_sim_pre, dot, l2_norm
from ..registry import register
from ..sources.readers import load_table


def _round5(c):
    return F.round(c, 5) + F.lit(0.0)


# DuckDB-side double-precision cosine over float lists (explicit formula —
# mirrors functions/vectors.py: double casts, sequential accumulation).
_COS_SQL = """
list_inner_product(list_transform({a}, x -> CAST(x AS DOUBLE)),
                   list_transform({b}, x -> CAST(x AS DOUBLE)))
/ (sqrt(list_inner_product(list_transform({a}, x -> CAST(x AS DOUBLE)),
                           list_transform({a}, x -> CAST(x AS DOUBLE))))
   * sqrt(list_inner_product(list_transform({b}, x -> CAST(x AS DOUBLE)),
                             list_transform({b}, x -> CAST(x AS DOUBLE)))))
"""

_KNN_KERNEL_MIN_ROWS = 100_000


@register(
    "q_knn_cosine",
    oracle=f"""
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, e.label,
       round({_COS_SQL.format(a='e.embedding', b='q.qvec')}, 5) + 0.0 AS cos_sim
FROM embeddings e CROSS JOIN q
WHERE e.vec_id <> 0
ORDER BY cos_sim DESC, e.vec_id ASC
LIMIT 10
""",
)
def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 nearest neighbors of vec_id 0 by cosine — one corpus
    scan, no shuffle, heap top-k on the ROUNDED score with a vec_id
    tie-break; at 100 TB this is the correct exact algorithm and it
    parallelizes embarrassingly.

    Data-dependent physical dispatch (same pattern as the GEMM tile
    count): below ``_KNN_KERNEL_MIN_ROWS`` the scoring runs as a pure
    Catalyst fold (:func:`knn_cosine_fold` — no Python boundary, which
    MEASURES faster when the per-row work can't amortize the Arrow
    worker round-trip: 0.38 s vs 0.57 s at the 2k-row bench scale);
    above it, as a vectorized float64 GEMV ``mapInArrow`` kernel
    (:func:`knn_cosine_kernel` — ~100× lower per-row cost than the
    ~64 interpreted lambda steps of the fold, the q_dedup_embedding
    kernel shape).  Both paths produce identical rounded scores (pinned
    with boundary margins by tests/test_scale_knobs.py); the row count
    is a driver-side parquet-footer read, no Spark job."""
    from ..sources.readers import parquet_num_rows

    n = parquet_num_rows(sf_dir, "embeddings") or 0  # None → fold path
    if n < _KNN_KERNEL_MIN_ROWS:
        return knn_cosine_fold(spark, sf_dir)
    return knn_cosine_kernel(spark, sf_dir)


def knn_cosine_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vectorized scale path of :func:`q_knn_cosine`: fetch the
    single query vector to the driver (one row — the same constant-size
    eager lookup as the IVF probe list), score the whole corpus in one
    ``mapInArrow`` pass (float64 GEMV per Arrow batch), top-k on the
    rounded score."""
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").head()
    if qrow is None:
        # No query vector → empty result; route through the fold so both
        # dispatch arms agree on degenerate input (the fold's broadcast
        # join yields the empty relation instead of a kernel crash).
        return knn_cosine_fold(spark, sf_dir)

    import numpy as np

    qarr = np.asarray(qrow[0], dtype="float64")
    qnrm = float(np.sqrt(qarr @ qarr))

    def score(batches):
        import pyarrow as pa

        for rb in batches:  # mapInArrow streams RecordBatches
            mat = (
                rb.column("embedding")
                .flatten()
                .to_numpy(zero_copy_only=False)
                .astype("float64", copy=False)
                .reshape(rb.num_rows, -1)
            )
            # Same algebraic order as the Catalyst fold / DuckDB oracle:
            # dot / (row_norm * query_norm).
            nrm = np.sqrt((mat * mat).sum(axis=1))
            cos = (mat @ qarr) / (nrm * qnrm)
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column("vec_id"),
                    rb.column("label"),
                    pa.array(cos, type=pa.float64()),
                ],
                names=["vec_id", "label", "cos_raw"],
            )

    scored = (
        emb.where(F.col("vec_id") != 0)
        .select("vec_id", "embedding", "label")
        .mapInArrow(score, "vec_id long, label int, cos_raw double")
    )
    return (
        scored.select(
            "vec_id", "label", _round5(F.col("cos_raw")).alias("cos_sim")
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


def knn_cosine_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure-Catalyst small-corpus path of :func:`q_knn_cosine` and
    the equivalence baseline the kernel is tested against (broadcast
    query vector, prehoisted norms, one dot fold + one row-norm fold
    per row)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.where(F.col("vec_id") == 0)
        .select(F.col("embedding").alias("qvec"))
        .withColumn("qnrm", l2_norm(F.col("qvec")))
    )
    return (
        emb.where(F.col("vec_id") != 0)
        .withColumn("nrm", l2_norm(F.col("embedding")))
        .join(q)
        .select(
            "vec_id",
            "label",
            _round5(
                cosine_sim_pre(
                    dot(F.col("embedding"), F.col("qvec")),
                    F.col("nrm"),
                    F.col("qnrm"),
                )
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "q_knn_per_label",
    oracle=f"""
WITH exploded AS (
    SELECT label, unnest(generate_series(1, len(embedding))) AS i, embedding
    FROM embeddings
),
comp AS (
    SELECT label, i, avg(CAST(embedding[i] AS DOUBLE)) AS c
    FROM exploded GROUP BY label, i
),
centroids AS (
    SELECT label AS c_label, list(c ORDER BY i) AS cvec FROM comp GROUP BY label
),
scored AS (
    SELECT c.c_label, e.vec_id,
           round({_COS_SQL.format(a='e.embedding', b='c.cvec')}, 5) + 0.0 AS cos_sim
    FROM embeddings e CROSS JOIN centroids c
)
SELECT c_label, vec_id, cos_sim
FROM (SELECT *, row_number() OVER (PARTITION BY c_label
                                   ORDER BY cos_sim DESC, vec_id ASC) AS rn
      FROM scored)
WHERE rn <= 3
""",
)
def q_knn_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 vectors per label centroid — grouped similarity search.
    Centroids: posexplode → per-(label, position) average → re-assembled
    in position order; the n_labels×64 centroid table broadcasts back
    against the corpus (IVF coarse-assignment shape)."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = (
        emb.select("label", F.posexplode("embedding").alias("i", "v"))
        .groupBy("label", "i")
        .agg(F.avg(F.col("v").cast("double")).alias("c"))
    )
    centroids = comp.groupBy(F.col("label").alias("c_label")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))), lambda s: s.c
        ).alias("cvec")
    )
    scored = (
        emb.withColumn("nrm", l2_norm(F.col("embedding")))
        .join(F.broadcast(centroids.withColumn("cnrm", l2_norm(F.col("cvec")))))
        .select(
            "c_label",
            "vec_id",
            _round5(
                cosine_sim_pre(
                    dot(F.col("embedding"), F.col("cvec")),
                    F.col("nrm"),
                    F.col("cnrm"),
                )
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("c_label").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("c_label", "vec_id", "cos_sim")
    )


@register(
    "q_embedding_label_stats",
    oracle="""
SELECT label,
       count(*) AS n_vecs,
       round(avg(sqrt(list_inner_product(
           list_transform(embedding, x -> CAST(x AS DOUBLE)),
           list_transform(embedding, x -> CAST(x AS DOUBLE))))), 5) + 0.0
           AS avg_l2_norm,
       round(avg(CAST(embedding[1] AS DOUBLE)), 6) + 0.0 AS avg_first_component
FROM embeddings
GROUP BY label
""",
)
def q_embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector sanity stats (multimodal column health check)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        _round5(F.avg(l2_norm(F.col("embedding")))).alias("avg_l2_norm"),
        (
            F.round(F.avg(F.element_at("embedding", 1).cast("double")), 6)
            + F.lit(0.0)
        ).alias("avg_first_component"),
    )


_N_PLANES = 16


def _simhash_bits(emb, n_planes: int = _N_PLANES):
    """Deterministic sign-random-projection signature bits.

    Plane j's i-th component is ±1 from ``xxhash64(i, j)``'s parity — a
    fixed pseudo-random hyperplane with no fitted state, so the signature
    is reproducible across runs and executors.  Returns an array of
    n_planes 0/1 ints.
    """
    return F.array(
        *[
            (
                F.aggregate(
                    F.zip_with(
                        emb,
                        F.transform(
                            F.sequence(F.lit(0), F.size(emb) - 1),
                            lambda i: F.when(
                                F.xxhash64(i, F.lit(j)) % 2 == 0, F.lit(1.0)
                            ).otherwise(F.lit(-1.0)),
                        ),
                        lambda x, s: x.cast("double") * s,
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                >= 0
            ).cast("int")
            for j in range(n_planes)
        ]
    )


def _lsh_plane_signs(n_planes: int = _N_PLANES, dim: int = 64) -> list:
    """Fixed ±1 hyperplane matrix — deterministic LCG expansion of a
    literal seed, identical in code and in the generated oracle SQL (the
    engine-portable variant of the xxhash parity planes: literal
    constants need no hash function at all, so BOTH engines fold the
    same numbers in the same order)."""
    state = 0xB5297A4D
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (
                1 << 62
            )
            row.append(1.0 if (state >> 17) & 1 == 0 else -1.0)
        planes.append(row)
    return planes


_LSH_SIGNS = _lsh_plane_signs()


def _lsh_bits_literal(emb):
    """Sign bits against the literal plane matrix (cf. _simhash_bits)."""
    return F.array(
        *[
            (
                F.aggregate(
                    F.zip_with(
                        emb,
                        F.array(*[F.lit(s) for s in row]),
                        lambda x, s: x.cast("double") * s,
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                >= 0
            ).cast("int")
            for row in _LSH_SIGNS
        ]
    )


def _lsh_band_sql(b: int, emb_expr: str) -> str:
    """One band's 4-bit signature string for the oracle (planes 4b..4b+3)."""
    bits = []
    for r in range(4):
        row = _LSH_SIGNS[b * 4 + r]
        lit = "[" + ", ".join(repr(s) for s in row) + "]"
        bits.append(
            "(CASE WHEN list_inner_product(list_transform("
            f"{emb_expr}, x -> CAST(x AS DOUBLE)), {lit}) >= 0 "
            "THEN '1' ELSE '0' END)"
        )
    return " || ".join(bits)


_LSH_EXACT_ORACLE = f"""
WITH sigs AS (
    SELECT vec_id, label, embedding,
           {", ".join(f"{_lsh_band_sql(b, 'embedding')} AS b{b}" for b in range(4))}
    FROM embeddings
),
q AS (
    SELECT b0 AS qb0, b1 AS qb1, b2 AS qb2, b3 AS qb3, embedding AS qvec
    FROM sigs WHERE vec_id = 0
)
SELECT s.vec_id, s.label,
       round({_COS_SQL.format(a='s.embedding', b='q.qvec')}, 5) + 0.0 AS cos_sim
FROM sigs s CROSS JOIN q
WHERE s.vec_id <> 0
  AND (s.b0 = q.qb0 OR s.b1 = q.qb1 OR s.b2 = q.qb2 OR s.b3 = q.qb3)
ORDER BY cos_sim DESC, s.vec_id ASC
LIMIT 10
"""


@register("q_knn_cosine_lsh_exact", oracle=_LSH_EXACT_ORACLE)
def q_knn_cosine_lsh_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-projection ANN with a full DuckDB oracle: the same banded
    candidate generation and exact re-rank as :func:`q_knn_cosine_lsh`,
    but against the LITERAL ±1 plane matrix (``_LSH_SIGNS``) instead of
    xxhash parity — both engines fold identical constants, so buckets,
    candidates and the rounded top-10 hash-match exactly.  The oracle
    expresses candidacy as "shares ≥1 of 4 band signatures with the
    query", the set-level meaning of the engine's band equi-join."""
    emb = load_table(spark, sf_dir, "embeddings")
    with_sig = emb.select(
        "vec_id", "label", "embedding", _lsh_bits_literal(F.col("embedding")).alias("sig")
    )
    bpb = _N_PLANES // 4  # 4 bands × 4 bits
    banded = with_sig.select(
        "vec_id",
        "label",
        "embedding",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "",
                            *[
                                F.element_at("sig", b * bpb + r + 1).cast("string")
                                for r in range(bpb)
                            ],
                        ).alias("bsig"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bs"),
    ).select(
        "vec_id", "label", "embedding",
        F.col("bs.band").alias("band"), F.col("bs.bsig").alias("bsig"),
    )
    qb = F.broadcast(
        banded.where(F.col("vec_id") == 0).select(
            F.col("band").alias("qband"),
            F.col("bsig").alias("qbsig"),
            F.col("embedding").alias("qvec"),
        )
    )
    cand = (
        banded.where(F.col("vec_id") != 0)
        .join(
            qb,
            (F.col("band") == F.col("qband")) & (F.col("bsig") == F.col("qbsig")),
        )
        .select("vec_id", "label", "embedding", "qvec")
        .dropDuplicates(["vec_id"])
    )
    return (
        cand.select(
            "vec_id",
            "label",
            _round5(cosine_sim(F.col("embedding"), F.col("qvec"))).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


@register("q_knn_cosine_lsh")  # rows-only: LSH bucketing has no SQL oracle
def q_knn_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-linear ANN for the same query as ``q_knn_cosine``: sign-random-
    projection LSH (16 deterministic hyperplanes → 4 bands of 4 bits);
    candidates = vectors sharing ≥1 band with the query; exact cosine
    re-rank of candidates only.  At 100 TB the bucket equi-join touches a
    small candidate fraction instead of the full corpus — recall tunable
    via bands/bits.  A unit test checks high overlap with the exact top-10."""
    emb = load_table(spark, sf_dir, "embeddings")
    with_sig = emb.select(
        "vec_id", "label", "embedding", _simhash_bits(F.col("embedding")).alias("sig")
    )
    bpb = _N_PLANES // 4  # 4 bands × 4 bits
    banded = with_sig.select(
        "vec_id",
        "label",
        "embedding",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "",
                            *[
                                F.element_at("sig", b * bpb + r + 1).cast("string")
                                for r in range(bpb)
                            ],
                        ).alias("bsig"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bs"),
    ).select(
        "vec_id", "label", "embedding",
        F.col("bs.band").alias("band"), F.col("bs.bsig").alias("bsig"),
    )
    qb = F.broadcast(
        banded.where(F.col("vec_id") == 0).select(
            F.col("band").alias("qband"),
            F.col("bsig").alias("qbsig"),
            F.col("embedding").alias("qvec"),
        )
    )
    cand = (
        banded.where(F.col("vec_id") != 0)
        .join(
            qb,
            (F.col("band") == F.col("qband")) & (F.col("bsig") == F.col("qbsig")),
        )
        .select("vec_id", "label", "embedding", "qvec")
        .dropDuplicates(["vec_id"])
    )
    return (
        cand.select(
            "vec_id",
            "label",
            _round5(cosine_sim(F.col("embedding"), F.col("qvec"))).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


def _dist2_to(centroid: list, emb) -> "F.Column":
    """Squared L2 distance from an embedding column to a literal centroid
    (64 constants folded into the codegen'd expression)."""
    cvec = F.array(*[F.lit(float(v)) for v in centroid])
    return F.aggregate(
        F.zip_with(emb, cvec, lambda x, c: (x.cast("double") - c) * (x.cast("double") - c)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def kmeans_assign(
    emb: DataFrame, centroids: list, rounded: bool = False
) -> DataFrame:
    """Assign each vector to its nearest centroid (ties → lowest cluster
    id via (dist, cid) struct ordering).  Centroids ship as literals inside
    the expression — the classic broadcast-the-model iteration step.

    ``rounded=True`` ranks on the 6-rounded squared distance instead of
    the raw one — the IVF argmax stabilization (cross-engine float noise
    ~1e-15 sits far below the 1e-6 rounding step, so the DISCRETE
    assignment decision is engine-portable; see :func:`q_kmeans_exact`)."""
    scored = F.array(
        *[
            F.struct(
                (
                    F.round(_dist2_to(c, F.col("embedding")), 6)
                    if rounded
                    else _dist2_to(c, F.col("embedding"))
                ).alias("d2"),
                F.lit(i).alias("cid"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    best = F.array_min(scored)
    return emb.select(
        "vec_id",
        "label",
        "embedding",
        best["cid"].alias("cluster"),
        best["d2"].alias("dist2"),
    )


def kmeans(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 5,
    rounded: bool = False,
    return_model: bool = False,
) -> DataFrame:
    """Deterministic Lloyd's k-means over the embedding column.

    Init = the embeddings of vec_id 0..k−1 (no randomness, reproducible).
    Each iteration: assignment is one codegen'd expression over a corpus
    scan; centroid refresh is a posexplode → avg-per-(cluster, position)
    aggregate, collected to the driver (k×64 doubles — the only
    driver-side data, constant in corpus size).  This is the canonical
    Spark iterative-algorithm shape: per-iteration work is one scan + one
    tiny agg; no RDD loops, no growing lineage on the big table.
    """
    init = (
        emb.where(F.col("vec_id") < k)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    centroids = [[float(x) for x in r.embedding] for r in init]
    assigned = kmeans_assign(emb, centroids, rounded=rounded)
    for _ in range(n_iter):
        comp = (
            assigned.select("cluster", F.posexplode("embedding").alias("i", "v"))
            .groupBy("cluster", "i")
            .agg(F.avg(F.col("v").cast("double")).alias("c"))
        )
        rows = comp.groupBy("cluster").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "c"))), lambda s: s.c
            ).alias("cvec")
        ).collect()
        new_centroids = list(centroids)
        for r in rows:
            new_centroids[r.cluster] = [float(x) for x in r.cvec]
        centroids = new_centroids
        assigned = kmeans_assign(emb, centroids, rounded=rounded)
    if return_model:
        # (assignments, final centroids) — the margin test needs the
        # centroids of the GRADED trajectory to check raw distances.
        return assigned, centroids
    return assigned


@register("q_kmeans_embeddings")  # rows-only: iterative, not SQL-expressible
def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 Lloyd iterations of k=8 k-means over the embedding corpus —
    the declared iterative-algorithm surface (deterministic init from
    vec_id 0..7; convergence pinned by a unit test)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = kmeans(emb, k=8, n_iter=5)
    return out.select(
        "vec_id",
        "cluster",
        (F.round(F.sqrt("dist2"), 5) + F.lit(0.0)).alias("dist"),
    )


# ---------------------------------------------------------------------------
# Exact-oracle k-means (round 5): like PageRank, a FIXED Lloyd iteration
# count unrolls into a CTE chain — assignment (cross join to the k-row
# centroid relation, argmin) and centroid refresh (per-(cluster, position)
# avg) per round.  Two float disciplines make it engine-portable:
# (1) the DISCRETE assignment ranks on the 6-rounded squared distance
# (cross-engine summation noise ~1e-15 « the 1e-6 step — the IVF argmax
# stabilization), so both engines pick identical clusters; (2) centroids
# themselves stay unrounded (their ~1e-16 cross-engine drift only
# perturbs d2 by ~1e-15, absorbed by (1) — rounding them would ADD a
# divergence source at the round boundary).  Empty clusters keep their
# previous centroid on both engines (engine: dict update; oracle:
# LEFT JOIN + COALESCE).
# ---------------------------------------------------------------------------

_KMX_K = 8
_KMX_ITER = 5

# Rounded squared distance from embedding row e to centroid list c.cvec.
_KMX_D2 = """round(list_sum(list_transform(
               generate_series(1, len(e.embedding)),
               i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
                  * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]))), 6)"""


def _kmx_iter_ctes(n_iter: int) -> str:
    blocks = []
    for t in range(n_iter + 1):  # n_iter+1 assignments, n_iter refreshes
        blocks.append(f"""asg{t} AS (
    SELECT vec_id, embedding, cid, d2r,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2r ASC, cid ASC) AS rn
    FROM (SELECT e.vec_id, e.embedding, c.cid, {_KMX_D2} AS d2r
          FROM embeddings e CROSS JOIN cent{t} c)
),
best{t} AS (SELECT vec_id, embedding, cid AS cluster, d2r
            FROM asg{t} WHERE rn = 1)""")
        if t < n_iter:
            # cent{t+1} MATERIALIZED: each level references cent{t} twice
            # (carry LEFT JOIN + via the assignment), so an inlining
            # planner would recompute level t's whole chain 2^t times.
            blocks.append(f"""upd{t} AS (
    SELECT cid, list(c ORDER BY i) AS cvec FROM (
        SELECT cluster AS cid, i, avg(CAST(embedding[i] AS DOUBLE)) AS c
        FROM (SELECT cluster, embedding,
                     unnest(generate_series(1, len(embedding))) AS i
              FROM best{t})
        GROUP BY cluster, i
    ) GROUP BY cid
),
cent{t + 1} AS MATERIALIZED (
    SELECT c0.cid, COALESCE(u.cvec, c0.cvec) AS cvec
    FROM cent{t} c0 LEFT JOIN upd{t} u ON u.cid = c0.cid
)""")
    return ",\n".join(blocks)


_KMEANS_EXACT_ORACLE = f"""
WITH cent0 AS (
    SELECT vec_id AS cid,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
    FROM embeddings WHERE vec_id < {_KMX_K}
),
{_kmx_iter_ctes(_KMX_ITER)}
SELECT vec_id, CAST(cluster AS INT) AS cluster, d2r + 0.0 AS dist2_r
FROM best{_KMX_ITER}
"""


@register("q_kmeans_exact", oracle=_KMEANS_EXACT_ORACLE)
def q_kmeans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means with a full DuckDB oracle — the exact-graded companion to
    :func:`q_kmeans_embeddings` (see the unrolled-iteration note above).
    Identical engine path (:func:`kmeans`, k = 8, 5 rounds, vec_id 0..7
    init) except assignments rank on the 6-rounded squared distance,
    making every discrete cluster decision engine-portable; the graded
    output is (vector, final cluster, rounded squared distance).
    q_kmeans_embeddings stays the raw-distance rows-only registration
    with the convergence pin."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = kmeans(emb, k=_KMX_K, n_iter=_KMX_ITER, rounded=True)
    return out.select(
        "vec_id",
        "cluster",
        (F.col("dist2") + F.lit(0.0)).alias("dist2_r"),
    )


# IVF-Flat coarse quantization: K fixed cells, probe the nprobe nearest.
# Centroids are the vectors with vec_id < K — deterministic, training-free
# (a production index would train them with operators/embeddings.kmeans and
# persist; the query shape downstream is identical).  Assignment scores are
# rounded to 6 decimals BEFORE the argmax on both engines so the cell
# choice never hinges on cross-engine float noise; ties break to the
# smaller cid.
_IVF_K = 16
_IVF_NPROBE = 4

# Shared by the query-time (`q_knn_cosine_ivf`) and persisted-index
# (`q_knn_cosine_ivf_indexed`) registrations: both produce the identical
# deterministic candidate set (round-6 assignment argmax, round-6 probe
# ranking), so one oracle grades both.
_IVF_ORACLE = f"""
WITH cents AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < {_IVF_K}),
scored AS (
    SELECT e.vec_id, e.label, e.embedding, c.cid,
           round({_COS_SQL.format(a='e.embedding', b='c.cvec')}, 6) AS score
    FROM embeddings e CROSS JOIN cents c),
assign AS (
    SELECT vec_id, label, embedding, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid ASC) AS rn
        FROM scored) WHERE rn = 1),
qv AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
probe AS (
    SELECT cid FROM (
        SELECT c.cid, round({_COS_SQL.format(a='c.cvec', b='q.qvec')}, 6) AS score
        FROM cents c CROSS JOIN qv q)
    ORDER BY score DESC, cid ASC LIMIT {_IVF_NPROBE})
SELECT a.vec_id, a.label,
       round({_COS_SQL.format(a='a.embedding', b='q.qvec')}, 5) + 0.0 AS cos_sim
FROM assign a CROSS JOIN qv q
WHERE a.cid IN (SELECT cid FROM probe) AND a.vec_id <> 0
ORDER BY cos_sim DESC, a.vec_id ASC
LIMIT 10
"""


def _ivf_probe(spark: SparkSession, sf_dir: str):
    """Eager index-METADATA lookup shared by both IVF registrations: the
    nprobe cells nearest the query plus the query vector itself.  Two
    tiny jobs (K centroid scores + one query row), constant size by
    construction; eager because the probe list must be a LITERAL for the
    downstream filter to prune partitions in a persisted index.  Returns
    ``(probe_cids, qvec_floats)`` or ``None`` when vec_id 0 is absent."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = F.broadcast(
        emb.where(F.col("vec_id") < _IVF_K).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
        )
    )
    qv = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    probe_rows = (
        cents.join(qv)
        .select(
            "cid",
            F.round(cosine_sim(F.col("cvec"), F.col("qvec")), 6).alias("score"),
            "qvec",
        )
        .orderBy(F.desc("score"), F.asc("cid"))
        .limit(_IVF_NPROBE)
        .collect()
    )
    if not probe_rows:
        return None
    # float32 → Python float is exact double widening, so the literal array
    # is bit-identical to casting the qvec column.
    return [r["cid"] for r in probe_rows], [float(x) for x in probe_rows[0]["qvec"]]


def probe_ivf(spark: SparkSession, sf_dir: str, index: DataFrame) -> DataFrame:
    """The IVF query half shared by EVERY probe site — the one-shot
    assignment (`q_knn_cosine_ivf`), the persisted index
    (`q_knn_cosine_ivf_indexed`), and the two streamed-index lifecycle
    queries (`q_stream_ann_index_exec` / `q_stream_ann_compact_exec`):
    driver-side K-row probe ranking (:func:`_ivf_probe`), a cid filter
    over ``index`` (partition-PRUNING wherever cid is a partition
    column — the per-batch ``batch=/cid=`` layout, the compacted
    ``batch=-1/cid=`` layout, and the one-shot ``cid=`` layout all
    prune), exact-cosine re-rank, top-10.  ONE definition so the four
    queries sharing the same exact oracle cannot drift (code-review
    r9: the rank block existed in three copies)."""
    probe = _ivf_probe(spark, sf_dir)
    if probe is None:  # query vector absent → empty result, stable schema
        return spark.createDataFrame([], "vec_id long, label int, cos_sim double")
    probe_cids, qvec = probe
    lit_q = F.array(*[F.lit(x) for x in qvec])
    return (
        index.where(F.col("cid").isin(probe_cids) & (F.col("vec_id") != 0))
        .select(
            "vec_id",
            F.col("label").cast("int").alias("label"),
            _round5(cosine_sim(F.col("embedding"), lit_q)).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


def _ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF coarse-quantizer assignment relation (vec_id → nearest of
    the K=16 deterministic centroids, round-6 argmax): the plan
    `q_knn_cosine_ivf` recomputes per query and `q_knn_cosine_ivf_indexed`
    writes once as a cid-partitioned parquet index.

    Repartition on vec_id BEFORE the × K broadcast join: the argmax agg
    needs a vec_id exchange anyway, so moving it ahead of the join adds
    no net shuffle — and it un-starves the single-row-group bench scan
    so the K dot folds per row run on every core.  Norms hoisted: one
    row-norm fold per row + one dot fold per (row, centroid), not three
    folds per pair.  Argmax without a window: (score, -cid) struct max is
    map-side combinable; label/embedding ride along (never compared —
    (score, neg_cid) is already unique per group)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents_n = F.broadcast(
        emb.where(F.col("vec_id") < _IVF_K)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
        .withColumn("cnrm", l2_norm(F.col("cvec")))
    )
    return assign_cells(
        emb.repartition(spark.sparkContext.defaultParallelism, "vec_id"),
        cents_n,
    )


def assign_cells(emb_df: DataFrame, cents_n: DataFrame) -> DataFrame:
    """Nearest-centroid assignment for any (vec_id, label, embedding)
    relation against a (cid, cvec, cnrm) centroid relation — ONE
    expression chain shared by the one-shot index build
    (:func:`_ivf_assign`) and the streaming ingest upsert
    (streaming/twins.py ``incremental_ivf_index``), so a vector gets the
    bit-identical cell id whichever path ingests it (the assignment is
    row-local: it depends only on the vector and the fixed quantizer, so
    micro-batching cannot change it)."""
    scored = (
        emb_df.withColumn("nrm", l2_norm(F.col("embedding")))
        .join(cents_n)
        .select(
            "vec_id",
            "label",
            "embedding",
            "cid",
            F.round(
                cosine_sim_pre(
                    dot(F.col("embedding"), F.col("cvec")),
                    F.col("nrm"),
                    F.col("cnrm"),
                ),
                6,
            ).alias("score"),
        )
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    "score", (-F.col("cid")).alias("neg_cid"), "label", "embedding"
                )
            ).alias("b")
        )
        .select(
            "vec_id",
            (-F.col("b.neg_cid")).alias("cid"),
            F.col("b.label").alias("label"),
            F.col("b.embedding").alias("embedding"),
        )
    )


def centroid_rows(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, list[float]]]:
    """The coarse-quantizer ARTIFACT, driver-side: the K=16 centroid
    vectors as plain Python rows (16 × 64 floats — index metadata, the
    same constant-size collect class as :func:`_ivf_probe`).  A streaming
    ingest pins the quantizer once at stream start and assigns every
    arriving vector against it — re-deriving centroids per micro-batch
    would re-cluster the index out from under committed cells."""
    emb = load_table(spark, sf_dir, "embeddings")
    rows = (
        emb.where(F.col("vec_id") < _IVF_K)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
        .collect()
    )
    return [(int(r["cid"]), [float(x) for x in r["cvec"]]) for r in rows]


@register("q_knn_cosine_ivf", oracle=_IVF_ORACLE)
def q_knn_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN for the same query as ``q_knn_cosine`` — the inverted-
    file scale path next to the sign-LSH one: assign every vector to its
    nearest of K=16 coarse cells, probe the 4 cells nearest the query,
    exact-cosine re-rank only those cells' members (~nprobe/K of the
    corpus scanned instead of all of it).

    Scale shape: assignment is corpus × K-row broadcast join feeding a
    map-side-combinable argmax (``max`` of a (score, -cid) struct — no
    window shuffle, one partial+final agg keyed on vec_id).  Probe
    selection is K query-vs-centroid scores — index METADATA, constant
    size — computed in one tiny job and collected (like the kmeans
    centroid step: K rows, never the corpus), then applied as a literal
    ``IN`` filter.  In a persisted index the cell id is the partition/
    bucketing column at write time, so the literal cell-id filter IS
    partition pruning: the corpus scan touches ~nprobe/K of the files.
    (The previous formulation chained three broadcast-exchange jobs —
    centroids, query vector, probe semi-join — whose per-job latency
    dominated the measured time at bench scale; same results, fewer
    stages.)  Exact oracle: scores round to 6 decimals before the argmax
    on both engines, so the cell assignment — and therefore the candidate
    set — is deterministic.  Recall vs the exact top-10 is pinned by a
    unit test.

    NOTE: the probe lookup (:func:`_ivf_probe`) is an EAGER collect() at
    build time (two tiny jobs — K centroid scores + the query vector) —
    plan-only consumers (explain/gen_plans) pay it too.  Constant-size by
    construction; kept eager because the probe list must be a literal
    for the filter to prune partitions in a persisted index.
    """
    return probe_ivf(spark, sf_dir, _ivf_assign(spark, sf_dir))


# Persisted-index directories, one per (SparkContext, sf_dir) — the index
# build (a full assignment pass + partitioned write) runs ONCE per session
# and every subsequent query is a pruned scan, which is the entire point
# of an IVF index (VERDICT r6 #5: the winning shape from the ANN scale
# rung, BASELINE.md "Notes for the 2× comparison", registered as a
# declared query).
_IVF_INDEX_DIRS: dict[tuple[str, str], str] = {}


def ivf_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per SparkContext × sf_dir) the persisted IVF index:
    the :func:`_ivf_assign` relation written as parquet PARTITIONED BY
    cell id under a session tempdir (cleaned at exit).  In production
    this is a durable table written by the ingest pipeline; the tempdir
    stands in because tests/grading must not write outside the repo."""
    app = spark.sparkContext.applicationId
    key = (app, sf_dir)
    path = _IVF_INDEX_DIRS.get(key)
    if path is None:
        import atexit
        import shutil
        import tempfile

        for stale in [k for k in _IVF_INDEX_DIRS if k[0] != app]:
            del _IVF_INDEX_DIRS[stale]
        path = tempfile.mkdtemp(prefix="spark_ivf_index_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        _ivf_assign(spark, sf_dir).write.mode("overwrite").partitionBy(
            "cid"
        ).parquet(path)
        _IVF_INDEX_DIRS[key] = path
    return path


@register("q_knn_cosine_ivf_indexed", oracle=_IVF_ORACLE)
def q_knn_cosine_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a PERSISTED index — the production ANN query shape, and
    the one that wins at scale (BASELINE.md, "Notes for the 2×
    comparison", ANN scale rung: flat ~0.6 s probe at 200k vectors
    while the exact scan grows linearly; recall@10 = 1.00).

    `q_knn_cosine_ivf` recomputes the coarse-quantizer assignment per
    query — correct, but the assignment itself scans the corpus K-fold,
    so query-time IVF can never beat brute force.  The index fix:
    amortize the assignment by writing it ONCE as a parquet table
    partitioned by cell id (:func:`ivf_index_dir`); a query is then
      (1) a driver-side K-row probe ranking (index metadata),
      (2) a partition-PRUNED scan of the nprobe nearest cells — the
          literal cell-id filter lands in the scan's PartitionFilters,
          so ~nprobe/K of the files are even opened, and
      (3) an exact-cosine re-rank of just those candidates.
    No join, no shuffle — one pruned scan feeding a TakeOrdered.  At
    100 TB the index is bucketed/partitioned storage metadata and query
    cost scales with nprobe/K, not corpus size.

    Same deterministic candidate set as `q_knn_cosine_ivf` (identical
    round-6 assignment argmax + probe ranking), so the same exact oracle
    grades both.  First call per session pays the index build (one
    assignment pass + partitioned write); subsequent calls reuse it —
    mirroring a real pipeline where ingest writes the index and queries
    only read."""
    return probe_ivf(
        spark, sf_dir, spark.read.parquet(ivf_index_dir(spark, sf_dir))
    )


# Probe-set size for the BATCHED index query: every vector with
# vec_id < _BATCH_NQ is a query.  32 keeps the graded relation small
# (≤ 320 rows) while exercising multi-probe cell overlap (32 probes × 4
# cells over a 16-cell quantizer guarantees shared cells).
_BATCH_NQ = 32

# Broadcast the (probe → cell, qvec) map only while it stays small
# (~500 MB of 64-float rows at this bound); beyond it the shuffled hash
# join on cid is the right plan.  Equality of both join paths is
# pytest-pinned (tests/test_round7_ops.py).
_BATCH_BROADCAST_MAX_PROBE_ROWS = 1_000_000

_BATCH_IVF_ORACLE = f"""
WITH cents AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < {_IVF_K}),
scored AS (
    SELECT e.vec_id, e.label, e.embedding, c.cid,
           round({_COS_SQL.format(a='e.embedding', b='c.cvec')}, 6) AS score
    FROM embeddings e CROSS JOIN cents c),
assign AS (
    SELECT vec_id, label, embedding, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid ASC) AS rn
        FROM scored) WHERE rn = 1),
qv AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < {_BATCH_NQ}),
probe AS (
    SELECT qid, cid, qvec FROM (
        SELECT q.qid, c.cid, q.qvec,
               row_number() OVER (PARTITION BY q.qid ORDER BY
                   round({_COS_SQL.format(a='c.cvec', b='q.qvec')}, 6) DESC,
                   c.cid ASC) AS rn
        FROM cents c CROSS JOIN qv q) WHERE rn <= {_IVF_NPROBE}),
cand AS (
    SELECT p.qid, a.vec_id, a.label,
           round({_COS_SQL.format(a='a.embedding', b='p.qvec')}, 5) + 0.0 AS cos_sim
    FROM assign a JOIN probe p ON a.cid = p.cid
    WHERE a.vec_id <> p.qid)
SELECT qid, vec_id, label, cos_sim FROM (
    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id ASC) AS rn
    FROM cand) WHERE rn <= 10
"""


def batch_probe_ivf(
    spark: SparkSession, sf_dir: str, index: DataFrame, n_queries: int
) -> DataFrame:
    """N query vectors against an IVF index in ONE pass — the production
    retrieval / semantic-dedup shape (VERDICT r9 "what's missing" #2:
    the single-probe plan does N driver round-trips for N probes).

    Plan: the probe set (``vec_id < n_queries``) ranks cells via a
    probes × K broadcast join and a per-probe top-``nprobe``
    WindowGroupLimit — the same rounded-argmax arithmetic as
    :func:`_ivf_probe`, but for ALL probes in one tiny job.  The UNION
    of covered cell ids (≤ K values — index metadata, the only collect)
    becomes a literal ``IN`` filter, so a persisted/compacted index scan
    is partition-PRUNED exactly like the single-probe path.  The pruned
    scan then joins the BROADCAST (probe → cell, qvec) map on cid —
    each index row is scored only against the probes that probed its
    cell — and a per-qid WindowGroupLimit takes top-10.  Index-row norms
    hoist once per row, probe norms once per probe; only the dot folds
    per (row, probe) pair.  Cost: ONE pruned index scan amortized over
    all N probes (per-probe cost flat in N — BASELINE.md, "Round-10
    rework rungs", batched ANN probe rung),
    vs N scans for N single-probe queries."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    cents = (
        emb.where(F.col("vec_id") < _IVF_K)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
        .withColumn("cnrm", l2_norm(F.col("cvec")))
    )
    probes = (
        emb.where(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        .withColumn("qnrm", l2_norm(F.col("qvec")))
    )
    w_cells = Window.partitionBy("qid").orderBy(
        F.desc("score"), F.asc("cid")
    )
    probe_cells = (
        probes.join(F.broadcast(cents))
        .select(
            "qid",
            "cid",
            "qvec",
            "qnrm",
            F.round(
                cosine_sim_pre(
                    dot(F.col("qvec"), F.col("cvec")),
                    F.col("qnrm"),
                    F.col("cnrm"),
                ),
                6,
            ).alias("score"),
        )
        .withColumn("rn", F.row_number().over(w_cells))
        .where(F.col("rn") <= _IVF_NPROBE)
        .select("qid", "cid", "qvec", "qnrm")
    )
    # Persisted: the probe map feeds TWO consumers — the covered-cells
    # collect below and the candidate join — and unpersisted each would
    # recompute the probes × K scored join + per-qid WindowGroupLimit
    # (code-review r10: at a million-probe set that is a full extra
    # window pass).  Bounded by n_queries × nprobe rows.
    probe_cells = probe_cells.persist()
    # The union of covered cells is bounded by K (=16) — constant-size
    # index metadata, same collect class as _ivf_probe: it must be a
    # LITERAL for the scan's PartitionFilters to prune index files.
    covered = sorted(
        r["cid"] for r in probe_cells.select("cid").distinct().collect()
    )
    if not covered:
        return spark.createDataFrame(
            [], "qid long, vec_id long, label int, cos_sim double"
        )
    # Size dispatch (the span-rewrite / GEMM convention): the probe map
    # is (n_queries × nprobe) rows each carrying a 64-float qvec —
    # broadcast only while that stays executor-memory-cheap; a
    # production probe TABLE (millions of query vectors) falls back to
    # the shuffled hash join on cid, which is the correct plan when both
    # sides are big (the cid key is already the join/pruning key).
    if n_queries * _IVF_NPROBE <= _BATCH_BROADCAST_MAX_PROBE_ROWS:
        probe_cells = F.broadcast(probe_cells)
    cand = (
        index.where(F.col("cid").isin(covered))
        .withColumn("nrm", l2_norm(F.col("embedding")))
        .join(probe_cells, "cid")
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.col("label").cast("int").alias("label"),
            _round5(
                cosine_sim_pre(
                    dot(F.col("embedding"), F.col("qvec")),
                    F.col("nrm"),
                    F.col("qnrm"),
                )
            ).alias("cos_sim"),
        )
    )
    w_top = Window.partitionBy("qid").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w_top))
        .where(F.col("rn") <= 10)
        .select("qid", "vec_id", "label", "cos_sim")
    )


@register("q_knn_batch_ivf", oracle=_BATCH_IVF_ORACLE)
def q_knn_batch_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN: the 32-probe retrieval query over the PERSISTED IVF
    index — per-probe top-10 with (cos_sim DESC, vec_id ASC) tie-break,
    all probes answered by one partition-pruned index scan
    (:func:`batch_probe_ivf`).  Exact oracle: the same rounded
    assignment/probe/re-rank arithmetic as ``_IVF_ORACLE`` generalized
    over the probe set, so the candidate set — and therefore every
    graded row — is deterministic cross-engine."""
    return batch_probe_ivf(
        spark,
        sf_dir,
        spark.read.parquet(ivf_index_dir(spark, sf_dir)),
        _BATCH_NQ,
    )


@register(
    "q_embedding_quantize",
    oracle="""
WITH prep AS (
    SELECT label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
scaled AS (
    SELECT label, v,
           list_max(list_transform(v, x -> abs(x))) AS amax
    FROM prep
),
err AS (
    SELECT label, amax,
           CASE WHEN amax = 0 THEN 0.0 ELSE
             sqrt(list_inner_product(
               list_transform(v, x -> x - floor(x * (127.0 / amax) + 0.5)
                                          / (127.0 / amax)),
               list_transform(v, x -> x - floor(x * (127.0 / amax) + 0.5)
                                          / (127.0 / amax))) / len(v))
           END AS rmse
    FROM scaled
)
SELECT label,
       count(*) AS n_vecs,
       round(avg(rmse), 6) + 0.0 AS avg_rmse,
       round(max(rmse), 6) + 0.0 AS max_rmse,
       round(avg(amax), 5) + 0.0 AS avg_amax
FROM err
GROUP BY label
""",
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization audit — the compression step a vector index
    applies before storage (64 float32 → 64 int8 = 4× smaller), with the
    per-label reconstruction error a pipeline monitors to decide whether
    the cheap index is safe to serve from.

    Per vector: symmetric scale 127/max|x|, quantize with the engine-
    portable ``floor(x·scale + 0.5)`` (an explicit half-up — ``round``'s
    half-way semantics differ across engines), dequantize, RMSE via the
    same dot-product fold the k-NN path uses.  Pure scan projection + one
    per-label aggregate: no shuffle of vectors, only of per-label partials
    — at 100 TB this is one pass over the corpus.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    prep = emb.select("label", v.alias("v"))
    scaled = prep.withColumn(
        "amax", F.array_max(F.transform("v", lambda x: F.abs(x)))
    )
    scale = F.lit(127.0) / F.col("amax")
    errvec = F.transform(
        "v", lambda x: x - F.floor(x * scale + F.lit(0.5)) / scale
    )
    rmse = F.when(F.col("amax") == 0, F.lit(0.0)).otherwise(
        F.sqrt(dot(errvec, errvec) / F.size("v"))
    )
    return (
        scaled.select("label", "amax", rmse.alias("rmse"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            (F.round(F.avg("rmse"), 6) + F.lit(0.0)).alias("avg_rmse"),
            (F.round(F.max("rmse"), 6) + F.lit(0.0)).alias("max_rmse"),
            (F.round(F.avg("amax"), 5) + F.lit(0.0)).alias("avg_amax"),
        )
    )
