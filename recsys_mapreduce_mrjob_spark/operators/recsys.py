"""Recsys core — the reference's own pipeline, Spark-first (SURVEY.md §2.2.I).

The reference (marcelcaraciolo/recsys-mapreduce-mrjob) chains 3 MR steps:
parse → group-by-user → pairwise self-join → pair aggregation → similarity
math → similarity-keyed re-sort → per-item top-K
(``moviesSimilarities.py`` steps R2–R15, reconstructed — SURVEY.md §2.1).
Each step boundary there is a full text+JSON materialization to disk; here
the same dataflow is ONE lazy DataFrame plan: Catalyst fuses the projection
chain, the pair aggregation gets map-side partial aggregation automatically
(the "java Combiner" the reference's ``pairwise_items`` docstring wished
for), and the ranking is a window function instead of a shuffle-sort trick.

Scale notes (100 TB):
  - The pairwise stage is a self-equi-join on ``user_id`` — shuffle-hash /
    sort-merge partitioned by user, so pair generation is distributed and
    never materializes a per-user combinations list in Python (the
    reference's bottleneck).  AQE skew-join splits power users.
  - ``item_x < item_y`` halves the pair space inside the join condition
    (same trick as the reference's ``combinations``).
  - ``n >= 2`` support pruning happens in the pair aggregation's HAVING,
    before the similarity math and ranking shuffle.
  - For 100 TB-class pair explosions the documented escalation is
    DIMSUM-style magnitude pruning before the join (SURVEY.md §4.2) —
    expressed as plain filters, no custom Catalyst rule needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import memo_persist
from ..functions import similarity as S
from ..functions.blocking import gemm_block_count as _block_count
from ..registry import register
from ..sources.readers import (
    RATINGS_ORACLE_CTE,
    derive_ratings,
    load_table,
    rebalance_if_starved,
)


def round6(c):
    """round(·, 6) with -0.0 normalized to 0.0 (oracle-hash safety,
    SURVEY.md §7.4)."""
    return F.round(c, 6) + F.lit(0.0)


# ---------------------------------------------------------------------------
# Pure dataflow functions over an arbitrary (user_id, item_id, rating)
# relation — unit-testable against the reference's docstring fixture
# (FIXTURES.md §B.4) independent of the star schema.
# ---------------------------------------------------------------------------


def user_stats(ratings: DataFrame) -> DataFrame:
    """R4: per-user ``(item_count, rating_sum)``
    (ref ``count_ratings_users_freq``, moviesSimilarities.py:≈72–90)."""
    return ratings.groupBy("user_id").agg(
        F.count("item_id").alias("item_count"),
        round6(F.sum("rating")).alias("rating_sum"),
    )


def item_rater_counts(
    ratings: DataFrame, assume_unique: bool = False
) -> DataFrame:
    """R9 support: distinct raters per item (feeds real Jaccard — the
    vectorSimilarities.py variant, not the movies job's 0.0 placeholder).

    The generic path counts distinct users, which is correct for any
    input — including the pipe/Book-Crossing readers, where a user may
    re-rate an item.  Callers whose relation is provably unique on
    (user_id, item_id) — ``derive_ratings`` groups on exactly that key —
    pass ``assume_unique=True`` to plan a plain ``count(*)`` instead of
    the extra dedup aggregate over the full relation.
    """
    counter = (
        F.count(F.lit(1)) if assume_unique else F.count_distinct("user_id")
    )
    return ratings.groupBy("item_id").agg(counter.alias("n_raters"))


def prune_degenerate_users(ratings: DataFrame, max_user_items: int) -> DataFrame:
    """Drop users rating more than ``max_user_items`` items before the
    pairwise self-join — the 100 TB knob for the pair explosion.

    A user with k items contributes C(k,2) pairs; a crawler/bot user with
    10⁵ items alone produces 5×10⁹ pairs.  The reference had the same
    bottleneck in its ``pairwise_items`` mapper (the famous "main
    performance bottleneck" docstring comment, moviesSimilarities.py:≈96)
    and no remedy.  Capping is the standard DIMSUM-adjacent mitigation
    (SURVEY §4.2): item-pair similarity over co-raters barely changes when
    pathological users are dropped, while the pair space shrinks
    quadratically.  Default OFF at test scale factors so oracles are
    unaffected.
    """
    counts = ratings.groupBy("user_id").agg(F.count(F.lit(1)).alias("k"))
    keep = counts.where(F.col("k") <= max_user_items).select("user_id")
    return ratings.join(keep, "user_id", "left_semi")


def pairwise_stats(
    ratings: DataFrame,
    min_support: int = 2,
    max_user_items: int | None = None,
) -> DataFrame:
    """R5+R6: ordered item pairs with sufficient statistics.

    Reference: ``pairwise_items`` mapper emits all C(items,2) pairs per
    user posting list, ``calculate_similarity`` reducer accumulates
    ``(n, Σxy, Σx, Σy, Σx², Σy²)`` (moviesSimilarities.py:≈92–140).  Here:
    a self-equi-join on user (distributed, no per-user Python loop) with the
    ``item_x < item_y`` ordering folded into the join, then one hash
    aggregation (partial map-side + final — the combiner the reference
    lacked).

    ``max_user_items`` (off by default) applies
    :func:`prune_degenerate_users` before the join — see its docstring for
    the 100 TB rationale.
    """
    if max_user_items is not None:
        ratings = prune_degenerate_users(ratings, max_user_items)
    a = ratings.alias("a")
    b = ratings.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.item_id") < F.col("b.item_id")),
    ).select(
        F.col("a.item_id").alias("item_x"),
        F.col("b.item_id").alias("item_y"),
        F.col("a.rating").alias("rx"),
        F.col("b.rating").alias("ry"),
    )
    # Direct partial+final aggregation on the pair key.  Round 3 inserted
    # an explicit narrow-row repartition before the agg (ship 4 columns,
    # aggregate receiver-side); round-4 re-measurement under lower box
    # noise shows it a ~27% LOSS at sf0.1 (2.18 s vs 1.59 s direct): the
    # ratings side auto-broadcasts here, so pair generation has no
    # exchange of its own and the repartition only adds a second full
    # pass over the 13.1 M pair rows.  At cluster scale the trade-off is
    # the same either way (exactly one pair-keyed exchange); partial
    # aggregation additionally absorbs whatever intra-task duplication
    # exists, so direct is never worse on shuffle bytes per distinct key.
    stats = (
        pairs.groupBy("item_x", "item_y")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
            F.sum(F.col("rx")).alias("sx"),
            F.sum(F.col("ry")).alias("sy"),
            F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
            F.sum(F.col("ry") * F.col("ry")).alias("syy"),
        )
    )
    return stats.where(F.col("n") >= min_support)


_GEMM_ROW_BYTES = 32  # user_id + item_id + rating + blk, Arrow-encoded

# Flagship pair-stage dispatch (round 7, tools/bench_flagship_scale.py):
# measured crossover between the Arrow-boundary-bound GEMM form and the
# whole-stage-codegen join form sits between 0.6 M and 1.8 M lineitem
# rows on this box — see q_topk_similar_items' docstring for the numbers.
_FLAGSHIP_JOIN_MIN_ROWS = 1_500_000


def gemm_block_count(n_rows: int, row_bytes: int = _GEMM_ROW_BYTES) -> int:
    """Data-dependent tile count for the pair-stats GEMM: smallest B whose
    two-block tile stays under the shared target
    (``functions.blocking.TARGET_TILE_BYTES``); floor 5 ⇒ ≥15 tiles
    (round-5 sweep at sf0.1: B=5 edges out B=4 — 15 tiles load-balance
    the 32-thread kernel stage better than 10 and the +25% replicate
    shuffle is cheaper than the tail task; B≥6 loses to replication)."""
    return _block_count(n_rows, row_bytes, floor=5)


def pairwise_stats_gemm(
    ratings: DataFrame,
    min_support: int,
    n_blocks: int,
    counts_only: bool = False,
) -> DataFrame:
    """Blocked-GEMM twin of :func:`pairwise_stats` plus per-item rater
    counts — sparse-Gram execution with the ratings derivation fused in
    (VERDICT r4 #2).

    Input: RAW ``(user_id, item_id, rating)`` rows before the
    (user, item) aggregation — ``rating`` holds integer-valued
    quantities and a (user, item) key may repeat (:func:`raw_ratings`).
    Each tile first reduces them to ``round(avg(qty), 6)``, so the plan
    has NO (user, item) aggregation exchange at all (scan → broadcast
    join → one tile exchange → kernel).  Duplicates of a (user, item)
    key share the item, hence the block, hence the tile, so the
    tile-local aggregate is exact.  Rounding is exact decimal HALF_UP via
    integer arithmetic — ``(2·Σq·10⁶ + cnt) // (2·cnt)`` — bit-identical
    to Spark/DuckDB ``round(double, 6)`` because Σq is an exact int64
    (the kernel asserts quantity integrality loudly rather than risk a
    silent 1-ulp drift from float rounding).

    All five sufficient statistics are Gram products of the user×item
    rating matrix R and its 0/1 mask M: n = MᵀM, Σxy = RᵀR, Σx = RᵀM,
    Σy = MᵀR, Σx² = (R∘R)ᵀM, Σy² = Mᵀ(R∘R).  The relational form pays one
    exchange of EVERY co-rating pair event (13.1 M rows at sf0.1 — the
    committed flagship profile's floor); here the exchange ships each
    rating row ``n_blocks`` times (|ratings|·B rows — 4.8 M at sf0.1,
    and O(n·B) instead of O(pair events) as density grows), and the pair
    space exists only inside a per-tile numpy kernel.

    Tiling is the ``q_dedup_embedding`` scheme (dedup.py:260): items hash
    into B blocks; each unordered block pair (bi ≤ bj) is one
    ``applyInArrow`` group holding both blocks' full rating columns, so
    every item pair lands in exactly one tile with ALL its co-raters —
    per-pair sums are complete tile-locally and ``min_support`` prunes
    in-kernel.  The container has no scipy, so the kernel is the sparse
    matmul spelled out in numpy: group both sides by user, expand each
    user's bi-items × bj-items index cross vectorially (repeat/cumsum
    arithmetic — FLOPs stay proportional to actual co-rating events, the
    sparse-GEMM cost, never dense U·(I/B)²), then six ``bincount``
    reductions over pair codes.  Summation is index-ordered and
    deterministic; float64 sums differ from the join's by ~1e-15 relative
    (same class as the engine-vs-DuckDB noise the round-6 metric rounding
    already absorbs, and the equivalence test pins hash-equality).

    B is the task-size knob: per-tile bytes ≈ 2·|ratings|·rowbytes/B and
    tile count B(B+1)/2 should comfortably exceed the executor-core count
    (:func:`gemm_block_count` derives it from a row count); measured at
    sf0.1: B=4 1.54 s vs B=8 2.46 s vs B=16 4.33 s vs the relational
    join's 3.33 s, because the replicate shuffle is O(n·B).

    Output: ``item_x, item_y, n, sxy, sx, sy, sxx, syy, nx, ny`` —
    ``nx``/``ny`` are the distinct raters of item_x / item_y.  Blocks
    partition items and a tile holds BOTH blocks' complete rating
    columns, so the per-item rater count is exact tile-locally — this
    folds what is otherwise a separate ratings scan plus two downstream
    joins (:func:`item_rater_counts`) into the same kernel pass.

    ``counts_only=True`` emits just ``(item_x, item_y, n)`` — the
    co-occurrence EDGE relation (graph.py's triangle input) — skipping
    every rating gather, all five gram ``bincount`` passes over the event
    space and the decimal-rounding arithmetic: the count needs
    (user, item)-uniqueness, never the value.  Counts are integers, so
    the form is bit-equal to the relational ``item_cooccurrence`` (pinned
    in tests/test_scale_knobs.py) and to the full kernel's ``n`` column.
    """
    # Side membership ships as ONE boolean (is_x) instead of the 8-byte
    # blk column — the replicate exchange is the plan's largest shuffle,
    # so row width matters.  The (bi, bj) tag stays TWO LONG columns:
    # round-5 measurements showed both a single packed int (bi·B+bj) and
    # int-cast bi/bj hash-collide the 15 tiles into 9–12 of 32 shuffle
    # partitions, costing kernel-stage parallelism worth far more than
    # the 12 bytes/row — Murmur3 over the two-long key spreads 15/15.
    # counts_only never reads the value, so the rating column is dropped
    # BEFORE the replicate exchange — the plan's largest shuffle loses
    # 8 bytes/row, not just the kernel some arithmetic.
    data_cols = ["user_id", "item_id"] + ([] if counts_only else ["rating"])
    blocked = ratings.select(
        *data_cols,
        F.pmod(F.xxhash64("item_id"), F.lit(n_blocks)).alias("blk"),
    )
    replicated = blocked.select(
        *data_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.least(F.col("blk"), F.lit(p)).alias("bi"),
                        F.greatest(F.col("blk"), F.lit(p)).alias("bj"),
                        (F.col("blk") <= F.lit(p)).alias("is_x"),
                    )
                    for p in range(n_blocks)
                ]
            )
        ).alias("bp"),
    ).select(
        *data_cols,
        F.col("bp.bi").alias("bi"),
        F.col("bp.bj").alias("bj"),
        F.col("bp.is_x").alias("is_x"),
    )

    out_dtypes = {"item_x": "int64", "item_y": "int64", "n": "int64"}
    if not counts_only:
        out_dtypes.update(
            {
                "sxy": "float64", "sx": "float64", "sy": "float64",
                "sxx": "float64", "syy": "float64", "nx": "int64", "ny": "int64",
            }
        )

    def stats_tile(tbl):
        # Arrow-native group kernel (round 5: applyInArrow — the Arrow
        # columns convert to numpy zero-copy, skipping per-tile pandas
        # DataFrame construction in BOTH directions).
        import numpy as np
        import pyarrow as pa

        def empty():
            return pa.table(
                {c: np.array([], dtype=t) for c, t in out_dtypes.items()}
            )

        bi = int(tbl.column("bi")[0].as_py())
        bj = int(tbl.column("bj")[0].as_py())
        u_all = tbl.column("user_id").to_numpy()
        i_all = tbl.column("item_id").to_numpy()
        v_all = None if counts_only else tbl.column("rating").to_numpy()
        if bi == bj:
            left = (u_all, i_all, v_all)  # diagonal tile: every row is x
            right = left
        else:
            mask_x = tbl.column("is_x").to_numpy()
            mask_y = ~mask_x
            left = (
                u_all[mask_x],
                i_all[mask_x],
                None if counts_only else v_all[mask_x],
            )
            right = (
                u_all[mask_y],
                i_all[mask_y],
                None if counts_only else v_all[mask_y],
            )
        if left[0].size == 0 or right[0].size == 0:
            return empty()

        def side(part):
            # Raw rows → (user, item)-unique rows sorted by (user, item):
            # within a user's run items are ascending, which is what lets
            # the diagonal tile generate the strict upper triangle
            # DIRECTLY (round 7) instead of expanding the full cross and
            # masking half of it away.
            u = part[0].astype(np.int64, copy=False)
            i = part[1].astype(np.int64, copy=False)
            key = (u << np.int64(32)) | i
            if counts_only:
                # Counts need (user, item)-uniqueness, never the value:
                # skip the inverse map, the weighted bincount, and the
                # decimal-rounding arithmetic entirely.
                uk = np.unique(key)
                return (uk >> np.int64(32), uk & np.int64(0xFFFFFFFF), None)
            # round(avg(qty), 6) per key, exact HALF_UP in integer
            # arithmetic (see docstring).
            v = part[2].astype(np.float64, copy=False)
            if not (v == np.floor(v)).all():
                raise ValueError(
                    "pairwise_stats_gemm requires integer-valued "
                    "quantities for exact decimal rounding"
                )
            uk, inv = np.unique(key, return_inverse=True)
            cnt = np.bincount(inv).astype(np.int64)
            sq = np.rint(np.bincount(inv, weights=v)).astype(np.int64)
            k6 = (2 * sq * np.int64(1_000_000) + cnt) // (2 * cnt)
            return (
                uk >> np.int64(32),
                uk & np.int64(0xFFFFFFFF),
                k6.astype(np.float64) / 1e6,
            )

        ux, ix, rx = side(left)
        uy, iy, ry = (ux, ix, rx) if bi == bj else side(right)
        # Per-user run-length bookkeeping on both (sorted) sides, kept only
        # for users present in both blocks — the only ones producing pairs.
        uxu, kx_all = np.unique(ux, return_counts=True)
        uyu, ky_all = np.unique(uy, return_counts=True)
        common, cx, cy = np.intersect1d(
            uxu, uyu, assume_unique=True, return_indices=True
        )
        if common.size == 0:
            return empty()
        startx = np.concatenate(([0], np.cumsum(kx_all)[:-1]))[cx]
        starty = np.concatenate(([0], np.cumsum(ky_all)[:-1]))[cy]
        kx, ky = kx_all[cx], ky_all[cy]

        # Round-7 expansion rewrite: the previous form addressed event e
        # as (e // ky, e % ky) — int64 division over every co-rating
        # event was the kernel's single hottest instruction at the K=10
        # scale rung (3.2 s of a 5 s tile), and the diagonal tile then
        # MASKED away half of what it had just materialized.  Both sides
        # are sorted by (user, item), so:
        #   - per-x-row run lengths + one exclusive prefix sum address
        #     the same cross with pure repeat/arange arithmetic (no
        #     division), and
        #   - the diagonal tile emits the strict upper triangle DIRECTLY
        #     (x-row r pairs only with the kx−1−r rows after it in the
        #     same user run — item order ⟺ row order, and the keys are
        #     unique, so every emitted pair has item_x < item_y), halving
        #     its event count and deleting the filter pass.
        def _x_rows(k):
            # Row indices of every x row of common users + position-in-run.
            cum = np.concatenate(([0], np.cumsum(k)[:-1]))
            rr = np.arange(int(k.sum()), dtype=np.int64) - np.repeat(cum, k)
            return np.repeat(startx, k) + rr, rr

        if bi == bj:
            x_row, rr = _x_rows(kx)
            per_row = np.repeat(kx, kx) - 1 - rr  # pairs after this row
        else:
            x_row, _ = _x_rows(kx)
            per_row = np.repeat(ky, kx)  # full cross, x-major
        run_start = np.concatenate(([0], np.cumsum(per_row)[:-1]))
        n_events = int(per_row.sum())
        off = np.arange(n_events, dtype=np.int64) - np.repeat(run_start, per_row)
        xi = np.repeat(x_row, per_row)
        if bi == bj:
            yi = xi + 1 + off  # strict upper triangle, same user run
        else:
            yi = np.repeat(np.repeat(starty, kx), per_row) + off
        ida, idb = ix[xi], iy[yi]
        ra, rb = (None, None) if counts_only else (rx[xi], ry[yi])
        if bi != bj:
            # Cross tile: blocks partition items so ida != idb, but global
            # id order is arbitrary — orient to item_x = min and swap the
            # x/y-asymmetric stats with it (counts are symmetric: no swap
            # bookkeeping on the counts_only path).
            if not counts_only:
                swap = ida > idb
                ra, rb = np.where(swap, rb, ra), np.where(swap, ra, rb)
            ida, idb = np.minimum(ida, idb), np.maximum(ida, idb)
        if ida.size == 0:
            return empty()
        codes = (ida << np.int64(32)) | idb
        # Hash-based pair-code dedup (round 7): pd.factorize is an O(n)
        # hash table where np.unique pays an O(n log n) sort — measured
        # 3× faster on a 17M-event tile (1.5 s vs 4.7 s), and the sort
        # was 95% of the flagship kernel at the K=10 scale rung.  First-
        # appearance order is deterministic (input order derives from the
        # sorted sides), and the output is an unordered relation, so
        # nothing downstream needs the codes sorted.
        import pandas as pd

        inv, pair_codes = pd.factorize(codes, sort=False)
        n = np.bincount(inv)
        support = n >= min_support
        if not support.any():
            return empty()

        def gram(w):
            return np.bincount(inv, weights=w)[support]

        item_x = (pair_codes >> np.int64(32))[support]
        item_y = (pair_codes & np.int64(0xFFFFFFFF))[support]
        out = {
            "item_x": item_x,
            "item_y": item_y,
            "n": n[support].astype(np.int64),
        }
        if counts_only:
            return pa.table(out)
        # Both sides are (user, item)-unique, so rows-per-item IS the
        # distinct-rater count; both blocks are complete in this tile.
        uix, cix = np.unique(ix, return_counts=True)
        uiy, ciy = np.unique(iy, return_counts=True)
        all_ids = np.concatenate((uix, uiy))
        all_cnt = np.concatenate((cix, ciy))
        order = np.argsort(all_ids, kind="stable")
        all_ids, all_cnt = all_ids[order], all_cnt[order]
        raters = lambda ids: all_cnt[np.searchsorted(all_ids, ids)]
        out.update(
            {
                "sxy": gram(ra * rb),
                "sx": gram(ra),
                "sy": gram(rb),
                "sxx": gram(ra * ra),
                "syy": gram(rb * rb),
                "nx": raters(item_x).astype(np.int64),
                "ny": raters(item_y).astype(np.int64),
            }
        )
        return pa.table(out)

    if counts_only:
        schema = "item_x long, item_y long, n long"
    else:
        schema = (
            "item_x long, item_y long, n long, sxy double, "
            "sx double, sy double, sxx double, syy double, nx long, ny long"
        )
    return replicated.groupBy("bi", "bj").applyInArrow(stats_tile, schema=schema)


def item_similarity(
    ratings: DataFrame,
    min_support: int = 2,
    impl: str = "join",
    n_blocks: int | None = None,
) -> DataFrame:
    """R7–R11: all five reference similarity metrics per ordered pair.

    Output: ``item_x, item_y, n, corr, cos, reg_corr, jaccard, norm_corr``
    (all metrics rounded to 6 — SURVEY.md §7.4).

    ``impl`` picks the pair-stage execution: ``"join"`` (relational
    self-join + hash agg over derived ratings — the tested fallback) or
    ``"gemm"`` (blocked sparse-Gram tiles over RAW rating rows with the
    derivation fused in, :func:`pairwise_stats_gemm`, ``n_blocks``
    required); both produce the same relation (equivalence pinned in
    tests/test_scale_knobs.py).
    """
    n = F.col("n").cast("double")
    corr = S.correlation(
        n, F.col("sxy"), F.col("sx"), F.col("sy"), F.col("sxx"), F.col("syy")
    )
    if impl == "gemm":
        # The tile kernel emits nx/ny itself (blocks are item-complete),
        # so the similarity math is a pure projection — no rater joins,
        # no second scan of the ratings relation.
        joined = pairwise_stats_gemm(ratings, min_support, n_blocks)
    else:
        stats = pairwise_stats(ratings, min_support)
        raters = item_rater_counts(ratings, assume_unique=True)
        joined = (
            stats.join(
                raters.select(
                    F.col("item_id").alias("item_x"), F.col("n_raters").alias("nx")
                ),
                "item_x",
            )
            .join(
                raters.select(
                    F.col("item_id").alias("item_y"), F.col("n_raters").alias("ny")
                ),
                "item_y",
            )
        )
    return joined.select(
        "item_x",
        "item_y",
        "n",
        round6(corr).alias("corr"),
        round6(S.cosine(F.col("sxy"), F.col("sxx"), F.col("syy"))).alias("cos"),
        round6(S.regularized_correlation(corr, n)).alias("reg_corr"),
        round6(
            S.jaccard(n, F.col("nx").cast("double"), F.col("ny").cast("double"))
        ).alias("jaccard"),
        round6(S.normalized_correlation(corr)).alias("norm_corr"),
    )


def topk_similar_items(
    ratings: DataFrame,
    k: int = 10,
    impl: str = "join",
    n_blocks: int | None = None,
) -> DataFrame:
    """R13+R14: per-item top-K neighbors by correlation.

    The reference got this by re-keying on the similarity so Hadoop's
    shuffle-sort ranked for free, then walking the sorted reducer input
    (``calculate_ranking`` / ``top_similar_items``,
    moviesSimilarities.py:≈142–175).  Window ``row_number`` expresses it
    directly; ordering uses the ROUNDED metrics plus unique tie-breaks so
    the selected set is deterministic across engines (SURVEY.md §7.4).
    """
    sims = item_similarity(ratings, impl=impl, n_blocks=n_blocks)
    w = Window.partitionBy("item_x").orderBy(
        F.desc("corr"), F.desc("cos"), F.asc("item_y")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            "item_x", "item_y", "corr", "cos", "reg_corr", "jaccard", "n", "rank"
        )
    )


def item_cooccurrence(ratings: DataFrame, min_support: int = 2) -> DataFrame:
    """Degenerate similarity: co-rating counts per ordered pair (sanity).

    ``n_common >= min_support`` prunes the singleton-pair tail — at sf0.01
    that is ~953k → ~274k rows (and quadratic-ish growth in sf), which
    otherwise dominates oracle hashing time for a sanity query.
    """
    a = ratings.alias("a")
    b = ratings.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item_id") < F.col("b.item_id")),
        )
        .select(
            F.col("a.item_id").alias("item_x"),
            F.col("b.item_id").alias("item_y"),
        )
        # No pre-agg repartition: the ratings side auto-broadcasts at these
        # scales, so an explicit exchange would add a second full pass over
        # the pair rows for nothing (same profiling call that removed it
        # from pairwise_stats — the agg plans its own exchange).
        .groupBy("item_x", "item_y")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= min_support)
    )


def dimsum_cosine(
    ratings: DataFrame, gamma: float = 1e9, seed: int = 42
) -> DataFrame:
    """DIMSUM-sampled item-item cosine: the 100 TB escalation of the pair
    join (Zadeh & Goel, "Dimension Independent Matrix Square using
    MapReduce", 2013 — the algorithm behind Spark MLlib's
    ``RowMatrix.columnSimilarities(threshold)``).

    The exact pair join emits every co-rating of every pair; popular-item
    pairs dominate and their cosine needs nowhere near that many samples.
    DIMSUM keeps each joined co-rating with probability
    ``p = min(1, γ / (‖x‖·‖y‖))`` and estimates
    ``cos = Σ_kept(r_x·r_y) / min(γ, ‖x‖·‖y‖)`` — unbiased, with error
    concentrating for γ ≳ 4·log(n_items)/ε².  Magnitude-heavy pairs (the
    expensive ones) are sampled hardest; pairs with ``‖x‖·‖y‖ ≤ γ`` are
    kept whole, so their estimate is EXACT — γ=∞ degenerates to the exact
    cosine, which the unit test pins.

    Sampling uses a deterministic per-(user,pair) hash, not ``rand()``:
    reproducible across retries/speculative tasks (a rand() filter gives
    different answers per task attempt — correctness bug at scale), and
    the filter sits between the join and the aggregation, so the pair
    shuffle that the aggregation pays shrinks by the sample rate.
    """
    norms = ratings.groupBy("item_id").agg(
        F.sqrt(F.sum(F.col("rating") * F.col("rating"))).alias("norm")
    )
    r = ratings.join(norms, "item_id")
    a = r.select(
        "user_id",
        F.col("item_id").alias("item_x"),
        F.col("rating").alias("rx"),
        F.col("norm").alias("nx"),
    )
    b = r.select(
        "user_id",
        F.col("item_id").alias("item_y"),
        F.col("rating").alias("ry"),
        F.col("norm").alias("ny"),
    )
    pairs = a.join(b, "user_id").where(F.col("item_x") < F.col("item_y"))
    denom = F.least(F.lit(float(gamma)), F.col("nx") * F.col("ny"))
    p_keep = F.least(F.lit(1.0), F.lit(float(gamma)) / (F.col("nx") * F.col("ny")))
    u = (
        F.pmod(
            F.xxhash64("user_id", "item_x", "item_y", F.lit(seed)),
            F.lit(1_000_000),
        ).cast("double")
        / 1e6
    )
    kept = pairs.where(u < p_keep)
    return kept.groupBy("item_x", "item_y").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        (F.sum(F.col("rx") * F.col("ry")) / F.first(denom)).alias("cos_est"),
    )


def topk_similar_dimsum(
    ratings: DataFrame, k: int = 10, gamma: float = 1e9, seed: int = 42
) -> DataFrame:
    """Per-item top-K neighbors by DIMSUM-estimated cosine — the sampled
    twin of :func:`topk_similar_items` for scales where the exact pair
    join is unaffordable.  Deterministic given (γ, seed)."""
    est = dimsum_cosine(ratings, gamma=gamma, seed=seed)
    w = Window.partitionBy("item_x").orderBy(
        F.desc(F.round("cos_est", 6)), F.asc("item_y")
    )
    return (
        est.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            "item_x",
            "item_y",
            round6(F.col("cos_est")).alias("cos_est"),
            "n_sampled",
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# Registered queries over the star schema (ratings derived per SURVEY §2.2.I)
# ---------------------------------------------------------------------------


def _cached_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived ratings, persisted before fan-out.

    ``item_similarity`` consumes the ratings relation from three lazy
    branches (both self-join sides + rater counts); without persistence
    Spark re-executes the orders⋈lineitem derivation join per branch —
    measured 20.3 s → 9.1 s at sf0.1 when cached.  MEMORY_AND_DISK (the
    default) keeps the 100 TB story sane: partitions that don't fit in
    executor memory spill instead of OOMing.  Memoized per
    (SparkContext, sf_dir) so the queries of one clearCache epoch share
    one persisted handle (memo lifetime: caching.py).
    """
    return memo_persist(
        spark, "ratings", sf_dir, lambda: derive_ratings(spark, sf_dir)
    )

def _pair_stats_cte(min_support: int) -> str:
    return f"""
pair_stats AS (
    SELECT a.item_id AS item_x,
           b.item_id AS item_y,
           count(*) AS n,
           sum(a.rating * b.rating) AS sxy,
           sum(a.rating) AS sx,
           sum(b.rating) AS sy,
           sum(a.rating * a.rating) AS sxx,
           sum(b.rating * b.rating) AS syy
    FROM ratings a
    JOIN ratings b
      ON a.user_id = b.user_id AND a.item_id < b.item_id
    GROUP BY 1, 2
    HAVING count(*) >= {min_support}
)
"""


# The flagship / recommender oracles keep the reference's min_support = 2.
_PAIR_STATS_CTE = _pair_stats_cte(2)

# Registered diagnostic variants prune harder (n ≥ 5): the operator SHAPE is
# identical, but the hashed result shrinks ~7× at sf0.01 (274k → ~40k rows),
# which keeps driver grading time on the diagnostics proportionate
# (VERDICT.md round 2, item 2).  The flagship still consumes min_support=2.
_DIAG_MIN_SUPPORT = 5

# Variance terms clamped at 0 before sqrt (floating-point can push them
# slightly negative for near-constant pairs — Spark would emit NaN, DuckDB
# would abort on sqrt(<0)); the Spark side applies the same clamp in
# functions/similarity.py correlation().  The jaccard denominator guard
# mirrors functions/similarity.py jaccard() so both sides encode the same
# convention even if min_support is ever relaxed.
_SIMS_CTE = """
raters AS (
    SELECT item_id, count(DISTINCT user_id) AS n_raters
    FROM ratings GROUP BY 1
),
sims0 AS (
    SELECT item_x, item_y, n, sxy, sxx, syy,
           rx.n_raters AS nx, ry.n_raters AS ny,
           CASE WHEN sqrt(greatest(n*sxx - sx*sx, 0)) * sqrt(greatest(n*syy - sy*sy, 0)) <> 0
                THEN (n*sxy - sx*sy)
                     / (sqrt(greatest(n*sxx - sx*sx, 0)) * sqrt(greatest(n*syy - sy*sy, 0)))
                ELSE 0.0 END AS corr_raw
    FROM pair_stats
    JOIN raters rx ON rx.item_id = item_x
    JOIN raters ry ON ry.item_id = item_y
),
sims AS (
    SELECT item_x, item_y, n,
           round(corr_raw, 6) + 0.0 AS corr,
           round(CASE WHEN sqrt(sxx) * sqrt(syy) <> 0
                 THEN sxy / (sqrt(sxx) * sqrt(syy)) ELSE 0.0 END, 6) + 0.0 AS cos,
           round((n / (n + 10.0)) * corr_raw, 6) + 0.0 AS reg_corr,
           round(CASE WHEN nx + ny - n <> 0
                 THEN CAST(n AS DOUBLE) / (nx + ny - n)
                 ELSE 0.0 END, 6) + 0.0 AS jaccard,
           round((corr_raw + 1.0) / 2.0, 6) + 0.0 AS norm_corr
    FROM sims0
)
"""


@register(
    "q_ratings_matrix",
    oracle=f"WITH {RATINGS_ORACLE_CTE} SELECT user_id, item_id, rating FROM ratings",
)
def q_ratings_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived (user, item, rating) relation — engine analogue of the
    reference's R2 parse."""
    return _cached_ratings(spark, sf_dir)


@register(
    "q_user_stats",
    oracle=f"""
WITH {RATINGS_ORACLE_CTE}
SELECT user_id,
       count(item_id) AS item_count,
       round(sum(rating), 6) + 0.0 AS rating_sum
FROM ratings GROUP BY user_id
""",
)
def q_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return user_stats(_cached_ratings(spark, sf_dir))


@register(
    "q_item_rater_counts",
    oracle=f"""
WITH {RATINGS_ORACLE_CTE}
SELECT item_id, count(DISTINCT user_id) AS n_raters
FROM ratings GROUP BY item_id
""",
)
def q_item_rater_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return item_rater_counts(_cached_ratings(spark, sf_dir), assume_unique=True)


@register(
    "q_pairwise_stats",
    oracle=f"""
WITH {RATINGS_ORACLE_CTE}, {_pair_stats_cte(_DIAG_MIN_SUPPORT)}
SELECT item_x, item_y, n,
       round(sxy, 4) + 0.0 AS sxy,
       round(sx, 4) + 0.0 AS sx,
       round(sy, 4) + 0.0 AS sy,
       round(sxx, 4) + 0.0 AS sxx,
       round(syy, 4) + 0.0 AS syy
FROM pair_stats
""",
)
def q_pairwise_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = pairwise_stats(_cached_ratings(spark, sf_dir), _DIAG_MIN_SUPPORT)
    # Raw sufficient-statistic sums reach ~1e4 magnitude; at round-6 the
    # cross-engine summation-order noise (~1e-8 absolute) lands exactly on
    # rounding boundaries for some pairs (observed at sf0.001: sxx
    # 2894.999996 vs .999997).  Round-4 display gives a 5e-5 margin.
    # Downstream similarity math uses the UNROUNDED stats.
    r4 = lambda c: F.round(c, 4) + F.lit(0.0)
    return stats.select(
        "item_x",
        "item_y",
        "n",
        r4("sxy").alias("sxy"),
        r4("sx").alias("sx"),
        r4("sy").alias("sy"),
        r4("sxx").alias("sxx"),
        r4("syy").alias("syy"),
    )


@register(
    "q_item_similarity",
    oracle=f"""
WITH {RATINGS_ORACLE_CTE}, {_pair_stats_cte(_DIAG_MIN_SUPPORT)}, {_SIMS_CTE}
SELECT item_x, item_y, n, corr, cos, reg_corr, jaccard, norm_corr FROM sims
""",
)
def q_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return item_similarity(_cached_ratings(spark, sf_dir), _DIAG_MIN_SUPPORT)


@register(
    "q_topk_similar_items",
    oracle=f"""
WITH {RATINGS_ORACLE_CTE}, {_PAIR_STATS_CTE}, {_SIMS_CTE},
ranked AS (
    SELECT item_x, item_y, corr, cos, reg_corr, jaccard, n,
           row_number() OVER (PARTITION BY item_x
                              ORDER BY corr DESC, cos DESC, item_y ASC) AS rank
    FROM sims
)
SELECT item_x, item_y, corr, cos, reg_corr, jaccard, n, rank
FROM ranked WHERE rank <= 10
""",
)
def q_topk_similar_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: end-to-end R2→R14 (scan → ratings → pair stats →
    similarity → window top-K), with a size-dispatched pair stage.

    Below ``_FLAGSHIP_JOIN_MIN_ROWS`` the pair stage runs as blocked
    sparse-Gram tiles with the ratings derivation AND the rater counts
    fused into the kernel (:func:`pairwise_stats_gemm`, VERDICT r4 #2):
    scan → broadcast orders join → one tile exchange → Arrow kernel →
    similarity projection → top-K window.  Above it, the all-JVM
    relational self-join form (the same plan ``q_pairwise_stats``
    registers, equivalence-pinned by tests/test_scale_knobs.py).

    The dispatch is a round-7 scale-rung finding
    (tools/bench_flagship_scale.py, BASELINE.md): the GEMM form's cost
    center at scale is not compute or shuffle but the JVM→Python ARROW
    BOUNDARY — per-tile kernel timing showed row→columnar conversion of
    the |ratings|·B replicated rows taking ~2× the kernel's own time at
    6 M input rows — and that cost grows linearly while whole-stage-
    codegen'd join+agg throughput holds, so the forms cross between
    0.6 M rows (GEMM 2.7 s vs join 3.6 s) and 1.8 M (GEMM 7.9 s vs join
    7.3 s); at 6 M the join form wins 15.3 s vs 20.5 s.  Both thresholds
    come from the lineitem parquet footer row count (a driver-side
    metadata read, no Spark job — |ratings| ≤ |lineitem| and within
    ~0.2% of it at every tested SF); on a real cluster this is catalog
    statistics.  An unreadable footer (a directory-shaped dataset) counts
    as large: the join arm, which wins above the crossover and never
    sizes a tile from a guess."""
    from ..sources.readers import parquet_num_rows

    _n = parquet_num_rows(sf_dir, "lineitem")
    if _n is None or _n >= _FLAGSHIP_JOIN_MIN_ROWS:
        return topk_similar_items(
            _cached_ratings(spark, sf_dir), k=10, impl="join"
        )
    return topk_similar_items(
        raw_ratings(spark, sf_dir),
        k=10,
        impl="gemm",
        n_blocks=gemm_block_count(_n),
    )


def raw_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw (user_id, item_id, quantity) rows BEFORE the (user, item)
    aggregation — the input whose derivation the
    :func:`pairwise_stats_gemm` tile kernel fuses in, so the plan has no
    aggregation exchange at all (scan → broadcast orders join → tile
    exchange).  The bench-scale
    lineitem parquet plans 3 input splits, which would serialize the
    broadcast join + B-way replicate explode + tile shuffle write behind
    3 tasks — round-robin to core count first (a no-op on an
    already-parallel scan, the 100 TB case).  Shared by the flagship's
    GEMM arm and the triangle-count edge derivation (graph.py)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        rebalance_if_starved(
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_partkey", "l_quantity"
            )
        )
        .join(F.broadcast(orders), F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item_id"),
            F.col("l_quantity").alias("rating"),
        )
    )


@register(
    "q_item_cooccurrence",
    oracle=f"""
WITH {RATINGS_ORACLE_CTE}
SELECT a.item_id AS item_x, b.item_id AS item_y, count(*) AS n_common
FROM ratings a
JOIN ratings b ON a.user_id = b.user_id AND a.item_id < b.item_id
GROUP BY 1, 2
HAVING count(*) >= {_DIAG_MIN_SUPPORT}
""",
)
def q_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    return item_cooccurrence(_cached_ratings(spark, sf_dir), _DIAG_MIN_SUPPORT)


@register("q_topk_similar_dimsum")  # rows-only: hash-sampled estimator has no SQL twin
def q_topk_similar_dimsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship top-K under DIMSUM sampling (γ=15000 ⇒ keep-prob ≈0.6 at
    sf0.01) — demonstrates the documented pair-explosion escalation end
    to end.  γ is the 100 TB knob: lower it and the pair shuffle shrinks
    proportionally while estimate error grows as pinned by the
    error-profile test (MAE ≈0.02, p=1 pairs exact)."""
    return topk_similar_dimsum(_cached_ratings(spark, sf_dir), k=10, gamma=15000.0)


# ---------------------------------------------------------------------------
# Exact-oracle DIMSUM (round 5): the sampling "randomness" is a
# deterministic per-(user, pair) hash by design (speculative-task safety —
# see dimsum_cosine), so swapping xxhash64 for the repo's portable
# md5→60-bit hash makes the ENTIRE sampled estimator oracle-gradeable:
# both engines draw the identical 6-digit uniform per co-rating, keep the
# identical sample, and the estimate rounds to 6 far above the ~1e-15
# norm-product noise.  The keep decision (u < γ/(‖x‖·‖y‖)) compares a
# 1e-6-granular rational against a float whose cross-engine difference is
# ~1e-16·p — a flip needs |u − p| < 1e-15, vanishingly unlikely and
# data-checkable.
# ---------------------------------------------------------------------------

_DIMX_GAMMA = 15000.0
_DIMX_SEED = 42
_DIMX_K = 10

_DIMSUM_EXACT_ORACLE = f"""
WITH {RATINGS_ORACLE_CTE},
norms AS (
    SELECT item_id, sqrt(sum(rating * rating)) AS norm
    FROM ratings GROUP BY item_id
),
r AS MATERIALIZED (
    -- MATERIALIZED: the pair stage self-joins r; inlined, the ratings
    -- derivation + norm join would run twice.
    SELECT ra.user_id, ra.item_id, ra.rating, n.norm
    FROM ratings ra JOIN norms n ON n.item_id = ra.item_id
),
kept AS (
    SELECT a.item_id AS item_x, b.item_id AS item_y,
           a.rating AS rx, b.rating AS ry,
           least({_DIMX_GAMMA}, a.norm * b.norm) AS denom
    FROM r a JOIN r b ON a.user_id = b.user_id AND a.item_id < b.item_id
    WHERE (CAST(concat('0x', substr(md5(
               a.user_id || ':' || a.item_id || ':' || b.item_id
                         || ':{_DIMX_SEED}'), 1, 15)) AS BIGINT)
           % 1000000) / 1e6
          < least(1.0, {_DIMX_GAMMA} / (a.norm * b.norm))
),
est AS (
    SELECT item_x, item_y,
           count(*) AS n_sampled,
           round(sum(rx * ry) / min(denom), 6) + 0.0 AS cos_est
    FROM kept GROUP BY item_x, item_y
)
SELECT item_x, item_y, cos_est, n_sampled, rank FROM (
    SELECT *, CAST(row_number() OVER (
        PARTITION BY item_x ORDER BY cos_est DESC, item_y ASC
    ) AS BIGINT) AS rank FROM est
) WHERE rank <= {_DIMX_K}
"""


@register("q_topk_similar_dimsum_exact", oracle=_DIMSUM_EXACT_ORACLE)
def q_topk_similar_dimsum_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIMSUM-sampled top-K with a full DuckDB oracle — the exact-graded
    companion to :func:`q_topk_similar_dimsum` (see the portable-hash
    note above).  Same estimator, same γ/seed/k; only the uniform draw
    changes (md5-derived instead of xxhash64) and the per-pair constant
    denominator aggregates via ``min`` (= ``first`` on a constant, but
    order-free on both engines).  The xxhash64 form stays the
    performance registration."""
    ratings = _cached_ratings(spark, sf_dir)
    gamma = _DIMX_GAMMA
    norms = ratings.groupBy("item_id").agg(
        F.sqrt(F.sum(F.col("rating") * F.col("rating"))).alias("norm")
    )
    r = ratings.join(norms, "item_id")
    a = r.select(
        "user_id",
        F.col("item_id").alias("item_x"),
        F.col("rating").alias("rx"),
        F.col("norm").alias("nx"),
    )
    b = r.select(
        "user_id",
        F.col("item_id").alias("item_y"),
        F.col("rating").alias("ry"),
        F.col("norm").alias("ny"),
    )
    pairs = a.join(b, "user_id").where(F.col("item_x") < F.col("item_y"))
    denom = F.least(F.lit(gamma), F.col("nx") * F.col("ny"))
    p_keep = F.least(F.lit(1.0), F.lit(gamma) / (F.col("nx") * F.col("ny")))
    u = (
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("user_id"),
                            F.col("item_x"),
                            F.col("item_y"),
                            F.lit(str(_DIMX_SEED)),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(1_000_000),
        ).cast("double")
        / 1e6
    )
    est = (
        pairs.where(u < p_keep)
        .groupBy("item_x", "item_y")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            (F.sum(F.col("rx") * F.col("ry")) / F.min(denom)).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("item_x").orderBy(
        F.desc(F.round("cos_raw", 6)), F.asc("item_y")
    )
    return (
        est.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _DIMX_K)
        .select(
            "item_x",
            "item_y",
            round6(F.col("cos_raw")).alias("cos_est"),
            "n_sampled",
            "rank",
        )
    )


@register("q_recommend_als")  # rows-only: iterative MF, not SQL-expressible
def q_recommend_als(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 recommendations per user from MLlib ALS matrix factorization —
    the model-based recommender next to the neighborhood one
    (``q_recommend_topn``): the reference's item-item pipeline IS its
    model, while ALS learns low-rank user/item factors from the same
    (user, item, rating) relation and predicts by dot product.  Both
    paths share the derived ratings matrix, so a user of the reference
    gets the classic output AND the factorization upgrade from one input.

    Deterministic given the fixed seed and the derived input (pinned by a
    same-session refit test); declared rows-only — iterative blocked
    factorization has no SQL oracle.  Hyperparameters are the round-5
    held-out sweep's pick (reg 5.0, 10 iters): the derived TPC-H-ish
    ratings carry no learnable low-rank structure, so the quality gate is
    "generalizes to within 1.15× of the best constant predictor" (RMSE
    1.08× measured; the original reg 0.1 overfit to 1.51×) — pinned by a
    held-out-RMSE test on the hash split.  Scale shape: MLlib ALS is the
    canonical distributed MF — user/item factor blocks co-partitioned so
    each least-squares solve is block-local, communication is factor
    (rank-sized) rows, never the ratings matrix; ``recommendForAllUsers``
    does the scoring as a blocked cross-product with per-block top-k
    (never materializing the full user×item score matrix).  Rank/iters
    are the cost knobs; already-rated items are anti-joined away like the
    neighborhood recommender.
    """
    def build() -> DataFrame:
        from pyspark.ml.recommendation import ALS

        ratings = _cached_ratings(spark, sf_dir)
        als = ALS(
            rank=8,
            maxIter=10,
            regParam=5.0,
            seed=42,
            userCol="user_id",
            itemCol="item_id",
            ratingCol="rating",
            coldStartStrategy="drop",
        )
        model = als.fit(ratings)
        recs = model.recommendForAllUsers(10).select(
            "user_id", F.explode("recommendations").alias("r")
        ).select(
            "user_id",
            F.col("r.item_id").alias("item_id"),
            F.col("r.rating").cast("double").alias("pred"),
        )
        seen = ratings.select("user_id", "item_id")
        unseen = recs.join(seen, ["user_id", "item_id"], "left_anti")
        w = Window.partitionBy("user_id").orderBy(
            F.desc(F.round("pred", 6)), F.asc("item_id")
        )
        return (
            unseen.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= 5)
            .select(
                "user_id",
                "item_id",
                (F.round("pred", 6) + F.lit(0.0)).alias("pred"),
                "rank",
            )
        )

    # Memoized (round 12): the iterative fit is the expensive part and
    # the audit companion below re-reads the SAME output relation —
    # grading both must cost one factorization and one scoring pass per
    # clearCache epoch, not two (memo lifetime: caching.py).
    return memo_persist(spark, "als_recs", sf_dir, build)


@register(
    "q_recommend_als_audit",
    oracle="""
SELECT CAST(0 AS BIGINT) AS leaked_rows,
       CAST(0 AS BIGINT) AS dup_pairs,
       CAST(0 AS BIGINT) AS users_over_k,
       CAST(0 AS BIGINT) AS rank_violations,
       CAST(0 AS BIGINT) AS unknown_users,
       CAST(0 AS BIGINT) AS unknown_items
""",
)
def q_recommend_als_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable contract audit of the ALS recommender's OUTPUT
    relation (round 12, VERDICT r11 "what's missing" #3: the held-out
    RMSE quality pin lives in pytest; this closes the driver-grade gap
    with the output invariants a recommendation service asserts before
    serving).  One row of exact-int violation counts, all ZERO by
    construction — so the oracle is the constant row and a regression
    in the anti-join / ranking / training plumbing flips a graded hash:

    - ``leaked_rows``: recommended (user, item) pairs the user already
      rated (the anti-join's contract);
    - ``dup_pairs``: duplicate (user, item) recommendations;
    - ``users_over_k``: users holding more than 5 recs;
    - ``rank_violations``: users whose ranks aren't exactly 1..n
      contiguous (the window's contract);
    - ``unknown_users`` / ``unknown_items``: recs for users/items
      outside the training relation (coldStartStrategy='drop' +
      recommendForAllUsers covers training users only).

    Scale shape: every relation here is recs-sized (≤5 rows/user); the
    membership checks are anti-joins against the distinct user/item
    sets, each shuffling recs-sized data on its natural key; the five
    1-row aggregates cross-join into the audit row (scalar-sized —
    the q_dedup_span_rewrite_audit pattern)."""
    recs = q_recommend_als(spark, sf_dir)
    ratings = _cached_ratings(spark, sf_dir)
    leaked = recs.join(
        ratings.select("user_id", "item_id"), ["user_id", "item_id"]
    ).agg(F.count(F.lit(1)).cast("long").alias("leaked_rows"))
    dups = (
        recs.groupBy("user_id", "item_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.coalesce(F.sum(F.when(F.col("n") > 1, 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias("dup_pairs")
        )
    )
    per_user = recs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("rank").alias("rmin"),
        F.max("rank").alias("rmax"),
        F.countDistinct("rank").alias("rdist"),
    )
    shape = per_user.agg(
        F.coalesce(F.sum(F.when(F.col("n") > 5, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("users_over_k"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("rmin") != 1)
                    | (F.col("rmax") != F.col("n"))
                    | (F.col("rdist") != F.col("n")),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("rank_violations"),
    )
    unknown_u = recs.join(
        ratings.select("user_id").distinct(), "user_id", "left_anti"
    ).agg(F.count(F.lit(1)).cast("long").alias("unknown_users"))
    unknown_i = recs.join(
        ratings.select("item_id").distinct(), "item_id", "left_anti"
    ).agg(F.count(F.lit(1)).cast("long").alias("unknown_items"))
    return (
        leaked.crossJoin(dups)
        .crossJoin(shape)
        .crossJoin(unknown_u)
        .crossJoin(unknown_i)
        .select(
            "leaked_rows",
            "dup_pairs",
            "users_over_k",
            "rank_violations",
            "unknown_users",
            "unknown_items",
        )
    )


def recommend_topn(ratings: DataFrame, k: int = 10, n: int = 5) -> DataFrame:
    """Item-based collaborative-filtering recommendations — the end goal
    the reference's similarity pipeline feeds (its README frames the
    MovieLens job as a recommender; the similarity output is the model).

    For each user: candidates = neighbors (capped top-``k`` per item,
    positive corr only, symmetrized) of the items they rated; predicted
    rating = Σ corr·rating / Σ corr over the user's rated neighbors;
    already-rated items anti-joined away; top-``n`` per user on the
    ROUNDED prediction with item tie-break (deterministic cross-engine).

    Scale shape: the neighbor graph is k·n_items edges — orders of
    magnitude smaller than the full similarity relation, which is
    exactly why real recommenders cap neighborhoods; candidates are one
    equi-join (ratings ⋈ edges on the rated item) feeding a
    map-side-combinable (user, item) aggregate, then an anti-join and a
    per-user window.  Every stage shuffles on its natural key; nothing
    is quadratic in the catalog.
    """
    topk = topk_similar_items(ratings, k=k)
    fwd = topk.select(
        F.col("item_x").alias("item_a"), F.col("item_y").alias("item_b"), "corr"
    )
    rev = topk.select(
        F.col("item_y").alias("item_a"), F.col("item_x").alias("item_b"), "corr"
    )
    edges = fwd.unionByName(rev).where(F.col("corr") > 0)
    cand = (
        ratings.join(edges, ratings.item_id == edges.item_a)
        .groupBy("user_id", "item_b")
        .agg(
            F.sum(F.col("corr") * F.col("rating")).alias("num"),
            F.sum("corr").alias("den"),
            F.count(F.lit(1)).alias("n_contrib"),
        )
    )
    seen = ratings.select("user_id", F.col("item_id").alias("item_b"))
    unseen = cand.join(seen, ["user_id", "item_b"], "left_anti")
    scored = unseen.select(
        "user_id",
        F.col("item_b").alias("item_id"),
        (F.round(F.col("num") / F.col("den"), 6) + F.lit(0.0)).alias("pred"),
        "n_contrib",
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("pred"), F.asc("item_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= n)
        .select("user_id", "item_id", "pred", "n_contrib", "rank")
    )


_RANKED_CTE = """
ranked AS (
    SELECT item_x, item_y, corr,
           row_number() OVER (PARTITION BY item_x
                              ORDER BY corr DESC, cos DESC, item_y ASC) AS rank
    FROM sims
)
"""


@register(
    "q_recommend_topn",
    oracle=f"""
WITH {RATINGS_ORACLE_CTE}, {_PAIR_STATS_CTE}, {_SIMS_CTE}, {_RANKED_CTE},
edges AS (
    SELECT item_x AS item_a, item_y AS item_b, corr FROM ranked WHERE rank <= 10
    UNION ALL
    SELECT item_y AS item_a, item_x AS item_b, corr FROM ranked WHERE rank <= 10
),
cand AS (
    SELECT r.user_id, e.item_b,
           sum(e.corr * r.rating) AS num,
           sum(e.corr) AS den,
           count(*) AS n_contrib
    FROM ratings r
    JOIN edges e ON r.item_id = e.item_a
    WHERE e.corr > 0
    GROUP BY 1, 2
),
unseen AS (
    SELECT c.* FROM cand c
    WHERE NOT EXISTS (SELECT 1 FROM ratings r2
                      WHERE r2.user_id = c.user_id AND r2.item_id = c.item_b)
),
scored AS (
    SELECT user_id, item_b AS item_id,
           round(num / den, 6) + 0.0 AS pred, n_contrib,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY round(num / den, 6) DESC, item_b ASC) AS rank
    FROM unseen
)
SELECT user_id, item_id, pred, n_contrib, rank FROM scored WHERE rank <= 5
""",
)
def q_recommend_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2→R14→recommendations: per-user top-5 predicted items from the
    capped similarity neighborhood — the full recommender the reference
    pipeline exists to power."""
    return recommend_topn(_cached_ratings(spark, sf_dir), k=10, n=5)
