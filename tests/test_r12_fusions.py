"""Round-12 optimization pins: the fused/rewritten internals must stay
bit-identical to the formulations they replaced.

Three optimizations changed operator internals without (by design)
changing any declared query's results:

  1. ``two_phase_rank_offsets`` — the fused Blelloch pass replacing the
     ``two_phase_rank`` → ``distributed_prefix_sum`` chain in every
     export capstone and ``q_pack_shuffled``.
  2. ``portable_minhash_sig`` — the 32-member universal-hash family
     recomputed in overflow-free int64 steps instead of DECIMAL(38,0).
  3. ``connected_components_twostar`` — convergence detected by the
     star-forest test instead of a count + ``exceptAll`` no-op round.

Oracle parity already grades the composed queries end-to-end; these pins
isolate each rewrite against its exact predecessor formulation so a
future drift fails HERE, naming the broken primitive.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from recsys_mapreduce_mrjob_spark.operators.sampling import (
    seeded_shuffle_key,
    two_phase_rank,
    two_phase_rank_offsets,
)
from recsys_mapreduce_mrjob_spark.operators.text import distributed_prefix_sum
from recsys_mapreduce_mrjob_spark.sources.readers import load_table


def test_fused_rank_offsets_equals_chained_helpers(spark):
    """two_phase_rank_offsets == two_phase_rank ∘ distributed_prefix_sum
    on a seeded random relation with duplicate weights and gappy keys —
    the exact chain every export capstone ran before the fusion."""
    rnd = random.Random(12)
    rows = [(i * 7 + rnd.randrange(3), rnd.randrange(1, 500))
            for i in range(2000)]
    # unique keys (the helpers' contract), gappy and unordered
    rows = list({k: (k, w) for k, w in rows}.values())
    df = seeded_shuffle_key(
        spark.createDataFrame(rows, "doc_id long, n_tokens long")
    )
    chained = distributed_prefix_sum(
        two_phase_rank(
            df,
            partition_cols=[],
            bucket_col="bkt",
            order_cols=[F.col("h"), F.col("doc_id")],
            rank_col="shuffle_rank",
        ).drop("h", "bkt"),
        key="shuffle_rank",
    )
    fused = two_phase_rank_offsets(
        df,
        bucket_col="bkt",
        order_cols=[F.col("h"), F.col("doc_id")],
        rank_col="shuffle_rank",
    ).drop("h", "bkt")
    cols = ["doc_id", "n_tokens", "shuffle_rank", "start_offset"]
    got = sorted(map(tuple, fused.select(*cols).collect()))
    want = sorted(map(tuple, chained.select(*cols).collect()))
    assert got == want
    # sanity: ranks are a dense 1..n permutation, offsets are the
    # exclusive running token sum in rank order
    by_rank = sorted(got, key=lambda t: t[2])
    assert [t[2] for t in by_rank] == list(range(1, len(got) + 1))
    acc = 0
    for _, w, _, off in by_rank:
        assert off == acc
        acc += w


def test_minhash_int64_matches_decimal_reference(spark, smoke_dir):
    """The int64 Mersenne modmul must reproduce the DECIMAL(38,0)
    formulation bit-for-bit on the real smoke corpus — every minhash of
    every doc (the LSH bands, candidates, and the streaming ingest state
    all derive from these 32 columns)."""
    from recsys_mapreduce_mrjob_spark.functions.textfns import shingles
    from recsys_mapreduce_mrjob_spark.operators.dedup import (
        _MH_P,
        _MH_SEEDS,
        portable_minhash_sig,
    )

    docs = load_table(spark, smoke_dir, "documents").select("doc_id", "text")
    got = portable_minhash_sig(docs)

    # The exact predecessor formulation, inline.
    ex = docs.select(
        "doc_id",
        F.explode(F.array_distinct(shingles(F.col("text"), 3))).alias("s"),
    )
    hs = F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("long")
    base = ex.select("doc_id", hs.alias("hs"))

    def dec(c):
        return c.cast("decimal(38,0)")

    want = base.groupBy("doc_id").agg(
        *[
            F.min(
                F.pmod(
                    dec(F.lit(a)) * dec(F.col("hs")) + F.lit(b),
                    dec(F.lit(_MH_P)),
                ).cast("long")
            ).alias(f"mh{i}")
            for i, (a, b) in enumerate(_MH_SEEDS)
        ]
    )
    mh_cols = [f"mh{i}" for i in range(len(_MH_SEEDS))]
    got_rows = {
        r[0]: r[1:] for r in got.select("doc_id", *mh_cols).collect()
    }
    want_rows = {r[0]: r[1:] for r in want.collect()}
    assert got_rows.keys() == want_rows.keys() and got_rows
    assert got_rows == want_rows


def test_minhash_int64_term_property_random(spark):
    """Seeded randomized property check (ADVICE r12): the overflow-free
    int64 term must equal the DECIMAL(38,0) formulation for arbitrary
    (a, b, hs) — not just the smoke corpus's hs values and the 32 real
    seed constants.  Covers the full domains: a odd < 2^30, b < p,
    hs < 2^60 (plus the edge values 0, 1, 2^60−1, p−1 crossovers)."""
    from recsys_mapreduce_mrjob_spark.operators.dedup import (
        _MH_P,
        _mh_int64_term,
    )

    rng = random.Random(4242)
    hs_vals = [0, 1, (1 << 60) - 1, _MH_P - 1, 1 << 30, (1 << 30) - 1] + [
        rng.randrange(1 << 60) for _ in range(200)
    ]
    ab_pairs = [(1, 0), ((1 << 30) - 1, _MH_P - 1)] + [
        (rng.randrange(1 << 30) | 1, rng.randrange(_MH_P)) for _ in range(30)
    ]
    df = spark.createDataFrame([(h,) for h in hs_vals], "hs long").select(
        "hs",
        F.shiftright(F.col("hs"), 30).alias("__h1"),
        F.col("hs").bitwiseAND(F.lit((1 << 30) - 1)).alias("__h0"),
    )

    def dec(c):
        return c.cast("decimal(38,0)")

    cols = []
    for i, (a, b) in enumerate(ab_pairs):
        cols.append(
            _mh_int64_term(a, b, F.col("__h1"), F.col("__h0")).alias(f"g{i}")
        )
        cols.append(
            F.pmod(
                dec(F.lit(a)) * dec(F.col("hs")) + F.lit(b), dec(F.lit(_MH_P))
            )
            .cast("long")
            .alias(f"w{i}")
        )
    rows = df.select(*cols).collect()
    for r in rows:
        for i in range(len(ab_pairs)):
            assert r[f"g{i}"] == r[f"w{i}"], (i, ab_pairs[i], r)


def test_rank_helpers_reject_clashing_columns(spark):
    """The rank helpers must refuse inputs already carrying a temp or
    output column (ADVICE r12 — the seeded_shuffle_key guard, extended):
    silently overwriting __r_in/rank_col would corrupt ranks with no
    error."""
    import pytest

    df = spark.range(4).select(
        F.col("id").alias("doc_id"),
        F.lit(1).alias("n_tokens"),
        F.lit("00").alias("bkt"),
        F.lit(7).alias("__r_in"),
    )
    with pytest.raises(ValueError, match="__r_in"):
        two_phase_rank(df, [], "bkt", [F.col("doc_id")])
    with pytest.raises(ValueError, match="__r_in"):
        two_phase_rank_offsets(df, "bkt", [F.col("doc_id")])
    ok = df.drop("__r_in")
    with pytest.raises(ValueError, match="rnk"):
        two_phase_rank_offsets(
            ok.withColumn("rnk", F.lit(1)), "bkt", [F.col("doc_id")]
        )


def test_band_candidate_pairs_equals_self_join(spark):
    """The round-13 bounded-bucket candidate stage must reproduce the
    band self-join's distinct pair set exactly — including buckets above
    the cap (the self-join fallback path) and singleton buckets (no
    pairs).  Synthetic band rows: one small bucket, one cap-exceeding
    flood bucket, one singleton."""
    from pyspark.sql import functions as F

    from recsys_mapreduce_mrjob_spark.operators.dedup import (
        band_candidate_pairs,
    )

    rows = (
        [(i, 0, "b-small") for i in range(5)]
        + [(100 + i, 1, "b-flood") for i in range(10)]
        + [(999, 2, "b-single")]
        # the same pair colliding in two bands must stay ONE pair
        + [(0, 3, "b-dup"), (1, 3, "b-dup")]
    )
    bands = spark.createDataFrame(rows, "doc_id long, band int, bsig string")

    ba, bb = bands.alias("ba"), bands.alias("bb")
    want = sorted(
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.bsig") == F.col("bb.bsig"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(F.col("ba.doc_id").alias("doc_a"), F.col("bb.doc_id").alias("doc_b"))
        .distinct()
        .collect()
    )
    got = sorted(band_candidate_pairs(bands, cap=8, grouped=True).collect())
    assert got == want and len(got) == 5 * 4 // 2 + 10 * 9 // 2
    # and with every bucket under the cap (pure collect_list path)
    got2 = sorted(band_candidate_pairs(bands, cap=1000, grouped=True).collect())
    assert got2 == want
    # size dispatch: small corpora stay on the self-join (no grouped agg)
    small_plan = band_candidate_pairs(bands, n_docs=100)._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" not in small_plan
    big_plan = band_candidate_pairs(bands, n_docs=10**7)._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" in big_plan


def test_twostar_star_forest_input_is_already_converged(spark):
    """A star forest (including bare disjoint pairs — the semantic-dedup
    shape) is the two-star fixpoint: the loop must return the exact
    labels without needing a single rewiring round, even under
    max_rounds=0 headroom (the star test fires before the first round)."""
    from recsys_mapreduce_mrjob_spark.operators.dedup import (
        connected_components_twostar,
    )

    # a 3-child star + two disjoint pairs, arbitrary edge orientations
    edges = [(1, 0), (0, 2), (3, 0), (10, 11), (20, 21)]
    vertices = spark.createDataFrame(
        [(v,) for v in sorted({x for e in edges for x in e})], "id long"
    )
    edges_df = spark.createDataFrame(edges, "src long, dst long")
    labels = {
        r.id: r.label
        for r in connected_components_twostar(
            vertices, edges_df, max_rounds=0
        ).collect()
    }
    assert labels == {0: 0, 1: 0, 2: 0, 3: 0,
                      10: 10, 11: 10, 20: 20, 21: 20}


def test_doc_shard_manifest_spans_shards_like_oracle(spark, tmp_path):
    """The doc-level shard arithmetic of the export tail at three shards:
    ``_shard_manifest`` over ``_shuffle_placed`` equals the DuckDB tail
    ``_export_oracle_tail`` on the same 2 500 ``(doc_id, n_tokens)`` rows,
    so ``(shuffle_rank - 1) div 1000`` and a packed block that straddles
    a shard boundary are checked below the scale where a curated corpus
    fills more than one shard."""
    import duckdb
    import pyarrow as pa

    from recsys_mapreduce_mrjob_spark.operators import text
    from .parity import _rows_to_multiset

    # 1-13 tokens per doc, so offsets depend on the seeded permutation.
    rows = [(d * 3 + 1, 1 + (d * 7919) % 13) for d in range(2500)]
    schema = "doc_id long, n_tokens long"
    placed = text._shuffle_placed(
        spark,
        str(tmp_path),
        "test_doc_shard_manifest",
        "doc_id",
        lambda: spark.createDataFrame(rows, schema),
    )
    got = text._shard_manifest(
        placed,
        text._EXPORT_SHARD_DOCS,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
    ).collect()

    con = duckdb.connect()
    try:
        con.register(
            "src_rows",
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "n_tokens": pa.array([r[1] for r in rows], pa.int64()),
                }
            ),
        )
        res = con.execute(
            "WITH src AS (SELECT * FROM src_rows)"
            + text._export_oracle_tail(
                "src", "doc_id", text._EXPORT_SHARD_DOCS, text._EXPORT_DOC_COUNTS
            )
        )
        d_cols = [d[0] for d in res.description]
        want = res.fetchall()
    finally:
        con.close()

    s_cols = list(got[0].asDict())
    assert sorted(s_cols) == sorted(d_cols)
    assert _rows_to_multiset(got, s_cols) == _rows_to_multiset(want, d_cols)
    by_shard = sorted((r["shard"], r["first_block"], r["last_block"]) for r in got)
    assert [s for s, _f, _l in by_shard] == [0, 1, 2]
    assert any(
        first == prev_last
        for (_s, _f, prev_last), (_t, first, _l) in zip(by_shard, by_shard[1:])
    ), by_shard
