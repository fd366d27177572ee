"""Document deduplication: exact, candidate-pair Jaccard, MinHash-LSH
(SURVEY.md §2.2.K; north-star LLM-pipeline operator).

Three rungs of the dedup ladder, each scale-shaped:

1. ``q_dedup_exact`` — hash-groupBy on ``md5(text)``.  One shuffle on the
   hash; no pairwise anything.  The only sane first pass at 100 TB.
2. ``q_dedup_jaccard_pairs`` — exact 3-shingle Jaccard, but only for pairs
   that share a RARE shingle (document frequency = 2).  Rare-feature
   candidate generation is the classic bounded alternative to the O(n²)
   similarity join; everything stays relational (explode → df filter →
   self-equi-join on the shingle), so it's exactly oracle-checkable.
3. ``q_dedup_near`` — MinHash-LSH, hand-rolled and deterministic:
   32 xxhash64 min-hashes → 8 bands × 4 rows → equi-join on (band,
   band-signature) → exact Jaccard verification of the candidates only.
   Banding means the join key is the band signature — near-dups collide in
   ≥1 band with high probability while the pair space never materializes.
   Declared rows-only (xxhash64 has no DuckDB equivalent), but fully
   deterministic: a unit test pins the planted sf0.1 duplicates.

At 100 TB the knobs are the shingle df cap (rung 2) and the band/row
split (rung 3): more bands → higher recall, more candidates.  All three
rungs shuffle on derived keys (hash / shingle / band signature), so skew
is bounded by the df cap, and AQE splits what remains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import memo_persist
from ..functions.textfns import shingles
from ..registry import register
from ..sources.readers import load_table, rebalance_if_starved

_N_HASHES = 32
_N_BANDS = 8
_ROWS_PER_BAND = _N_HASHES // _N_BANDS


@register(
    "q_dedup_exact",
    oracle="""
SELECT md5(text) AS text_hash,
       count(*) AS n_docs,
       min(doc_id) AS keeper_doc_id,
       max(doc_id) AS max_doc_id
FROM documents
GROUP BY md5(text)
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate groups via content hash.  ``keeper_doc_id`` is the
    deterministic survivor (min id) a dedup pass would retain; groups with
    ``n_docs > 1`` are the planted sf0.1 duplicates."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("keeper_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


# Shared shingle relation: distinct 3-token shingles per doc, persisted
# once per (SparkContext, sf_dir) — Jaccard and MinHash-LSH both fan it
# into multiple lazy branches (caching.py owns the persist lifecycle).
def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        docs = rebalance_if_starved(load_table(spark, sf_dir, "documents"))
        return docs.select(
            "doc_id",
            F.explode(F.array_distinct(shingles(F.col("text"), 3))).alias("s"),
        )

    return memo_persist(spark, "doc_shingles", sf_dir, build)


def _rare_shingle_candidates(sh: DataFrame):
    """(sizes, cand) for the rare-shingle candidate rung — pairs sharing
    a df = 2 shingle, ``doc_a < doc_b`` — shared by the Jaccard and
    containment queries (code-review r7: one definition for the rung on
    BOTH the engine and oracle side; see ``_RARE_CAND_CTE``)."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    rare = (
        sh.groupBy("s").agg(F.count(F.lit(1)).alias("df")).where(F.col("df") == 2)
    )
    rare_sh = sh.join(F.broadcast(rare.select("s")), "s")
    a = rare_sh.alias("a")
    b = rare_sh.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return sizes, cand


def _jaccard_verify(
    cand: DataFrame,
    sh: DataFrame,
    sizes: DataFrame,
    min_jaccard: float | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for (doc_a, doc_b) candidate pairs.

    The shared verification stage of the candidate-generation rungs
    (rare-shingle and MinHash-LSH): join each candidate back to both
    docs' shingle sets for the intersection count, then to the per-doc
    set sizes for |A ∪ B| = na + nb − |A ∩ B|.  Shuffles on the pair key
    only for the candidates — never the full corpus pair space.
    """
    sa = sh.alias("sa")
    sb = sh.alias("sb")
    inter = (
        cand.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(
            sb,
            (F.col("sb.doc_id") == F.col("doc_b"))
            & (F.col("sb.s") == F.col("sa.s")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jaccard = F.col("n_common") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    ).cast("double")
    out = inter.join(
        sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")),
        "doc_a",
    ).join(
        sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")),
        "doc_b",
    )
    if min_jaccard is not None:
        out = out.where(jaccard >= min_jaccard)
    return out.select(
        "doc_a",
        "doc_b",
        (F.round(jaccard, 6) + F.lit(0.0)).alias("jaccard"),
    )


_SHINGLES_CTE = """
toklists AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
idx AS (
    SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM toklists
),
sh AS (
    SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s FROM idx
)
"""

# Rare-shingle candidate rung shared by the Jaccard and containment
# oracles (code-review r7: the block lived verbatim in both SQL strings;
# one definition keeps the two metrics' candidate sets from silently
# diverging when the rung is tuned).
def _rare_cand_cte(p: str = "") -> str:
    """The rare-shingle candidate rung as a CTE chain, with an optional
    NAME PREFIX so oracles whose namespace already uses sizes/cand/inter
    (the LSH chain, _NEAR_EXACT_CTES) can embed the SAME definition
    instead of duplicating it (code-review r10 — re-established the r7
    single-source rule the recall audit's first draft broke)."""
    return f"""
{p}sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
{p}rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) = 2),
{p}cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    WHERE a.s IN (SELECT s FROM {p}rare)
),
{p}inter AS (
    SELECT c.doc_a, c.doc_b, count(*) AS n_common
    FROM {p}cand c
    JOIN sh a ON a.doc_id = c.doc_a
    JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
    GROUP BY c.doc_a, c.doc_b
)
"""


_RARE_CAND_CTE = _rare_cand_cte()



_BAND_BUCKET_CAP = 64  # LSH buckets above this fall back to the self-join
# Past this corpus size the band relation (8 rows/doc, ~30 B/row) outgrows
# the broadcast-join regime and the candidate stage switches to the
# grouped bounded-bucket path (below).  ~200k docs ≈ 1.6M band rows
# ≈ 50 MB framed — the session's 64 MB autoBroadcastJoinThreshold.
_LSH_GROUPED_MIN_DOCS = 200_000


def band_candidate_pairs(
    bands: DataFrame, cap: int = _BAND_BUCKET_CAP, grouped: bool | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """Distinct (doc_a < doc_b) candidate pairs from an exploded
    (doc_id, band, bsig) relation — the LSH candidate stage shared by
    the xxhash64 and portable MinHash variants.

    SIZE-DISPATCHED (round 13, VERDICT r12 #2, guide §2.3/§2.4, the
    q_dedup_embedding size-dispatch discipline).  Two execution shapes
    for the same pair set:

    - ``grouped=False`` (corpora whose band relation fits the broadcast
      regime — the tested SFs): the plain equi-self-join; AQE broadcasts
      one side, so the candidate stage adds NO shuffle at all.
    - ``grouped=True`` (past ``_LSH_GROUPED_MIN_DOCS``): the self-join
      would sort-merge — the band relation shuffled TWICE plus sorts —
      to enumerate pairs that live entirely inside one (band, bsig)
      group.  Instead, group once and explode the a < b pairs in place
      (the q_dedup_spans pattern), with the collect_list buffer BOUNDED
      by ``cap``: a narrow map-side-combinable count first splits off
      buckets larger than the cap (pathological floods — e.g. millions
      of identical boilerplate docs; the oversized subset of the
      distinct-bucket-sized count relation is broadcastable because
      each such bucket is a corpus anomaly), and only those fall back
      to the self-join, where AQE skew splitting applies.  One narrow
      count shuffle + one band-row shuffle replace two full shuffles +
      sorts, and per-group state is ≤ cap ids.

    Result-identical by construction (pinned against the self-join in
    tests/test_r12_fusions.py, flood path included): every unordered
    pair sharing a bucket appears in exactly one path, and the trailing
    ``distinct`` (needed either way — a pair can collide in several
    bands) normalizes multiplicity."""
    if grouped is None:
        grouped = (n_docs or 0) > _LSH_GROUPED_MIN_DOCS
    if not grouped:
        ba = bands.alias("ba")
        bb = bands.alias("bb")
        return (
            ba.join(
                bb,
                (F.col("ba.band") == F.col("bb.band"))
                & (F.col("ba.bsig") == F.col("bb.bsig"))
                & (F.col("ba.doc_id") < F.col("bb.doc_id")),
            )
            .select(
                F.col("ba.doc_id").alias("doc_a"),
                F.col("bb.doc_id").alias("doc_b"),
            )
            .distinct()
        )
    sz = bands.groupBy("band", "bsig").agg(F.count(F.lit(1)).alias("__n"))
    big = F.broadcast(sz.where(F.col("__n") > cap).select("band", "bsig"))
    small = bands.join(big, ["band", "bsig"], "left_anti")
    grouped = small.groupBy("band", "bsig").agg(
        F.collect_list("doc_id").alias("ids")
    )
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                "ids",
                lambda a: F.transform(
                    "ids", lambda b: F.struct(a.alias("a"), b.alias("b"))
                ),
            )
        ),
        lambda p: p["a"] < p["b"],
    )
    pairs_small = (
        grouped.where(F.size("ids") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
    )
    flood = bands.join(big, ["band", "bsig"], "left_semi")
    fa = flood.alias("fa")
    fb = flood.alias("fb")
    pairs_big = fa.join(
        fb,
        (F.col("fa.band") == F.col("fb.band"))
        & (F.col("fa.bsig") == F.col("fb.bsig"))
        & (F.col("fa.doc_id") < F.col("fb.doc_id")),
    ).select(F.col("fa.doc_id").alias("doc_a"), F.col("fb.doc_id").alias("doc_b"))
    return pairs_small.unionByName(pairs_big).distinct()


@register(
    "q_dedup_jaccard_pairs",
    oracle=f"""
WITH {_SHINGLES_CTE},
{_RARE_CAND_CTE}
SELECT i.doc_a, i.doc_b,
       round(i.n_common / CAST(sa.n_sh + sb.n_sh - i.n_common AS DOUBLE), 6) + 0.0
           AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
""",
)
def q_dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs sharing a rare
    (df = 2) 3-shingle — the oracle-checkable companion to MinHash-LSH."""
    sh = _doc_shingles(spark, sf_dir)
    sizes, cand = _rare_shingle_candidates(sh)
    return _jaccard_verify(cand, sh, sizes)


@register("q_dedup_near")  # rows-only: xxhash64 minhashes have no DuckDB twin
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs via deterministic MinHash-LSH.

    Pipeline (all DataFrame ops, no MLlib fit, no randomness):
      1. one fused pass over the corpus: explode distinct 3-shingles,
         hash each shingle to a LONG once (``xxhash64(s)``), then one
         groupBy computing the 32 min-hashes as
         ``min(xxhash64(hs, seed_i))`` — re-hashing the fixed-width long
         instead of the variable-width string makes the 32-way inner
         loop pure codegen'd long arithmetic (round-5 profile: the
         string form and a no-explode higher-order-function form were
         both slower; HOF lambdas evaluate interpreted);
      2. the same groupBy also collects the hashed-shingle SET and its
         size, so the Jaccard verification needs no second pass over
         the text;
      3. band signatures: 8 bands × 4 rows, each band's signature =
         ``xxhash64`` of its 4 min-hashes;
      4. candidate pairs = docs equal in ≥1 (band, signature) — an
         equi-join on the band key, never an all-pairs comparison;
      5. Jaccard verification via ``array_intersect`` of the two
         hashed-shingle sets — replaces the two shingle-row joins +
         pair groupBy of the round-4 plan (per-pair work is still
         O(|A|+|B|), now in one project).  Intersecting 64-bit hashes
         instead of strings is exact up to hash collisions
         (P ≈ n²/2⁶⁴ ≈ 4e-9 at the sf0.1 shingle count — negligible,
         and this query is declared rows-only).

    Scale shape: one corpus scan, one aggregate shuffle on doc_id, the
    band equi-join, and broadcast-size candidate lookups.  The per-doc
    hashed set rides the signature relation (O(doc length) per row —
    the same bytes the round-4 plan shuffled as exploded rows).
    For truly identical texts every band collides and jaccard = 1.0 (the
    sf0.1 planted dupes — pinned by a unit test).

    Memo-persisted: the signature relation fans into both band-join
    sides AND both verification lookups (4 lazy branches), and
    ReuseExchange does not cover them.
    """

    def build_sig() -> DataFrame:
        docs = rebalance_if_starved(load_table(spark, sf_dir, "documents"))
        ex = docs.select(
            "doc_id",
            F.explode(F.array_distinct(shingles(F.col("text"), 3))).alias("s"),
        )
        hs = ex.select("doc_id", F.xxhash64("s").alias("hs"))
        return hs.groupBy("doc_id").agg(
            *[
                F.min(F.xxhash64(F.col("hs"), F.lit(i))).alias(f"mh{i}")
                for i in range(_N_HASHES)
            ],
            F.count(F.lit(1)).alias("n_sh"),
            F.collect_set("hs").alias("sh_set"),
        )

    sig = memo_persist(spark, "minhash_sig", sf_dir, build_sig)
    from ..sources.readers import parquet_num_rows

    _n_docs = parquet_num_rows(sf_dir, "documents")
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.xxhash64(
                            *[
                                F.col(f"mh{band * _ROWS_PER_BAND + r}")
                                for r in range(_ROWS_PER_BAND)
                            ]
                        ).alias("bsig"),
                    )
                    for band in range(_N_BANDS)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.bsig").alias("bsig"))

    cand = band_candidate_pairs(bands, n_docs=_n_docs)

    sets = sig.select("doc_id", "sh_set", "n_sh")
    n_common = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    jaccard = n_common / (F.col("na") + F.col("nb") - n_common).cast("double")
    return (
        cand.join(
            sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("sh_set").alias("sa"),
                F.col("n_sh").alias("na"),
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"),
                F.col("sh_set").alias("sb"),
                F.col("n_sh").alias("nb"),
            ),
            "doc_b",
        )
        .where(jaccard >= 0.8)  # raw-value threshold, as in _jaccard_verify
        .select(
            "doc_a",
            "doc_b",
            (F.round(jaccard, 6) + F.lit(0.0)).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Exact-oracle MinHash-LSH: engine-portable hashing (round 5).
#
# q_dedup_near is rows-only because its xxhash64 family has no DuckDB
# equivalent.  This variant removes that caveat: each distinct shingle is
# hashed ONCE via md5 → first 15 hex digits → 60-bit integer (the repo's
# established portable-hash arithmetic, operators/sampling.hash_bucket),
# then the 32-member hash family is h_i(x) = (a_i·x + b_i) mod (2^61−1),
# computed EXACTLY on both engines — Spark in overflow-free int64 steps
# (2^61 ≡ 1 mod p splits a_i·x into in-range addends; see
# ``portable_minhash_sig``), DuckDB in HUGEINT — so every minhash, band
# signature, candidate pair and Jaccard value is bit-identical
# cross-engine and the driver hash-grades the full LSH pipeline.
# ---------------------------------------------------------------------------

_MH_P = (1 << 61) - 1  # Mersenne prime 2^61 − 1


def _mh_seed_constants(n: int = _N_HASHES) -> list[tuple[int, int]]:
    """Fixed (a_i, b_i) universal-hash constants — deterministic LCG
    expansion of a literal seed, identical in code and in the generated
    oracle SQL (the single source of truth for both engines)."""
    seeds = []
    state = 0x5DEECE66D
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 62)
        a = (state % ((1 << 30) - 3)) | 1  # odd, < 2^30
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 62)
        b = state % _MH_P
        seeds.append((a, b))
    return seeds


_MH_SEEDS = _mh_seed_constants()

_MH_SEED_VALUES = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(_MH_SEEDS)
)

# Shared CTE chain: shingles → portable 60-bit hashes → 32 minhashes →
# banding → candidates → verified near-dup pairs.  Reused by the exact
# near-dup oracle AND the recursive-CTE components oracle.
_NEAR_EXACT_CTES = f"""{_SHINGLES_CTE},
shh AS MATERIALIZED (
    -- MATERIALIZED: referenced by mh, sizes and BOTH sides of the
    -- intersection join — inlined, the shingle derivation + md5 pass
    -- would run four times (same hazard as the pagerank oracle OOM).
    SELECT DISTINCT doc_id,
           CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS hs
    FROM sh
),
seeds(i, a, b) AS (VALUES {_MH_SEED_VALUES}),
mh AS (
    SELECT doc_id, i,
           min(CAST((CAST(a AS HUGEINT) * hs + b) % {_MH_P} AS BIGINT)) AS mh
    FROM shh CROSS JOIN seeds GROUP BY doc_id, i
),
bands AS MATERIALIZED (
    SELECT doc_id, i // {_ROWS_PER_BAND} AS band,
           md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS bsig
    FROM mh GROUP BY doc_id, i // {_ROWS_PER_BAND}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY doc_id),
inter AS (
    SELECT c.doc_a, c.doc_b, count(*) AS n_common
    FROM cand c
    JOIN shh a ON a.doc_id = c.doc_a
    JOIN shh b ON b.doc_id = c.doc_b AND b.hs = a.hs
    GROUP BY c.doc_a, c.doc_b
),
near_pairs AS (
    SELECT i.doc_a, i.doc_b,
           round(i.n_common / CAST(sa.n_sh + sb.n_sh - i.n_common AS DOUBLE), 6)
               + 0.0 AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE i.n_common / CAST(sa.n_sh + sb.n_sh - i.n_common AS DOUBLE) >= 0.8
)"""

_NEAR_EXACT_ORACLE = (
    f"WITH {_NEAR_EXACT_CTES}\nSELECT doc_a, doc_b, jaccard FROM near_pairs"
)


def _mh_int64_term(a: int, b: int, h1, h0):
    """(a·hs + b) mod p, p = 2^61−1, in overflow-free int64 steps, for
    hs = h1·2^30 + h0 < 2^60 pre-split by the caller: a < 2^30, b < p.
    With y = a·h1 (< 2^60):  a·hs ≡ (y mod 2^31)·2^30 + (y div 2^31)
    + a·h0 (mod p), because y·2^30 = (y div 2^31)·2^61 +
    (y mod 2^31)·2^30 and 2^61 ≡ 1 (mod p).  Every addend < 2^61, the
    4-term sum < 2^62.6 < 2^63 — no int64 overflow — and one final pmod
    reduces exactly.  Bit-identical to the DECIMAL(38,0) formulation and
    to the oracle's HUGEINT — pinned on the live corpus AND by a
    seeded randomized property test over (a, b, hs)
    (tests/test_r12_fusions.py, ADVICE r12)."""
    y = F.lit(a).cast("long") * h1
    t = (
        F.shiftleft(y.bitwiseAND(F.lit((1 << 31) - 1)), 30)
        + F.shiftright(y, 31)
        + F.lit(a).cast("long") * h0
        + F.lit(b).cast("long")
    )
    return F.pmod(t, F.lit(_MH_P))


def portable_minhash_sig(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, mh0..mh{n−1}, sh_set, n_sh) via the
    engine-portable hash family (module note above): distinct 3-shingles
    → md5-prefix 60-bit longs → 32 universal-hash minima computed in
    overflow-free int64 arithmetic, plus the hashed-shingle SET for
    exact-Jaccard verification.  The ONE signature definition shared by the batch LSH
    (``q_dedup_near_exact`` and everything downstream of its pairs) and
    the streaming ingestion fold (``streaming/twins.py
    incremental_neardup``) — the two executions must agree bit-for-bit
    on every minhash or the streaming candidates diverge from the batch
    oracle's.  Docs with fewer than 3 tokens produce no shingles and are
    absent from the result (they can never be near-dup candidates)."""
    ex = docs.select(
        "doc_id",
        F.explode(F.array_distinct(shingles(F.col("text"), 3))).alias("s"),
    )
    hs = F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("long")
    # Split hs = h1·2^30 + h0 ONCE per shingle row; the 32 universal
    # hashes below then run in pure LONG arithmetic (round 12 — the
    # original DECIMAL(38,0) multiply/pmod per (row × 32 hashes) was the
    # repo's most expensive projection; guide §1.2 "per-task work").
    base = ex.select(
        "doc_id",
        hs.alias("hs"),
        F.shiftright(hs, 30).alias("__h1"),
        hs.bitwiseAND(F.lit((1 << 30) - 1)).alias("__h0"),
    )

    def mh(a: int, b: int):
        return _mh_int64_term(a, b, F.col("__h1"), F.col("__h0"))

    return (
        base.groupBy("doc_id")
        .agg(
            *[
                F.min(mh(a, b)).alias(f"mh{i}")
                for i, (a, b) in enumerate(_MH_SEEDS)
            ],
            F.collect_set("hs").alias("sh_set"),
        )
        .withColumn("n_sh", F.size("sh_set"))
    )


def portable_band_rows(sig: DataFrame) -> DataFrame:
    """Signature relation → exploded (doc_id, band, bsig) band rows,
    bsig = md5 of the band's comma-joined minhashes (the portable twin
    of the xxhash64 banding).  Shared by the batch LSH equi-join and
    the streaming fold's band-bucket state."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"mh{band * _ROWS_PER_BAND + r}")
                                    for r in range(_ROWS_PER_BAND)
                                ],
                            )
                        ).alias("bsig"),
                    )
                    for band in range(_N_BANDS)
                ]
            )
        ).alias("bs"),
    ).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.bsig").alias("bsig")
    )


def portable_verify_pairs(
    cand: DataFrame, sets: DataFrame, min_jaccard: float = 0.8
) -> DataFrame:
    """Exact-Jaccard verification of (doc_a, doc_b) candidates against a
    (doc_id, sh_set, n_sh) relation via ``array_intersect`` — per-pair
    work O(|A|+|B|) in one projection, candidates-sized shuffles only.
    Shared by the batch LSH and the streaming ingestion fold."""
    n_common = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    jaccard = n_common / (F.col("na") + F.col("nb") - n_common).cast("double")
    return (
        cand.join(
            sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("sh_set").alias("sa"),
                F.col("n_sh").alias("na"),
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"),
                F.col("sh_set").alias("sb"),
                F.col("n_sh").alias("nb"),
            ),
            "doc_b",
        )
        .where(jaccard >= min_jaccard)
        .select(
            "doc_a",
            "doc_b",
            (F.round(jaccard, 6) + F.lit(0.0)).alias("jaccard"),
        )
    )


@register("q_dedup_near_exact", oracle=_NEAR_EXACT_ORACLE)
def q_dedup_near_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup with a full DuckDB oracle — the exact-graded
    companion to :func:`q_dedup_near` (see the module-level portable-hash
    note).  Same fused single-pass plan shape: one groupBy computes the
    32 min-hashes AND the hashed-shingle set; banding equi-join; Jaccard
    as an ``array_intersect`` projection.  The hash family is slower than
    xxhash64 (md5 per shingle + 32 modular folds per member) — the price of
    bit-identical cross-engine grading; q_dedup_near stays the
    performance registration.
    """
    def build_sig() -> DataFrame:
        docs = rebalance_if_starved(load_table(spark, sf_dir, "documents"))
        return portable_minhash_sig(docs.select("doc_id", "text"))

    # Memo-persisted like the xxhash64 sig (round 6): this relation fans
    # into FOUR lazy branches (both aliases of the band self-join plus the
    # doc_a and doc_b set lookups), and ReuseExchange does not fire across
    # the shapes — unpersisted, the md5 + 32-member modular-fold minhash
    # derivation (the most expensive projection in the repo) recomputed up
    # to four times in every consumer of the exact pairs (near_exact,
    # components ×2, curation).  Footprint note: together with minhash_sig
    # and doc_shingles this is a third corpus-scale shingle relation held
    # MEMORY_AND_DISK for the session — acceptable at the tested SFs
    # (spill degrades gracefully); revisit the storage level before
    # pointing a memory-constrained driver at a much larger corpus.
    sig = memo_persist(spark, "minhash_sig_exact", sf_dir, build_sig)
    bands = portable_band_rows(sig)
    from ..sources.readers import parquet_num_rows

    cand = band_candidate_pairs(bands, n_docs=parquet_num_rows(sf_dir, "documents"))
    return portable_verify_pairs(cand, sig.select("doc_id", "sh_set", "n_sh"))


@register(
    "q_dedup_embedding",
    oracle="""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_inner_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                                list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
             / (sqrt(list_inner_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                                        list_transform(a.embedding, x -> CAST(x AS DOUBLE))))
                * sqrt(list_inner_product(list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
                                          list_transform(b.embedding, x -> CAST(x AS DOUBLE))))),
             5) + 0.0 AS cos_sim
FROM embeddings a
JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_inner_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                         list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
      / (sqrt(list_inner_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                                 list_transform(a.embedding, x -> CAST(x AS DOUBLE))))
         * sqrt(list_inner_product(list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
                                   list_transform(b.embedding, x -> CAST(x AS DOUBLE)))))
      >= 0.45
""",
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.45) — the semantic
    rung of the dedup ladder: catches paraphrases that share no shingles.

    EXACT semantics, BLOCKED execution (round-4 re-registration, VERDICT
    r3 #6).  An exact similarity join at a threshold this low (63°) is
    inherently quadratic in FLOPs — sign-LSH banding cannot help: per-
    hyperplane agreement at cos 0.45 is only ~0.65, so any band split
    either misses true pairs or floods candidates (the LSH scale path of
    ``q_knn_cosine_lsh`` is the right tool at cos ≥ 0.8, not here).  The
    scale lever is therefore HOW the n² FLOPs execute:

      1. hash each vector into one of B blocks (uniform, key-derived);
      2. replicate each row B times, tagged with the unordered block pair
         (min(blk, p), max(blk, p)) — every block PAIR becomes exactly one
         group holding its two blocks' rows (~2n/B vectors);
      3. ``applyInArrow`` per group: L2-normalize once, one dense
         float64 GEMM for the whole tile, emit pairs ≥ threshold.

    No row-level pair relation ever exists in the plan (the old form
    pushed 2M Catalyst join rows through three 64-step interpreted folds
    per pair) — the B(B+1)/2 tiles distribute across executors, per-task
    memory is the two-block tile (B is the knob: B ≈ n·d·8 / target task
    bytes), and the kernel is vectorized BLAS via Arrow.  Summation-order
    noise vs the sequential-fold oracle is ~1e-16 — measured margins on
    the testdata are ≥1e-4 at the threshold and ≥1.8e-8 at the round-5
    boundary, so the rounded output is stable (the final round happens
    JVM-side, keeping Spark's HALF_UP display convention).
    """

    # B derived from the relation size (VERDICT r4 watch-list: a hard-coded
    # 8 was a bench-scale artifact).  Tile ≈ 2n/B vectors of d·8 bytes (+
    # ids); the parquet footer row count is a driver-side metadata read, no
    # Spark job.  An unreadable footer (None) costs one count of the
    # relation instead — never floor tiling, whose tiles at corpus scale
    # would hold 2n/8 vectors.  floor=8 keeps
    # the measured-good local tiling; results are B-invariant (every
    # unordered pair lands in exactly one tile for any B — pinned at two Bs
    # in tests/test_scale_knobs.py).
    from ..functions.blocking import gemm_block_count
    from ..sources.readers import parquet_num_rows

    table = load_table(spark, sf_dir, "embeddings")
    _n = parquet_num_rows(sf_dir, "embeddings")
    if _n is None:
        _n = table.count()
    n_blocks = gemm_block_count(_n, row_bytes=64 * 8 + 16, floor=8)
    emb = table.select(
        "vec_id",
        "embedding",
        F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).alias("blk"),
    )
    replicated = emb.select(
        "vec_id",
        "embedding",
        "blk",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.least(F.col("blk"), F.lit(p)).alias("bi"),
                        F.greatest(F.col("blk"), F.lit(p)).alias("bj"),
                    )
                    for p in range(n_blocks)
                ]
            )
        ).alias("bp"),
    ).select(
        "vec_id", "embedding", "blk",
        F.col("bp.bi").alias("bi"), F.col("bp.bj").alias("bj"),
    )

    def score_tile(tbl):
        # Arrow-native tile kernel (round 5: applyInArrow — the list
        # column flattens to one contiguous numpy buffer and reshapes to
        # the tile matrix, instead of np.stack over a pandas object
        # column of per-row arrays).
        import numpy as np
        import pyarrow as pa

        def empty():
            return pa.table(
                {
                    "vec_a": np.array([], dtype="int64"),
                    "vec_b": np.array([], dtype="int64"),
                    "cos_raw": np.array([], dtype="float64"),
                }
            )

        bi = int(tbl.column("bi")[0].as_py())
        bj = int(tbl.column("bj")[0].as_py())
        blk = tbl.column("blk").to_numpy()
        ids = tbl.column("vec_id").to_numpy()
        emb = tbl.column("embedding").combine_chunks()
        mat = (
            emb.flatten()
            .to_numpy(zero_copy_only=False)
            .astype("float64", copy=False)
            .reshape(len(tbl), -1)
        )
        mask_x = blk == bi
        mask_y = mask_x if bi == bj else (blk == bj)
        if not mask_x.any() or not mask_y.any():
            return empty()
        la, rb = mat[mask_x], mat[mask_y]
        ids_x, ids_y = ids[mask_x], ids[mask_y]
        la /= np.linalg.norm(la, axis=1, keepdims=True)
        if bi == bj:
            rb = la
        else:
            rb /= np.linalg.norm(rb, axis=1, keepdims=True)
        sims = la @ rb.T
        ia, ib = np.nonzero(sims >= 0.45)
        ida = ids_x[ia]
        idb = ids_y[ib]
        # Diagonal tile: keep the upper triangle only (each unordered pair
        # appears twice plus the self-pair).  Cross tiles: every (ia, ib)
        # is a distinct unordered pair — keep all, output min/max ordered.
        keep = ida < idb if bi == bj else ida != idb
        return pa.table(
            {
                "vec_a": np.minimum(ida, idb)[keep],
                "vec_b": np.maximum(ida, idb)[keep],
                "cos_raw": sims[ia, ib][keep],
            }
        )

    tiles = replicated.groupBy("bi", "bj").applyInArrow(
        score_tile, schema="vec_a long, vec_b long, cos_raw double"
    )
    return tiles.select(
        "vec_a",
        "vec_b",
        (F.round(F.col("cos_raw"), 5) + F.lit(0.0)).alias("cos_sim"),
    )


_SIM_BITS = 64
_SIM_CHUNKS = 4
_BITS_PER_CHUNK = _SIM_BITS // _SIM_CHUNKS


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """64-bit SimHash per document, plus its 4×16-bit band chunks.

    Classic Charikar construction, all Catalyst expressions: per (doc,
    token) term count as the weight, token hashed once with xxhash64;
    bit b of the fingerprint is the sign of Σ weight·(±1) where the sign
    is bit b of the token hash.  One explode + one groupBy computing the
    64 bit-sums as ordinary aggregates — shuffles once on doc_id.
    """
    from ..functions.textfns import tokens

    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tc"))
        .withColumn("h", F.xxhash64("tok"))
    )
    bit_sums = tf.groupBy("doc_id").agg(
        *[
            F.sum(
                F.col("tc")
                * (F.shiftright("h", b).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"s{b}")
            for b in range(_SIM_BITS)
        ]
    )

    def _assemble(bits):
        out = F.lit(0).cast("long")
        for pos, b in enumerate(bits):
            out = out.bitwiseOR(
                F.when(F.col(f"s{b}") > 0, F.shiftleft(F.lit(1).cast("long"), pos))
                .otherwise(F.lit(0).cast("long"))
            )
        return out

    chunk_cols = [
        _assemble(range(c * _BITS_PER_CHUNK, (c + 1) * _BITS_PER_CHUNK)).alias(
            f"chunk{c}"
        )
        for c in range(_SIM_CHUNKS)
    ]
    with_chunks = bit_sums.select("doc_id", *chunk_cols)
    fp = F.lit(0).cast("long")
    for c in range(_SIM_CHUNKS):
        fp = fp.bitwiseOR(
            F.shiftleft(F.col(f"chunk{c}"), c * _BITS_PER_CHUNK)
        )
    return with_chunks.select(
        "doc_id", fp.alias("fingerprint"), *[f"chunk{c}" for c in range(_SIM_CHUNKS)]
    )


@register("q_dedup_simhash")  # rows-only: xxhash64-based bits, no SQL twin
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash: Hamming distance ≤ 3 over 64-bit
    fingerprints.

    By the pigeonhole principle, two fingerprints within Hamming 3 agree
    exactly on ≥1 of the 4 16-bit chunks — so candidates come from an
    equi-join on (chunk index, chunk value), never an all-pairs scan, and
    the exact Hamming check (``bit_count(xor)``) runs on candidates only.
    Identical texts share all chunks → distance 0 (planted sf0.1 dupes,
    pinned by a unit test).
    """
    docs = load_table(spark, sf_dir, "documents")

    # The banded fingerprint relation feeds both self-join sides; the
    # SimHash derivation underneath (token explode + 64 bit-sum
    # aggregates) is the expensive part and would run twice without
    # persistence (plan-verified: 4 Generate nodes, 0 ReusedExchange).
    # Memo-persisted like the shingle/ratings relations.
    def build_banded() -> DataFrame:
        fps = simhash_fingerprints(docs)
        return fps.select(
            "doc_id",
            "fingerprint",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("band"), F.col(f"chunk{c}").alias("cval")
                        )
                        for c in range(_SIM_CHUNKS)
                    ]
                )
            ).alias("bc"),
        ).select(
            "doc_id", "fingerprint",
            F.col("bc.band").alias("band"), F.col("bc.cval").alias("cval"),
        )

    banded = memo_persist(spark, "simhash_banded", sf_dir, build_banded)
    a = banded.alias("a")
    b = banded.alias("b")
    hamming = F.bit_count(
        F.col("a.fingerprint").bitwiseXOR(F.col("b.fingerprint"))
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.cval") == F.col("b.cval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= 3)
    )


# ---------------------------------------------------------------------------
# Exact-oracle SimHash: engine-portable token hashing (round 5).
#
# q_dedup_simhash is rows-only because its per-token xxhash64 has no DuckDB
# equivalent.  This variant swaps in the repo's portable md5 → 15-hex-digit
# → 60-bit hash (same arithmetic as the MinHash exact twin above); every
# step after the hash — weighted bit sums, sign threshold, fingerprint
# assembly, pigeonhole banding, Hamming verify — is INTEGER arithmetic, so
# the whole pipeline is bit-identical cross-engine with no float margins
# at all.  60 bits = 4 pigeonhole chunks × 15 bits (the hash is positive
# < 2^60, so no shift ever touches the sign bit on either engine).
# ---------------------------------------------------------------------------

_SIMX_BITS = 60
_SIMX_CHUNKS = 4
_SIMX_BPC = _SIMX_BITS // _SIMX_CHUNKS  # 15-bit chunks
_SIMX_MAX_HAMMING = 3

_SIMHASH_EXACT_ORACLE = f"""
WITH tf AS (
    SELECT doc_id, tok, count(*) AS tc,
           CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
    FROM (SELECT doc_id,
                 unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
          FROM documents)
    GROUP BY doc_id, tok
),
bits AS (
    SELECT doc_id, b, CAST(sum(tc * (((h >> b) & 1) * 2 - 1)) AS BIGINT) AS s
    FROM tf CROSS JOIN (SELECT unnest(generate_series(0, {_SIMX_BITS - 1})) AS b)
    GROUP BY doc_id, b
),
fp AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
                         ELSE 0 END) AS BIGINT) AS fingerprint
    FROM bits GROUP BY doc_id
),
banded AS MATERIALIZED (
    -- MATERIALIZED: the candidate stage self-joins banded; inlined, the
    -- 60-aggregate bit-sum derivation would run twice.
    SELECT doc_id, fingerprint, c AS band,
           (fingerprint >> (c * {_SIMX_BPC})) & {(1 << _SIMX_BPC) - 1} AS cval
    FROM fp CROSS JOIN (SELECT unnest(generate_series(0, {_SIMX_CHUNKS - 1})) AS c)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.fingerprint, b.fingerprint)) AS BIGINT) AS hamming
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.cval = b.cval AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= {_SIMX_MAX_HAMMING}
"""


@register("q_dedup_simhash_exact", oracle=_SIMHASH_EXACT_ORACLE)
def q_dedup_simhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup with a full DuckDB oracle — the exact-graded
    companion to :func:`q_dedup_simhash` (see the module-level
    portable-hash note).  Same scale shape: one token explode + one
    groupBy computing the 60 weighted bit sums, pigeonhole banding on
    4×15-bit chunks, candidates from a (band, chunk-value) equi-join —
    never an all-pairs scan — and ``bit_count(xor)`` verification on
    candidates only.  q_dedup_simhash stays the performance registration
    (xxhash64 beats an md5 per distinct token)."""
    from ..functions.textfns import tokens

    docs = rebalance_if_starved(load_table(spark, sf_dir, "documents"))
    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tc"))
        .withColumn(
            "h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
        )
    )
    bit_sums = tf.groupBy("doc_id").agg(
        *[
            F.sum(
                F.col("tc")
                * (F.shiftright("h", b).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"s{b}")
            for b in range(_SIMX_BITS)
        ]
    )
    fp = F.lit(0).cast("long")
    for b in range(_SIMX_BITS):
        fp = fp.bitwiseOR(
            F.when(
                F.col(f"s{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
            ).otherwise(F.lit(0).cast("long"))
        )
    fps = bit_sums.select("doc_id", fp.alias("fingerprint"))
    banded = fps.select(
        "doc_id",
        "fingerprint",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("band"),
                        F.shiftright(F.col("fingerprint"), c * _SIMX_BPC)
                        .bitwiseAND(F.lit((1 << _SIMX_BPC) - 1))
                        .alias("cval"),
                    )
                    for c in range(_SIMX_CHUNKS)
                ]
            )
        ).alias("bc"),
    ).select(
        "doc_id", "fingerprint",
        F.col("bc.band").alias("band"), F.col("bc.cval").alias("cval"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    hamming = F.bit_count(
        F.col("a.fingerprint").bitwiseXOR(F.col("b.fingerprint"))
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.cval") == F.col("b.cval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= _SIMX_MAX_HAMMING)
    )


def connected_components_twostar(
    vertices: DataFrame, edges: DataFrame, max_rounds: int | None = None
) -> DataFrame:
    """Alternating large-star/small-star connected components — the
    engine's one components algorithm.

    Min-label propagation needs one round per unit of graph DIAMETER
    (a 10 000-hop chain of near-identical crawl snapshots needs 10 000
    rounds), while the alternating two-star algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014) contracts
    every component to a star in O(log² n) rounds — in practice a
    handful — by rewiring edges toward each neighborhood's minimum
    instead of carrying labels:

      * large-star: every node ``u`` connects its strictly-LARGER
        neighbors to ``min(N(u) ∪ {u})`` — one symmetric groupBy-min +
        re-emit, two shuffles;
      * small-star: orient every edge (max, min); every node connects
        its smaller neighbors AND itself to the minimum of them.

    Both steps strictly shrink a potential function over edge targets,
    and the fixpoint is exactly the star graph (v → component-min for
    every non-root v), so the final labels are the component minima
    (pinned against union-find in tests/test_scale_knobs.py).  Per-round
    cost is two hash shuffles on the node id over the CURRENT edge set —
    which only ever shrinks toward one edge per non-root node — with
    ``localCheckpoint`` cutting the per-round lineage.

    Termination (ADVICE r5, test r12): the loop runs TO THE FIXPOINT —
    it stops exactly when the edge set IS a star forest, which is
    equivalent to being the fixpoint of both steps: at a star forest
    every center is its component's minimum (edges are max→min-oriented,
    so a center below all its children is below everything reachable),
    large-star re-emits each (child, center) edge unchanged and
    small-star's per-center min is the center itself; conversely Kiveris
    et al. show the fixpoint is the star graph.  The star test is ONE
    aggregation job per round — a node violates iff it appears as a
    child (``a``) twice, or as both child and center — replacing the
    round-12-predecessor's count + ``exceptAll`` pair AND detecting
    convergence one full round earlier (the old check needed an extra
    no-op round to observe "nothing changed"; a round costs ~6 shuffles).
    A fixed round budget would silently return wrong labels on inputs
    whose component structure needs more rounds (a 2 000-node path graph
    mislabels ~97 % of its vertices under a budget of 6); since the
    potential function strictly decreases until the star fixpoint, the
    loop always terminates.  ``max_rounds`` remains only as a safety
    cap — ``None`` (default) derives a generous O(log² n) bound from the
    edge count — and exhausting it RAISES rather than returning
    non-converged labels.
    """

    def _is_star_forest(rel: DataFrame) -> bool:
        # rel is distinct and max→min-oriented (a > b).  Star forest ⇔
        # no node appears as a child twice (nc > 1) and no node is both
        # a child and a center (nc ≥ 1 with extra center appearances).
        viol = (
            rel.select(F.col("a").alias("v"), F.lit(1).alias("c"))
            .unionByName(rel.select(F.col("b").alias("v"), F.lit(0).alias("c")))
            .groupBy("v")
            .agg(F.sum("c").alias("nc"), F.count(F.lit(1)).alias("nt"))
            .where(
                (F.col("nc") > 1)
                | ((F.col("nc") >= 1) & (F.col("nt") > F.col("nc")))
            )
        )
        return viol.isEmpty()

    e = (
        edges.select(
            F.greatest("src", "dst").alias("a"), F.least("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rounds = 0
    while not _is_star_forest(e):
        rounds += 1
        if max_rounds is None and rounds > 8:
            # Kiveris et al. prove O(log² n) rounds, so the safety cap
            # is QUADRATIC in the bit length (code-review r6: a
            # 3·log₂ m + 16 cap sat asymptotically below the proven
            # worst case and could raise mid-convergence on a legitimate
            # adversarial graph).  Derived LAZILY (round 12): every
            # measured production input converges in 1–8 rounds, so the
            # common path never pays the edge-count job — the cap is
            # computed only once a fixpoint runs long, from the current
            # (shrunken) edge set plus the 8 rounds already spent, and
            # still bounds a genuine non-termination bug generously.
            bl = max(e.count(), 2).bit_length()
            max_rounds = bl * bl + 16 + rounds
        if max_rounds is not None and rounds > max_rounds:
            raise RuntimeError(
                f"connected_components_twostar: no fixpoint after "
                f"{rounds - 1} rounds (edge set is not yet a star "
                f"forest) — raise max_rounds only if the input is a "
                f"legitimate adversarial graph; the star-forest test is "
                f"the only correct stopping condition"
            )
        # -- large-star: symmetrize, group per node, point larger
        #    neighbors at min(N(u) ∪ {u}) --
        sym = e.select("a", "b").unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mins = (
            sym.groupBy("a")
            .agg(F.min("b").alias("minb"))
            .select("a", F.least("minb", "a").alias("mn"))
        )
        e = (
            sym.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("mn").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        # -- small-star: edges already oriented (a > b); connect the
        #    smaller neighbors and u itself to min(N⁻(u) ∪ {u}) --
        mins = e.groupBy("a").agg(F.min("b").alias("mn"))
        rewired = (
            e.join(mins, "a")
            .where(F.col("b") != F.col("mn"))
            .select(F.col("b").alias("a"), F.col("mn").alias("b"))
            .unionByName(mins.select(F.col("a"), F.col("mn").alias("b")))
        )
        e = (
            rewired.select(
                F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)  # cut the per-round lineage
        )
    # At the fixpoint e is the star graph: one (node, component-min) edge
    # per non-root node; roots label themselves.
    roots = e.groupBy("a").agg(F.min("b").alias("label"))
    return vertices.join(roots, vertices.id == roots.a, "left").select(
        "id", F.coalesce("label", F.col("id")).alias("label")
    )


def pair_component_labels(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """(id, label) over a pair relation's ENDPOINTS only — the
    endpoints-distinct vertex set feeding the two-star fixpoint.  ONE
    definition for every keep-one consumer (the curation ladder, the
    semantic dedup): an item in no pair is trivially its own keeper and
    never enters the fixpoint, and a future change to that rule must
    move every consumer at once (code-review r10; the same
    single-definition discipline as probe_ivf / seeded_shuffle_key)."""
    endpoints = (
        pairs.select(F.col(a).alias("id"))
        .unionByName(pairs.select(F.col(b).alias("id")))
        .distinct()
    )
    return connected_components_twostar(
        endpoints,
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst")),
    )


def near_exact_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, label) two-star component labels over the portable-hash
    near-dup pairs (:func:`q_dedup_near_exact`) — ONE fixpoint per
    ``clearCache`` epoch shared by the curation ladder's keeper choice
    (``text.curated_docs``) and both exact components queries.  The
    two-star loop runs driver-side jobs EAGERLY at construction, so the
    pair-endpoint-sized labels are memoized on their own (memo lifetime:
    caching.py)."""
    return memo_persist(
        spark,
        "near_exact_labels",
        sf_dir,
        lambda: pair_component_labels(q_dedup_near_exact(spark, sf_dir)),
    )


def _component_clusters(labels: DataFrame) -> DataFrame:
    """Shared body of the components queries: from (id, label) over the
    pair endpoints, multi-doc clusters only — ``(doc_id, component_id =
    min doc_id, component_size)``.  A doc in no pair is a singleton
    component, so labeling the endpoints alone loses no output row."""
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("component_size"))
    return (
        labels.join(sizes, "label")
        .where(F.col("component_size") > 1)
        .select(
            F.col("id").alias("doc_id"),
            F.col("label").alias("component_id"),
            "component_size",
        )
    )


@register("q_dedup_components")  # rows-only: iterative graph algorithm
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: the transitive closure of the MinHash-LSH
    pairs via two-star connected components — the step an LLM dedup
    pipeline runs after pair generation, so that A≈B≈C collapses to one
    keeper even when A and C never collided in a band.  (LSH pairs, not
    the rare-shingle pairs: rare-shingle candidacy needs a df=2 shingle,
    which duplicates whose shingles are corpus-common don't have — LSH
    banding finds every identical pair by construction.)  Output: every
    doc in a multi-doc component, its component id (= min doc_id, the
    keeper) and component size."""
    return _component_clusters(pair_component_labels(q_dedup_near(spark, sf_dir)))


def component_walk_ctes(prefix: str = "") -> str:
    """The recursive-CTE reachability walk over ``near_pairs`` —
    ``{prefix}edges`` (symmetrized) → ``{prefix}walk`` (label = every id
    reachable from each seed) → ``{prefix}labels`` (min reachable id per
    doc, i.e. exactly the two-star fixpoint).
    One builder shared by the components oracle AND the corpus-curation
    oracle (code-review r6: the chain was duplicated verbatim under
    renamed CTEs, so a future walk fix could silently diverge the two).
    Callers embed it under ``WITH RECURSIVE`` alongside
    :data:`_NEAR_EXACT_CTES`."""
    e, w, lab = f"{prefix}edges", f"{prefix}walk", f"{prefix}labels"
    return f"""{e} AS (
    SELECT doc_a AS src, doc_b AS dst FROM near_pairs
    UNION ALL
    SELECT doc_b, doc_a FROM near_pairs
),
{w}(id, label) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.dst, w.label FROM {w} w JOIN {e} e ON e.src = w.id
),
{lab} AS (SELECT id, min(label) AS label FROM {w} GROUP BY id)"""


_COMPONENTS_EXACT_ORACLE = f"""
WITH RECURSIVE {_NEAR_EXACT_CTES},
{component_walk_ctes()},
comp_sizes AS (SELECT label, count(*) AS component_size FROM labels GROUP BY label)
SELECT l.id AS doc_id, l.label AS component_id, s.component_size
FROM labels l JOIN comp_sizes s ON s.label = l.label
WHERE s.component_size > 1
"""


@register("q_dedup_components_exact", oracle=_COMPONENTS_EXACT_ORACLE)
def q_dedup_components_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters with a full DuckDB oracle: the transitive closure
    of the PORTABLE-hash LSH pairs (:func:`q_dedup_near_exact`), graded
    end-to-end — the oracle computes the identical pair set, then the
    component labels as a recursive-CTE reachability walk (label = min
    node id reachable; the symmetric edge set makes that exactly the
    two-star fixpoint the Spark side converges to, at any chain length).
    What this adds over :func:`q_dedup_components` is hash-level oracle
    verification for the GRAPH stage of the dedup pipeline, which was
    previously rows-only by transitivity from its xxhash64 input.  The
    labels are the epoch's shared :func:`near_exact_labels`."""
    return _component_clusters(near_exact_labels(spark, sf_dir))


@register("q_dedup_components_twostar", oracle=_COMPONENTS_EXACT_ORACLE)
def q_dedup_components_twostar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters computed by the ALTERNATING TWO-STAR algorithm
    (:func:`connected_components_twostar`) over the same portable-hash
    LSH pairs, graded against the same recursive-CTE reachability oracle
    as :func:`q_dedup_components_exact`.

    Registered when the other components queries still ran min-label
    propagation, which is diameter-bounded: a fixed 10-round budget
    silently mislabels any duplicate chain longer than 10 hops, and a
    crawl's chains at 100 TB can be arbitrarily long.  Two-star is the
    O(log² n)-round MapReduce-model algorithm for that regime and is now
    the one components algorithm, so this name is
    :func:`q_dedup_components_exact` (one fixpoint per epoch serves both
    names and the curation ladder)."""
    return q_dedup_components_exact(spark, sf_dir)


@register(
    "q_dedup_containment",
    oracle=f"""
WITH {_SHINGLES_CTE},
{_RARE_CAND_CTE}
SELECT i.doc_a, i.doc_b,
       round(i.n_common / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE), 6) + 0.0
           AS containment
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.n_common / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE) >= 0.5
""",
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup — C(A,B) = |A∩B| / min(|A|,|B|) over
    3-shingle sets, for the doc-inside-doc duplication Jaccard misses: a
    short document wholly embedded in a long one has Jaccard ≈ |A|/|B|
    (arbitrarily small) but containment = 1.  The standard second metric
    in corpus-dedup sweeps (quote inclusion, boilerplate wrappers,
    truncated re-crawls).

    Candidate generation is the same bucketed rung as
    :func:`q_dedup_jaccard_pairs` — pairs sharing a rare (df = 2)
    shingle, never the corpus pair space — but verification uses the
    set-intersect pattern :func:`q_dedup_near` documents: ONE aggregate
    pass collects each doc's shingle set (per-doc O(doc length) state —
    the same bytes the join form would shuffle as exploded rows), and
    |A∩B| is ``size(array_intersect(...))`` on the two candidate-joined
    sets — replacing two corpus-sized joins + a pair groupBy with two
    candidate-sized lookups.  The ≥ 0.5 gate compares the raw double
    quotient (one IEEE division on identical integers — bit-identical
    across engines) before the display rounding.

    Scale: the memo-shared shingle relation, one doc-keyed aggregation,
    a df-filtered candidate join, candidate-keyed set lookups.
    """
    sh = _doc_shingles(spark, sf_dir)
    sets = sh.groupBy("doc_id").agg(
        F.collect_set("s").alias("sh_set"), F.count(F.lit(1)).alias("n_sh")
    )
    _, cand = _rare_shingle_candidates(sh)
    paired = cand.join(
        sets.select(
            F.col("doc_id").alias("doc_a"),
            F.col("sh_set").alias("set_a"),
            F.col("n_sh").alias("na"),
        ),
        "doc_a",
    ).join(
        sets.select(
            F.col("doc_id").alias("doc_b"),
            F.col("sh_set").alias("set_b"),
            F.col("n_sh").alias("nb"),
        ),
        "doc_b",
    )
    n_common = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    containment = n_common / F.least(F.col("na"), F.col("nb")).cast("double")
    return (
        paired.where(containment >= 0.5)
        .select(
            "doc_a",
            "doc_b",
            (F.round(containment, 6) + F.lit(0.0)).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# Exact substring-SPAN dedup (round 8) — the Lee et al. 2021 layer
# ("Deduplicating Training Data Makes Language Models Better"): report the
# maximal shared token RUNS between document pairs, not just that a pair is
# similar.  Jaccard/SimHash/containment answer "are these docs near-dups?";
# span dedup answers "WHICH tokens are copied, where?" — the question an
# actual substring-removal pass needs.
# ---------------------------------------------------------------------------

_SPAN_K = 5          # shingle width (tokens)
_SPAN_DF_CAP = 8     # drop shingles occurring more often corpus-wide
_SPAN_MIN_TOKENS = 10  # report runs of at least this many shared tokens
# Broadcast the df-capped occurrence keys into the kept-shingle join only
# below this corpus size (footer-probed); the capped key set grows with
# the corpus and must shuffle past it.
_SPAN_OCC_BROADCAST_MAX_DOCS = 100_000

_SPANS_ORACLE = f"""
WITH ptoks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
pos_sh AS (
    -- Shingle keyed by the repo's PORTABLE 60-bit md5 hash (identical
    -- arithmetic in the Spark plan), not the 5-token string: the
    -- occurrence count and cross-doc match compare 8-byte integers.
    SELECT doc_id, e.pos AS pos, e.hs AS hs
    FROM (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(t) - {_SPAN_K - 1}),
                   i -> struct_pack(pos := i,
                                    hs := CAST(concat('0x', substr(md5(
                                        array_to_string(t[i:i+{_SPAN_K - 1}], ' ')
                                    ), 1, 15)) AS BIGINT))
               )) AS e
        FROM ptoks WHERE len(t) >= {_SPAN_K}
    )
),
sdf AS (SELECT hs, count(*) AS occ FROM pos_sh GROUP BY hs),
kept AS (
    SELECT p.doc_id, p.pos, p.hs
    FROM pos_sh p JOIN sdf USING (hs)
    WHERE sdf.occ BETWEEN 2 AND {_SPAN_DF_CAP}
),
matches AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.pos AS pa, b.pos AS pb, a.pos - b.pos AS d
    FROM kept a JOIN kept b ON a.hs = b.hs AND a.doc_id < b.doc_id
),
islands AS (
    SELECT *, pa - row_number() OVER (PARTITION BY doc_a, doc_b, d
                                      ORDER BY pa) AS isl
    FROM matches
)
SELECT doc_a, doc_b,
       CAST(min(pa) AS BIGINT) AS start_a,
       CAST(min(pb) AS BIGINT) AS start_b,
       CAST(max(pa) - min(pa) + {_SPAN_K} AS BIGINT) AS span_tokens
FROM islands
GROUP BY doc_a, doc_b, d, isl
HAVING max(pa) - min(pa) + {_SPAN_K} >= {_SPAN_MIN_TOKENS}
"""


@register("q_dedup_spans", oracle=_SPANS_ORACLE)
def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup: the maximal runs of ≥ {min} tokens
    shared verbatim between two documents, with 1-based start positions
    in each — the span-level report an exact-substring removal pass
    (Lee et al. 2021) consumes, next to the set-level family
    (Jaccard / MinHash / SimHash / containment) that only scores pairs.

    Shape (round-10 hashed/fused rework — ~2× at the K=30 ladder rung):
    positional {k}-token shingles keyed by the repo's PORTABLE 60-bit
    md5 hash (one scan-side explode; the materialized relation and every
    downstream compare carry an 8-byte long, not a ~50-byte string — the
    hash is computed identically in the DuckDB oracle, so even a
    collision is shared and grading stays bit-exact), a hash-keyed
    occurrence count that keeps only 2 ≤ occ ≤ {cap} shingles (the
    ubiquitous-shingle guard every exact-substring dedup uses —
    boilerplate n-grams would otherwise quadratically fan the match
    join; a run interrupted by a capped shingle splits into two reported
    spans, identically in both engines).  Cross-doc matches come from
    ONE groupBy that collects each kept shingle's ≤ {cap} occurrences
    and explodes the doc_a < doc_b pairs in place — replacing the former
    kept ⋈ kept self-join (two more scans + a join shuffle of the same
    relation).  Maximal-run merging is gaps-and-islands per (pair,
    DIAGONAL pa − pb): consecutive positions on one diagonal are one
    verbatim run, and ``pa − row_number()`` within the diagonal is the
    island id.  A run of m consecutive matching shingles is m + {k} − 1
    shared tokens.

    Scale: the explode is scan-side; the occurrence count is a
    map-side-combinable partial agg (hot boilerplate shingles combine
    before the shuffle); the pair-generating collect_list groups ONLY
    kept shingles, so its buffer is bounded by the cap — a billion-row
    boilerplate shingle dies at the count filter, never in a group
    buffer; the match relation is bounded by occ² ≤ {cap}² per kept
    shingle, never the corpus pair space; the islands window partitions
    by (pair, diagonal), which is match-sized.  All-integer arithmetic —
    bit-identical cross-engine.
    """
    from pyspark.sql import Window

    docs = rebalance_if_starved(load_table(spark, sf_dir, "documents"))
    t = F.split(F.col("text"), " ")
    pos_sh = (
        docs.select(
            "doc_id",
            F.explode(
                F.when(
                    F.size(t) >= _SPAN_K,
                    F.transform(
                        F.sequence(F.lit(1), F.size(t) - (_SPAN_K - 1)),
                        lambda i: F.struct(
                            i.alias("pos"),
                            F.conv(
                                F.substring(
                                    F.md5(
                                        F.concat_ws(
                                            " ", F.slice(t, i, _SPAN_K)
                                        )
                                    ),
                                    1,
                                    15,
                                ),
                                16,
                                10,
                            )
                            .cast("long")
                            .alias("hs"),
                        ),
                    ),
                ).otherwise(
                    F.array().cast("array<struct<pos:int,hs:long>>")
                )
            ).alias("e"),
        )
        .select("doc_id", F.col("e.pos").alias("pos"), F.col("e.hs").alias("hs"))
    )
    # One materialization feeds both the occurrence count and the
    # kept-shingle join-back (two lazy branches otherwise re-run the
    # explode).
    pos_sh = memo_persist(spark, "span_pos_shingles", sf_dir, lambda: pos_sh)
    occ_keys = (
        pos_sh.groupBy("hs")
        .agg(F.count(F.lit(1)).alias("occ"))
        .where((F.col("occ") >= 2) & (F.col("occ") <= _SPAN_DF_CAP))
        .select("hs")
    )
    # Size-dispatched build side (round 13): with BOTH sides of this join
    # under the broadcast threshold at the tested SFs, AQE's runtime
    # choice raced on which shuffle stage finished first — the cached
    # islands relation's final plan flapped BuildLeft (pos_sh broadcast!)
    # vs BuildRight between identical runs, which is both the wrong side
    # when it lands on pos_sh AND nondeterministic plan text (the PLANS.md
    # freshness gate read stale on a coin flip).  Below the footer-probed
    # bound the hint pins the semantically small side — the df-capped
    # occurrence keys — so pos_sh never shuffles and dropped shingles die
    # map-side; above it, or when the footer is unreadable and the size
    # unknown, the hint is withheld (the capped key set may be
    # corpus-scale) and the planner picks the shuffle strategy.
    from ..sources.readers import parquet_num_rows

    _nd = parquet_num_rows(sf_dir, "documents")
    if _nd is not None and _nd <= _SPAN_OCC_BROADCAST_MAX_DOCS:
        occ_keys = F.broadcast(occ_keys)
    kept = pos_sh.join(occ_keys, "hs")
    grouped = kept.groupBy("hs").agg(
        F.collect_list(F.struct("doc_id", "pos")).alias("os")
    )
    pairs = grouped.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        "os",
                        lambda a: F.transform(
                            "os",
                            lambda b: F.struct(a.alias("a"), b.alias("b")),
                        ),
                    )
                ),
                lambda p: p["a"]["doc_id"] < p["b"]["doc_id"],
            )
        ).alias("p")
    )
    matches = pairs.select(
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.b.doc_id").alias("doc_b"),
        F.col("p.a.pos").alias("pa"),
        F.col("p.b.pos").alias("pb"),
        (F.col("p.a.pos") - F.col("p.b.pos")).alias("d"),
    )
    w = Window.partitionBy("doc_a", "doc_b", "d").orderBy("pa")
    islands = matches.withColumn("isl", F.col("pa") - F.row_number().over(w))
    return (
        islands.groupBy("doc_a", "doc_b", "d", "isl")
        .agg(
            F.min("pa").cast("long").alias("start_a"),
            F.min("pb").cast("long").alias("start_b"),
            (F.max("pa") - F.min("pa") + _SPAN_K).cast("long").alias(
                "span_tokens"
            ),
        )
        .where(F.col("span_tokens") >= _SPAN_MIN_TOKENS)
        .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
    )


if q_dedup_spans.__doc__:  # absent under python -OO
    q_dedup_spans.__doc__ = q_dedup_spans.__doc__.format(
        min=_SPAN_MIN_TOKENS, k=_SPAN_K, cap=_SPAN_DF_CAP
    )


# ---------------------------------------------------------------------------
# Exact substring REMOVAL (round 9) — the rewrite pass the span report
# exists to feed (VERDICT r8 "what's missing" #1).  Lee et al. 2021's
# pipeline ends by CUTTING each duplicated span from every occurrence but
# one and re-emitting the corpus; q_dedup_spans only reported.
# ---------------------------------------------------------------------------

# Interval-merge CTEs shared by the rewrite and audit oracles, appended
# after the span report.  Concatenated, never .format()ed — the span CTEs
# upstream may grow regex/brace content (the export-oracle lesson,
# code-review r8).
_SPAN_IV_CTES = """
iv AS (
    -- Non-keeper removal intervals: the report guarantees doc_a < doc_b,
    -- so doc_a IS the min-doc_id keeper (the curation keeper convention)
    -- and the cut lands on doc_b's occurrence.  1-based, inclusive.
    SELECT doc_b AS doc_id, start_b AS s, start_b + span_tokens - 1 AS e
    FROM spans
),
marked AS (
    SELECT doc_id, s, e,
           max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS prev_max
    FROM iv
),
islands AS (
    -- Overlap merge (gaps-and-islands on the running max end): a doc's
    -- intervals can overlap when it duplicates several keepers, and
    -- cutting token positions is idempotent — merged measure, not sum.
    SELECT doc_id, s, e,
           sum(CASE WHEN prev_max IS NULL OR s > prev_max
                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s, e
                     ROWS UNBOUNDED PRECEDING) AS g
    FROM marked
),
merged AS (
    SELECT doc_id, min(s) AS s, max(e) AS e
    FROM islands GROUP BY doc_id, g
)
"""

_SPAN_REWRITE_ORACLE = (
    f"WITH spans AS ({_SPANS_ORACLE}),"
    + _SPAN_IV_CTES
    + """,
per_doc AS (
    SELECT doc_id,
           list(struct_pack(s := s, e := e)) AS ivs,
           count(*) AS spans_merged,
           sum(e - s + 1) AS tokens_removed
    FROM merged GROUP BY doc_id
),
docs_t AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
kept AS (
    SELECT d.doc_id, p.spans_merged, p.tokens_removed,
           list_transform(
               list_filter(
                   list_transform(generate_series(1, len(d.t)),
                                  i -> struct_pack(pos := i, tok := d.t[i])),
                   q -> len(list_filter(p.ivs,
                                        v -> v.s <= q.pos AND q.pos <= v.e)) = 0
               ),
               q -> q.tok
           ) AS kt
    FROM docs_t d JOIN per_doc p USING (doc_id)
)
SELECT doc_id,
       CAST(spans_merged AS BIGINT) AS spans_merged,
       CAST(tokens_removed AS BIGINT) AS tokens_removed,
       CAST(len(kt) AS BIGINT) AS new_tokens,
       -- DuckDB's array_to_string yields NULL for the empty list; the
       -- rewritten text of a fully-cut doc is the empty STRING (what a
       -- re-emitted corpus stores), matching Spark's concat_ws.
       coalesce(array_to_string(kt, ' '), '') AS new_text
FROM kept
"""
)


# Broadcast the rewrite's per-doc interval lists only while the raw
# interval relation stays below this bound (~a few hundred MB of structs);
# beyond it the shuffled hash join is the right plan for a heavily
# duplicated corpus.  Equality of both join paths is pytest-pinned.
_REWRITE_BROADCAST_MAX_INTERVALS = 5_000_000


def _span_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per raw non-keeper removal interval with its merge-island
    id — memo-persisted because the rewrite consumes its merge while the
    audit also counts its raw rows, and both graded queries share it."""
    from pyspark.sql import Window

    def build() -> DataFrame:
        spans = q_dedup_spans(spark, sf_dir)
        iv = spans.select(
            F.col("doc_b").alias("doc_id"),
            F.col("start_b").alias("s"),
            (F.col("start_b") + F.col("span_tokens") - 1).alias("e"),
        )
        w_prev = (
            Window.partitionBy("doc_id")
            .orderBy("s", "e")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        w_run = (
            Window.partitionBy("doc_id")
            .orderBy("s", "e")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return (
            iv.withColumn("prev_max", F.max("e").over(w_prev))
            .withColumn(
                "g",
                F.sum(
                    F.when(
                        F.col("prev_max").isNull()
                        | (F.col("s") > F.col("prev_max")),
                        1,
                    ).otherwise(0)
                ).over(w_run),
            )
            .drop("prev_max")
        )

    return memo_persist(spark, "span_rewrite_islands", sf_dir, build)


_ISLANDS_COUNT: dict[tuple[str, str], tuple[DataFrame, int]] = {}


def _span_islands_count(spark: SparkSession, sf_dir: str) -> int:
    """Row count of the memoized island relation, reused while
    :func:`_span_islands` returns the same handle, so the rewrite's
    broadcast size dispatch costs ONE cache-scan job per memo epoch
    instead of one per query build (round-10 hygiene for the only
    dispatch site without a metadata-only ``parquet_num_rows`` path —
    the relation is derived, not a parquet file).  A new handle (a
    clearCache epoch, or ``memo_unpersist``) is a rebuilt report that may
    cross the broadcast bound in either direction, so it is counted
    again (code-review r10; plan choice only, results unaffected)."""
    islands = _span_islands(spark, sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _ISLANDS_COUNT.get(key)
    if hit is None or hit[0] is not islands:
        hit = (islands, islands.count())
        _ISLANDS_COUNT[key] = hit
    return hit[1]


def _span_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The overlap-MERGED removal intervals — one row per (doc_id,
    island) with its [s, e] hull.  ONE definition for every consumer of
    the merge rule (the rewrite, its audit, and the rewritten export
    capstone): the token-conservation pin in tests/test_span_rewrite.py
    holds only while all three compute the identical merge
    (code-review r10: the aggregate existed in three copies)."""
    return (
        _span_islands(spark, sf_dir)
        .groupBy("doc_id", "g")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )


@register("q_dedup_span_rewrite", oracle=_SPAN_REWRITE_ORACLE)
def q_dedup_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring REMOVAL — the rewrite pass that consumes the
    ``q_dedup_spans`` report and actually deduplicates the corpus, the
    step a training-data pipeline ships (Lee et al. 2021: cut each
    duplicated span from every occurrence except one).  Keeper = the
    min-doc_id side of each reported pair (``doc_a`` by the report's
    ``doc_a < doc_b`` construction — the same convention as the curation
    keeper), so the cut always lands on ``doc_b``'s occurrence; one doc
    may collect intervals from MANY pairs, which are overlap-merged
    (gaps-and-islands on the running max end) before cutting so removal
    is a set measure, not a double-counting sum.  Emits one row per
    TOUCHED doc: merged-interval count, tokens removed, and the
    rewritten text (tokens outside every merged interval, original
    order).  Untouched docs pass through a real export unchanged — the
    inner join keeps the graded relation report-sized.

    Scale: the interval relation is span-report-sized (bounded by the
    occurrence cap, never corpus pairs); windows partition per doc_id
    over per-doc interval counts; the merged per-doc interval lists join
    back to the documents scan so the corpus is touched by exactly one
    pass — a scan-side array filter per doc, no explode of the corpus
    into tokens.  The join-back is size-DISPATCHED (the same
    data-dependent dispatch as the knn kernel / GEMM tile count): the
    broadcast hint applies only while the merged-interval relation is
    small (a metadata-cheap count on the memoized islands — one row per
    raw interval bounds it from above); a heavily duplicated corpus
    whose report outgrows :data:`_REWRITE_BROADCAST_MAX_INTERVALS` falls
    back to the shuffled hash join, which is the correct plan when both
    sides are big.  All-integer positions — bit-identical cross-engine,
    including the all-tokens-removed edge (empty string in both
    engines)."""
    merged = _span_merged(spark, sf_dir)
    per_doc = merged.groupBy("doc_id").agg(
        # Sorted so the cut below can slice the GAPS between intervals —
        # collect_list order is partition-arrival order, not positional.
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("ivs"),
        F.count(F.lit(1)).cast("long").alias("spans_merged"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("tokens_removed"),
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    )
    # Size dispatch: the upper-bound count is a deliberate (tiny) Spark
    # job — a scan of the memoized island cache, run once per memo epoch via
    # _span_islands_count, never a recompute of the span pipeline.
    if _span_islands_count(spark, sf_dir) <= _REWRITE_BROADCAST_MAX_INTERVALS:
        per_doc = F.broadcast(per_doc)
    joined = docs.join(per_doc, "doc_id")
    # Cut in O(tokens + intervals): the merged intervals are DISJOINT and
    # sorted, so the kept tokens are exactly the concatenation of the k+1
    # gap slices t[1..s1-1], t[e1+1..s2-1], …, t[ek+1..n] — replacing the
    # r9 per-token F.exists scan of the interval list (O(tokens·intervals),
    # the one ladder whose ratio grew with K; BASELINE.md r9).
    n = F.size(F.col("t"))
    gap_starts = F.concat(
        F.array(F.lit(1)),
        F.transform(F.col("ivs"), lambda v: v["e"] + 1),
    )
    gap_ends = F.concat(
        F.transform(F.col("ivs"), lambda v: v["s"] - 1),
        F.array(n),
    )
    kept = F.flatten(
        F.zip_with(
            gap_starts,
            gap_ends,
            lambda a, b: F.slice(
                F.col("t"), a, F.greatest(b - a + 1, F.lit(0))
            ),
        )
    )
    return joined.select(
        "doc_id",
        "spans_merged",
        "tokens_removed",
        F.size(kept).cast("long").alias("new_tokens"),
        F.concat_ws(" ", kept).alias("new_text"),
    )


_SPAN_AUDIT_ORACLE = (
    f"WITH spans AS ({_SPANS_ORACLE}),"
    + _SPAN_IV_CTES
    + """
SELECT CAST((SELECT count(DISTINCT doc_id) FROM merged) AS BIGINT)
           AS docs_touched,
       CAST((SELECT count(*) FROM iv) AS BIGINT) AS spans_raw,
       CAST((SELECT count(*) FROM merged) AS BIGINT) AS spans_merged,
       CAST((SELECT coalesce(sum(e - s + 1), 0) FROM merged) AS BIGINT)
           AS tokens_removed
"""
)


@register("q_dedup_span_rewrite_audit", oracle=_SPAN_AUDIT_ORACLE)
def q_dedup_span_rewrite_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rewrite pass's one-row audit — what a pipeline run logs:
    docs touched, raw non-keeper span occurrences, merged intervals
    actually cut, and total tokens removed (merged measure; equals the
    per-doc ``tokens_removed`` sum of ``q_dedup_span_rewrite`` by
    construction — the conservation property pinned in
    tests/test_span_rewrite.py).  Shares the memoized island relation
    with the rewrite, so grading both costs one span-report
    computation."""
    islands = _span_islands(spark, sf_dir)
    merged = _span_merged(spark, sf_dir)
    m = merged.agg(
        F.countDistinct("doc_id").cast("long").alias("docs_touched"),
        F.count(F.lit(1)).cast("long").alias("spans_merged"),
        F.coalesce(F.sum(F.col("e") - F.col("s") + 1), F.lit(0))
        .cast("long")
        .alias("tokens_removed"),
    )
    r = islands.agg(F.count(F.lit(1)).cast("long").alias("spans_raw"))
    return m.crossJoin(r).select(
        "docs_touched", "spans_raw", "spans_merged", "tokens_removed"
    )


_SEMANTIC_ORACLE = """
WITH RECURSIVE epairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_inner_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                             list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
          / (sqrt(list_inner_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                                     list_transform(a.embedding, x -> CAST(x AS DOUBLE))))
             * sqrt(list_inner_product(list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
                                       list_transform(b.embedding, x -> CAST(x AS DOUBLE)))))
          >= 0.45
),
eedges AS (
    SELECT vec_a AS src, vec_b AS dst FROM epairs
    UNION ALL
    SELECT vec_b, vec_a FROM epairs
),
ewalk(id, label) AS (
    SELECT src, src FROM eedges
    UNION
    SELECT e.dst, w.label FROM ewalk w JOIN eedges e ON e.src = w.id
),
elabels AS (SELECT id, min(label) AS label FROM ewalk GROUP BY id),
ekeep AS (
    SELECT label, min(id) AS keeper, count(*) AS cluster_size
    FROM elabels GROUP BY label
)
SELECT l.id AS vec_id,
       k.keeper AS keeper_vec_id,
       CAST(k.cluster_size AS BIGINT) AS cluster_size
FROM elabels l JOIN ekeep k USING (label)
WHERE l.id <> k.keeper
"""


@register("q_dedup_semantic", oracle=_SEMANTIC_ORACLE)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup keep-one — the composition a pipeline actually
    ships from the embedding rung (round 10): the cos ≥ 0.45 pair
    report (:func:`q_dedup_embedding`, blocked float64 GEMM tiles)
    feeds the two-star connected-components fixpoint, each semantic
    cluster keeps its min vec_id, and the emitted relation is the DROP
    LIST — one row per non-keeper with its keeper and cluster size,
    exactly what the corpus export anti-joins against (the same
    keeper convention as the MinHash curation stage, applied to the
    paraphrase clusters shingle methods cannot see).

    Scale: pairs are tile-blocked (never a Catalyst pair relation),
    components contract in O(log² n) rounds over the pair-sized edge
    set, and every relation past the GEMM is pair-endpoint-sized —
    vertices are pair ENDPOINTS only (a vector in no pair keeps itself
    trivially and never enters the fixpoint).  Exact oracle: the same
    pair predicate, then the recursive-CTE reachability walk (label =
    min reachable id — exactly the two-star fixpoint)."""
    # Memoized: the GEMM-backed pair report fans into THREE lazy
    # branches (the edge set twostar checkpoints, the endpoint vertex
    # relation, and the final labels join) — unpersisted, each collect
    # would recompute the tile pass; the report itself is pair-sized
    # (144 rows at sf0.1), so the persist is free.
    pairs = memo_persist(
        spark,
        "semantic_pairs",
        sf_dir,
        lambda: q_dedup_embedding(spark, sf_dir).select("vec_a", "vec_b"),
    )
    labels = pair_component_labels(pairs, a="vec_a", b="vec_b")
    keepers = labels.groupBy("label").agg(
        F.min("id").alias("keeper_vec_id"),
        F.count(F.lit(1)).cast("long").alias("cluster_size"),
    )
    return (
        labels.join(keepers, "label")
        .where(F.col("id") != F.col("keeper_vec_id"))
        .select(
            F.col("id").alias("vec_id"), "keeper_vec_id", "cluster_size"
        )
    )


# ---------------------------------------------------------------------------
# Candidate-generator cross-audit (round 10) — the banding-quality
# measurement a production dedup pipeline runs before trusting LSH.
#
# The engine ships two independent near-dup candidate generators over the
# same 3-shingle space: MinHash-LSH banding (probabilistic — the 8×4
# S-curve can MISS a true pair whose every band disagrees) and the
# rare-shingle rung (deterministic, but blind to pairs sharing no df=2
# shingle).  Both verify candidates with the same exact Jaccard ≥ 0.8.
# This one-row audit full-outer-joins the two verified pair sets and
# reports the overlap, each side's exclusive finds, and LSH's recall
# against the rare-shingle set in exact integer basis points — the
# number that tells an operator whether the banding parameters hold on
# THEIR corpus before a 100 TB dedup run commits to them.
# ---------------------------------------------------------------------------

_LSH_RECALL_ORACLE = f"""
WITH {_NEAR_EXACT_CTES},
{_rare_cand_cte("r").strip()},
rare_pairs AS (
    SELECT i.doc_a, i.doc_b
    FROM rinter i
    JOIN rsizes sa ON sa.doc_id = i.doc_a
    JOIN rsizes sb ON sb.doc_id = i.doc_b
    WHERE i.n_common / CAST(sa.n_sh + sb.n_sh - i.n_common AS DOUBLE) >= 0.8
),
tagged AS (
    SELECT (l.doc_a IS NOT NULL) AS in_lsh,
           (r.doc_a IS NOT NULL) AS in_rare
    FROM (SELECT doc_a, doc_b FROM near_pairs) l
    FULL JOIN rare_pairs r ON l.doc_a = r.doc_a AND l.doc_b = r.doc_b
),
counts AS (
    SELECT CAST(coalesce(sum(CASE WHEN in_lsh THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_lsh,
           CAST(coalesce(sum(CASE WHEN in_rare THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_rare,
           CAST(coalesce(sum(CASE WHEN in_lsh AND in_rare THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_both,
           CAST(coalesce(sum(CASE WHEN in_lsh AND NOT in_rare THEN 1 ELSE 0 END), 0) AS BIGINT) AS lsh_only,
           CAST(coalesce(sum(CASE WHEN in_rare AND NOT in_lsh THEN 1 ELSE 0 END), 0) AS BIGINT) AS rare_only
    FROM tagged
)
SELECT n_lsh, n_rare, n_both, lsh_only, rare_only,
       CAST(CASE WHEN n_rare = 0 THEN -1
                 ELSE (10000 * n_both) // n_rare END AS BIGINT) AS recall_vs_rare_bp
FROM counts
"""


@register("q_dedup_lsh_recall", oracle=_LSH_RECALL_ORACLE)
def q_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row cross-audit of the two near-dup candidate generators
    (module note above): verified Jaccard-≥0.8 pairs found by MinHash-
    LSH banding vs by the deterministic rare-shingle rung, their
    overlap, each side's exclusive finds, and LSH's recall against the
    rare-shingle set in exact integer basis points (-1 when the rare
    side is empty).

    Scale: both pair relations are candidate-sized (never the corpus
    pair space — each generator's own scale argument applies) and the
    full-outer join runs on the pair key over those match-sized
    relations; the audit's output is ONE row.  Reuses the memoized
    shingle + minhash-signature relations, so auditing costs one
    verification pass per generator, not a corpus re-derivation — at
    100 TB this runs on a sample anyway (the S-curve is corpus-shape-
    dependent, which is exactly why the audit exists as a first-class
    query)."""
    sh = _doc_shingles(spark, sf_dir)
    sizes, cand = _rare_shingle_candidates(sh)
    rare = _jaccard_verify(cand, sh, sizes, min_jaccard=0.8).select(
        "doc_a", "doc_b"
    )
    lsh = q_dedup_near_exact(spark, sf_dir).select("doc_a", "doc_b")
    tagged = (
        lsh.withColumn("in_lsh", F.lit(True))
        .join(rare.withColumn("in_rare", F.lit(True)), ["doc_a", "doc_b"], "full")
        .select(
            F.coalesce("in_lsh", F.lit(False)).alias("in_lsh"),
            F.coalesce("in_rare", F.lit(False)).alias("in_rare"),
        )
    )
    cnt = lambda c: F.coalesce(  # noqa: E731 — local aggregation shorthand
        F.sum(F.when(c, 1).otherwise(0)), F.lit(0)
    ).cast("long")
    counts = tagged.agg(
        cnt(F.col("in_lsh")).alias("n_lsh"),
        cnt(F.col("in_rare")).alias("n_rare"),
        cnt(F.col("in_lsh") & F.col("in_rare")).alias("n_both"),
        cnt(F.col("in_lsh") & ~F.col("in_rare")).alias("lsh_only"),
        cnt(F.col("in_rare") & ~F.col("in_lsh")).alias("rare_only"),
    )
    # Pure INTEGER arithmetic (ADVICE r10): both engines compute
    # (10000 * n_both) div n_rare on BIGINTs, so the "exact basis points"
    # claim holds at any pair count — not just while the float64 mantissa
    # happens to cover 10000 * n_both.
    return counts.withColumn(
        "recall_vs_rare_bp",
        F.when(F.col("n_rare") == 0, F.lit(-1))
        .otherwise(F.expr("(10000 * n_both) div n_rare"))
        .cast("long"),
    )
