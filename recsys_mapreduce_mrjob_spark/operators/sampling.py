"""Deterministic sampling & splitting — training-data pipeline primitives.

A 100 TB corpus is never trained on wholesale: it is split (train/valid/
test), downsampled, and rebalanced per stratum.  The one hard requirement
is DETERMINISM — the same document must land in the same split on every
run, every retry, every speculative task, and from every engine that
reads the corpus.  ``rand()``-based sampling (and Spark's ``sample``/
``sampleBy``, which are seeded-rand per partition and therefore change
under repartitioning) all fail that bar.

The standard fix, used here: a content-keyed hash bucket —
``int(hex(md5(key || salt))[:8]) mod 100`` — pure arithmetic on the key,
so it is engine-portable (the DuckDB oracle computes the identical
bucket: md5 is md5 everywhere) and stable under any physical re-layout.
The reference repo has no sampling machinery; this is north-star surface
beyond it (same register/oracle contract as every other query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import memo_persist
from ..registry import register
from ..sources.readers import load_table

_SALT = ":split"


def hash_bucket(key, n_buckets: int = 100, salt: str = _SALT):
    """Deterministic bucket in [0, n_buckets): first 8 md5 hex digits of
    ``str(key) || salt`` as an integer, mod ``n_buckets``.  Engine-portable
    (identical arithmetic runs in the DuckDB oracle) and collision-free in
    intent: the salt decorrelates this bucketing from any other hash use
    of the same key."""
    hex8 = F.substring(F.md5(F.concat(key.cast("string"), F.lit(salt))), 1, 8)
    return F.pmod(F.conv(hex8, 16, 10).cast("bigint"), F.lit(n_buckets))


def bucket_sql(key: str = "doc_id", salt: str = _SALT, n_buckets: int = 100) -> str:
    """DuckDB twin of :func:`hash_bucket` — ONE definition feeding every
    oracle (code-review r6: the ':split' and ':mix' variants embedded the
    arithmetic as separate literals, so changing a salt or the bucket
    form on one engine but not the other would silently diverge)."""
    return (
        f"CAST(concat('0x', substr(md5(concat(CAST({key} AS VARCHAR), "
        f"'{salt}')), 1, 8)) AS BIGINT) % {n_buckets}"
    )


_BUCKET_SQL = bucket_sql()


@register(
    "q_sample_split",
    oracle=f"""
SELECT doc_id,
       {_BUCKET_SQL} AS bucket,
       CASE WHEN {_BUCKET_SQL} < 90 THEN 'train'
            WHEN {_BUCKET_SQL} < 95 THEN 'valid'
            ELSE 'test' END AS split
FROM documents
""",
)
def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90/5/5 train/valid/test assignment for every document — the split
    is a pure function of doc_id, so it survives retries, re-partitioning
    and engine migration (the oracle derives the IDENTICAL assignment
    from the same md5 arithmetic).  Scale shape: one scan projection, no
    shuffle at all."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = hash_bucket(F.col("doc_id"))
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 90, "train")
        .when(bucket < 95, "valid")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "q_sample_stratified",
    oracle=f"""
WITH assigned AS (
    SELECT doc_id, lang, n_chars, {_BUCKET_SQL} AS bucket
    FROM documents
),
kept AS (
    SELECT * FROM assigned
    WHERE bucket < (CASE WHEN lang = 'en' THEN 25 ELSE 100 END)
)
SELECT lang,
       count(*) AS n_kept,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM kept
GROUP BY lang
""",
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling: the majority language ('en') is kept at
    25%, every other stratum wholesale — the rebalancing step of a
    multilingual training mix.  Same deterministic bucket, so the kept
    set is reproducible row-for-row; the aggregate is the audit a
    pipeline logs after rebalancing.  Scale shape: scan projection +
    filter (no shuffle) feeding a languages-sized aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = hash_bucket(F.col("doc_id"))
    rate = F.when(F.col("lang") == "en", 25).otherwise(100)
    return (
        docs.select("doc_id", "lang", "n_chars", bucket.alias("bucket"))
        .where(F.col("bucket") < rate)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# Weighted sampling (Efraimidis–Spirakis A-ES): each row draws a
# deterministic uniform u from its key hash and gets priority
# ln(u)/w — the top-N by priority is a weighted sample without
# replacement, inclusion probability increasing in w.  The priority is
# ROUNDED to 6 decimals before ranking (doc_id tie-break): libm ln may
# differ by 1 ulp across engines, and ranking on the rounded value makes
# the selected set deterministic cross-engine.
_WSAMPLE_SALT = ":wsample"
_WSAMPLE_N = 100

_WSAMPLE_U_SQL = (
    "(CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), ':wsample')), 1, 8))"
    " AS BIGINT) + 1) / 4294967297.0"
)


@register(
    "q_sample_weighted",
    oracle=f"""
WITH keyed AS (
    SELECT doc_id, lang, n_chars,
           round(ln({_WSAMPLE_U_SQL}) / n_chars, 6) + 0.0 AS priority
    FROM documents
)
SELECT doc_id, lang, n_chars, priority
FROM keyed
ORDER BY priority DESC, doc_id ASC
LIMIT {_WSAMPLE_N}
""",
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample of 100 documents, weight = length (``n_chars``) —
    the quality/length-weighted draw a training-data mix uses to
    up-weight substantive documents.  A-ES priorities make it a true
    weighted sample WITHOUT replacement, yet fully deterministic: the
    uniform comes from the row's own key hash, so the same corpus
    yields the same sample on every run, engine, and physical layout.
    Scale shape: scan projection + TakeOrderedAndProject (per-partition
    heaps, no full sort, no shuffle of the corpus).
    """
    docs = load_table(spark, sf_dir, "documents")
    hex8 = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(_WSAMPLE_SALT))), 1, 8
    )
    u = (F.conv(hex8, 16, 10).cast("bigint") + 1) / F.lit(4294967297.0)
    priority = F.round(F.log(u) / F.col("n_chars"), 6) + F.lit(0.0)
    return (
        docs.select("doc_id", "lang", "n_chars", priority.alias("priority"))
        .orderBy(F.desc("priority"), F.asc("doc_id"))
        .limit(_WSAMPLE_N)
    )


@register(
    "q_sample_reservoir_per_lang",
    oracle=f"""
WITH keyed AS (
    SELECT doc_id, lang, n_chars,
           round(ln({_WSAMPLE_U_SQL}) / n_chars, 6) + 0.0 AS priority
    FROM documents
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY lang
                                 ORDER BY priority DESC, doc_id ASC) AS rn
    FROM keyed
)
SELECT doc_id, lang, n_chars, priority, rn AS sample_rank
FROM ranked WHERE rn <= 20
""",
)
def q_sample_reservoir_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum weighted reservoir: the top-20 A-ES priorities WITHIN
    each language — the distributed, deterministic equivalent of keeping
    a 20-slot reservoir per stratum while streaming the corpus (same
    inclusion law as ``q_sample_weighted``, applied per group).  Scale
    shape: scan projection + one window shuffled on the stratum key;
    partial TakeOrdered per partition is the AQE-era physical form."""
    docs = load_table(spark, sf_dir, "documents")
    hex8 = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(_WSAMPLE_SALT))), 1, 8
    )
    u = (F.conv(hex8, 16, 10).cast("bigint") + 1) / F.lit(4294967297.0)
    priority = F.round(F.log(u) / F.col("n_chars"), 6) + F.lit(0.0)
    keyed = docs.select("doc_id", "lang", "n_chars", priority.alias("priority"))
    w = Window.partitionBy("lang").orderBy(F.desc("priority"), F.asc("doc_id"))
    return (
        keyed.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .where(F.col("sample_rank") <= 20)
    )


# Mixture reweighting (round 6): target language shares in basis points.
# Integer weights keep every downstream rate computation in EXACT
# integer arithmetic (DECIMAL(38,0) on the Spark side, HUGEINT in the
# oracle) — no float ratio ever decides a row's fate (a 1-ulp libm
# difference at a keep/drop boundary would silently diverge the kept set
# across engines).
_MIX_TARGET_BP = {"en": 4000, "de": 1500, "es": 1500, "fr": 1500, "zh": 1500}
_MIX_SALT = ":mix"

def tokenized_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (doc_id, lang, n_tokens) over non-empty documents — ONE
    cached tokenize scan shared by every consumer (q_mixture_resample's
    stats/filter fan-out AND q_pack_blocks' two prefix-sum phases;
    code-review r6: separate per-query memo entries cached the same
    corpus-sized relation twice)."""
    from ..functions.textfns import token_count

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return docs.select(
            "doc_id",
            "lang",
            token_count(F.col("text")).cast("long").alias("n_tokens"),
        ).where(F.col("n_tokens") > 0)

    return memo_persist(spark, "tokenized_per_doc", sf_dir, build)


def mixture_rates(lang_stats: DataFrame) -> DataFrame:
    """Per-stratum keep-rate in basis points over (lang, toks, w_bp):
    ``rate_bp(l) = min_m floor(10000·toks_m·w_l / (w_m·toks_l))`` —
    exact integer arithmetic throughout (no float ratio ever decides a
    row's fate).  The products run in DECIMAL(38,0) (code-review r6: an
    int64 product wraps negative past ~9.2e10 tokens per stratum — well
    inside the 100 TB regime — silently dropping the stratum, while the
    DuckDB oracle computes in HUGEINT); the quotient is ≤ 10000 so the
    final cast back to BIGINT is always safe.  The bottleneck stratum's
    rate is exactly 10000; property-pinned against Fraction arithmetic
    in tests/test_scale_knobs.py including past-int64 magnitudes."""
    l = lang_stats.alias("l")
    m = lang_stats.alias("m")
    # The per-PAIR quotient can itself exceed int64 (a huge stratum m
    # against a tiny stratum l), and ``div`` narrows its result to long
    # — so the cap must hit the NUMERATOR, in decimal, BEFORE the
    # division: min(⌊num/den⌋, 10000) = ⌊least(num, 10000·den)/den⌋,
    # and the m=l pair contributes exactly 10000, so the true min is
    # always ≤ 10000 and the clamp never changes the result — it only
    # keeps every intermediate quotient inside int64.
    pair_rate = F.expr(
        "least(10000 * CAST(m.toks AS DECIMAL(38,0)) * l.w_bp,"
        " 10000 * CAST(m.w_bp AS DECIMAL(38,0)) * l.toks)"
        " div (CAST(m.w_bp AS DECIMAL(38,0)) * l.toks)"
    )
    return (
        l.join(F.broadcast(m))
        .select(F.col("l.lang").alias("lang"), pair_rate.alias("pr"))
        .groupBy("lang")
        .agg(F.min("pr").alias("rate_bp"))
    )


_MIX_BUCKET_SQL = bucket_sql(salt=_MIX_SALT, n_buckets=10000)
_MIX_W_SQL = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_TARGET_BP.items())
    + " ELSE 0 END"
)


@register(
    "q_mixture_resample",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, tok
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    WHERE tok <> ''
),
per_doc AS (
    SELECT d.doc_id, d.lang, count(*) AS n_tokens
    FROM documents d JOIN toks t ON t.doc_id = d.doc_id
    GROUP BY d.doc_id, d.lang
),
lang_stats AS (
    -- zero-weight strata (languages outside the target mix) drop out
    -- here: they keep nothing, and excluding them keeps every divisor
    -- in the rate arithmetic nonzero.
    SELECT lang, {_MIX_W_SQL} AS w_bp, sum(n_tokens) AS toks
    FROM per_doc GROUP BY lang
    HAVING {_MIX_W_SQL} > 0
),
rates AS (
    SELECT l.lang,
           CAST(min((10000 * m.toks * l.w_bp) // (m.w_bp * l.toks))
                AS BIGINT) AS rate_bp
    FROM lang_stats l CROSS JOIN lang_stats m
    GROUP BY l.lang
),
kept AS (
    SELECT p.doc_id, p.lang, p.n_tokens, r.rate_bp
    FROM per_doc p JOIN rates r ON r.lang = p.lang
    WHERE {_MIX_BUCKET_SQL} < r.rate_bp
)
SELECT lang,
       max(rate_bp) AS rate_bp,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS kept_tokens
FROM kept
GROUP BY lang
""",
)
def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture reweighting — downsample each language stratum so
    the kept corpus hits the TARGET token shares (en 40%, de/es/fr/zh
    15% each) while keeping the largest corpus those shares allow: the
    bottleneck stratum (smallest actual/target ratio) is kept at 100%
    and every other stratum's keep-rate scales down proportionally.

    Cross-engine exactness is the design constraint: the keep-rate in
    basis points is ``min_m floor(10000·toks_m·w_l / (w_m·toks_l))`` —
    the min over strata of an INTEGER product/division (DECIMAL(38,0)
    products with the cap clamped into the numerator before the
    long-narrowing ``div`` — see :func:`mixture_rates`), which equals
    floor(10000·min_m(toks_m/w_m)·w_l/toks_l) with no float in sight — and the per-doc keep decision is the
    deterministic md5 bucket (mod 10000) against that integer rate.  The
    same-keyed sampling survives retries and re-partitioning
    (module-level note).  Scale shape: one token-count aggregation over
    the corpus (the same exchange every curation audit pays), a
    languages-sized stats relation crossed with itself (≤ |langs|² rows —
    metadata, not data), broadcast back as the per-stratum rate, then a
    scan-side filter and a languages-sized audit aggregate."""
    # Memoized and SHARED with q_pack_blocks: per_doc fans into the
    # stratum-stats aggregate AND the keep-filter — unpersisted, the
    # tokenize scan runs twice.
    per_doc = tokenized_per_doc(spark, sf_dir)
    w_bp = F.coalesce(
        *[
            F.when(F.col("lang") == k, F.lit(v))
            for k, v in _MIX_TARGET_BP.items()
        ],
        F.lit(0),
    )
    lang_stats = (
        per_doc.groupBy("lang")
        .agg(F.sum("n_tokens").alias("toks"))
        .withColumn("w_bp", w_bp)
        .where(F.col("w_bp") > 0)  # zero-weight strata keep nothing
    )
    rates = mixture_rates(lang_stats)
    bucket = hash_bucket(F.col("doc_id"), n_buckets=10000, salt=_MIX_SALT)
    kept = (
        per_doc.join(F.broadcast(rates), "lang")
        .where(bucket < F.col("rate_bp"))
    )
    return kept.groupBy("lang").agg(
        F.max("rate_bp").alias("rate_bp"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("kept_tokens"),
    )


_TEMP_SALT = ":temp"
_TEMP_BUCKET_SQL = bucket_sql(salt=_TEMP_SALT, n_buckets=10000)


@register(
    "q_sample_temperature",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, tok
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    WHERE tok <> ''
),
per_doc AS (
    SELECT d.doc_id, d.lang, count(*) AS n_tokens
    FROM documents d JOIN toks t ON t.doc_id = d.doc_id
    GROUP BY d.doc_id, d.lang
),
lang_stats AS (
    -- CAST: DuckDB sum() widens to HUGEINT; orig_tokens must surface as
    -- BIGINT to match Spark's LongType sum.
    SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS toks
    FROM per_doc GROUP BY lang
),
floor_stat AS (SELECT min(toks) AS min_toks FROM lang_stats),
rates AS (
    SELECT l.lang, l.toks,
           CAST(floor(10000.0 * sqrt(CAST(f.min_toks AS DOUBLE)
                                     / CAST(l.toks AS DOUBLE)))
                AS BIGINT) AS rate_bp
    FROM lang_stats l CROSS JOIN floor_stat f
),
kept AS (
    SELECT p.doc_id, p.lang, p.n_tokens, r.toks, r.rate_bp
    FROM per_doc p JOIN rates r ON r.lang = p.lang
    WHERE {_TEMP_BUCKET_SQL} < r.rate_bp
)
SELECT lang,
       max(toks) AS orig_tokens,
       max(rate_bp) AS rate_bp,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS kept_tokens
FROM kept
GROUP BY lang
""",
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled multilingual rebalancing (the mC4/XLM-R α = 0.5
    recipe): sample each language with probability ∝ p_lang^α so
    high-resource languages are damped and low-resource ones relatively
    boosted.  With no upsampling allowed, the keep-rate that realizes
    kept_l ∝ n_l^α at the largest possible corpus is
    ``rate_l = sqrt(min_m n_m / n_l)`` — the smallest stratum is kept at
    100% (its rate is exactly 10000 bp) and every larger stratum is
    damped by the square root of its size ratio.

    Cross-engine exactness without integer-only arithmetic: unlike
    :func:`q_mixture_resample` (whose rational rates fit DECIMAL), a
    √-rate is irrational — but every operation in
    ``floor(10000.0 * sqrt(min_toks / toks))`` is an IEEE-754
    correctly-rounded double op (divide, sqrt, multiply) on identical
    integer inputs, so Spark (Java) and DuckDB (C) produce bit-identical
    doubles, the same floor, and the same BIGINT basis-point rate.  No
    cross-row float AGGREGATION is ever compared — sums are over integer
    token counts only — so engine-specific reduction order cannot bite.
    The per-doc keep decision is the deterministic md5 bucket against
    that rate (same engine-portable bucket as every sampler here).

    Scale shape (100 TB): one token-count aggregation over the corpus
    (the memo-shared ``tokenized_per_doc`` scan), a languages-sized
    stats relation crossed with a 1-row global min, broadcast back as
    the per-stratum rate, then a scan-side filter and a languages-sized
    audit aggregate.  No shuffle keyed on anything wider than ``lang``.
    """
    per_doc = tokenized_per_doc(spark, sf_dir)
    lang_stats = per_doc.groupBy("lang").agg(F.sum("n_tokens").alias("toks"))
    floor_stat = lang_stats.agg(F.min("toks").alias("min_toks"))
    rates = lang_stats.crossJoin(F.broadcast(floor_stat)).select(
        "lang",
        "toks",
        F.floor(
            F.lit(10000.0)
            * F.sqrt(
                F.col("min_toks").cast("double") / F.col("toks").cast("double")
            )
        )
        .cast("long")
        .alias("rate_bp"),
    )
    bucket = hash_bucket(F.col("doc_id"), n_buckets=10000, salt=_TEMP_SALT)
    kept = per_doc.join(F.broadcast(rates), "lang").where(
        bucket < F.col("rate_bp")
    )
    return kept.groupBy("lang").agg(
        F.max("toks").alias("orig_tokens"),
        F.max("rate_bp").alias("rate_bp"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("kept_tokens"),
    )


def _guard_rank_columns(df: DataFrame, names: tuple[str, ...], helper: str) -> None:
    """Refuse inputs that already carry a temp/output column one of the
    rank helpers is about to append (ADVICE r12 — the same clash guard
    ``seeded_shuffle_key`` uses): silently overwriting a caller's
    ``__r_in``/``rank_col``/… would corrupt ranks and offsets with no
    error."""
    clash = [c for c in names if c in df.columns]
    if clash:
        raise ValueError(
            f"{helper}: input already has column(s) {clash}; rename them "
            "before computing ranks/offsets"
        )


def two_phase_rank(
    df: DataFrame,
    partition_cols: list[str],
    bucket_col: str,
    order_cols: list,
    rank_col: str = "rnk",
    broadcast_base: bool = True,
) -> DataFrame:
    """Row-number over a (possibly global) total order WITHOUT a
    single-reducer sort — the rank-shaped sibling of
    :func:`..operators.text.distributed_prefix_sum` (same Blelloch
    two-phase scan, counting rows instead of summing tokens):

    1. within-(partition, bucket) ``row_number`` windows run in parallel
       across all buckets;
    2. per-(partition, bucket) COUNTS — a metadata-sized relation, one
       row per bucket — get an exclusive prefix sum in a window over
       that relation only, broadcast-joined back as each bucket's base.

    ``rank = base + within`` equals the single-window ``row_number()``
    exactly, PROVIDED ``bucket_col`` is coarser than ``order_cols``
    (every row of a lower bucket orders before every row of a higher
    one within a partition — e.g. the bucket is a prefix of the first
    order key).  The data relation never crosses one partition; the
    only unpartitioned window touches one row per bucket.  The base
    relation broadcast assumes |partitions| × |buckets| stays
    metadata-sized (all three callers keep buckets ≤ 256, with
    partitions at none, sources or languages: q_global_shuffle,
    q_sample_source_cap, q_text_ccnet_buckets); a caller with a
    high-cardinality partition key should pass ``broadcast_base=False``
    and let the join shuffle (code-review r10: the hint used to be
    hard-coded, so the documented escape hatch did not actually exist).

    NOTE: ``df`` fans into TWO lazy branches here (the within-bucket
    window and the bucket-counts aggregate) — a caller whose input is
    expensive and unpersisted pays its evaluation twice (ADVICE r7).
    q_global_shuffle memoizes its hashed input for exactly this reason;
    q_text_ccnet_buckets memoizes the expensive scored relation UPSTREAM
    of its cheap bucket projection, and q_sample_source_cap feeds a
    documents projection cheap enough that double evaluation is the
    right trade.  Weigh the input's cost before copying either shape.
    (The shuffled export family ranks through the fused
    :func:`two_phase_rank_offsets` instead.)
    """
    _guard_rank_columns(df, ("__r_in", "__n", "__base", rank_col), "two_phase_rank")
    w_in = Window.partitionBy(*partition_cols, bucket_col).orderBy(*order_cols)
    within = df.withColumn("__r_in", F.row_number().over(w_in).cast("long"))
    counts = df.groupBy(*partition_cols, bucket_col).agg(
        F.count(F.lit(1)).alias("__n")
    )
    w_b = (
        Window.partitionBy(*partition_cols)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = counts.select(
        *partition_cols,
        bucket_col,
        F.coalesce(F.sum("__n").over(w_b), F.lit(0).cast("long")).alias("__base"),
    )
    if broadcast_base:
        base = F.broadcast(base)
    return (
        within.join(base, [*partition_cols, bucket_col])
        .withColumn(rank_col, F.col("__base") + F.col("__r_in"))
        .drop("__r_in", "__base")
    )


def two_phase_rank_offsets(
    df: DataFrame,
    bucket_col: str,
    order_cols: list,
    rank_col: str = "rnk",
) -> DataFrame:
    """FUSED Blelloch pass (round 12): global ``row_number`` AND the
    exclusive prefix sum of ``n_tokens`` (as ``start_offset``), both in
    rank order, from ONE bucket-parallel scan — bit-identical to
    :func:`two_phase_rank` (no partition cols) followed by
    :func:`..operators.text.distributed_prefix_sum` keyed on the rank,
    because the rank order IS the (bucket, order_cols) order (the
    coarser-bucket precondition), so summing ``n_tokens`` along that
    order inside the SAME per-bucket window and offsetting by per-bucket
    totals yields exactly the prefix sum the second scan recomputed.

    Every export capstone used to chain the two helpers: two data-sized
    window exchanges, two bucket-counts aggregates, a min/max bounds
    job and three broadcast joins.  Fused: ONE window exchange, ONE
    bucket aggregate carrying (count, token total), ONE ≤256-row
    metadata window, ONE broadcast join — the exact same integer
    results with roughly half the stages (guide §2.4: two operations
    keyed the same way share one exchange).  The single-reducer-free
    scale shape is unchanged: the data relation never crosses one
    partition; the only unpartitioned window touches one row per
    bucket.  Same fan-out caveat as :func:`two_phase_rank` — ``df``
    feeds the window branch and the totals branch, so memoize an
    expensive input.
    """
    _guard_rank_columns(
        df,
        ("__r_in", "__c_in", "__n", "__t", "__nbase", "__tbase", rank_col,
         "start_offset"),
        "two_phase_rank_offsets",
    )
    w_in = Window.partitionBy(bucket_col).orderBy(*order_cols)
    w_cum = w_in.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    within = df.withColumn(
        "__r_in", F.row_number().over(w_in).cast("long")
    ).withColumn("__c_in", F.sum("n_tokens").over(w_cum))
    totals = df.groupBy(bucket_col).agg(
        F.count(F.lit(1)).alias("__n"), F.sum("n_tokens").alias("__t")
    )
    w_b = (
        Window.orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = totals.select(
        bucket_col,
        F.coalesce(F.sum("__n").over(w_b), F.lit(0).cast("long")).alias(
            "__nbase"
        ),
        F.coalesce(F.sum("__t").over(w_b), F.lit(0).cast("long")).alias(
            "__tbase"
        ),
    )
    return (
        within.join(F.broadcast(base), bucket_col)
        .withColumn(rank_col, F.col("__nbase") + F.col("__r_in"))
        .withColumn(
            "start_offset",
            F.col("__tbase") + F.col("__c_in") - F.col("n_tokens"),
        )
        .drop("__r_in", "__c_in", "__nbase", "__tbase")
    )


_SHUFFLE_SEED = "42"
_SHARD_DOCS = 1000


def seeded_shuffle_key(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Append the seeded shuffle order key ``h = md5(seed ':' key)`` and
    its 256-way bucket ``bkt`` (first hex byte — a PREFIX of h, so the
    two_phase_rank coarser-bucket precondition holds by construction).
    ONE definition shared by q_global_shuffle and q_pack_shuffled —
    their cross-query same-permutation claim rests on this being the
    only place the hash input is spelled (code-review r7: each query
    had its own copy).

    The input must not already carry ``h``/``bkt`` columns — this is the
    shared entry point for the shuffle family, and silently clobbering a
    caller's same-named column would corrupt the permutation with no
    error (ADVICE r7)."""
    clash = [c for c in ("h", "bkt") if c in df.columns]
    if clash:
        raise ValueError(
            f"seeded_shuffle_key: input already has column(s) {clash}; "
            "rename them before appending the shuffle key"
        )
    return df.withColumn(
        "h",
        F.md5(F.concat(F.lit(_SHUFFLE_SEED + ":"), F.col(key).cast("string"))),
    ).withColumn("bkt", F.substring("h", 1, 2))


@register(
    "q_global_shuffle",
    oracle=f"""
WITH h AS (
    SELECT doc_id,
           md5(concat('{_SHUFFLE_SEED}:', CAST(doc_id AS VARCHAR))) AS h
    FROM documents
)
SELECT doc_id,
       row_number() OVER (ORDER BY h, doc_id) AS shuffle_rank,
       (row_number() OVER (ORDER BY h, doc_id) - 1) // {_SHARD_DOCS} AS shard
FROM h
""",
)
def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle + shard assignment —
    the step that turns a curated corpus into a reproducibly-shuffled
    training sequence (every epoch-0 data order question, every resume-
    from-step audit, needs the permutation to be a pure function of
    (seed, doc_id), not of cluster layout; ``rand()`` and
    ``repartition``-luck both fail that bar).

    Order key: ``md5(seed || ':' || doc_id)`` — a seeded pseudo-random
    permutation both engines compute identically.  The oracle is one
    global ``row_number`` (the canonical single-reducer anti-pattern);
    the engine computes the SAME rank with :func:`two_phase_rank`,
    bucketing on the hash's first hex byte — 256 buckets whose string
    order IS the hash order ('0'<'9'<'a'<'f' in both engines' lowercase
    hex), so the coarser-bucket precondition holds by construction.
    ``shard = (rank-1) div {shard}`` then names the output file each
    doc belongs to (the writer-side contract of a sharded training-set
    export).  At 100 TB: one corpus-wide exchange on the bucket for the
    parallel windows, a 256-row metadata window, a broadcast join —
    no corpus-sized sort through one reducer anywhere.
    """
    # Memoize the hashed relation: two_phase_rank fans its input into two
    # lazy branches (the within-bucket window and the bucket-counts agg),
    # so an unpersisted input pays the scan + md5 projection twice per run
    # (ADVICE r7 — the sibling callers q_pack_shuffled / q_export_manifest
    # already memoize around the same fan-out).
    hashed = memo_persist(
        spark,
        "global_shuffle_hashed",
        sf_dir,
        lambda: seeded_shuffle_key(
            load_table(spark, sf_dir, "documents").select("doc_id")
        ),
    )
    ranked = two_phase_rank(
        hashed,
        partition_cols=[],
        bucket_col="bkt",
        order_cols=[F.col("h"), F.col("doc_id")],
        rank_col="shuffle_rank",
    )
    return ranked.select(
        "doc_id",
        "shuffle_rank",
        F.expr(f"(shuffle_rank - 1) div {_SHARD_DOCS}").alias("shard"),
    )


if q_global_shuffle.__doc__:  # absent under python -OO
    q_global_shuffle.__doc__ = q_global_shuffle.__doc__.format(shard=_SHARD_DOCS)


_SOURCE_CAP = 15


@register(
    "q_sample_source_cap",
    oracle=f"""
WITH h AS (
    SELECT doc_id, source,
           md5(concat('{_SHUFFLE_SEED}:', CAST(doc_id AS VARCHAR))) AS h
    FROM documents
),
r AS (
    SELECT doc_id, source,
           row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
    FROM h
)
SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= {_SOURCE_CAP}
""",
)
def q_sample_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source frequency cap — the "source mixing" gate a corpus
    pipeline runs before training: no single source (domain, crawl
    host, feed) may contribute more than {cap} documents, with the kept
    subset chosen by the SEEDED deterministic hash order (the same
    ``md5(seed:doc_id)`` permutation as the global training shuffle, so
    retries, speculative tasks and re-runs keep the identical docs — a
    ``rand()`` cap would re-sample per attempt).  Emits the kept
    relation (doc_id, source, within-source rank) — the thing the next
    pipeline stage joins against.

    Scale: the per-source rank does NOT run one window per source (a
    corpus-dominating source would single-reducer) — it is
    ``two_phase_rank`` partitioned by source over the 256 hash-prefix
    buckets: within-(source, bucket) windows run in parallel, the only
    unpartitioned window touches the per-bucket counts (metadata), and
    ``rank = base + within`` equals the single window exactly.  The cap
    filter then prunes everything past {cap} per source before anything
    downstream is touched.  At web-crawl host cardinality the
    |sources|×256 base relation outgrows a broadcast — pass
    ``broadcast_base=False`` to two_phase_rank there; at this corpus's
    source cardinality the broadcast is the right plan."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    ranked = two_phase_rank(
        seeded_shuffle_key(docs),
        partition_cols=["source"],
        bucket_col="bkt",
        order_cols=[F.col("h"), F.col("doc_id")],
        rank_col="rk",
    )
    return (
        ranked.where(F.col("rk") <= _SOURCE_CAP)
        .select("doc_id", "source", F.col("rk").cast("long").alias("rk"))
    )


if q_sample_source_cap.__doc__:  # absent under python -OO
    q_sample_source_cap.__doc__ = q_sample_source_cap.__doc__.format(
        cap=_SOURCE_CAP
    )
