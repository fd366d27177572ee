"""The exact substring-REMOVAL pass (q_dedup_span_rewrite, round 9).

q_dedup_spans' report is already property-tested against an independent
brute force (tests/test_scale_knobs.py), so these tests treat the report
as the input SPEC and verify the rewrite against an independent
Python interval-merge + token-cut over that report, plus the conservation
law VERDICT r8 asked for: tokens_removed equals the merged measure of the
non-keeper span occurrences — per doc, and in total against the audit row.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from recsys_mapreduce_mrjob_spark import registry
from recsys_mapreduce_mrjob_spark.caching import memo_unpersist

registry.load_all()

SF01 = "/root/testdata/sf0.01"


def _merge(intervals: list[tuple[int, int]]) -> list[tuple[int, int]]:
    out: list[tuple[int, int]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def _expected_rewrite(spark, sf_dir: str):
    """Independent rewrite from the span report: per non-keeper doc, merge
    [start_b, start_b + span - 1] intervals and cut those 1-based token
    positions from the original text."""
    per_doc: dict[int, list[tuple[int, int]]] = {}
    raw = 0
    for r in registry.QUERIES["q_dedup_spans"](spark, sf_dir).collect():
        per_doc.setdefault(r.doc_b, []).append(
            (r.start_b, r.start_b + r.span_tokens - 1)
        )
        raw += 1
    texts = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
        if r.doc_id in per_doc
    }
    expected = {}
    for doc_id, ivs in per_doc.items():
        merged = _merge(ivs)
        toks = texts[doc_id].split(" ")
        cut = {p for s, e in merged for p in range(s, e + 1)}
        kept = [t for i, t in enumerate(toks, start=1) if i not in cut]
        expected[doc_id] = {
            "spans_merged": len(merged),
            "tokens_removed": sum(e - s + 1 for s, e in merged),
            "new_tokens": len(kept),
            "new_text": " ".join(kept),
        }
    return expected, raw


def test_span_rewrite_matches_independent_cut_sf001(spark):
    expected, raw = _expected_rewrite(spark, SF01)
    got = {
        r.doc_id: {
            "spans_merged": r.spans_merged,
            "tokens_removed": r.tokens_removed,
            "new_tokens": r.new_tokens,
            "new_text": r.new_text,
        }
        for r in registry.QUERIES["q_dedup_span_rewrite"](spark, SF01).collect()
    }
    assert got == expected


def test_span_rewrite_conservation_vs_audit_sf001(spark):
    """Conservation: the audit's tokens_removed equals BOTH the merged
    measure of the report's non-keeper occurrences and the sum of per-doc
    removals; per doc, new_tokens + tokens_removed = original tokens."""
    expected, raw = _expected_rewrite(spark, SF01)
    rewrite = registry.QUERIES["q_dedup_span_rewrite"](spark, SF01).collect()
    audit = registry.QUERIES["q_dedup_span_rewrite_audit"](spark, SF01).collect()
    assert len(audit) == 1
    a = audit[0]
    assert a.docs_touched == len(rewrite) == len(expected)
    assert a.spans_raw == raw
    assert a.spans_merged == sum(e["spans_merged"] for e in expected.values())
    assert a.tokens_removed == sum(r.tokens_removed for r in rewrite)
    assert a.tokens_removed == sum(
        e["tokens_removed"] for e in expected.values()
    )
    n_toks = {
        r.doc_id: len(r.text.split(" "))
        for r in spark.read.parquet(f"{SF01}/documents.parquet").collect()
    }
    for r in rewrite:
        assert r.new_tokens + r.tokens_removed == n_toks[r.doc_id], r.doc_id


def _rewritten_corpus_dir(spark, sf_dir: str, out_dir: str) -> str:
    """Materialize the post-rewrite corpus: every doc, with the rewritten
    text where the pass touched it — the artifact a real pipeline ships."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rewrite = registry.QUERIES["q_dedup_span_rewrite"](spark, sf_dir).select(
        "doc_id", "new_text"
    )
    out = (
        docs.join(rewrite, "doc_id", "left")
        .withColumn("text", F.coalesce(F.col("new_text"), F.col("text")))
        .drop("new_text")
    )
    out.write.parquet(os.path.join(out_dir, "documents.parquet"))
    return out_dir


def test_span_rewrite_join_paths_agree(spark, monkeypatch):
    """The size dispatch must be a pure PLAN choice: forcing the shuffled
    hash join (threshold 0) yields row-identical results to the
    broadcast path at bench scale."""
    from recsys_mapreduce_mrjob_spark.operators import dedup as d

    broadcast_rows = sorted(
        map(tuple, registry.QUERIES["q_dedup_span_rewrite"](spark, SF01).collect())
    )
    monkeypatch.setattr(d, "_REWRITE_BROADCAST_MAX_INTERVALS", -1)
    shuffled_rows = sorted(
        map(tuple, registry.QUERIES["q_dedup_span_rewrite"](spark, SF01).collect())
    )
    assert shuffled_rows == broadcast_rows and len(broadcast_rows) > 0


def test_span_rewrite_converges(spark):
    """The Lee et al. convergence claim as a test: one rewrite pass must
    strictly shrink the corpus's duplicated-span mass (Σ span_tokens of
    a fresh report over the REWRITTEN corpus), and every originally
    reported pair must be resolved — any residual span comes only from
    new cut-seam adjacencies, never from a pair the pass claimed to fix
    at the same positions."""
    before = registry.QUERIES["q_dedup_spans"](spark, SF01).collect()
    mass_before = sum(r.span_tokens for r in before)
    assert mass_before > 0, "fixture has no spans to remove"
    base = tempfile.mkdtemp(prefix="span_converge_")
    try:
        _rewritten_corpus_dir(spark, SF01, base)
        memo_unpersist("span_pos_shingles")
        memo_unpersist("span_rewrite_islands")
        after = registry.QUERIES["q_dedup_spans"](spark, base).collect()
        mass_after = sum(r.span_tokens for r in after)
        assert mass_after < mass_before, (mass_before, mass_after)
        resolved = {(r.doc_a, r.doc_b, r.start_a, r.start_b) for r in before}
        for r in after:
            assert (r.doc_a, r.doc_b, r.start_a, r.start_b) not in resolved, r
    finally:
        memo_unpersist("span_pos_shingles")
        memo_unpersist("span_rewrite_islands")
        shutil.rmtree(base, ignore_errors=True)


def test_span_rewrite_overlap_merge_planted(spark):
    """Planted overlap: one doc duplicating two OVERLAPPING chunks of two
    distinct keepers must have its intervals merged (cut once), and a doc
    that is a pure full-duplicate must rewrite to the empty string — the
    all-tokens-removed edge both engines must agree on."""
    toks = [f"w{i}" for i in range(40)]
    keeper_a = " ".join(toks[0:20])          # doc 1
    keeper_b = " ".join(toks[10:30])         # doc 2 (overlaps a in 10..19)
    dup = " ".join(toks[0:30])               # doc 3: contains both spans
    full_dup = keeper_a                      # doc 4 == doc 1 verbatim
    rows = [(1, keeper_a), (2, keeper_b), (3, dup), (4, full_dup)]
    base = tempfile.mkdtemp(prefix="span_rewrite_planted_")
    try:
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
            os.path.join(base, "documents.parquet")
        )
        memo_unpersist("span_pos_shingles")
        memo_unpersist("span_rewrite_islands")
        expected, _ = _expected_rewrite(spark, base)
        got = {
            r.doc_id: r
            for r in registry.QUERIES["q_dedup_span_rewrite"](
                spark, base
            ).collect()
        }
        assert set(got) == set(expected)
        for doc_id, e in expected.items():
            r = got[doc_id]
            assert (
                r.spans_merged,
                r.tokens_removed,
                r.new_tokens,
                r.new_text,
            ) == (
                e["spans_merged"],
                e["tokens_removed"],
                e["new_tokens"],
                e["new_text"],
            ), doc_id
        # Doc 4 duplicates doc 1 in full → rewrites to the empty string.
        assert got[4].new_text == "" and got[4].new_tokens == 0
        # Doc 3's cuts from doc 1 (tokens 1..) and doc 2 overlap → strictly
        # fewer tokens removed than the raw interval sum would claim.
        assert got[3].spans_merged >= 1
        assert got[3].tokens_removed < sum(
            e - s + 1
            for s, e in [
                (r.start_b, r.start_b + r.span_tokens - 1)
                for r in registry.QUERIES["q_dedup_spans"](spark, base)
                .where("doc_b = 3")
                .collect()
            ]
        ) or got[3].spans_merged == 1
    finally:
        memo_unpersist("span_pos_shingles")
        memo_unpersist("span_rewrite_islands")
        shutil.rmtree(base, ignore_errors=True)


def test_export_rewritten_token_conservation(spark):
    """The composed capstone's books must balance: total packed tokens
    (q_export_manifest_rewritten) = curated tokens − tokens removed from
    CURATED docs (the span-rewrite merged measure restricted to docs
    that survived curation), and no shard may carry a negative count."""
    from pyspark.sql import functions as F

    from recsys_mapreduce_mrjob_spark.operators.dedup import _span_islands
    from recsys_mapreduce_mrjob_spark.operators.text import curated_docs

    manifest = registry.QUERIES["q_export_manifest_rewritten"](
        spark, SF01
    ).collect()
    packed = sum(r.shard_tokens for r in manifest)

    curated = curated_docs(spark, SF01).select("doc_id", "n_tokens")
    curated_total = curated.agg(F.sum("n_tokens")).collect()[0][0]
    removed = (
        _span_islands(spark, SF01)
        .groupBy("doc_id", "g")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .groupBy("doc_id")
        .agg(F.sum(F.col("e") - F.col("s") + 1).alias("tokens_removed"))
    )
    removed_curated = (
        curated.join(removed, "doc_id")
        .agg(F.sum("tokens_removed"))
        .collect()[0][0]
        or 0
    )
    assert packed == curated_total - removed_curated
    assert all(r.shard_tokens >= 0 and r.n_docs > 0 for r in manifest)


def test_export_chunks_token_conservation(spark):
    """The chunk-level export's books must balance (round 11): per
    curated doc, n_tokens = last window's tokens + (n_windows − 1) ×
    stride (consecutive full windows each contribute exactly `stride`
    new tokens; the final window closes the remainder) — so the
    manifest's token total equals the curated token total PLUS the
    deliberate (width − stride)-token overlaps, with nothing lost.
    Checked as: Σ shard_tokens == Σ_docs (n_tokens + (n_windows − 1) ×
    (width − stride)), derived from the curated relation itself, plus
    per-shard sanity (positive counts, docs ≤ chunks)."""
    from pyspark.sql import functions as F

    from recsys_mapreduce_mrjob_spark.operators.text import (
        _CHUNK_S,
        _CHUNK_W,
        curated_docs,
    )

    manifest = registry.QUERIES["q_export_chunks"](spark, SF01).collect()
    packed = sum(r.shard_tokens for r in manifest)
    n_chunks_total = sum(r.n_chunks for r in manifest)

    curated = curated_docs(spark, SF01).select("doc_id", "n_tokens")
    # n_windows per doc = floor((n − 1) / stride) + 1 (window starts at
    # 1, 1+s, … while the start is in range — q_text_chunks' rule).
    per_doc = curated.select(
        "n_tokens",
        (F.floor((F.col("n_tokens") - 1) / _CHUNK_S) + 1).alias("n_w"),
    )
    agg = per_doc.agg(
        F.sum("n_tokens").alias("tok"),
        F.sum(F.col("n_tokens") + (F.col("n_w") - 1) * (_CHUNK_W - _CHUNK_S))
        .alias("tok_with_overlap"),
        F.sum("n_w").alias("n_w"),
        F.count(F.lit(1)).alias("n_docs"),
    ).collect()[0]
    assert packed == agg.tok_with_overlap
    assert n_chunks_total == agg.n_w
    assert all(
        r.n_chunks > 0 and 0 < r.n_docs <= r.n_chunks and r.shard_tokens > 0
        for r in manifest
    )


def test_chunk_cid_guard_fires_on_overflow(spark):
    """The cid packing's precondition is ENFORCED, not assumed (ADVICE
    r11): a chunk_id at/over 2^16 — a doc past ~12.6M tokens — must
    abort the export loudly instead of silently colliding cids (which
    would break two_phase_rank's unique-key contract and the md5
    tie-break's determinism).  In-range ids pack exactly."""
    import pytest
    from pyspark.sql import functions as F

    from recsys_mapreduce_mrjob_spark.operators.text import (
        _CHUNK_CID_MULT,
        chunk_cid,
    )

    ok = spark.createDataFrame(
        [(7, 0), (7, _CHUNK_CID_MULT - 1)], "doc_id long, chunk_id long"
    )
    got = {
        r.cid
        for r in ok.select(
            chunk_cid(F.col("doc_id"), F.col("chunk_id")).alias("cid")
        ).collect()
    }
    assert got == {7 * _CHUNK_CID_MULT, 7 * _CHUNK_CID_MULT + _CHUNK_CID_MULT - 1}

    bad = spark.createDataFrame(
        [(7, _CHUNK_CID_MULT)], "doc_id long, chunk_id long"
    )
    with pytest.raises(Exception) as exc:
        bad.select(
            chunk_cid(F.col("doc_id"), F.col("chunk_id")).alias("cid")
        ).collect()
    assert "cid packing" in str(exc.value)


def test_export_release_conservation(spark):
    """The RELEASE capstone's books balance (round 12): over the
    independently derived released set (curated, benchmark docs held
    out, contamination hits dropped), with the deterministic injection
    appending exactly 2 tokens per doc and redaction preserving token
    counts —

      Σ shard_tokens    == Σ_docs (n + (n_w − 1)·(W − S)),  n = n_tokens+2
      Σ n_chunks        == Σ_docs n_w
      Σ redacted_tokens == Σ_docs (windows containing the final token)

    the last because the injected PII literal is the doc's FINAL token,
    whose redacted tag lands once in every overlapping window that
    covers the end position (n_w − max(0, ⌈(n−W)/S⌉) of them)."""
    from pyspark.sql import functions as F

    from recsys_mapreduce_mrjob_spark.operators.text import (
        _CHUNK_S,
        _CHUNK_W,
        _CONTAM_BENCH_MAX,
        _contam_hits,
        curated_docs,
    )

    manifest = registry.QUERIES["q_export_release"](spark, SF01).collect()
    assert manifest
    packed = sum(r.shard_tokens for r in manifest)
    n_chunks_total = sum(r.n_chunks for r in manifest)
    tags_total = sum(r.redacted_tokens for r in manifest)

    curated = curated_docs(spark, SF01).select("doc_id", "n_tokens")
    hits, _ = _contam_hits(spark, SF01)
    released = curated.where(F.col("doc_id") >= _CONTAM_BENCH_MAX).join(
        hits.select("doc_id"), "doc_id", "left_anti"
    )
    n = F.col("n_tokens") + 2  # ' contact userN@example.com' etc. = +2
    n_w = F.floor((n - 1) / _CHUNK_S) + 1
    i_min = F.greatest(
        F.lit(0).cast("long"),
        F.floor((n - _CHUNK_W + _CHUNK_S - 1) / _CHUNK_S),
    )
    agg = (
        released.select(
            n.alias("n"), n_w.alias("n_w"), (n_w - i_min).alias("tag_w")
        )
        .agg(
            F.sum(
                F.col("n") + (F.col("n_w") - 1) * (_CHUNK_W - _CHUNK_S)
            ).alias("tok_overlap"),
            F.sum("n_w").alias("n_w"),
            F.sum("tag_w").alias("tag_w"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .collect()[0]
    )
    assert packed == agg.tok_overlap
    assert n_chunks_total == agg.n_w
    assert tags_total == agg.tag_w
    assert tags_total >= agg.n_docs  # every released doc ships ≥1 tag
    assert all(
        r.n_chunks > 0 and 0 < r.n_docs <= r.n_chunks and r.shard_tokens > 0
        for r in manifest
    )


def test_pii_redact_conservation(spark):
    """The PII rewrite's books balance exactly (round 12, the span-
    rewrite conservation discipline): per doc, chars_out = chars_in −
    chars_matched + Σ_rule n_rule·len(tag) (telescoping the staged
    measure), and the token count is PRESERVED — every PII_RULES
    pattern is whitespace-free, so each match lies within one token and
    its tag replaces a span inside that token.  The injection
    guarantees every doc exercises the positive path."""
    from recsys_mapreduce_mrjob_spark.functions.textfns import PII_RULES

    rows = registry.QUERIES["q_text_pii_redact"](spark, SF01).collect()
    assert rows
    taglen = {name: len(tag) for name, _, tag in PII_RULES}
    for r in rows:
        added = sum(getattr(r, name) * taglen[name] for name in taglen)
        assert r.chars_out == r.chars_in - r.chars_matched + added, r
        assert r.n_tokens_out == r.n_tokens_in, r
        assert sum(getattr(r, name) for name in taglen) >= 1, r


def test_spans_withhold_broadcast_on_unknown_size(spark, monkeypatch):
    """The occurrence-key broadcast hint is a size bet: it may only be
    placed on a CONCRETE footer count under the bound.  When the footer
    probe cannot say (None), the plan must carry no broadcast hint —
    the safe shuffle plan, not the one that risks OOM."""
    from recsys_mapreduce_mrjob_spark.sources import readers

    def hint_in_plan():
        df = registry.QUERIES["q_dedup_spans"](spark, SF01)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return "strategy=broadcast" in plan

    assert hint_in_plan(), "footer-readable control lost its broadcast hint"
    monkeypatch.setattr(readers, "parquet_num_rows", lambda *_a: None)
    assert not hint_in_plan()
