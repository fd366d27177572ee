"""Regenerate PLANS.md: annotated physical plans for headline queries.

Run from the repo root:  python tools/gen_plans.py  [sf_dir]
Freshness check (no write):  python tools/gen_plans.py --check  [sf_dir]
  exits 1 with a unified diff if the committed PLANS.md no longer matches
  what regeneration produces — tests/test_plans_freshness.py runs this in
  a subprocess so an operator change can't silently strand the document.

Each entry pairs a hand-written scale annotation (the claim) with the
live ``.explain("formatted")`` output at the given scale factor (the
evidence).  Re-run after changing any of these operators so the claims
never drift from the plans.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from recsys_mapreduce_mrjob_spark.session import get_session  # noqa: E402
from recsys_mapreduce_mrjob_spark import registry  # noqa: E402

# (query, annotation) — the claim each plan is evidence for.
ENTRIES = [
    (
        "q_scan_pruned",
        "Column pruning + predicate pushdown: ReadSchema lists 3 of 11 "
        "lineitem columns (the two projected + the filter column) and "
        "PushedFilters carries the shipdate bound into the parquet scan — "
        "the 100 TB scan reads only what the query needs.",
    ),
    (
        "q_join_broadcast",
        "Small-dim chain (supplier→nation→region) resolves to "
        "BroadcastHashJoins — the fact table never shuffles; one scan side, "
        "three broadcast sides, aggregation on top.",
    ),
    (
        "q_topk_similar_items",
        "Flagship R2→R14, round-5 blocked sparse-Gram: the derivation "
        "(lineitem scan + broadcast orders join) feeds a B-way tile "
        "replicate (Generate ×B) and exactly ONE exchange, keyed on the "
        "unordered tile pair (bi, bj) — the 13.1M-row co-rating pair "
        "relation never exists in the plan; it lives only inside the "
        "FlatMapGroupsInArrow kernel, which computes all five sufficient "
        "stats, the per-item rater counts AND the (user, item) rating "
        "aggregation (exact integer HALF_UP rounding) tile-locally, so "
        "the shuffle ships |ratings|·B narrow rows (3M at sf0.1) instead "
        "of the pair events.  Similarity is a pure projection on top; "
        "top-K is the two-phase WindowGroupLimit (per-partition heads "
        "before the item_x exchange).",
    ),
    (
        "q_agg_salted_twophase",
        "Skew-proof aggregation: exactly two exchanges — (l_returnflag, "
        "salt) then l_returnflag — so a hot key spreads over 16 reducers "
        "before the exact re-combine.",
    ),
    (
        "q_join_salted_skew",
        "Skew-proof join: SortMergeJoin on the composite (key, salt); no "
        "BroadcastHashJoin (merge hint keeps the demo on the shuffle path "
        "that matters when both sides are big).",
    ),
    (
        "q_sample_split",
        "Deterministic train/valid/test split: zero Exchange nodes — the "
        "md5-bucket assignment is a pure scan projection, so splitting a "
        "100 TB corpus costs one pass and no shuffle.",
    ),
    (
        "q_knn_cosine_ivf",
        "IVF-Flat ANN: centroid assignment via BroadcastNestedLoopJoin "
        "(K=16 rows, row and centroid norms prehoisted so the pair hot "
        "path folds only the dot product) + struct-max argmax "
        "(SortAggregate — struct max has no hash buffer — with no Window "
        "shuffle); the corpus shuffles once, on vec_id, BEFORE the join "
        "(the exchange the argmax needs anyway).  Probe cells arrive as a "
        "literal IN filter from the constant-size index-metadata lookup — "
        "on a persisted index that literal cell-id filter is partition "
        "pruning.",
    ),
    (
        "q_knn_cosine_ivf_indexed",
        "IVF with a PERSISTED cell-partitioned index (round 7): the "
        "assignment pass is amortized into a one-time partitioned parquet "
        "write, so the query plan is a single index scan whose "
        "PartitionFilters carries the literal probe-cell predicate "
        "(cid IN (...)) — only ~nprobe/K of the index files are opened — "
        "feeding an exact-cosine re-rank and a TakeOrderedAndProject.  No "
        "join, no shuffle: query cost scales with nprobe/K, not corpus "
        "size (measured flat ~0.6 s at 200k vectors in BASELINE.md's ANN "
        "scale rung while the exact scan grows linearly).",
    ),
    (
        "q_text_winnow_pairs",
        "Winnowing fingerprints: the rolling-hash + window-minima "
        "derivation is a chain of projections inside one scan stage "
        "(higher-order transforms, whole-stage codegen); candidates come "
        "from an equi-join on the fingerprint — never an all-pairs product.",
    ),
    (
        "q_text_quality_classifier",
        "Hashed-feature quality classifier (round 10): the model is a "
        "4096-row weight relation that arrives as a BroadcastHashJoin "
        "side (map-side — the token stream never shuffles to meet the "
        "model), the bucket key is the md5 HEX PREFIX computed scan-"
        "side (a string key chosen by measurement: the 60-bit "
        "conv-fold long as a join key evaluated outside the fast path "
        "and tripled the K=30 rung, 4.3 s vs 1.4 s), and the per-doc "
        "score is ONE partial+final HashAggregate — the only exchange "
        "in the plan carries a single (score, count) row per document, "
        "not tokens.  Swapping in trained weights changes the table, "
        "not the plan.",
    ),
    (
        "q_recommend_topn",
        "Recommender: neighbor edges (k·n_items rows) joined to ratings on "
        "the rated item, (user,item) partial+final aggregation, left-anti "
        "join to drop seen items, one per-user window — every shuffle keyed "
        "on its natural key, nothing quadratic in the catalog.",
    ),
    (
        "q_sketch_countmin",
        "Count-Min Sketch as relational algebra: sketch construction is a "
        "(hash-row, bucket) partial+final HashAggregate — d·w cells "
        "regardless of corpus size — and probe estimates are a broadcast "
        "join against the finished sketch.",
    ),
    (
        "q_join_fuzzy_names",
        "Fuzzy string join: equi-join on the brand blocking key (never a "
        "cartesian product) with the length band and levenshtein threshold "
        "as join-time filters — the quadratic comparison is confined to "
        "blocks.",
    ),
    (
        "q_dedup_simhash_exact",
        "Portable-hash SimHash (round 5): the fingerprint derivation is "
        "one token explode + one groupBy computing 60 weighted bit-sum "
        "aggregates (all integer arithmetic — bit-identical to the DuckDB "
        "oracle), and candidates come from a pigeonhole equi-join on the "
        "4×15-bit (band, chunk) key — never an all-pairs scan; the exact "
        "Hamming check (bit_count(xor)) runs on candidates only.",
    ),
    (
        "q_topk_similar_dimsum_exact",
        "DIMSUM sampled estimator, exact-graded (round 5): the "
        "deterministic portable-hash keep-filter sits BETWEEN the user "
        "self-join and the pair aggregation, so the pair shuffle the "
        "aggregation pays shrinks by the sample rate — the γ knob trades "
        "shuffle volume for estimate error at 100 TB while staying fully "
        "reproducible (no rand(): retries and speculative tasks agree).",
    ),
    (
        "q_scan_csv_ratings",
        "The reference's native text input path, graded (round 8): one "
        "FileScan csv with the explicit 3-column schema — no inference "
        "pass, no shuffle; filter pushdown and column pruning on the csv "
        "scan are pinned separately in tests/test_plan_audit.py.  The "
        "parse IS the plan: a 100 TB text corpus splits by line ranges "
        "exactly like this scan.",
    ),
    (
        "q_dedup_spans",
        "Exact substring-span dedup (round 8, hashed/fused round 10): "
        "positional 5-shingles carry the portable 60-bit md5 hash (an "
        "8-byte long, not a ~50-byte string) and are a scan-side explode "
        "read from the memoized relation (InMemoryTableScan) by both "
        "consumers; the occurrence cap (2 ≤ occ ≤ 8) keeps only "
        "matchable shingles — hot boilerplate combines map-side in the "
        "count and dies at the filter — and cross-doc matches explode "
        "from ONE bounded collect_list groupBy (buffer ≤ cap, fanout "
        "≤ occ² per kept shingle, never a corpus pair space) instead of "
        "a kept⋈kept self-join; the maximal-run merge is one window "
        "over the match-sized (pair, diagonal) relation.",
    ),
    (
        "q_dedup_span_rewrite",
        "Exact substring REMOVAL (round 9, cut rewritten round 10): the "
        "interval merge runs two windows + two aggregates over the "
        "span-report-sized island relation (memoized — the audit query "
        "shares it); the per-doc merged-interval lists then BROADCAST "
        "into the single documents scan (BroadcastHashJoin — the corpus "
        "is touched exactly once), and the cut is scan-side "
        "slice-and-concat over the SORTED DISJOINT intervals' gaps — "
        "O(tokens + intervals) per doc, replacing r9's per-token "
        "interval scan whose ladder ratio grew with K: no corpus token "
        "explode, no corpus-keyed shuffle anywhere after the report "
        "itself.",
    ),
    (
        "q_graph_triangles",
        "Degree-oriented triangle counting (round 10): the edge list "
        "derives through the flagship's blocked sparse-Gram tile kernel "
        "(pairwise_stats_gemm counts_only, size-dispatched — the pair "
        "space never exists as a shuffle) and memo-persists; degrees "
        "come from ONE explode scan of it and the node-sized degree "
        "relation BROADCASTS into the orientation (no edge-keyed "
        "shuffle to learn degrees).  The wedge stage is one "
        "equi-self-join of the persisted oriented relation on the pivot "
        "(InMemoryTableScan feeds both join sides AND the closing edge "
        "lookup), and the closing join is an equi-join on the oriented "
        "(b, c) pair — never a neighbor-list collect, so the hottest "
        "vertex contributes O(sqrt(m)) wedges instead of deg^2 and the "
        "'last reducer' cannot form.  Per-vertex credit is an explode "
        "+ hash aggregate.",
    ),
    (
        "q_knn_batch_ivf",
        "Batched ANN (round 10): ONE partition-pruned scan of the "
        "persisted IVF index answers all 32 probes — the scan's "
        "PartitionFilters carries the union-of-covered-cells literal, "
        "the PERSISTED probe map (InMemoryTableScan — it feeds both the "
        "covered-cells collect and this join, so the probes x K ranking "
        "runs once) arrives as a BroadcastHashJoin side below the "
        "size-dispatch bound (probe norms hoisted once per probe, "
        "index-row norms once per row, only the dot fold runs per "
        "candidate pair), and the per-probe top-10 is a two-phase "
        "WindowGroupLimit partitioned by qid.  No N-fold index scan, "
        "no driver round-trip per probe.",
    ),
    (
        "q_export_manifest",
        "Doc-level export capstone: the memo-shared curated relation "
        "(read through its lineage-truncating checkpoint) gets the "
        "seeded shuffle key, then ONE fused bucket-parallel pass — one "
        "data window PARTITIONED by the 256-way hash-prefix bucket "
        "computes the rank and the running token sum together, and one "
        "≤256-row bucket-totals window is broadcast back as each "
        "bucket's (rank, offset) base — under a shards-sized manifest "
        "aggregate.  The oracle's two chained global windows never "
        "appear; no corpus-sized window runs unpartitioned.",
    ),
    (
        "q_export_manifest_rewritten",
        "Export capstone with the span-removal layer composed in "
        "(round 10): the curated relation LEFT-joins the span-report-"
        "sized per-doc removal measure (broadcast — report-sized, never "
        "corpus-sized), then the same fused shuffle tail as "
        "q_export_manifest: one data window PARTITIONED by the 256-way "
        "hash-prefix bucket carries rank and running token sum "
        "together, and the only unpartitioned window runs over the "
        "≤256-row bucket-totals metadata, broadcast back.",
    ),
    (
        "q_export_chunks",
        "Chunk-level export (round 11): the window cut is scan-side — "
        "split + transform + explode inside the curated corpus's scan "
        "stage, ZERO exchanges added by chunking — and the downstream "
        "is the capstone algebra: the chunk relation's seeded-hash key "
        "feeds the fused rank + offset pass (one data window PARTITIONED "
        "by the 256 hash-prefix buckets, one ≤256-row metadata window "
        "broadcast back); the only corpus-scale exchange it adds is that "
        "bucket shuffle, the one the base export already pays.  The "
        "oracle's two global ORDER BY windows (the single-reducer shape) "
        "never appear.",
    ),
    (
        "q_corpus_curation_decon",
        "Decontamination gate (round 12): the benchmark's distinct "
        "5-shingle set arrives as a BroadcastExchange (benchmark-sized, "
        "never shuffled against the corpus), the detector is one "
        "distinct-shingle scan + BroadcastHashJoin + per-doc partial "
        "aggregate — memo-persisted (round-12 review), so the decon "
        "gate, the release capstone and the standalone report share ONE "
        "factorization and later consumers read an InMemoryTableScan — "
        "and the gate itself is a LEFT BroadcastHashJoin of "
        "the hit relation against the memo-shared curated corpus — no "
        "corpus×benchmark pair space, no new corpus-sized exchange "
        "beyond the detector's own per-doc aggregate.",
    ),
    (
        "q_text_pii_redact",
        "PII-redacting rewrite (round 12): injection, staged match "
        "counts, char/token conservation arithmetic, the ordered "
        "regexp_replace chain and md5(redacted) are all ONE projection "
        "chain inside whole-stage codegen — zero joins, and the only "
        "exchange is rebalance_if_starved's round-robin spread of the "
        "backtracking-regex projection across cores (the q_text_pii r8 "
        "lesson; a no-op at 100 TB split counts).  Nothing is keyed, "
        "nothing aggregates: the graded relation is the scan's "
        "projection, embarrassingly parallel per byte.",
    ),
    (
        "q_export_release",
        "RELEASE capstone (round 12): the decontamination gate is a "
        "hit-sized LEFT-ANTI BroadcastHashJoin against the memo-shared "
        "curated relation (the benchmark shingle set broadcasts inside "
        "the shared detector), the PII redaction + injection is the "
        "same zero-join codegen projection q_text_pii_redact grades "
        "(applied in the released docs' scan stage), the window cut is "
        "scan-side split + transform + explode exactly as "
        "q_export_chunks, and the tag count is per-chunk array "
        "arithmetic in the same projection.  Downstream is the capstone "
        "algebra unchanged: the fused rank + offset pass (one data "
        "window PARTITIONED by the 256 hash-prefix buckets, one ≤256-row "
        "metadata window broadcast back); its bucket shuffle is the one "
        "the base export already pays — composing the two release gates "
        "adds ZERO new corpus-sized exchanges.",
    ),
    (
        "q_join_bloom",
        "Runtime-prefiltered semi-join (round 6): the selective dim "
        "predicate pushes into the orders scan (PushedFilters), its "
        "distinct hash-bucket digest broadcasts, and the plan is two "
        "BroadcastHashJoin LeftSemi stages over one lineitem scan — the "
        "fact side never shuffles, non-matching rows die at the digest "
        "probe before any join exchange, and every operator sits inside "
        "whole-stage codegen.",
    ),
    (
        "q_events_scd2",
        "CDC→SCD2 compaction (round 7): both gaps-and-islands windows "
        "and the run aggregate share ONE exchange on user_id — the "
        "dimension key — and the lead() that closes each interval reads "
        "the runs-sized compacted relation, not the event stream.  The "
        "same partition-local shape as sessionization; the streaming "
        "twin (q_stream_scd2_exec) folds the identical algebra "
        "incrementally per micro-batch.",
    ),
    (
        "q_sample_temperature",
        "Temperature-scaled rebalance (round 7): the corpus pays one "
        "token-count aggregation (the memo-shared tokenize scan); the "
        "rate derivation is a languages-sized relation crossed with a "
        "1-row global min and BROADCAST back, so the keep decision is a "
        "scan-side filter — no shuffle keyed wider than lang anywhere.",
    ),
    (
        "q_global_shuffle",
        "Deterministic global training-order shuffle (round 7): the "
        "oracle's single global row_number would sort the corpus through "
        "one reducer; this plan ranks inside 256 hash-prefix buckets in "
        "parallel (one exchange on the bucket key), runs the only "
        "unpartitioned window over the 256-row bucket-counts relation, "
        "and BROADCASTS the base offsets back — rank = base + within, "
        "bit-equal to the single window (pinned in "
        "tests/test_round7_ops.py).",
    ),
    (
        "q_text_ccnet_buckets",
        "CCNet perplexity tertiles (round 7): per-doc ppl comes from one "
        "token aggregation + vocabulary/scalar broadcasts (the unigram-LM "
        "shape); the per-lang tertile does NOT use the oracle's "
        "ntile-over-a-whole-lang window — the docs-sized relation ranks "
        "inside per-lang ppl-range buckets in parallel, the bucket-count "
        "prefix window touches ≤256 rows per lang, and the tertile is "
        "integer arithmetic on (rank, lang count): ntile(k) of row i "
        "among n = (i-1)*k div n + 1.",
    ),
    (
        "q_pack_shuffled",
        "Shuffled-order packing (round 7, fused round 12): the export "
        "composition — one bucket-parallel pass computes the seeded "
        "permutation's rank and the running token sum together.  The "
        "oracle's two chained global windows never appear: the one "
        "corpus-sized window in this plan is PARTITIONED by the 256 "
        "hash-prefix buckets and the only unpartitioned window runs "
        "over the ≤256-row bucket-totals metadata, broadcast back.  One "
        "tokenize scan (the shared memo) feeds rank, offsets, and "
        "totals.",
    ),
    (
        "q_pack_blocks",
        "Two-phase distributed prefix sum (round 6): the corpus-sized "
        "running sum executes as a window PARTITIONED by range bucket "
        "(parallel, one exchange on the bucket key); the only "
        "unpartitioned window in the plan runs over the bucket-totals "
        "relation — ≤128 rows of metadata — whose exclusive prefix "
        "broadcasts back as each bucket's base offset.  The corpus never "
        "passes through a single partition, and the tokenize scan feeds "
        "both phases from ONE memo-persisted relation (the "
        "InMemoryTableScan below), not two scans.",
    ),
]


def render(spark, sf_dir: str) -> str:
    """Build the full PLANS.md text for ``sf_dir`` (no file I/O)."""
    registry.load_all()
    out = [
        "# PLANS — annotated physical plans for the headline operators",
        "",
        f"Generated by `tools/gen_plans.py` at `{sf_dir}` "
        "(`.explain(\"formatted\")`, AQE on — final plans may adapt further "
        "at runtime).  Each annotation states the scale property the plan "
        "demonstrates; regenerate after touching these operators "
        "(`python tools/gen_plans.py`; `--check` verifies without writing).",
        "",
    ]
    import re

    for name, note in ENTRIES:
        df = registry.QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # Session-scoped tempdir names (the persisted IVF index) change on
        # every regeneration — normalize so the freshness check compares
        # plan SHAPE, not the tempdir suffix.  The TEMPDIR PREFIX is
        # normalized too (round 13): `tempfile.gettempdir()` follows
        # $TMPDIR, so a checker environment with a different tempdir used
        # to fail the diff on `file:/tmp/...` vs `file:/other/...` alone.
        plan = re.sub(
            r"file:\S*spark_ivf_index_\w+",
            "file:<tmp>/spark_ivf_index_<session>",
            plan,
        )
        # The materialized-CSV/JSONL cache dirs carry a source-data
        # fingerprint (round 8: stale-cache guard), which changes whenever
        # the driver regenerates testdata — same normalization rationale,
        # tempdir prefix included.
        plan = re.sub(
            r"file:\S*spark_graft_csv/\S+",
            "file:<tmp>/spark_graft_csv/<slug>/<fmt>-<fingerprint>",
            plan,
        )
        plan = re.sub(
            r"file:\S*spark_graft_jsonl/\S+",
            "file:<tmp>/spark_graft_jsonl/<slug>/<fingerprint>",
            plan,
        )
        # Expression IDs (`col#1234`) come from a session-global counter,
        # so ANY extra plan built earlier in the session — e.g. the csv
        # materialization job on a cold cache — shifts every later ID and
        # fails the freshness diff on pure numbering (round 8).  The IDs
        # carry no plan information; normalize them away.
        plan = re.sub(r"#\d+", "#x", plan)
        plan = re.sub(r"plan_id=\d+", "plan_id=x", plan)
        # AQE runtime statistics vary with session/memory state (observed
        # r9: a BroadcastQueryStage's sizeInBytes moved 4.5→16.5 MiB at
        # identical rowCount) and carry zero plan-shape information — keep
        # rowCount, strip the byte estimate (round 10).
        plan = re.sub(r"sizeInBytes=[^,)\]]+", "sizeInBytes=<sz>", plan)
        # Codegen stage ids are a session-global counter like expression
        # ids; renumbering (3↔4) is not a plan change.
        plan = re.sub(r"\[codegen id : \d+\]", "[codegen id : x]", plan)
        # AQE reuse/stage nodes render a bare integer Arguments line whose
        # value shifts as query stages materialize (observed 7→6 with the
        # operator tree identical).
        plan = re.sub(
            r"^(Arguments: )\d+$", r"\1x", plan, flags=re.MULTILINE
        )
        # RDD ids are a session-global counter too: the two-star
        # components localCheckpoint scan renders MapPartitionsRDD[320]
        # vs [321] depending on what ran earlier in the session.
        plan = re.sub(r"RDD\[\d+\]", "RDD[x]", plan)
        out.append(f"## `{name}`")
        out.append("")
        out.append(note)
        out.append("")
        out.append("```")
        out.append(plan.rstrip())
        out.append("```")
        out.append("")
    return "\n".join(out)


def main() -> None:
    args = [a for a in sys.argv[1:]]
    check = "--check" in args
    if check:
        args.remove("--check")
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    spark = get_session()
    text = render(spark, sf_dir)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "PLANS.md")
    if check:
        with open(path) as f:
            committed = f.read()
        if committed != text:
            import difflib

            diff = difflib.unified_diff(
                committed.splitlines(), text.splitlines(),
                fromfile="PLANS.md (committed)", tofile="PLANS.md (regenerated)",
                lineterm="",
            )
            sys.stdout.write("\n".join(diff) + "\n")
            print("PLANS.md is STALE — rerun: python tools/gen_plans.py")
            sys.exit(1)
        print(f"PLANS.md is fresh ({len(ENTRIES)} plans)")
        return
    with open(path, "w") as f:
        f.write(text)
    print(f"PLANS.md written ({len(ENTRIES)} plans)")


if __name__ == "__main__":
    main()
