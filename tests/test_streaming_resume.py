"""Checkpoint crash-resume: the exactly-once claim as a TEST, not a
construction argument (VERDICT r6 #4).

Two failure shapes, both killed after ≥1 committed micro-batch and
restarted from the same checkpoint:

  - ``foreachBatch`` incremental maintenance: a deterministic exception
    INSIDE the batch function (before its state version commits) fails
    the stream; the restart must skip the committed batch, replay only
    the uncommitted ones, and land on a final state bit-identical to the
    one-shot batch aggregate.
  - parquet file sink + stream–stream join: ``query.stop()`` mid-drain
    (join state half-built in the state store); the restart must recover
    the join state from the checkpoint and the sink's ``_spark_metadata``
    commit log must make the read-back exactly-once — the end relation
    equals the batch self-join regardless of where the kill landed.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter

import pytest
from pyspark.sql import functions as F

from recsys_mapreduce_mrjob_spark.sources.readers import derive_ratings, load_events
from recsys_mapreduce_mrjob_spark.streaming.twins import (
    click_purchase_join_stream,
    incremental_item_stats,
)


def _multiset(df):
    return Counter(tuple(r) for r in df.collect())


class _InjectedCrash(RuntimeError):
    pass


def test_foreachbatch_crash_resume_is_exact(spark, sf_dir, tmp_path):
    """Kill the foreachBatch stream after batch 0 commits (exception
    raised at the top of batch 1, before v1 is written); restart from
    the checkpoint; the committed batch must NOT re-run and the final
    merged state must equal the one-shot aggregate exactly."""
    src = str(tmp_path / "ratings_src")
    state = str(tmp_path / "state")
    ratings = derive_ratings(spark, sf_dir)
    ratings.repartition(3).write.parquet(src)

    def crash_on_second(batch_id: int) -> None:
        if batch_id >= 1:
            raise _InjectedCrash(f"injected crash before batch {batch_id} commit")

    # Spark wraps the foreachBatch exception in StreamingQueryException /
    # Py4J layers; asserting on the message keeps the check version-proof.
    with pytest.raises(Exception, match="injected crash"):
        incremental_item_stats(spark, src, state, on_batch=crash_on_second)

    # The crash landed after ≥1 committed micro-batch: v0 exists, and the
    # checkpoint recorded exactly one committed batch.
    assert os.path.isdir(f"{state}/v0"), "batch 0 state version missing"
    commits = [c for c in os.listdir(f"{state}/_checkpoint/commits") if c.isdigit()]
    assert commits == ["0"], f"expected exactly batch 0 committed, got {commits}"

    replayed: list[int] = []
    incremental_item_stats(spark, src, state, on_batch=replayed.append)

    # Exactly-once at foreachBatch granularity: the committed batch is
    # skipped on restart, the uncommitted ones replay.
    assert replayed, "restart processed nothing"
    assert 0 not in replayed, f"committed batch 0 was re-run: {replayed}"

    from recsys_mapreduce_mrjob_spark.streaming.twins import read_bucketed_state

    final = read_bucketed_state(spark, state)
    oneshot = ratings.groupBy("item_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rating").cast("decimal(20,6)"))
        .cast("decimal(38,6)")
        .alias("rating_sum"),
    )
    assert _multiset(final) == _multiset(oneshot)


def test_parquet_sink_kill_resume_is_exact(spark, sf_dir, tmp_path):
    """Stop a running parquet-sink stream–stream join mid-drain (after
    ≥1 committed micro-batch of 12), restart from the checkpoint, and
    assert the read-back relation equals the batch self-join — the
    sink's _spark_metadata log plus the recovered join state make the
    kill invisible in the result."""
    src = str(tmp_path / "events_src")
    data = str(tmp_path / "sink" / "data")
    ckpt = str(tmp_path / "sink" / "checkpoint")
    ev = load_events(spark, sf_dir)
    # 12 files × maxFilesPerTrigger=1 → 12 micro-batches: the stop lands
    # mid-stream with overwhelming probability, and the join state built
    # from early batches must survive into the resumed run.  The slices
    # are EVENT-TIME ordered and written with strictly increasing mtimes
    # (the file source processes oldest-first): a random split would feed
    # the watermark out of order and the join would legitimately DROP
    # late rows — the registered single-batch drain never advances the
    # watermark mid-data, but a multi-batch replay only matches the batch
    # answer if arrival respects event time, as a real ingest's does.
    from pyspark.sql import Window

    buckets = ev.withColumn(
        "bkt", F.ntile(12).over(Window.orderBy("ts", "event_id"))
    )
    for i in range(1, 13):
        buckets.where(F.col("bkt") == i).drop("bkt").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(0.05)  # distinct mtimes fix the source's file order

    joined_stream = click_purchase_join_stream(
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def start():
        return (
            joined_stream.writeStream.format("parquet")
            .option("path", data)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    def committed() -> list[str]:
        try:
            return [c for c in os.listdir(f"{ckpt}/commits") if c.isdigit()]
        except FileNotFoundError:
            return []

    q = start()
    deadline = time.monotonic() + 120
    while not committed():
        assert time.monotonic() < deadline, "no micro-batch committed in 120s"
        assert q.exception() is None, f"stream died before first commit: {q.exception()}"
        time.sleep(0.02)
    q.stop()  # kill mid-drain, ≥1 batch committed
    q.awaitTermination()
    n_at_kill = len(committed())
    assert n_at_kill >= 1

    q2 = start()
    q2.awaitTermination()
    assert len(committed()) > n_at_kill, (
        "restart committed nothing — the kill was not mid-stream "
        f"({n_at_kill} commits at stop)"
    )

    # Batch twin: withWatermark is a no-op on a batch relation, so the
    # same composition IS the batch self-join answer.
    batch = click_purchase_join_stream(ev)
    result = spark.read.schema(batch.schema).parquet(data)
    assert _multiset(result) == _multiset(batch)


def test_scd2_crash_resume_and_split_invariance(spark, smoke_dir, tmp_path):
    """The incremental SCD2 fold under both exactly-once hazards: a crash
    after batch 0 commits (restart must skip the committed batch and
    still land on the batch-compaction answer), and micro-batch split
    sensitivity (a 1-chunk drain — the whole log in one batch — must
    produce the identical state as the crashed-and-resumed 6-chunk
    drain; the fold claims associativity over any time-ordered split)."""
    from recsys_mapreduce_mrjob_spark.operators.events import q_events_scd2
    from recsys_mapreduce_mrjob_spark.streaming.twins import (
        incremental_scd2,
        write_ordered_event_chunks,
    )

    src6 = str(tmp_path / "cdc6")
    st6 = str(tmp_path / "state6")
    write_ordered_event_chunks(spark, smoke_dir, src6, n_chunks=6)

    def crash_on_second(batch_id: int) -> None:
        if batch_id >= 1:
            raise _InjectedCrash(f"injected crash before batch {batch_id} commit")

    with pytest.raises(Exception, match="injected crash"):
        incremental_scd2(spark, src6, st6, on_batch=crash_on_second)
    assert os.path.isdir(f"{st6}/v0"), "batch 0 state version missing"

    replayed: list[int] = []
    incremental_scd2(spark, src6, st6, on_batch=replayed.append)
    assert replayed and 0 not in replayed, f"committed batch re-ran: {replayed}"

    def final_state(state_dir: str):
        from recsys_mapreduce_mrjob_spark.streaming.twins import (
            read_bucketed_state,
        )

        df = read_bucketed_state(spark, state_dir)
        return df.select(
            "user_id",
            "run_id",
            "status",
            F.unix_timestamp("from_ts").alias("valid_from_s"),
            F.unix_timestamp("valid_to_ts").alias("valid_to_s"),
            F.col("valid_to_ts").isNull().alias("is_current"),
            "n_events",
        )

    resumed = _multiset(final_state(st6))
    assert resumed == _multiset(q_events_scd2(spark, smoke_dir))

    # Split invariance: the degenerate 1-chunk drain (no incremental
    # merging at all) reaches the same state.
    src1 = str(tmp_path / "cdc1")
    st1 = str(tmp_path / "state1")
    write_ordered_event_chunks(spark, smoke_dir, src1, n_chunks=1)
    incremental_scd2(spark, src1, st1)
    assert _multiset(final_state(st1)) == resumed


def test_doc_dedup_crash_resume_and_invariance(spark, smoke_dir, tmp_path):
    """The ingestion-dedup fold under the exactly-once hazard plus its
    two invariance claims: a crash after batch 0 commits (restart must
    skip the committed batch and land on the batch keep-first answer),
    micro-batch split invariance (1 chunk ≡ 4 chunks — the min-fold is
    order-invariant, stronger than the SCD2 fold's time-ordered
    contract), and bucket-layout invariance (n_buckets=1 reproduces the
    full-rewrite shape bit-for-bit)."""
    from recsys_mapreduce_mrjob_spark.sources.readers import load_table
    from recsys_mapreduce_mrjob_spark.streaming.twins import (
        incremental_doc_dedup,
        read_bucketed_state,
        write_doc_chunks,
    )

    src4 = str(tmp_path / "docs4")
    st4 = str(tmp_path / "state4")
    write_doc_chunks(spark, smoke_dir, src4, n_chunks=4)

    def crash_on_second(batch_id: int) -> None:
        if batch_id >= 1:
            raise _InjectedCrash(f"injected crash before batch {batch_id} commit")

    with pytest.raises(Exception, match="injected crash"):
        incremental_doc_dedup(spark, src4, st4, on_batch=crash_on_second)
    assert os.path.isdir(f"{st4}/v0"), "batch 0 state version missing"

    replayed: list[int] = []
    incremental_doc_dedup(spark, src4, st4, on_batch=replayed.append)
    assert replayed and 0 not in replayed, f"committed batch re-ran: {replayed}"

    resumed = _multiset(read_bucketed_state(spark, st4))

    # Batch keep-first twin: min doc_id row per content hash.
    docs = load_table(spark, smoke_dir, "documents")
    oneshot = (
        docs.select(
            F.md5(F.col("text").cast("binary")).alias("content_hash"),
            F.struct("doc_id", "lang", "source").alias("first"),
        )
        .groupBy("content_hash")
        .agg(F.min("first").alias("first"))
        .select(
            "content_hash", "first.doc_id", "first.lang", "first.source"
        )
    )
    assert resumed == _multiset(oneshot)

    # Split invariance: the whole corpus in ONE micro-batch.
    src1 = str(tmp_path / "docs1")
    st1 = str(tmp_path / "state1")
    write_doc_chunks(spark, smoke_dir, src1, n_chunks=1)
    incremental_doc_dedup(spark, src1, st1)
    assert _multiset(read_bucketed_state(spark, st1)) == resumed

    # Bucket-layout invariance: one bucket (the old full-rewrite shape).
    stb = str(tmp_path / "state_b1")
    incremental_doc_dedup(spark, src4, stb, n_buckets=1)
    assert _multiset(read_bucketed_state(spark, stb)) == resumed


def test_ann_index_crash_resume_and_pruning(spark, smoke_dir, tmp_path):
    """The streaming IVF index ingest under the exactly-once hazard plus
    its scale contract: crash after batch 0 commits → restart skips the
    committed batch, replays the rest, and the final index (a) holds
    every vector exactly once and (b) answers the probe query with
    partition PRUNING across the per-batch cell dirs."""
    from recsys_mapreduce_mrjob_spark.operators.embeddings import (
        _ivf_assign,
        centroid_rows,
    )
    from recsys_mapreduce_mrjob_spark.streaming.twins import (
        incremental_ivf_index,
        write_embedding_chunks,
    )

    src = str(tmp_path / "vec_src")
    state = str(tmp_path / "state")
    write_embedding_chunks(spark, smoke_dir, src, n_chunks=4)
    cents = centroid_rows(spark, smoke_dir)

    def crash_on_second(batch_id: int) -> None:
        if batch_id >= 1:
            raise _InjectedCrash(f"injected crash before batch {batch_id} commit")

    with pytest.raises(Exception, match="injected crash"):
        incremental_ivf_index(spark, src, state, cents, on_batch=crash_on_second)
    assert os.path.isdir(f"{state}/index/batch=0"), "batch 0 index dir missing"
    commits = [c for c in os.listdir(f"{state}/_checkpoint/commits") if c.isdigit()]
    assert commits == ["0"], f"expected exactly batch 0 committed, got {commits}"

    replayed: list[int] = []
    index_path = incremental_ivf_index(
        spark, src, state, cents, on_batch=replayed.append
    )
    assert replayed and 0 not in replayed, f"committed batch re-ran: {replayed}"

    # Exactly-once content: the streamed index equals the one-shot
    # assignment relation — every vector once, same cell, same payload.
    def hashable(df):
        return df.select(
            "vec_id", "cid", "label", F.col("embedding").cast("string")
        )

    streamed = hashable(spark.read.parquet(index_path))
    oneshot = hashable(_ivf_assign(spark, smoke_dir))
    assert _multiset(streamed) == _multiset(oneshot)

    # Scale contract: a literal cell-id predicate reaches the scan as a
    # partition filter (pruning across every batch= subtree), not a
    # post-scan Filter over all cells.
    plan = (
        spark.read.parquet(index_path)
        .where(F.col("cid").isin([3, 7]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "cid" in plan.split("PartitionFilters")[1][:200]


def test_neardup_crash_resume_and_split_invariance(spark, smoke_dir, tmp_path):
    """The NEAR-dup ingestion fold (round 11 — the fourth bucketed-state
    consumer) under the exactly-once hazard plus its order-invariance
    claim: a crash after batch 0 commits must replay only uncommitted
    batches and land on the batch LSH keep-one answer; 4 interleaved
    chunks (doc_id % 4 — smaller and larger ids arrive in BOTH orders,
    exercising the old-doc flag-flip path) must equal 1 chunk must equal
    the one-shot batch computation built from the SAME shared
    primitives (portable_minhash_sig / portable_verify_pairs)."""
    from recsys_mapreduce_mrjob_spark.operators.dedup import (
        portable_band_rows,
        portable_minhash_sig,
        portable_verify_pairs,
    )
    from recsys_mapreduce_mrjob_spark.sources.readers import load_table
    from recsys_mapreduce_mrjob_spark.streaming.twins import (
        incremental_neardup,
        read_bucketed_state,
        write_doc_chunks,
    )

    src4 = str(tmp_path / "docs4")
    st4 = str(tmp_path / "state4")
    write_doc_chunks(spark, smoke_dir, src4, n_chunks=4)

    def crash_on_second(batch_id: int) -> None:
        if batch_id >= 1:
            raise _InjectedCrash(f"injected crash before batch {batch_id} commit")

    with pytest.raises(Exception, match="injected crash"):
        incremental_neardup(spark, src4, st4, on_batch=crash_on_second)
    assert os.path.isdir(f"{st4}/docs/v0"), "batch 0 docs state missing"

    replayed: list[int] = []
    incremental_neardup(spark, src4, st4, on_batch=replayed.append)
    assert replayed and 0 not in replayed, f"committed batch re-ran: {replayed}"

    def keepers(state_dir: str):
        final = read_bucketed_state(spark, f"{state_dir}/docs")
        return _multiset(
            final.where(~F.col("dropped")).select("doc_id", "lang", "source")
        )

    resumed = keepers(st4)

    # One-shot batch twin from the same shared primitives: drop every
    # doc named as the larger id of a verified near-pair.
    docs = load_table(spark, smoke_dir, "documents")
    sig = portable_minhash_sig(docs.select("doc_id", "text"))
    bands = portable_band_rows(sig)
    ba, bb = bands.alias("ba"), bands.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.bsig") == F.col("bb.bsig"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(F.col("ba.doc_id").alias("doc_a"), F.col("bb.doc_id").alias("doc_b"))
        .distinct()
    )
    pairs = portable_verify_pairs(cand, sig.select("doc_id", "sh_set", "n_sh"))
    oneshot = _multiset(
        docs.join(
            pairs.select(F.col("doc_b").alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        ).select("doc_id", "lang", "source")
    )
    assert resumed == oneshot

    # Split invariance: the whole corpus in ONE micro-batch.
    src1 = str(tmp_path / "docs1")
    st1 = str(tmp_path / "state1")
    write_doc_chunks(spark, smoke_dir, src1, n_chunks=1)
    incremental_neardup(spark, src1, st1)
    assert keepers(st1) == resumed


def test_neardup_band_compaction_and_resumed_ingest(spark, smoke_dir, tmp_path):
    """The band-state lifecycle closed (round 11): drain half the corpus
    (doc_id % 2 == 0) in 3 micro-batches, COMPACT the append-only band
    versions into the bsig-bucketed reserved v-1, then land the other
    half as 2 more chunks and RESUME the same stream — the resumed
    batches must probe the compacted tree (pruned bucket reads) AND the
    uncompacted tail, and the final keeper set must equal the one-shot
    batch answer over the full corpus.  Also pins compaction idempotence
    (re-compacting after the resume merges the new appends in) and that
    merged plain versions are gone."""
    from pyspark.sql import functions as F  # noqa: F811 (test-local alias)

    from recsys_mapreduce_mrjob_spark.operators.dedup import (
        portable_band_rows,
        portable_minhash_sig,
        portable_verify_pairs,
    )
    from recsys_mapreduce_mrjob_spark.sources.readers import load_table
    from recsys_mapreduce_mrjob_spark.streaming.twins import (
        _write_keyed_chunks,
        band_state_paths,
        compact_neardup_bands,
        incremental_neardup,
        read_bucketed_state,
    )

    src = str(tmp_path / "docs_src")
    state = str(tmp_path / "state")
    docs = load_table(spark, smoke_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    _write_keyed_chunks(
        docs.where(F.pmod("doc_id", F.lit(2)) == 0), "doc_id", src, 3
    )
    incremental_neardup(spark, src, state)

    compact_neardup_bands(spark, state, n_buckets=16)
    plain, compacted = band_state_paths(f"{state}/bands")
    assert compacted is not None and compacted.endswith("v-1")
    assert plain == [], f"merged plain versions not cleaned: {plain}"

    # Resume: the other half lands as 2 later chunks in the SAME src dir
    # (later mtimes), and the stream continues off its checkpoint.
    _write_keyed_chunks(
        docs.where(F.pmod("doc_id", F.lit(2)) == 1), "doc_id", src, 2
    )
    incremental_neardup(spark, src, state)

    final = read_bucketed_state(spark, f"{state}/docs")
    resumed = _multiset(
        final.where(~F.col("dropped")).select("doc_id", "lang", "source")
    )

    sig = portable_minhash_sig(docs.select("doc_id", "text"))
    bands = portable_band_rows(sig)
    ba, bb = bands.alias("ba"), bands.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.bsig") == F.col("bb.bsig"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(F.col("ba.doc_id").alias("doc_a"), F.col("bb.doc_id").alias("doc_b"))
        .distinct()
    )
    pairs = portable_verify_pairs(cand, sig.select("doc_id", "sh_set", "n_sh"))
    oneshot = _multiset(
        docs.join(
            pairs.select(F.col("doc_b").alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        ).select("doc_id", "lang", "source")
    )
    assert resumed == oneshot

    # Re-compaction folds the resumed appends in and stays readable.
    compact_neardup_bands(spark, state, n_buckets=16)
    plain2, compacted2 = band_state_paths(f"{state}/bands")
    assert compacted2 is not None and plain2 == []


def test_curation_crash_resume_and_split_invariance(spark, smoke_dir, tmp_path):
    """The full-ladder curation ingestion fold (round 12 — the streaming
    side's composition capstone) under the exactly-once hazard plus its
    order-invariance claim: a crash after batch 0 commits must replay
    only uncommitted batches; 4 interleaved chunks (doc_id % 4 — near-dup
    cluster members arrive in BOTH orders across batches, exercising the
    cross-batch pair discovery and the component walk over a
    batch-bridged pair log) must equal 1 chunk must equal the BATCH
    composite ``curated_docs`` itself — the bit-identity that lets the
    batch chained oracle grade the streaming execution."""
    from recsys_mapreduce_mrjob_spark.operators.text import curated_docs
    from recsys_mapreduce_mrjob_spark.streaming.twins import (
        incremental_curation,
        read_curated_state,
        write_doc_chunks,
    )

    src4 = str(tmp_path / "docs4")
    st4 = str(tmp_path / "state4")
    write_doc_chunks(spark, smoke_dir, src4, n_chunks=4)

    def crash_on_second(batch_id: int) -> None:
        if batch_id >= 1:
            raise _InjectedCrash(f"injected crash before batch {batch_id} commit")

    with pytest.raises(Exception, match="injected crash"):
        incremental_curation(spark, src4, st4, on_batch=crash_on_second)
    assert os.path.isdir(f"{st4}/bands/v0"), "batch 0 band state missing"

    replayed: list[int] = []
    incremental_curation(spark, src4, st4, on_batch=replayed.append)
    assert replayed and 0 not in replayed, f"committed batch re-ran: {replayed}"

    resumed = _multiset(read_curated_state(spark, st4))

    # The batch composite over the same corpus IS the oracle-graded twin.
    batch = _multiset(
        curated_docs(spark, smoke_dir).select(
            "doc_id", "lang_pred", "quality", "n_tokens"
        )
    )
    assert resumed == batch

    # Split invariance: the whole corpus in ONE micro-batch.
    src1 = str(tmp_path / "docs1")
    st1 = str(tmp_path / "state1")
    write_doc_chunks(spark, smoke_dir, src1, n_chunks=1)
    incremental_curation(spark, src1, st1)
    assert _multiset(read_curated_state(spark, st1)) == batch


def test_curation_band_compaction_and_resumed_ingest(spark, smoke_dir, tmp_path):
    """The curation fold's band state shares the near-dup fold's
    append-only layout AND its compaction lifecycle (the probe is the
    shared ``band_probe_candidates``): drain half the corpus in 2
    micro-batches, COMPACT the band versions into the bsig-bucketed
    v-1, land the other half as 2 more chunks, resume — the resumed
    batches must probe compacted tree + uncompacted tail, and the final
    curated relation must still equal the batch composite."""
    from recsys_mapreduce_mrjob_spark.operators.text import curated_docs
    from recsys_mapreduce_mrjob_spark.sources.readers import load_table
    from recsys_mapreduce_mrjob_spark.streaming.twins import (
        _version_of,
        _write_keyed_chunks,
        band_state_paths,
        compact_neardup_bands,
        compact_pair_log,
        incremental_curation,
        read_curated_state,
    )

    src = str(tmp_path / "docs_src")
    state = str(tmp_path / "state")
    docs = load_table(spark, smoke_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    _write_keyed_chunks(
        docs.where(F.pmod("doc_id", F.lit(2)) == 0), "doc_id", src, 2
    )
    incremental_curation(spark, src, state)

    compact_neardup_bands(spark, state, n_buckets=16)
    plain, compacted = band_state_paths(f"{state}/bands")
    assert compacted is not None and compacted.endswith("v-1")
    assert plain == [], f"merged plain versions not cleaned: {plain}"

    # The pair log compacts on the same maintenance cadence: per-batch
    # versions merge into the reserved v-1 and are deleted.
    assert compact_pair_log(spark, f"{state}/pairs").endswith("v-1")
    left = [d for d in os.listdir(f"{state}/pairs") if _version_of(d) is not None]
    assert left == ["v-1"], f"pair versions not merged: {left}"

    _write_keyed_chunks(
        docs.where(F.pmod("doc_id", F.lit(2)) == 1), "doc_id", src, 2
    )
    incremental_curation(spark, src, state)

    resumed = _multiset(read_curated_state(spark, state))
    batch = _multiset(
        curated_docs(spark, smoke_dir).select(
            "doc_id", "lang_pred", "quality", "n_tokens"
        )
    )
    assert resumed == batch


def test_semantic_dedup_crash_resume_and_split_invariance(spark, smoke_dir, tmp_path):
    """The semantic (embedding-cosine) ingestion fold (round 12 — the
    embedding rung's streaming story) under the exactly-once hazard
    plus its order-invariance claim: a crash after batch 0 commits must
    replay only uncommitted batches; 4 interleaved chunks (vec_id % 4 —
    cluster members arrive across batches in both orders, exercising
    the rectangular probe and cross-batch cluster bridging) must equal
    1 chunk must equal the BATCH ``q_dedup_semantic`` drop list itself —
    the bit-identity that lets the batch exact oracle grade the
    streaming execution."""
    from recsys_mapreduce_mrjob_spark.operators.dedup import q_dedup_semantic
    from recsys_mapreduce_mrjob_spark.streaming.twins import (
        incremental_semantic_dedup,
        read_semantic_state,
        write_embedding_chunks,
    )

    src4 = str(tmp_path / "vecs4")
    st4 = str(tmp_path / "state4")
    write_embedding_chunks(spark, smoke_dir, src4, n_chunks=4)

    def crash_on_second(batch_id: int) -> None:
        if batch_id >= 1:
            raise _InjectedCrash(f"injected crash before batch {batch_id} commit")

    with pytest.raises(Exception, match="injected crash"):
        incremental_semantic_dedup(spark, src4, st4, on_batch=crash_on_second)
    assert os.path.isdir(f"{st4}/vecs/v0"), "batch 0 vector state missing"

    replayed: list[int] = []
    incremental_semantic_dedup(spark, src4, st4, on_batch=replayed.append)
    assert replayed and 0 not in replayed, f"committed batch re-ran: {replayed}"

    resumed = _multiset(read_semantic_state(spark, st4))
    batch = _multiset(q_dedup_semantic(spark, smoke_dir))
    assert resumed == batch and sum(batch.values()) > 0

    # Split invariance: the whole corpus in ONE micro-batch (every pair
    # discovered by the diagonal tile alone).
    src1 = str(tmp_path / "vecs1")
    st1 = str(tmp_path / "state1")
    write_embedding_chunks(spark, smoke_dir, src1, n_chunks=1)
    incremental_semantic_dedup(spark, src1, st1)
    assert _multiset(read_semantic_state(spark, st1)) == batch


def test_stream_release_matches_batch_release(spark, smoke_dir):
    """The ingest→release composition (round 12): the release manifest
    computed off the streamed curated state must equal the batch
    release capstone's manifest row-for-row — the end-to-end identity
    that makes 'release off the live ingest state' sound (it follows
    from the curated-state bit-identity plus the shared
    release_manifest algebra, and this pins the composition itself)."""
    from recsys_mapreduce_mrjob_spark import registry

    registry.load_all()
    streamed = _multiset(registry.QUERIES["q_stream_release_exec"](spark, smoke_dir))
    batch = _multiset(registry.QUERIES["q_export_release"](spark, smoke_dir))
    assert streamed == batch and sum(batch.values()) > 0


def _doc_feed(spark, sf_dir):
    from recsys_mapreduce_mrjob_spark.sources.readers import load_table

    return load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )


def _event_feed(spark, sf_dir):
    return load_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


def _write_chunks(src, chunks):
    """Each chunk as one file, stamped so they drain in list order."""
    from recsys_mapreduce_mrjob_spark.streaming import twins

    seen: set = set()
    for k, chunk in enumerate(chunks):
        chunk.coalesce(1).write.mode("append").parquet(src)
        twins._stamp_new_chunk_files(src, seen, 1_700_000_000 + k)
    assert len(seen) == len(chunks), "every chunk must be one file"


@pytest.mark.parametrize(
    "twin,feed,key",
    [
        ("incremental_doc_dedup", _doc_feed, "doc_id"),
        ("incremental_item_stats", lambda s, d: derive_ratings(s, d), "item_id"),
        ("incremental_scd2", _event_feed, "user_id"),
    ],
)
def test_empty_micro_batch_is_a_no_op(spark, smoke_dir, tmp_path, twin, feed, key):
    """A zero-row chunk file between two non-empty ones is a micro-batch
    of its own: the drain must finish, ``on_batch`` must see it, it must
    write no state version, and the end state must equal the drain
    without it."""
    from recsys_mapreduce_mrjob_spark.streaming import twins

    rows = feed(spark, smoke_dir)
    halves = [rows.where(F.col(key) % 2 == k) for k in (0, 1)]

    src3, st3 = str(tmp_path / "src3"), str(tmp_path / "state3")
    _write_chunks(src3, [halves[0], rows.limit(0), halves[1]])
    seen: list[int] = []
    getattr(twins, twin)(spark, src3, st3, on_batch=seen.append)
    assert seen == [0, 1, 2]
    assert os.path.isdir(f"{st3}/v0") and os.path.isdir(f"{st3}/v2")
    assert not os.path.exists(f"{st3}/v1"), "empty batch wrote a version"

    src2, st2 = str(tmp_path / "src2"), str(tmp_path / "state2")
    _write_chunks(src2, halves)
    getattr(twins, twin)(spark, src2, st2)
    assert _multiset(twins.read_bucketed_state(spark, st3)) == _multiset(
        twins.read_bucketed_state(spark, st2)
    )


@pytest.mark.parametrize(
    "twin,subdirs",
    [
        ("incremental_neardup", ("docs", "bands")),
        ("incremental_curation", ("bands", "pairs", "shsets", "kept")),
    ],
)
def test_empty_micro_batch_writes_no_near_dup_state(
    spark, smoke_dir, tmp_path, twin, subdirs
):
    """The empty-batch rule for the two probe-and-verify twins: a
    zero-row chunk between two non-empty ones writes no ``v1`` under any
    of their state subdirs, and the end state equals the drain without
    that chunk."""
    from recsys_mapreduce_mrjob_spark.streaming import twins

    def end_state(state_dir: str) -> Counter:
        if twin == "incremental_neardup":
            docs = twins.read_bucketed_state(spark, f"{state_dir}/docs")
            return _multiset(docs.drop("sh_set"))
        return _multiset(twins.read_curated_state(spark, state_dir))

    rows = _doc_feed(spark, smoke_dir)
    halves = [rows.where(F.col("doc_id") % 2 == k) for k in (0, 1)]

    src3, st3 = str(tmp_path / "src3"), str(tmp_path / "state3")
    _write_chunks(src3, [halves[0], rows.limit(0), halves[1]])
    seen: list[int] = []
    getattr(twins, twin)(spark, src3, st3, on_batch=seen.append)
    assert seen == [0, 1, 2]
    for sub in subdirs:
        assert os.path.isdir(f"{st3}/{sub}/v0") and os.path.isdir(
            f"{st3}/{sub}/v2"
        ), sub
        assert not os.path.exists(f"{st3}/{sub}/v1"), f"empty batch wrote {sub}/v1"

    src2, st2 = str(tmp_path / "src2"), str(tmp_path / "state2")
    _write_chunks(src2, halves)
    getattr(twins, twin)(spark, src2, st2)
    assert end_state(st3) == end_state(st2)
    assert sum(end_state(st2).values()) > 0


def test_semantic_dedup_tolerates_zero_and_null_embeddings(spark, smoke_dir, tmp_path):
    """Degenerate vectors among the first 16 ``vec_id``s — the rows the
    first batch pins its centroids from — must not crash the drain: a
    zero vector and a null embedding are never pinned, have no angle,
    stay in the vector state, pair with nothing, and leave the drop list
    equal to that of the same input without them — also when a later
    batch holds nothing else."""
    from recsys_mapreduce_mrjob_spark.sources.readers import load_table
    from recsys_mapreduce_mrjob_spark.streaming.twins import (
        _stamp_new_chunk_files,
        _write_keyed_chunks,
        incremental_semantic_dedup,
        read_semantic_state,
    )

    emb = load_table(spark, smoke_dir, "embeddings")
    dim = len(emb.first()["embedding"])
    # Both in chunk 0 (even ids), the batch that pins the centroids.
    zero_id, null_id = [
        r["vec_id"]
        for r in emb.where(F.col("vec_id") % 2 == 0)
        .orderBy("vec_id")
        .limit(2)
        .collect()
    ]
    degenerate = emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") == zero_id,
            F.array_repeat(F.lit(0.0).cast("float"), dim),
        )
        .when(F.col("vec_id") == null_id, F.lit(None))
        .otherwise(F.col("embedding")),
    )
    clean = emb.where(~F.col("vec_id").isin(zero_id, null_id))

    # A third batch of degenerate rows only (new ids): it bounds no hull.
    top = emb.agg(F.max("vec_id")).first()[0]
    tail = spark.createDataFrame(
        [(top + 1, [0.0] * dim, 0), (top + 2, None, 0)], emb.schema
    )

    drops = []
    for name, df in (("degenerate", degenerate), ("clean", clean)):
        src, state = str(tmp_path / f"src_{name}"), str(tmp_path / f"st_{name}")
        _write_keyed_chunks(df, "vec_id", src, 2)
        if name == "degenerate":
            before = set(os.listdir(src))
            tail.coalesce(1).write.mode("append").parquet(src)
            _stamp_new_chunk_files(src, before, time.time() + 60)
        incremental_semantic_dedup(spark, src, state)
        drops.append(_multiset(read_semantic_state(spark, state)))
        if name == "degenerate":
            cids = {r["cid"] for r in spark.read.parquet(f"{state}/cents").collect()}
            assert len(cids) == 16 and not cids & {zero_id, null_id}
            kept = spark.read.parquet(f"{state}/vecs/v0").where(
                F.col("vec_id").isin(zero_id, null_id)
            )
            assert {(r["vec_id"], r["tcc"]) for r in kept.collect()} == {
                (zero_id, None),
                (null_id, None),
            }
    assert drops[0] == drops[1] and sum(drops[1].values()) > 0


@pytest.fixture(scope="module")
def curation_drain(spark, smoke_dir, tmp_path_factory):
    """A 2-chunk ``incremental_curation`` drain: its source dir, its state
    dir (tests compact copies of it) and its curated multiset."""
    from recsys_mapreduce_mrjob_spark.streaming.twins import (
        incremental_curation,
        read_curated_state,
        write_doc_chunks,
    )

    base = tmp_path_factory.mktemp("curation_drain")
    src, state = str(base / "src"), str(base / "state")
    write_doc_chunks(spark, smoke_dir, src, n_chunks=2)
    incremental_curation(spark, src, state)
    return src, state, _multiset(read_curated_state(spark, state))


def _compact_log(spark, state: str, log: str):
    from recsys_mapreduce_mrjob_spark.streaming import twins

    if log == "pairs":
        return twins.compact_pair_log(spark, f"{state}/pairs")
    return twins.compact_neardup_bands(spark, state, n_buckets=16)


@pytest.mark.parametrize("log", ["pairs", "bands"])
@pytest.mark.parametrize(
    "crash", ["roll_forward", "roll_back", "stale_staging", "leftover_displaced"]
)
def test_log_compaction_recovers_from_swap_crash(
    spark, curation_drain, tmp_path, log, crash
):
    """The four swap crash windows ``tests/test_ann_compaction.py`` pins
    for the IVF index, for both append-only log compactors of a curation
    state: a publish-ready staging with ``v-1`` renamed away rolls
    forward; a partial staging with ``v-1`` renamed away rolls back; a
    staging left beside a standing ``v-1`` (even a marked one) is
    discarded; a displaced tree left after the swap is dropped.  Each
    re-run ends with a complete ``v-1``, no leftovers and the curated
    relation the drain had."""
    from recsys_mapreduce_mrjob_spark.streaming.twins import read_curated_state

    _, drained, expected = curation_drain
    state = str(tmp_path / "state")
    shutil.copytree(drained, state)
    target = _compact_log(spark, state, log)
    staging, displaced = f"{target}.compact_staging", f"{target}.displaced"
    marker = f"{staging}/_COMPACT_PUBLISH_READY"
    if crash == "roll_forward":
        shutil.copytree(target, staging)
        open(marker, "w").close()
        os.rename(target, displaced)
    elif crash == "roll_back":
        os.makedirs(staging)
        os.rename(target, displaced)
    elif crash == "stale_staging":
        os.makedirs(staging)
        open(marker, "w").close()
    else:
        os.makedirs(displaced)
        with open(f"{displaced}/leftover", "w") as fh:
            fh.write("old tree remnant")
    assert _compact_log(spark, state, log) == target
    assert _multiset(read_curated_state(spark, state)) == expected
    assert os.path.exists(f"{target}/_SUCCESS")
    assert not os.path.exists(f"{target}/_COMPACT_PUBLISH_READY")
    assert not os.path.exists(staging) and not os.path.exists(displaced)


@pytest.mark.parametrize("log", ["pairs", "bands"])
def test_log_compaction_keeps_uncommitted_version_for_replay(
    spark, curation_drain, tmp_path, log
):
    """A log version whose checkpoint commit never landed is replayed on
    resume, and the replay overwrites it: compaction merges only the
    committed versions into ``v-1``, leaves the uncommitted ``v1``
    verbatim, and the replay ends on the curated relation the drain
    had."""
    from recsys_mapreduce_mrjob_spark.streaming.twins import (
        _version_of,
        incremental_curation,
        read_curated_state,
    )

    src, drained, expected = curation_drain
    state = str(tmp_path / "state")
    shutil.copytree(drained, state)
    # Crash before batch 1 commits: neither the commit nor its checksum.
    for name in ("1", ".1.crc"):
        if os.path.exists(f"{state}/_checkpoint/commits/{name}"):
            os.remove(f"{state}/_checkpoint/commits/{name}")
    uncommitted = sorted(os.listdir(f"{state}/{log}/v1"))
    assert _compact_log(spark, state, log) == f"{state}/{log}/v-1"
    versions = sorted(
        d for d in os.listdir(f"{state}/{log}") if _version_of(d) is not None
    )
    assert versions == ["v-1", "v1"]
    assert sorted(os.listdir(f"{state}/{log}/v1")) == uncommitted
    replayed: list[int] = []
    incremental_curation(spark, src, state, on_batch=replayed.append)
    assert replayed == [1]
    assert _multiset(read_curated_state(spark, state)) == expected


def test_log_compaction_of_uncommitted_state_returns_none(spark, smoke_dir, tmp_path):
    """Both log compactors return the ``v-1`` path only when one exists: on
    a state whose only version is uncommitted they merge nothing, return
    None and write no ``v-1``."""
    from recsys_mapreduce_mrjob_spark.streaming.twins import (
        compact_neardup_bands,
        compact_pair_log,
        incremental_curation,
        write_doc_chunks,
    )

    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    write_doc_chunks(spark, smoke_dir, src, n_chunks=1)
    incremental_curation(spark, src, state)
    os.remove(f"{state}/_checkpoint/commits/0")
    assert compact_neardup_bands(spark, state) is None
    assert compact_pair_log(spark, f"{state}/pairs") is None
    for log in ("bands", "pairs"):
        assert sorted(os.listdir(f"{state}/{log}")) == ["v0"], log


def test_log_reads_launch_no_schema_inference_job(
    spark, smoke_dir, tmp_path, monkeypatch
):
    """Every read of an append-only log goes through ``_read_log`` and
    reads by its writer's schema: over a 2-chunk curation drain and a
    2-chunk semantic drain, the two end-state reads and the band and
    pair-log compactions, no job runs inside the read.  Jobs are
    attributed through a job group set around the wrapped helper."""
    from recsys_mapreduce_mrjob_spark.streaming import twins

    sc = spark.sparkContext
    tag = f"log-read-{tmp_path.name}"
    read_log = twins._read_log
    calls: list = []

    def grouped(*args):
        calls.append(args[2])
        sc.setJobGroup(f"{tag}-log", "log read")
        try:
            return read_log(*args)
        finally:
            sc.setJobGroup(f"{tag}-rest", "rest")

    monkeypatch.setattr(twins, "_read_log", grouped)
    cur_src, cur = str(tmp_path / "docs"), str(tmp_path / "curation")
    twins.write_doc_chunks(spark, smoke_dir, cur_src, n_chunks=2)
    twins.incremental_curation(spark, cur_src, cur)
    sem_src, sem = str(tmp_path / "vecs"), str(tmp_path / "semantic")
    twins.write_embedding_chunks(spark, smoke_dir, sem_src, n_chunks=2)
    twins.incremental_semantic_dedup(spark, sem_src, sem)
    assert twins.read_curated_state(spark, cur) is not None
    assert twins.read_semantic_state(spark, sem) is not None
    assert twins.compact_neardup_bands(spark, cur, n_buckets=16) is not None
    assert twins.compact_pair_log(spark, f"{cur}/pairs") is not None
    assert twins.compact_pair_log(spark, f"{sem}/pairs") is not None
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    # Band state of both curation batches, batch 1's vector state, the
    # two pair-log reads and the three compactions' sources.
    assert len(calls) == 8, calls
    assert list(sc.statusTracker().getJobIdsForGroup(f"{tag}-log")) == []
