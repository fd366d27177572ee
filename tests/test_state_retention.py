"""Version retention for the versioned-state streaming twins (round 9).

`incremental_item_stats` / `incremental_scd2` write one `v{batch_id}`
parquet dir per micro-batch and never delete — correct (the newest
version is the state; old ones are snapshots) but unbounded.
`prune_state_versions` is the retention pass: it must keep the newest
`keep` COMPLETE versions, never count or touch incomplete ones, survive
being killed mid-run (oldest-first deletion), and leave the reader's
answer — the max version — bit-identical.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections import Counter
from datetime import datetime

import pytest

from recsys_mapreduce_mrjob_spark.sources.readers import derive_ratings
from recsys_mapreduce_mrjob_spark.streaming.twins import (
    incremental_item_stats,
    prune_state_versions,
)

SF = "/root/testdata/sf0.001"


def _versions(state_dir: str) -> list[int]:
    return sorted(
        int(d[1:])
        for d in os.listdir(state_dir)
        if d.startswith("v") and d[1:].isdigit()
    )


def _assert_one_file_per_bucket(state_dir: str) -> None:
    bucket_dirs = [
        os.path.join(state_dir, v, b)
        for v in os.listdir(state_dir)
        if v.startswith("v")
        for b in os.listdir(os.path.join(state_dir, v))
        if b.startswith("bkt=")
    ]
    assert bucket_dirs, f"no bucket dirs under {state_dir}"
    for d in bucket_dirs:
        parts = [
            f for f in os.listdir(d) if f.startswith("part-") and f.endswith(".parquet")
        ]
        assert len(parts) == 1, f"{d} holds {parts}"


def _final_state(spark, state_dir: str) -> Counter:
    from recsys_mapreduce_mrjob_spark.streaming.twins import read_bucketed_state

    return Counter(
        tuple(r) for r in read_bucketed_state(spark, state_dir).collect()
    )


@pytest.fixture()
def stats_state(spark):
    base = tempfile.mkdtemp(prefix="retention_")
    src, state = f"{base}/src", f"{base}/state"
    derive_ratings(spark, SF).repartition(4).write.parquet(src)
    incremental_item_stats(spark, src, state)
    yield spark, state
    shutil.rmtree(base, ignore_errors=True)


def test_prune_keeps_newest_and_preserves_reader_answer(stats_state):
    spark, state = stats_state
    before_versions = _versions(state)
    assert len(before_versions) >= 3, "fixture needs a multi-batch run"
    answer = _final_state(spark, state)
    pruned = prune_state_versions(state, keep=2)
    assert pruned == before_versions[:-2]
    assert _versions(state) == before_versions[-2:]
    assert _final_state(spark, state) == answer


def test_prune_is_idempotent_and_respects_keep(stats_state):
    spark, state = stats_state
    prune_state_versions(state, keep=1)
    assert prune_state_versions(state, keep=1) == []
    assert len(_versions(state)) == 1


def test_prune_never_counts_or_touches_incomplete_versions(stats_state):
    """An in-flight write (no _SUCCESS) must neither satisfy `keep` nor
    be deleted — the writer's overwrite owns it."""
    spark, state = stats_state
    versions = _versions(state)
    inflight = f"{state}/v{versions[-1] + 1}"
    os.makedirs(inflight)  # crashed/in-progress write: no _SUCCESS
    with open(f"{inflight}/part-00000.parquet.tmp", "w") as fh:
        fh.write("partial")
    answer = _final_state_complete(spark, state, versions[-1])
    prune_state_versions(state, keep=1)
    kept = _versions(state)
    # newest COMPLETE version kept, in-flight dir untouched
    assert versions[-1] in kept and versions[-1] + 1 in kept
    assert os.path.exists(f"{inflight}/part-00000.parquet.tmp")
    assert (
        Counter(
            tuple(r)
            for r in spark.read.parquet(f"{state}/v{versions[-1]}").collect()
        )
        == answer
    )


def _final_state_complete(spark, state_dir: str, v: int) -> Counter:
    return Counter(
        tuple(r) for r in spark.read.parquet(f"{state_dir}/v{v}").collect()
    )


def test_prune_keep_must_be_positive(stats_state):
    _, state = stats_state
    with pytest.raises(ValueError):
        prune_state_versions(state, keep=0)


def test_prune_collects_stale_incomplete_orphans(stats_state):
    """A pruner killed mid-rmtree can delete _SUCCESS before the data
    files, leaving an incomplete dir OLDER than every kept version that
    no writer will ever overwrite (ADVICE r9).  Such orphans must be
    collected; incomplete dirs at-or-newer than the oldest kept complete
    version stay untouched (they may be a writer's in-flight batch)."""
    spark, state = stats_state
    versions = _versions(state)
    assert len(versions) >= 3
    # Simulate the half-deleted oldest version: strip its _SUCCESS.
    orphan = f"{state}/v{versions[0]}"
    os.remove(f"{orphan}/_SUCCESS")
    # And a legitimately in-flight NEWER write (no _SUCCESS either).
    inflight = f"{state}/v{versions[-1] + 1}"
    os.makedirs(inflight)
    prune_state_versions(state, keep=2)
    assert not os.path.exists(orphan), "stale incomplete orphan not collected"
    assert os.path.exists(inflight), "in-flight newer write must survive"


def test_flush_feed_rejects_negative_user_ids(spark):
    """The sentinel flush convention reserves negative user_ids; a source
    that legitimately uses them must fail fast instead of having real
    rows silently dropped by the consumers' `user_id >= 0` filter
    (VERDICT r9 wrong-list #4)."""
    from pyspark.sql import functions as F

    from recsys_mapreduce_mrjob_spark.sources.readers import load_events
    from recsys_mapreduce_mrjob_spark.streaming.twins import (
        stream_events_with_flush,
    )

    base = tempfile.mkdtemp(prefix="negid_")
    try:
        bad_sf = f"{base}/sf"
        os.makedirs(bad_sf)
        load_events(spark, SF).limit(50).withColumn(
            "user_id", -F.col("user_id") - 1
        ).write.parquet(f"{bad_sf}/events.parquet")
        with pytest.raises(ValueError, match="negative"):
            stream_events_with_flush(spark, bad_sf, f"{base}/src")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_flush_feed_rejects_empty_events_table(spark):
    """An empty events table has no max ts to anchor the sentinel flush
    chunks; the feed must fail fast with a named error, not an opaque
    TypeError on the flush_ts arithmetic (ADVICE r9 / VERDICT r10 #3)."""
    from recsys_mapreduce_mrjob_spark.sources.readers import load_events
    from recsys_mapreduce_mrjob_spark.streaming.twins import (
        stream_events_with_flush,
    )

    base = tempfile.mkdtemp(prefix="emptyev_")
    try:
        bad_sf = f"{base}/sf"
        os.makedirs(bad_sf)
        load_events(spark, SF).limit(0).write.parquet(f"{bad_sf}/events.parquet")
        with pytest.raises(ValueError, match="empty"):
            stream_events_with_flush(spark, bad_sf, f"{base}/src")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_prune_preserves_sole_bucket_copies_in_old_versions(spark):
    """Bucketed layout (round 10): a version dir holds only the buckets
    its batch touched, so an OLD version can be the sole live copy of an
    untouched bucket.  Pruning must keep that version (dropping only its
    superseded bucket subtrees) and leave the assembled reader answer
    bit-identical."""
    from recsys_mapreduce_mrjob_spark.streaming.twins import (
        prune_state_versions,
        read_bucketed_state,
    )

    base = tempfile.mkdtemp(prefix="retention_bkt_")
    try:
        state = f"{base}/state"
        # v0 touches buckets {0, 1}; v1 and v2 touch only bucket 0 —
        # bucket 1's sole copy lives in v0 forever.
        spark.createDataFrame(
            [(1, 10, 0), (2, 20, 1)], "item_id long, n long, bkt int"
        ).write.partitionBy("bkt").parquet(f"{state}/v0")
        for v in (1, 2):
            spark.createDataFrame(
                [(1, 10 + v, 0)], "item_id long, n long, bkt int"
            ).write.partitionBy("bkt").parquet(f"{state}/v{v}")
        before = Counter(
            tuple(r) for r in read_bucketed_state(spark, state).collect()
        )
        assert before == Counter({(1, 12), (2, 20)})
        pruned = prune_state_versions(state, keep=1)
        # v0 survives (sole copy of bucket 1) minus its bkt=0 subtree;
        # v1's only bucket is superseded by v2 → whole dir pruned.
        assert pruned == [1]
        assert os.path.isdir(f"{state}/v0/bkt=1")
        assert not os.path.exists(f"{state}/v0/bkt=0")
        assert not os.path.exists(f"{state}/v1")
        assert os.path.isdir(f"{state}/v2/bkt=0")
        after = Counter(
            tuple(r) for r in read_bucketed_state(spark, state).collect()
        )
        assert after == before
        # idempotent
        assert prune_state_versions(state, keep=1) == []
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_reader_ignores_incomplete_versions(spark):
    """A crashed batch leaves a version dir without _SUCCESS; the
    bucketed reader must resolve per-bucket latest over COMPLETE
    versions only — the replayed batch will overwrite the partial."""
    from recsys_mapreduce_mrjob_spark.streaming.twins import (
        read_bucketed_state,
    )

    base = tempfile.mkdtemp(prefix="retention_rd_")
    try:
        state = f"{base}/state"
        spark.createDataFrame(
            [(1, 10, 0)], "item_id long, n long, bkt int"
        ).write.partitionBy("bkt").parquet(f"{state}/v0")
        # Complete newer version for bucket 0, then strip its _SUCCESS:
        # the reader must fall back to v0's copy.
        spark.createDataFrame(
            [(1, 99, 0)], "item_id long, n long, bkt int"
        ).write.partitionBy("bkt").parquet(f"{state}/v1")
        os.remove(f"{state}/v1/_SUCCESS")
        rows = [tuple(r) for r in read_bucketed_state(spark, state).collect()]
        assert rows == [(1, 10)], rows
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_bucket_layout_mismatch_fails_fast(stats_state):
    """A resumed ingest configured with a different bucket count must
    fail at the layout claim, not silently split keys across buckets
    (code-review r10): the state dir records (key, n_buckets) on first
    write and every later writer's claim is checked against it."""
    spark, state = stats_state
    src = state.replace("/state", "/src")
    with pytest.raises(ValueError, match="bucket-layout mismatch"):
        incremental_item_stats(spark, src, state, n_buckets=7)
    # The recorded layout still resumes fine (processes nothing new).
    incremental_item_stats(spark, src, state)


def test_migrate_old_layout_then_resume_ingest(spark):
    """The migration path every mixed-layout guard points at, end to
    end: a pre-bucketing full-layout state rewrites into the bucketed
    layout at the RESERVED version -1, a FRESH ingest stream (batch ids
    restarting at 0) resumes against it — batch 0's replay guard reads
    strictly-below-0, so it sees exactly the migrated state — and the
    final merged state equals the one-shot aggregate over old + new
    data.  Also pins the two refusals: migrating into an existing dir,
    and migrating a dir that already holds bucketed versions."""
    from pyspark.sql import functions as F

    from recsys_mapreduce_mrjob_spark.streaming.twins import (
        migrate_state_to_bucketed,
        read_bucketed_state,
    )

    def stats(df):
        return df.groupBy("item_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("rating").cast("decimal(20,6)"))
            .cast("decimal(38,6)")
            .alias("rating_sum"),
        )

    base = tempfile.mkdtemp(prefix="migrate_")
    try:
        ratings = derive_ratings(spark, SF)
        part_a = ratings.where(F.col("item_id") % 3 == 0)
        part_b = ratings.where(F.col("item_id") % 3 != 0)
        old, new = f"{base}/old_state", f"{base}/new_state"
        # Pre-bucketing layout: the whole state in one full version dir
        # (arbitrary batch id — only the newest complete one migrates).
        stats(part_a).write.parquet(f"{old}/v5")
        migrate_state_to_bucketed(spark, old, new, key="item_id", n_buckets=8)
        assert os.path.isdir(f"{new}/v-1/bkt=0")
        _assert_one_file_per_bucket(new)
        migrated = Counter(
            tuple(r) for r in read_bucketed_state(spark, new).collect()
        )
        assert migrated == Counter(tuple(r) for r in stats(part_a).collect())
        # Resume: a fresh stream over the remaining data, folding into
        # the migrated dir.
        src_b = f"{base}/src_b"
        part_b.repartition(2).write.parquet(src_b)
        incremental_item_stats(spark, src_b, new, n_buckets=8)
        final = Counter(
            tuple(r) for r in read_bucketed_state(spark, new).collect()
        )
        assert final == Counter(tuple(r) for r in stats(ratings).collect())
        # Refusals: existing target; already-bucketed source.
        with pytest.raises(ValueError, match="already exists"):
            migrate_state_to_bucketed(spark, old, new, key="item_id")
        with pytest.raises(ValueError, match="bucketed version"):
            migrate_state_to_bucketed(
                spark, new, f"{base}/new2", key="item_id"
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_reader_handles_pure_old_layout_and_rejects_mixed(spark):
    """A PRE-bucketing state dir (versions with no bkt= subdirs) stays
    readable — newest complete full version wins — while a dir MIXING
    both layouts raises: reconciling a full snapshot with per-bucket
    slices needs the writer's bucket count, so any silent union would
    double-count keys."""
    from recsys_mapreduce_mrjob_spark.streaming.twins import (
        read_bucketed_state,
    )

    base = tempfile.mkdtemp(prefix="retention_mix_")
    try:
        state = f"{base}/state"
        spark.createDataFrame(
            [(1, 10)], "item_id long, n long"
        ).write.parquet(f"{state}/v0")
        spark.createDataFrame(
            [(1, 11)], "item_id long, n long"
        ).write.parquet(f"{state}/v1")
        assert [tuple(r) for r in read_bucketed_state(spark, state).collect()] == [
            (1, 11)
        ]
        spark.createDataFrame(
            [(2, 20, 0)], "item_id long, n long, bkt int"
        ).write.partitionBy("bkt").parquet(f"{state}/v2")
        with pytest.raises(ValueError, match="mixes"):
            read_bucketed_state(spark, state)
    finally:
        shutil.rmtree(base, ignore_errors=True)


_TWIN_INPUTS = {
    "incremental_item_stats": (
        "user_id long, item_id long, rating double",
        [(1, 10, 4.0)],
    ),
    "incremental_doc_dedup": (
        "doc_id long, text string, lang string, source string",
        [(1, "a b c d e", "en", "web")],
    ),
    "incremental_scd2": (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
        [(1, datetime(2024, 1, 1), 1, "click", 1.0, None)],
    ),
}


@pytest.mark.parametrize("twin", sorted(_TWIN_INPUTS))
def test_writers_reject_pure_old_layout(spark, twin, tmp_path):
    """The write-path twin of the reader guard above: a fold over a
    state dir holding a pure pre-bucketing version must fail fast
    instead of folding from empty state — even when that version's id
    is one the stream itself is about to write (batch 0 over ``v0``),
    where the replay guard alone would overwrite it — and must write no
    version of its own."""
    from recsys_mapreduce_mrjob_spark.streaming import twins

    schema, rows = _TWIN_INPUTS[twin]
    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    # One input file: batch 0 is the only batch and carries the row.
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame([(1, 10)], "k long, n long").write.parquet(f"{state}/v0")
    with pytest.raises(Exception, match="pre-bucketing"):
        getattr(twins, twin)(spark, src, state)
    assert _versions(state) == [0]
    assert not any(d.startswith("bkt=") for d in os.listdir(f"{state}/v0"))
    assert [tuple(r) for r in spark.read.parquet(f"{state}/v0").collect()] == [
        (1, 10)
    ]


def test_empty_state_read_is_a_jvm_scan_of_the_schema(spark, tmp_path):
    """With no version below the batch, the state read is a zero-path
    parquet scan of the given schema: it has the DDL's columns and types
    and plans no Python-backed ``ExistingRDD`` scan, which would start
    Python workers on a stream's first batch."""
    from recsys_mapreduce_mrjob_spark.streaming.twins import _read_buckets

    state = tmp_path / "state"
    state.mkdir()
    df = _read_buckets(
        spark, str(state), 0, {0, 1}, "doc_id long, sh_set array<long>, n_sh int"
    )
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("doc_id", "bigint"),
        ("sh_set", "array<bigint>"),
        ("n_sh", "int"),
    ]
    assert df.collect() == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan


def test_fold_write_shape_and_schema_known_read(spark, smoke_dir, tmp_path, monkeypatch):
    """The bucketed fold's per-batch job shape over a two-file
    ``incremental_doc_dedup`` drain: every ``v*/bkt=*`` dir holds exactly
    one parquet file; each version's write stage runs at most one task
    per core, however many buckets the batch touched; and batch 1's
    state read, which has batch 0's version to read, launches no
    schema-inference job.  Jobs are attributed through job groups set
    from ``on_batch`` (the fold) and around the state read."""
    from recsys_mapreduce_mrjob_spark.streaming import twins

    sc = spark.sparkContext
    src, state = str(tmp_path / "docs"), str(tmp_path / "state")
    twins.write_doc_chunks(spark, smoke_dir, src, n_chunks=2)
    tag = f"write-shape-{tmp_path.name}"
    current: dict[str, str] = {}

    def on_batch(batch_id: int) -> None:
        current["fold"] = f"{tag}-fold-{batch_id}"
        sc.setJobGroup(current["fold"], current["fold"])

    read_buckets = twins._read_buckets

    def grouped_read(s, state_dir, batch_id, *rest):
        sc.setJobGroup(f"{tag}-read-{batch_id}", "state read")
        try:
            return read_buckets(s, state_dir, batch_id, *rest)
        finally:
            sc.setJobGroup(current["fold"], current["fold"])

    monkeypatch.setattr(twins, "_read_buckets", grouped_read)
    twins.incremental_doc_dedup(spark, src, state, on_batch=on_batch)
    sc._jsc.sc().listenerBus().waitUntilEmpty()

    _assert_one_file_per_bucket(state)
    assert _versions(state) == [0, 1]
    tracker = sc.statusTracker()
    for batch_id in (0, 1):
        jobs = tracker.getJobIdsForGroup(f"{tag}-fold-{batch_id}")
        assert jobs, f"no jobs attributed to batch {batch_id}"
        # The write is the fold's last action; its result stage is the
        # last stage of that job.
        write_stage = max(tracker.getJobInfo(max(jobs)).stageIds)
        n_tasks = tracker.getStageInfo(write_stage).numTasks
        assert n_tasks <= sc.defaultParallelism, (batch_id, n_tasks)
    assert list(tracker.getJobIdsForGroup(f"{tag}-read-1")) == []


@pytest.mark.parametrize(
    "twin,bucketed",
    [
        ("incremental_neardup", ("docs",)),
        ("incremental_curation", ("shsets", "kept")),
    ],
)
def test_probe_and_verify_fold_shape(spark, smoke_dir, tmp_path, monkeypatch, twin, bucketed):
    """The fold shape of the two probe-and-verify twins over a two-file
    drain: every ``v*/bkt=*`` dir of their bucketed state holds one
    parquet file; each bucket write stage runs at most one task per
    core; and batch 1's bucket read and band-state read, which both
    have batch 0's versions to read, launch no schema-inference job.
    Jobs are attributed through job groups set from ``on_batch`` and
    around each wrapped helper call."""
    from recsys_mapreduce_mrjob_spark.streaming import twins

    sc = spark.sparkContext
    src, state = str(tmp_path / "docs"), str(tmp_path / "state")
    twins.write_doc_chunks(spark, smoke_dir, src, n_chunks=2)
    tag = f"pv-shape-{tmp_path.name}"
    current: dict[str, str] = {}

    def on_batch(batch_id: int) -> None:
        current["fold"] = f"{tag}-fold-{batch_id}"
        sc.setJobGroup(current["fold"], current["fold"])

    def grouped(name: str, fn, group_of):
        def call(*args):
            sc.setJobGroup(group_of(*args), name)
            try:
                return fn(*args)
            finally:
                sc.setJobGroup(current["fold"], current["fold"])

        monkeypatch.setattr(twins, name, call)

    grouped(
        "_read_buckets",
        twins._read_buckets,
        lambda s, state_dir, batch_id, *rest: f"{tag}-read-{batch_id}",
    )
    grouped(
        "band_state_reader",
        twins.band_state_reader,
        lambda s, buckets, bands_dir, batch_id: f"{tag}-bands-{batch_id}",
    )
    grouped(
        "_write_buckets",
        twins._write_buckets,
        lambda state, state_dir, batch_id, *rest: (
            f"{tag}-write-{os.path.basename(state_dir)}-{batch_id}"
        ),
    )
    getattr(twins, twin)(spark, src, state, on_batch=on_batch)
    sc._jsc.sc().listenerBus().waitUntilEmpty()

    tracker = sc.statusTracker()
    for sub in bucketed:
        _assert_one_file_per_bucket(f"{state}/{sub}")
        assert _versions(f"{state}/{sub}") == [0, 1], sub
        for batch_id in (0, 1):
            jobs = tracker.getJobIdsForGroup(f"{tag}-write-{sub}-{batch_id}")
            assert jobs, f"no {sub} write attributed to batch {batch_id}"
            # The write's result stage is the last stage of its last job.
            write_stage = max(tracker.getJobInfo(max(jobs)).stageIds)
            n_tasks = tracker.getStageInfo(write_stage).numTasks
            assert n_tasks <= sc.defaultParallelism, (sub, batch_id, n_tasks)
    assert list(tracker.getJobIdsForGroup(f"{tag}-read-1")) == []
    assert list(tracker.getJobIdsForGroup(f"{tag}-bands-1")) == []


def test_band_read_after_compaction_runs_no_job(spark, smoke_dir, tmp_path, monkeypatch):
    """A near-dup batch resumed after ``compact_neardup_bands`` learns the
    compacted buckets its signatures hash into from the observation
    taken while its band rows materialize, so the band-state read
    launches no job.  Jobs are attributed through a job group set around
    the wrapped ``band_state_reader``."""
    from pyspark.sql import functions as F

    from recsys_mapreduce_mrjob_spark.sources.readers import load_table
    from recsys_mapreduce_mrjob_spark.streaming import twins

    sc = spark.sparkContext
    src, state = str(tmp_path / "docs"), str(tmp_path / "state")
    docs = load_table(spark, smoke_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    twins._write_keyed_chunks(docs.where(F.col("doc_id") % 2 == 0), "doc_id", src, 1)
    twins.incremental_neardup(spark, src, state)
    assert twins.compact_neardup_bands(spark, state, n_buckets=16) is not None
    twins._write_keyed_chunks(docs.where(F.col("doc_id") % 2 == 1), "doc_id", src, 1)

    tag = f"band-read-{tmp_path.name}"
    band_state_reader = twins.band_state_reader
    reads: list[int] = []

    def grouped(*args):
        reads.append(args[3])
        sc.setJobGroup(f"{tag}-{args[3]}", "band state read")
        try:
            return band_state_reader(*args)
        finally:
            sc.setJobGroup(f"{tag}-rest", "rest")

    monkeypatch.setattr(twins, "band_state_reader", grouped)
    twins.incremental_neardup(spark, src, state)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert reads == [1]
    assert list(sc.statusTracker().getJobIdsForGroup(f"{tag}-1")) == []
