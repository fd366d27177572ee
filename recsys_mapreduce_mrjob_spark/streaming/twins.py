"""Structured Streaming twins of the §J batch operators.

SURVEY.md §2.2.J declares the batch formulations (deterministic,
oracle-checked in :mod:`..operators.events`); these are the same
computations over an unbounded source — ``readStream`` + ``withWatermark``
+ identical transformations — proving the engine's claim that batch and
streaming share semantics.  Deliberately NOT registered in the query
registry: micro-batch emission boundaries aren't hash-reproducible, so the
contract is pinned by ``tests/test_streaming_twins.py`` instead, which
runs each twin to end-of-input (``availableNow`` trigger) and compares
against the batch answer.

Scale notes: the watermark bounds window state (buckets older than
watermark are finalized and evicted); ``session_window`` merges gap-based
sessions in the state store; ``dropDuplicates`` state is similarly
watermark-bounded in event-time — the standard production configuration
for each operator.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.readers import ntz_as_utc_instant

# The streaming file source needs an explicit schema (no inference); the
# ts column has shipped two ways across driver testdata rounds (see
# sources/readers.py load_events): INT64 TIMESTAMP(NANOS) — declared LONG
# under nanosAsLong and truncated ns→µs — or TIMESTAMP(MICROS), declared
# TIMESTAMP directly (session tz is pinned UTC, matching the naive value).
def _events_raw_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` twin of ``load_events``: same schema and the same
    ts normalization as the batch reader, unbounded file source.  A batch
    footer probe picks the encoding (plan-time only, no job)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    nanos = (
        dict(spark.read.parquet(f"{sf_dir}/events.parquet").dtypes)["ts"]
        in ("bigint", "long")
    )
    # Micros encoding: declare NTZ (what the file actually stores — no
    # zone) and convert to the UTC instant explicitly, so the stream's
    # event time matches the batch reader under any session timezone.
    ts_type = T.LongType() if nanos else T.TimestampNTZType()
    # The streaming file source requires a *directory*; glob-filter it down
    # to the events file so sibling tables aren't picked up.
    raw = (
        spark.readStream.schema(_events_raw_schema(ts_type))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if nanos:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", ntz_as_utc_instant(F.col("ts")))


def tumbling_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of ``q_window_tumbling``: watermarked 1-hour windows."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.round(F.sum("value"), 4) + F.lit(0.0)).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of ``q_window_sliding`` (1 h length, 15 min slide)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.round(F.sum("value"), 4) + F.lit(0.0)).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of ``q_window_session``: native ``session_window``
    with the same 30-minute gap.  Output is (user, session window bounds,
    event count, duration) — session *indices* are a batch-only notion, so
    the twin identifies sessions by their start time instead.

    Event time is truncated to whole seconds FIRST: the batch
    formulation (and its oracle) sessionize on second-floored epoch gaps
    (``> 1800``), while ``session_window`` splits on the true
    microsecond gap — a same-user gap in (1800, 1801) s whose floored
    difference is exactly 1800 would merge in batch but split in
    streaming.  On truncated timestamps every gap is an integer number
    of seconds, making the two boundary rules identical for ALL inputs
    (Spark merges at exactly 1800 s, as does ``> 1800`` on floors), not
    just for datasets that happen to avoid the window."""
    events = events.withColumn("ts", F.date_trunc("second", F.col("ts")))
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            F.unix_timestamp(F.col("w.end")).alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of ``q_stateful_dedup_events``: keyed
    ``dropDuplicates`` with watermark-bounded state."""
    return (
        events.withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_timestamp("ts").alias("ts_epoch"),
        )
    )


def run_to_memory(
    df: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drain a streaming DataFrame to end-of-input (``availableNow``) into
    an in-memory table and return the result as a batch DataFrame.
    Test/debug harness — production sinks would be kafka/parquet/delta."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


def run_to_parquet(df: DataFrame, name: str) -> DataFrame:
    """Drain an append-mode streaming DataFrame to end-of-input
    (``availableNow``) into a fresh parquet sink directory — the REAL
    file-sink path with its exactly-once ``_spark_metadata`` commit log
    and mandatory checkpoint — and read the directory back as a batch
    DataFrame.

    This is the production sink shape (swap the directory for the lake
    path and ``availableNow`` for a continuous trigger); ``run_to_memory``
    remains the in-process harness.  Append mode only: a file sink cannot
    retract, so aggregations must be watermark-finalized — callers here
    use emission-exact shapes (stream–stream inner joins, stateless
    transforms) where append output equals the batch answer for any
    micro-batch split.  The read-back passes the stream's own schema so
    an empty result (no committed files) still yields the right relation.

    The sink directory is removed at interpreter exit (``atexit``) — it
    must outlive this call because the returned DataFrame reads it
    lazily, but a best-of-N harness re-invoking the query would
    otherwise accumulate a full query-output + checkpoint tree per run
    (code-review r6).
    """
    import atexit
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix=f"spark_sink_{name}_")
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    q = (
        df.writeStream.format("parquet")
        .option("path", f"{out}/data")
        .option("checkpointLocation", f"{out}/checkpoint")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.read.schema(df.schema).parquet(f"{out}/data")


def stateful_counter_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (event count, value sum) maintained in the state store and
    re-emitted each micro-batch — the escape hatch for stateful logic
    ``dropDuplicates``/windows can't express.

    State is one (long, double) tuple per user — bounded by key
    cardinality, not stream length; Arrow batches stream through the
    Python worker per key group.  At end-of-input the emitted state equals
    the batch groupBy aggregate (pinned by test).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "sum_value": [round(s, 4) + 0.0]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        "user_id long, n_events long, sum_value double",
        "n long, s double",
        "update",
        GroupStateTimeout.NoTimeout,
    )


# Key-hash bucket count for the versioned-state twins.  It fixes the
# state's file layout only: the write runs on at most one task per core
# whatever the count (:func:`_write_buckets`), so the two are independent.
# The bench rung and a production deployment raise it (thousands of
# buckets) so a micro-batch touches — and therefore rewrites — only
# |batch keys| buckets of a billion-key state, never the whole dimension
# (VERDICT r9 "what's missing" #1: the IVF upsert's O(|batch|) discipline
# applied to folding state).
_STATE_BUCKETS = 32


def _bucket_expr(key, n_buckets: int):
    """Deterministic state bucket for ``key`` — pmod(xxhash64, B).  The
    hash only routes rows to files (never crosses into graded values),
    so engine portability is not required here."""
    return F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")


# Version-dir name → batch id.  ``v-1`` is the RESERVED migration slot
# (see migrate_state_to_bucketed): every replay guard reads versions
# strictly below its batch id, and real batch ids start at 0, so -1 is
# the one id a resumed stream can never replay-overwrite — the same
# discipline as the IVF compaction's reserved ``batch=-1`` subtree.
_VERSION_RE = re.compile(r"^v(-1|\d+)$")


def _version_of(name: str) -> int | None:
    m = _VERSION_RE.match(name)
    return int(m.group(1)) if m else None


def _complete_versions(
    path: str, below: int | None = None
) -> list[tuple[int, str]]:
    """``(id, dir)`` of every COMPLETE (``_SUCCESS`` present) ``v{id}``
    under ``path``, ascending by id — optionally only ids strictly
    ``below`` a batch id (the replay guard: a crashed batch's partial or
    uncommitted version must not feed its own replay).  ``[]`` when
    ``path`` does not exist."""
    import os

    try:
        names = os.listdir(path)
    except OSError:
        return []
    return sorted(
        (v, vdir)
        for d in names
        if (v := _version_of(d)) is not None
        and (below is None or v < below)
        and os.path.exists(os.path.join(vdir := os.path.join(path, d), "_SUCCESS"))
    )


def _claim_bucket_layout(state_dir: str, key: str, n_buckets: int) -> None:
    """Pin (key column, bucket count) in ``{state_dir}/_bucket_layout``
    on first write; fail fast on any later writer that disagrees.
    Without this a resumed ingest configured with a different
    ``n_buckets`` (or fold key) would hash the same key into a different
    bucket, its replay guard would read the WRONG buckets, and the key
    would end up in two buckets — ``read_bucketed_state`` then
    double-counts it and no layout guard ever fires (code-review r10).
    The marker is json so a human debugging a state dir can read it."""
    import json
    import os

    path = os.path.join(state_dir, "_bucket_layout")
    claim = {"key": key, "n_buckets": n_buckets}
    try:
        with open(path) as fh:
            existing = json.load(fh)
    except FileNotFoundError:
        os.makedirs(state_dir, exist_ok=True)
        tmp = f"{path}.tmp"
        with open(tmp, "w") as fh:
            json.dump(claim, fh)
        os.replace(tmp, path)  # atomic: concurrent claimants agree or lose
        return
    if existing != claim:
        raise ValueError(
            f"bucket-layout mismatch for {state_dir}: state was written "
            f"with {existing}, this writer is configured with {claim} — "
            "resuming would split keys across buckets and double-count; "
            "use the recorded layout or migrate into a fresh dir"
        )


def _committed(state_dir: str, ids) -> list[int]:
    """The ``ids`` (ascending) that ``{state_dir}/_checkpoint/commits``
    lists — the checkpoint :func:`_drain` pins.  With no readable
    commits log, every id but the newest: ``foreachBatch`` runs batches
    in order, so at most the newest can be written but uncommitted.

    A compaction merges only these.  Structured Streaming replays an
    uncommitted id on resume, and the upsert's overwrite of that id's
    output is its idempotence mechanism, so merged rows must never live
    under a replayable id."""
    import os

    ids = sorted(ids)
    try:
        names = os.listdir(os.path.join(state_dir, "_checkpoint", "commits"))
    except OSError:
        return ids[:-1]
    done = {int(f) for f in names if f.isdigit()}
    return [i for i in ids if i in done]


# Written into a compaction's staging tree LAST, after every file of it:
# a staging tree holding it is whole and may be published.
_COMPACT_PUBLISH_READY = "_COMPACT_PUBLISH_READY"


def _swap_compact(target: str, write) -> bool:
    """The one crash-safe compaction protocol: replace the tree
    ``target`` with the one ``write(staging)`` builds, where a crash at
    any point leaves a readable ``target`` or one the next call
    restores.  Run it in a maintenance window (ingest stopped): the swap
    momentarily renames ``target`` away, which a concurrent upsert must
    not race.

      1. Recovery.  With ``target`` missing, a prior call died between
         the two renames of step 3: roll FORWARD to a
         ``{target}.compact_staging`` that holds
         ``_COMPACT_PUBLISH_READY`` (Spark's ``_SUCCESS`` is not enough
         once a writer adds files after its Spark write), otherwise BACK
         to ``{target}.displaced``.  Then any leftover staging or
         displaced tree is dropped: a retried compaction never trusts a
         partial artifact, it recomputes.
      2. ``write(staging)`` builds the new tree, or returns False when
         there is nothing to merge (then nothing else happens).
      3. The marker is written, ``target → displaced`` and
         ``staging → target`` are renamed (each atomic; the only window
         without ``target`` is between them, which step 1 repairs), the
         marker is removed from the published tree and the displaced
         tree deleted.

    At production scale this is a lakehouse table-maintenance job
    (OPTIMIZE / rewrite_data_files).  Returns whether it published."""
    import os
    import shutil

    staging, displaced = f"{target}.compact_staging", f"{target}.displaced"
    if not os.path.exists(target):
        if os.path.exists(os.path.join(staging, _COMPACT_PUBLISH_READY)):
            os.rename(staging, target)
            os.remove(os.path.join(target, _COMPACT_PUBLISH_READY))
        elif os.path.exists(displaced):
            os.rename(displaced, target)
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(displaced, ignore_errors=True)
    if not write(staging):
        return False
    with open(os.path.join(staging, _COMPACT_PUBLISH_READY), "w"):
        pass
    if os.path.exists(target):
        os.rename(target, displaced)
    os.rename(staging, target)
    os.remove(os.path.join(target, _COMPACT_PUBLISH_READY))
    shutil.rmtree(displaced, ignore_errors=True)
    return True


def _read_log(spark: SparkSession, schema: str | T.StructType, paths) -> DataFrame:
    """The one read of an append-only log's ``v{id}`` versions (bands,
    pairs, vectors) and compacted leaves: by the ``schema`` its writer
    fixed (DDL string or ``StructType``), so no job runs to infer it.
    With no paths the same read scans nothing: an empty frame planned on
    the JVM alone."""
    return spark.read.schema(schema).parquet(*paths)


def _bucket_leaves(tree: str, buckets=None) -> list[str]:
    """The ``bkt=`` dirs of a compacted bucketed tree, ascending by
    bucket, only those in ``buckets`` when given.  Read as leaves, so the
    tree's ``bkt`` partitioning never meets the plain versions in one
    read."""
    import os

    found = sorted(int(d[4:]) for d in os.listdir(tree) if d.startswith("bkt="))
    return [
        os.path.join(tree, f"bkt={b}")
        for b in found
        if buckets is None or b in buckets
    ]


def bucket_latest_paths(
    state_dir: str,
    below: int | None = None,
    buckets: set[int] | None = None,
) -> dict[int, str]:
    """For each state bucket, the path of the newest COMPLETE version
    (``_SUCCESS`` present) that contains it — optionally restricted to
    versions strictly ``below`` a batch id (the upsert's replay guard:
    a crashed batch's own complete-but-uncommitted version must not
    feed its replay) and to a ``buckets`` subset (the upsert reads only
    the buckets the batch touches).  A version dir with no ``bkt=``
    subdirs (the pre-bucketing layout) registers as pseudo-bucket −1
    mapping to the version dir itself, so a PURE old-layout dir stays
    readable; a dir MIXING both layouts raises — reconciling them needs
    the writer's bucket count, which the reader does not have, so
    migrate by rewriting into a fresh dir, never in place."""
    import os

    latest: dict[int, tuple[int, str]] = {}
    # Ascending: later versions overwrite dict slots.
    for v, vdir in _complete_versions(state_dir, below):
        subs = [d for d in os.listdir(vdir) if d.startswith("bkt=")]
        if not subs:
            if buckets is None or -1 in buckets:
                latest[-1] = (v, vdir)
            continue
        for d in subs:
            b = int(d.split("=", 1)[1])
            if buckets is None or b in buckets:
                latest[b] = (v, os.path.join(vdir, d))
    # Mixed-history guard: a full-layout version holds the WHOLE state
    # while bucketed versions hold per-bucket slices — any union of the
    # two double-counts some keys, and reconciling them needs the
    # writer's bucket count, which the reader does not have.  Fail fast:
    # migrate a pre-bucketing state by REWRITING it (read old → write
    # through the bucketed ingest into a fresh dir), never in place.
    if -1 in latest and len(latest) > 1:
        raise ValueError(
            f"bucket_latest_paths: {state_dir} mixes a pre-bucketing "
            "full-layout version with bucketed versions — unreadable "
            "without double-counting; migrate_state_to_bucketed rewrites it "
            "into a fresh directory"
        )
    return {b: p for b, (v, p) in latest.items()}


def read_bucketed_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The CURRENT state of a bucket-versioned state dir: the union of
    every bucket's newest complete version (each bucket's latest writer
    owns it; untouched buckets live in older versions).  Returns None
    for an empty/absent state."""
    paths = sorted(bucket_latest_paths(state_dir).values())
    if not paths:
        return None
    return spark.read.parquet(*paths)


def _drain(
    spark: SparkSession,
    schema: str,
    src_dir: str,
    state_dir: str,
    upsert,
    on_batch,
) -> None:
    """The ONE ``foreachBatch`` driver of the ingestion twins: each
    parquet file in ``src_dir`` is one micro-batch
    (``maxFilesPerTrigger=1``), ``upsert(batch_df, batch_id)`` folds it
    into ``state_dir``, the checkpoint lives in
    ``{state_dir}/_checkpoint``, and the ``availableNow`` trigger
    returns once every file present at start is committed.

    ``on_batch(batch_id)``, when given, runs before ``upsert`` for every
    batch, empty ones included — the crash-injection/observation hook
    of the resume tests: raising from it kills the stream BEFORE the
    batch's state commits, exactly the mid-stream failure a restart
    must recover from."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        if on_batch is not None:
            on_batch(batch_id)
        upsert(batch_df, batch_id)

    (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(run)
        .option("checkpointLocation", f"{state_dir}/_checkpoint")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _read_buckets(
    spark: SparkSession,
    state_dir: str,
    batch_id: int,
    touched: set[int],
    schema: str | T.StructType,
) -> DataFrame:
    """The state of the ``touched`` buckets as a batch's fold must see
    it: each bucket's newest complete version strictly below
    ``batch_id`` (layout contract: :func:`_bucketed_fold`), read by its
    known ``schema`` (DDL string or ``StructType``) so no job runs to
    infer it.  With no such version the same read scans zero paths: an
    empty frame planned on the JVM alone, where an empty
    ``createDataFrame`` would start Python workers.

    The one write-path fail-fast: a state dir holding ANY complete
    pre-bucketing version (no ``bkt=`` subdirs) raises, whatever its
    id.  Skipping it would fold from empty state and commit a corrupted
    version before any reader noticed (code-review r10); and a version
    at or above ``batch_id`` — out of the replay guard's sight — would
    be silently overwritten."""
    if -1 in bucket_latest_paths(state_dir, buckets={-1}):
        raise ValueError(
            f"{state_dir} holds a pre-bucketing full-layout version — run "
            "migrate_state_to_bucketed into a fresh dir first"
        )
    paths = bucket_latest_paths(state_dir, below=batch_id, buckets=touched)
    return spark.read.schema(schema).parquet(*sorted(paths.values()))


def _write_buckets(
    state: DataFrame,
    state_dir: str,
    batch_id: int,
    key: str,
    n_buckets: int,
    touched,
) -> None:
    """Write ``state`` — the new rows of exactly the ``touched``
    buckets — as version ``{state_dir}/v{batch_id}``, one
    ``bkt={pmod(xxhash64(key), n_buckets)}`` subdir per bucket holding
    one file, written by at most as many tasks as there are cores.
    Hash-repartitioning ON the bucket key sends each bucket to exactly
    one task, so each bucket gets one file: without it every write task
    emits a file per touched bucket (tasks × buckets small files —
    measured 8× the whole-batch wall at the bench rung), and the next
    read of the bucket opens them all.  More tasks than cores only add
    launches of tasks that each write one small file.  The overwrite
    makes a replayed batch's rewrite idempotent."""
    n_tasks = min(len(touched), state.sparkSession.sparkContext.defaultParallelism)
    state.withColumn("bkt", _bucket_expr(F.col(key), n_buckets)).repartition(
        n_tasks, "bkt"
    ).write.mode("overwrite").partitionBy("bkt").parquet(
        f"{state_dir}/v{batch_id}"
    )


def _bucketed_fold(
    keys: DataFrame,
    state_dir: str,
    batch_id: int,
    key: str,
    n_buckets: int,
    schema: str | T.StructType,
    step,
    reads: DataFrame | None = None,
) -> None:
    """Fold one micro-batch into the bucketed state: persist the batch's
    key frame ``keys``, and the ``reads`` frame of keys whose buckets the
    step must see but not rewrite, under an observation of the buckets
    their ``key`` column hashes into; fill the cache with one ``noop``
    write (the same pass yields both bucket sets); read the state of
    every touched bucket by its known ``schema``; and rewrite the
    buckets of ``keys`` with what ``step(old, part)`` returns — ``old``
    the touched buckets' state, ``part`` the cached frame.  Rows of
    read-only buckets are dropped before the write.  A batch whose
    ``keys`` are empty rewrites nothing and the step does not run.

    A step returns EVERY row of each bucket it rewrites (``old`` holds
    them all), the rows of ``keys`` among them, so every version this
    writes has a ``bkt=`` dir; one without would pass for pre-bucketing
    state in :func:`bucket_latest_paths`, and the next batch's
    :func:`_read_buckets` would refuse it.

    The state-layout contract every bucketed twin in this module
    shares:

    - **Buckets.**  A key lives in bucket ``pmod(xxhash64(key), B)``
      (:func:`_bucket_expr`); ``(key, B)`` is pinned in
      ``{state_dir}/_bucket_layout`` on first write
      (:func:`_claim_bucket_layout`) so a resume configured with another
      ``B`` fails fast instead of splitting keys across buckets.
    - **Versions.**  ``{state_dir}/v{batch_id}/bkt={b}`` holds bucket
      ``b`` as of batch ``batch_id`` and is written only when the batch
      touched ``b``; a version is complete iff Spark's ``_SUCCESS``
      marker exists.  The current state is each bucket's newest complete
      version (:func:`bucket_latest_paths`, :func:`read_bucketed_state`),
      so per-batch work is O(touched buckets), not O(|state|)
      (BASELINE.md, "Round-10 rework rungs"; ``n_buckets=1`` reproduces the old
      full-rewrite shape), and older versions are never overwritten
      while being read.
    - **Replay guard.**  A batch reads versions strictly below its own
      id (:func:`_read_buckets`), so a crashed batch's complete but
      uncommitted version never feeds its replay, and the replay's
      overwrite is idempotent per bucket (:func:`_write_buckets`).
    - **Reserved ``v-1``.**  Batch ids start at 0, so ``v-1`` is the one
      version no stream can replay-overwrite: it holds migrated state
      (:func:`migrate_state_to_bucketed`) that batch 0 folds from.
    - **No pre-bucketing state.**  A version with no ``bkt=`` subdirs
      holds the WHOLE state; readers accept a pure old-layout dir, but
      writers refuse it (:func:`_read_buckets`)."""
    bkt = _bucket_expr(F.col(key), n_buckets)
    framed, rewritten = keys.withColumn("bkt", bkt), "bkt"
    if reads is not None:
        # A read-only key carries no bucket to rewrite.
        framed = framed.withColumn("wbkt", F.col("bkt")).unionByName(
            reads.withColumn("bkt", bkt), allowMissingColumns=True
        )
        rewritten = "wbkt"
    seen = Observation()
    cached = framed.observe(
        seen,
        F.collect_set("bkt").alias("touched"),
        F.collect_set(rewritten).alias("rewritten"),
    ).persist()
    try:
        cached.write.format("noop").mode("overwrite").save()
        got = seen.get
        touched, writes = set(got["touched"]), set(got["rewritten"])
        if not writes:
            return  # empty batch: every bucket keeps its version
        old = _read_buckets(cached.sparkSession, state_dir, batch_id, touched, schema)
        out = step(old, cached.drop("bkt", "wbkt"))
        if writes != touched:
            out = out.where(bkt.isin(sorted(writes)))
        _write_buckets(out, state_dir, batch_id, key, n_buckets, writes)
    finally:
        cached.unpersist()


def _fold_partial(
    partial: DataFrame,
    state_dir: str,
    batch_id: int,
    key: str,
    n_buckets: int,
    fold,
) -> None:
    """:func:`_bucketed_fold` for a batch ``partial`` already reduced to
    one row per ``key`` and a ``fold`` that is associative and
    commutative over rows of the state schema — the partial is a fold
    of the raw batch and the result a fold of both.  The state is read
    by the partial's schema.  With no state below the batch the fold
    runs over the cached partial alone, which is already partitioned on
    the key, so no exchange is added."""

    def step(old: DataFrame, part: DataFrame) -> DataFrame:
        return fold(old.unionByName(part) if old.inputFiles() else part)

    _bucketed_fold(partial, state_dir, batch_id, key, n_buckets, partial.schema, step)


def incremental_item_stats(
    spark: SparkSession,
    ratings_dir: str,
    state_dir: str,
    on_batch=None,
    n_buckets: int = _STATE_BUCKETS,
) -> None:
    """Incremental maintenance via ``foreachBatch``: a ratings stream
    merges per-item (n, rating_sum) into parquet state bucketed by
    ``item_id`` (layout, replay guard and per-bucket cost:
    :func:`_bucketed_fold`).  ``maxFilesPerTrigger=1`` makes each source
    file one micro-batch, so the test exercises a real multi-batch
    accumulation.

    The merge is pure relational algebra — old bucket state ∪ batch
    partial agg → re-aggregate — valid because the statistics are
    additive (the same property the reference's sufficient-stats trick
    exploits, R6).  Previous versions are never overwritten while being
    read (poor-man's snapshot isolation; a table format with atomic
    commits replaces this at production scale).

    Round 6: the running sum is carried as ``DECIMAL(38,6)`` — ratings
    are exact multiples of 1e-6 (``round(avg, 6)`` at derivation), so
    decimal accumulation is EXACT and therefore associative: the merged
    total is bit-identical to a one-shot aggregate regardless of how the
    stream splits into micro-batches, which is what lets a batch SQL
    oracle grade the incremental execution (double sums would drift by
    addition order).

    ``on_batch(batch_id)`` is the crash-injection/observation hook
    (:func:`_drain`).
    """

    def merge(base: DataFrame) -> DataFrame:
        return base.groupBy("item_id").agg(
            F.sum("n").alias("n"),
            F.sum("rating_sum").cast("decimal(38,6)").alias("rating_sum"),
        )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        partial = batch_df.groupBy("item_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("rating").cast("decimal(20,6)"))
            .cast("decimal(38,6)")
            .alias("rating_sum"),
        )
        _fold_partial(partial, state_dir, batch_id, "item_id", n_buckets, merge)

    _claim_bucket_layout(state_dir, "item_id", n_buckets)
    _drain(
        spark,
        "user_id long, item_id long, rating double",
        ratings_dir,
        state_dir,
        upsert,
        on_batch,
    )


def prune_state_versions(state_dir: str, keep: int = 2) -> list[int]:
    """Retention for the versioned-state twins (``incremental_item_stats``
    / ``incremental_scd2`` write ``{state_dir}/v{batch_id}[/bkt={b}]``
    per micro-batch and never delete — unbounded version accumulation,
    the same lifecycle gap the IVF ``batch=`` subtrees had before
    ``compact_ivf_index``): keep, for EVERY state bucket, the newest
    ``keep`` COMPLETE versions that contain it (a version is complete
    iff Spark's ``_SUCCESS`` commit marker exists; an in-flight or
    crashed write is never counted toward ``keep`` and never deleted —
    the writer's overwrite owns it).  With the round-10 bucketed layout
    a version dir holds only the buckets its batch touched, so an OLD
    version can be the sole live copy of an untouched bucket — whole-dir
    retention would destroy state; this pruner deletes a version dir
    only when none of its buckets needs it, and otherwise deletes just
    the superseded ``bkt=`` subtrees.  A pre-bucketing version dir (no
    ``bkt=`` subdirs) registers as one pseudo-bucket, which reproduces
    the old keep-newest-``keep``-versions behavior exactly.

    Crash-safe by ordering alone: deletion proceeds OLDEST-first and a
    bucket's newest copy is never touched, so a pruner killed mid-run
    leaves a strictly smaller but still-valid version set; re-running is
    idempotent.  Readers resolve per-bucket latest
    (:func:`read_bucketed_state`), which the pruner preserves by
    construction.  In production this is checkpoint/snapshot retention
    (e.g. a lakehouse VACUUM); the file protocol here is the same idea
    on bare parquet version dirs.  Returns the sorted list of version
    numbers whose dirs were removed entirely."""
    import os
    import shutil

    if keep < 1:
        raise ValueError(f"prune_state_versions: keep must be >= 1, got {keep}")
    complete = sorted(
        v
        for d in os.listdir(state_dir)
        if (v := _version_of(d)) is not None
        and os.path.exists(os.path.join(state_dir, d, "_SUCCESS"))
    )
    # bucket -> ascending versions containing it (pseudo-bucket -1 for a
    # non-bucketed payload).
    by_bucket: dict[int, list[int]] = {}
    contents: dict[int, list[int]] = {}
    for v in complete:
        vdir = os.path.join(state_dir, f"v{v}")
        subs = [d for d in os.listdir(vdir) if d.startswith("bkt=")]
        bs = [int(d.split("=", 1)[1]) for d in subs] if subs else [-1]
        contents[v] = bs
        for b in bs:
            by_bucket.setdefault(b, []).append(v)
    needed: dict[int, set[int]] = {v: set() for v in complete}
    for b, vs in by_bucket.items():
        for v in vs[-keep:]:
            needed[v].add(b)
    doomed: list[int] = []
    for v in complete:  # oldest-first: a mid-run kill still leaves the tail
        vdir = os.path.join(state_dir, f"v{v}")
        if not needed[v]:
            shutil.rmtree(vdir)
            doomed.append(v)
            continue
        for b in contents[v]:
            if b != -1 and b not in needed[v]:
                shutil.rmtree(os.path.join(vdir, f"bkt={b}"), ignore_errors=True)
    # A pruner killed mid-rmtree can strip a version's _SUCCESS before its
    # data files, leaving an incomplete dir that the complete-version scan
    # above never counts and the writer never overwrites (ADVICE r9).
    # Incomplete dirs STRICTLY OLDER than the oldest surviving complete
    # version can never be a writer's in-flight batch (batch_ids are
    # monotonic), so they are orphans — collect them too.
    survivors = [v for v in complete if v not in doomed]
    if survivors:
        oldest_kept = survivors[0]
        for d in os.listdir(state_dir):
            dv = _version_of(d)
            if (
                dv is not None
                and dv < oldest_kept
                and not os.path.exists(os.path.join(state_dir, d, "_SUCCESS"))
            ):
                shutil.rmtree(os.path.join(state_dir, d), ignore_errors=True)
    return doomed


def migrate_state_to_bucketed(
    spark: SparkSession,
    old_dir: str,
    new_dir: str,
    key: str,
    n_buckets: int = _STATE_BUCKETS,
) -> None:
    """One-shot migration of a PRE-BUCKETING versioned state dir (each
    ``v{batch}`` holds the WHOLE state, no ``bkt=`` subdirs) into the
    bucketed layout — the rewrite every mixed-layout guard in this
    module points at ("migrate by rewriting into a fresh dir, never in
    place").

    Reads the newest COMPLETE old-layout version and rewrites it into
    the RESERVED version ``{new_dir}/v-1``, which batch 0 of a resumed
    ingest folds from and no replay can overwrite (layout contract:
    :func:`_bucketed_fold`).  The new dir must not exist;
    the old dir is never touched, so a failed migration is re-runnable
    and readers of the old layout keep working until the cutover.
    """
    import os

    if os.path.exists(new_dir):
        raise ValueError(
            f"migrate_state_to_bucketed: {new_dir} already exists — "
            "migrate into a FRESH directory (a partial previous attempt "
            "must be deleted, not merged into)"
        )
    complete = _complete_versions(old_dir)
    for v, vdir in complete:
        if any(s.startswith("bkt=") for s in os.listdir(vdir)):
            raise ValueError(
                f"migrate_state_to_bucketed: {old_dir} already holds "
                f"bucketed version v{v} — this helper only migrates the "
                "pure pre-bucketing layout"
            )
    if not complete:
        raise ValueError(
            f"migrate_state_to_bucketed: no complete version in {old_dir}"
        )
    _, latest = complete[-1]
    _write_buckets(
        spark.read.parquet(latest), new_dir, -1, key, n_buckets, range(n_buckets)
    )
    # Pin the layout so a resumed ingest configured with a different
    # bucket count (or key) fails fast instead of splitting keys across
    # buckets (code-review r10).
    _claim_bucket_layout(new_dir, key, n_buckets)


def enriched_stream(spark: SparkSession, events: DataFrame, sf_dir: str) -> DataFrame:
    """Stream–static enrichment join: the unbounded event stream joined to
    the static ``customer`` dimension — the standard streaming ETL shape
    (fact stream + slowly-changing dim).  The static side is re-scanned
    per micro-batch (picking up dim updates between batches) and planned
    as a broadcast join; no state store is involved, so this composes
    freely with downstream watermarked aggregation."""
    from ..sources.readers import load_table

    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = events.join(customer, "user_id")
    return (
        enriched.withWatermark("ts", "1 hour")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


def click_purchase_join_stream(events: DataFrame) -> DataFrame:
    """Stream–stream inner join with event-time bounds: each click joined
    to the same user's purchases within the following hour — the
    attribution-window join.  Both sides carry watermarks and the join
    condition carries the time band, so the state store can evict a
    click one hour (+ watermark delay) after its event time instead of
    buffering the stream forever — the ONLY configuration in which an
    unbounded stream–stream join is runnable at all.  Inner-join
    emissions are exact regardless of micro-batching, which the twin
    test pins against the batch self-join."""
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    return joined.select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        F.unix_timestamp("click_ts").alias("click_epoch"),
        F.unix_timestamp("purchase_ts").alias("purchase_epoch"),
    )


def click_purchase_left_outer_stream(events: DataFrame) -> DataFrame:
    """LEFT-OUTER twin of :func:`click_purchase_join_stream` — every
    click emits, attributed or not (purchase columns NULL when no
    purchase followed within the hour).  The production shape that
    exercises watermark-driven NULL emission: an inner join only ever
    emits on a match, so its state eviction is a memory concern; the
    outer join's eviction IS an output — a click's null row may legally
    emit only once the global watermark proves no matching purchase can
    still arrive (click_ts + 1 h < watermark).  Both sides carry
    watermarks and the band lives in the join condition, exactly as the
    inner form, so state stays evictable.

    Emission caveat the harness must handle (and
    :func:`stream_events_with_flush` does): clicks near END-OF-INPUT
    never see the watermark pass them — a bounded drain emits their
    null rows only if later input advances the watermark beyond
    max(click_ts) + 1 h.  The flush feed appends sentinel far-future
    rows on BOTH sides (negative user_ids, filtered from the result) so
    every real click's emission is forced before the drain terminates,
    making the relation equal to the batch LEFT JOIN for any micro-batch
    split."""
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    )
    return joined.select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        F.unix_timestamp("click_ts").alias("click_epoch"),
        F.unix_timestamp("purchase_ts").alias("purchase_epoch"),
    )


def click_purchase_full_outer_stream(events: DataFrame) -> DataFrame:
    """FULL-outer twin of the attribution join — the third eviction
    shape: unattributed CLICKS emit null purchase columns (as the left
    join) AND orphan PURCHASES (no click in the preceding hour) emit
    null click columns.  A purchase's null row may emit only once the
    click-side watermark passes its whole candidate window
    [purchase_ts − 1 h, purchase_ts), so BOTH sides' emissions are
    watermark-driven; the flush-feed harness forces both before the
    drain ends.  ``user_id`` coalesces across sides (exactly one is
    non-null on a null row)."""
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "fullOuter",
    )
    return joined.select(
        "click_id",
        "purchase_id",
        F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
        F.unix_timestamp("click_ts").alias("click_epoch"),
        F.unix_timestamp("purchase_ts").alias("purchase_epoch"),
    )


# ONE copy of the raw events stream-read schema (code-review r9: the
# literal appeared in stream_events_with_flush AND shared_flush_feed) and
# of the explicit-mtime stamping discipline (the r7 lesson: write-time
# mtimes tie on 1 s-granularity filesystems and the FileStreamSource's
# tie-break is unspecified — every chunked-feed writer must stamp).
EVENTS_STREAM_SCHEMA = (
    "event_id long, ts timestamp, user_id long, "
    "event_type string, value double, props string"
)


def _stamp_new_chunk_files(src_dir: str, seen: set, t: float) -> None:
    """Give every not-yet-seen part file in ``src_dir`` the explicit
    mtime ``t`` so the FileStreamSource's oldest-mtime-first order is
    deterministic across filesystems."""
    import os as _os

    for name in _os.listdir(src_dir):
        if name.startswith("part-") and name not in seen:
            seen.add(name)
            _os.utime(_os.path.join(src_dir, name), (t, t))


def stream_events_with_flush(
    spark: SparkSession, sf_dir: str, src_dir: str, n_real_chunks: int = 1
) -> DataFrame:
    """The events table as a chunked file stream FOLLOWED by two sentinel
    'flush' chunks — the bounded-drain harness for watermark-FINALIZED
    emissions (outer-join nulls, final session closes).  Each flush chunk
    carries one far-future click and one far-future purchase (negative
    user_ids/event_ids, 10 h and 20 h past the real max — the pair never
    joins itself, its ts sit outside the band) so that by the LAST data
    batch the global min-watermark already exceeds every real click's
    eviction time: emission happens inside data batches, never relying on
    a trailing no-data micro-batch, so the drained relation is
    deterministic across Spark's end-of-stream finalization behavior.
    Consumers must filter ``user_id >= 0``.  Chunk order is pinned with
    explicit strictly-increasing mtimes (the write_ordered_event_chunks
    discipline).  Returns the readStream DataFrame."""
    import time as _time

    from pyspark.sql import Window

    from ..sources.readers import load_events

    ev = load_events(spark, sf_dir)
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    if max_ts is None:
        # An empty events table would otherwise surface as an opaque
        # TypeError on the flush_ts arithmetic below (ADVICE r9).
        raise ValueError(
            f"stream_events_with_flush: events table at {sf_dir} is empty — "
            "no max ts to anchor the sentinel flush chunks"
        )
    if not ev.where(F.col("user_id") < 0).isEmpty():
        # The sentinel convention reserves negative user_ids; consumers
        # filter `user_id >= 0`, which would SILENTLY drop real rows on a
        # source that legitimately uses them (VERDICT r9 wrong-list #4).
        raise ValueError(
            "stream_events_with_flush: events source contains negative "
            "user_ids, which collide with the sentinel flush convention "
            "(consumers filter user_id >= 0) — tag sentinels differently "
            "for this source"
        )
    schema = EVENTS_STREAM_SCHEMA
    base_t = _time.time()
    seen: set[str] = set()

    def _stamp(k: int) -> None:
        _stamp_new_chunk_files(src_dir, seen, base_t + k)

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    if n_real_chunks == 1:
        ev.select(cols).coalesce(1).write.mode("append").parquet(src_dir)
        _stamp(0)
    else:
        chunked = ev.withColumn(
            "_chunk", F.ntile(n_real_chunks).over(Window.orderBy("ts", "event_id"))
        )
        for k in range(1, n_real_chunks + 1):
            (
                chunked.where(F.col("_chunk") == k)
                .select(cols)
                .coalesce(1)
                .write.mode("append")
                .parquet(src_dir)
            )
            _stamp(k - 1)
    from datetime import timedelta

    for j, hours in enumerate((10, 20)):
        flush_ts = max_ts + timedelta(hours=hours)
        rows = [
            (-(4 * j + 1), flush_ts, -1, "click", 0.0, None),
            (-(4 * j + 2), flush_ts, -1, "purchase", 0.0, None),
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
        _stamp(n_real_chunks + j)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


# One flush feed per (SparkContext, sf_dir, events fingerprint) — the
# left- and full-outer attribution queries read the IDENTICAL feed (the
# written files are a pure function of the events table), so a grading
# sweep that runs both pays the chunk writes once.  Checkpoints stay
# per-query (run_to_memory uses a fresh temporary checkpoint per sink
# name), so two streams over one source directory never share state.
# The events-parquet fingerprint in the key means testdata regenerated
# within one process gets a fresh feed instead of a silently stale one
# (the _CSV_CACHE lesson, ADVICE r8).
_FLUSH_FEED_DIRS: dict[tuple[str, str, str], str] = {}


def shared_flush_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``stream_events_with_flush`` with the written feed memoized per
    (SparkContext, sf_dir, source fingerprint); returns a fresh
    readStream over it."""
    import atexit
    import os
    import shutil
    import tempfile

    app = spark.sparkContext.applicationId
    try:
        st = os.stat(os.path.join(sf_dir, "events.parquet"))
        fp = f"{st.st_size}:{st.st_mtime_ns}"
    except OSError:
        fp = "missing"
    key = (app, sf_dir, fp)
    src = _FLUSH_FEED_DIRS.get(key)
    if src is None:
        for stale in [k for k in _FLUSH_FEED_DIRS if k[0] != app]:
            del _FLUSH_FEED_DIRS[stale]
        base = tempfile.mkdtemp(prefix="spark_flush_feed_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        src = f"{base}/src"
        stream = stream_events_with_flush(spark, sf_dir, src)
        _FLUSH_FEED_DIRS[key] = src
        return stream
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def write_ordered_event_chunks(
    spark: SparkSession, sf_dir: str, src_dir: str, n_chunks: int = 6
) -> None:
    """Simulate a TIME-ORDERED CDC feed: the events table split into
    ``n_chunks`` contiguous (ts, event_id)-ordered chunks, appended to
    ``src_dir`` one write job at a time so file modification times
    increase with event time (the FileStreamSource with
    ``maxFilesPerTrigger=1`` processes oldest-mtime first — each chunk
    becomes one micro-batch, in order).  Harness-only: the global ntile
    that does the chunking runs a single-partition window over the
    bench-scale table; in production the ordered feed is the change log
    itself (Kafka/CDC), no such prep exists.  Chunk order is made
    DETERMINISTIC by stamping each chunk's files with explicit,
    strictly-increasing mtimes after the write (code-review r7: relying
    on write-time mtimes breaks on filesystems with 1 s granularity —
    two chunks tie and the FileStreamSource's tie-break is unspecified,
    which would feed the SCD2 fold out of order)."""
    import time as _time

    from pyspark.sql import Window

    from ..sources.readers import load_events

    ev = load_events(spark, sf_dir)
    chunked = ev.withColumn(
        "_chunk",
        F.ntile(n_chunks).over(Window.orderBy("ts", "event_id")),
    )
    base_t = _time.time()
    seen: set[str] = set()
    for k in range(1, n_chunks + 1):
        (
            chunked.where(F.col("_chunk") == k)
            .drop("_chunk")
            .coalesce(1)
            .write.mode("append")
            .parquet(src_dir)
        )
        _stamp_new_chunk_files(src_dir, seen, base_t + k)  # k after k-1


def _write_keyed_chunks(
    df: DataFrame, key_col: str, src_dir: str, n_chunks: int
) -> None:
    """Shared chunked-feed harness: split ``df`` into ``n_chunks``
    deterministic files (``key % n_chunks``), appended one write job at
    a time with strictly-increasing mtimes so the FileStreamSource
    (``maxFilesPerTrigger=1``) consumes each chunk as one micro-batch in
    a stable order (code-review r10: the embedding and document feed
    writers were structural copies)."""
    import time as _time

    base_t = _time.time()
    seen: set[str] = set()
    for k in range(n_chunks):
        (
            df.where(F.pmod(F.col(key_col), F.lit(n_chunks)) == k)
            .coalesce(1)
            .write.mode("append")
            .parquet(src_dir)
        )
        _stamp_new_chunk_files(src_dir, seen, base_t + k)


def write_embedding_chunks(
    spark: SparkSession, sf_dir: str, src_dir: str, n_chunks: int = 4
) -> None:
    """Simulate a vector-ingest feed (``vec_id % n_chunks`` split via
    :func:`_write_keyed_chunks`).  The index is a SET (assignment is
    row-local), so batch order never changes the final state — the
    stamping only makes the crash-injection test's "crash before batch k"
    land on the same rows every run."""
    from ..sources.readers import load_table

    _write_keyed_chunks(
        load_table(spark, sf_dir, "embeddings"), "vec_id", src_dir, n_chunks
    )


def write_doc_chunks(
    spark: SparkSession, sf_dir: str, src_dir: str, n_chunks: int = 4
) -> None:
    """Simulate a document-ingest feed (``doc_id % n_chunks`` split via
    :func:`_write_keyed_chunks`).  The ingestion-dedup fold is a
    per-hash MIN (order-invariant), so batch order never changes the
    final state — the stamping only pins which rows the crash-injection
    test's "crash before batch k" lands on."""
    from ..sources.readers import load_table

    _write_keyed_chunks(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "source"
        ),
        "doc_id",
        src_dir,
        n_chunks,
    )


def incremental_doc_dedup(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    on_batch=None,
    n_buckets: int = _STATE_BUCKETS,
) -> None:
    """Exact dedup AT INGESTION via ``foreachBatch`` — the production
    shape for a corpus that keeps growing: each arriving micro-batch of
    documents checks its content hashes against the accumulated
    seen-hash state and only first occurrences survive, so downstream
    consumers never re-process a duplicate and the dedup cost per batch
    is O(batch + touched state buckets), never a full-corpus re-scan
    (the third consumer of the round-10 bucketed-state layout, after
    the item-stats and SCD2 folds — the layout is a primitive, not a
    one-off; contract: :func:`_bucketed_fold`).

    State rows are ``(content_hash, doc_id, lang, source)`` — one row
    per distinct md5(text), carrying the keeper (minimum doc_id) row's
    metadata — bucketed by ``content_hash``.  The fold is a per-hash MIN
    over ``struct(doc_id, lang, source)``: associative, commutative, and
    IDEMPOTENT, so the end state is bit-identical to the one-shot batch
    keep-first for ANY chunking of the corpus (the split-invariance
    pytest pins it) and a crash-replayed batch merges to the same rows.

    The graded result is the state itself: keepers join back to the
    corpus by (hash, doc_id), so the batch SQL oracle — keep the
    min-doc_id row per md5(text) — grades the streaming execution
    exactly.  ``on_batch(batch_id)`` is the crash-injection hook shared
    with the other folds (:func:`_drain`).
    """

    def keep_first(hashed: DataFrame) -> DataFrame:
        """min(struct(doc_id, lang, source)) per content_hash, unpacked —
        the ONE fold definition both the batch partial and the merge use
        (they must never disagree on what the keeper struct carries)."""
        return (
            hashed.select(
                "content_hash",
                F.struct("doc_id", "lang", "source").alias("first"),
            )
            .groupBy("content_hash")
            .agg(F.min("first").alias("first"))
            .select(
                "content_hash",
                F.col("first.doc_id").alias("doc_id"),
                F.col("first.lang").alias("lang"),
                F.col("first.source").alias("source"),
            )
        )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        partial = keep_first(
            batch_df.select(
                F.md5(F.col("text").cast("binary")).alias("content_hash"),
                "doc_id",
                "lang",
                "source",
            )
        )
        _fold_partial(
            partial, state_dir, batch_id, "content_hash", n_buckets, keep_first
        )

    _claim_bucket_layout(state_dir, "content_hash", n_buckets)
    _drain(
        spark,
        "doc_id long, text string, lang string, source string",
        src_dir,
        state_dir,
        upsert,
        on_batch,
    )


def incremental_ivf_index(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    cents_rows: list,
    on_batch=None,
) -> str:
    """Incremental maintenance of the persisted cell-partitioned IVF ANN
    index via ``foreachBatch`` (VERDICT r7 "what's missing" #2: the
    one-shot index build had no ingest path) — each micro-batch of newly
    arrived vectors is assigned to its nearest coarse cell with the SAME
    expression chain as the one-shot build
    (``operators.embeddings.assign_cells``: row-local, so micro-batching
    cannot move an assignment) and upserted into the index table.

    Index layout — ``{state_dir}/index/batch={id}/cid={k}/part*.parquet``:
    each micro-batch owns its ``batch=`` subtree and OVERWRITES it on
    retry, so a replayed batch is idempotent (deterministic path =
    exactly-once at foreachBatch granularity, same discipline as
    ``incremental_item_stats``'s version dirs — but APPEND-shaped, since
    an index grows instead of folding).  Readers open ``{state_dir}/index``
    as ONE partitioned table with (batch, cid) partition columns: a
    literal cell-id predicate prunes to ~nprobe/K of the files across
    every ingest batch, which is the entire point of the index.  At
    production scale the batch dirs are lakehouse commits and a
    compaction job merges small per-batch cell files; both change the
    file layout, neither the query.

    The quantizer (``cents_rows``, from
    ``operators.embeddings.centroid_rows``) is pinned at stream start —
    assignments must be against a FIXED artifact or committed cells
    would go stale mid-stream.  ``on_batch(batch_id)`` is the
    crash-injection hook (:func:`_drain`).
    Returns the index table path.
    """
    from ..functions.vectors import l2_norm
    from ..operators.embeddings import assign_cells

    index_path = f"{state_dir}/index"

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        cents_n = F.broadcast(
            s.createDataFrame(
                cents_rows, "cid long, cvec array<float>"
            ).withColumn("cnrm", l2_norm(F.col("cvec")))
        )
        assign_cells(batch_df, cents_n).write.mode("overwrite").partitionBy(
            "cid"
        ).parquet(f"{index_path}/batch={batch_id}")

    _drain(
        spark,
        "vec_id long, embedding array<float>, label int",
        src_dir,
        state_dir,
        upsert,
        on_batch,
    )
    return index_path


def compact_ivf_index(spark: SparkSession, index_path: str) -> str:
    """Compact the incrementally-maintained IVF index: merge the
    COMMITTED ``batch={id}/cid={k}`` subtrees into ONE consolidated
    subtree ``batch=-1/cid={k}``, one file per cell (VERDICT r8 "what's
    missing" #2 — after thousands of micro-batches the probe scan reads
    thousands of small files per probed cell; compaction restores
    one-shot-build file counts while the probe query stays byte-for-byte
    identical, pinned by tests/test_ann_compaction.py).

    Two invariants shape the target layout (both round-9 regression
    lessons):

    - **The ``batch=`` partition layer is PRESERVED**: a resumed ingest
      appends ``batch={next id}`` next to the compacted subtree, and
      parquet partition discovery requires every leaf at the same depth —
      a root-level ``cid=`` layout poisons the table for the next
      micro-batch (CONFLICTING_PARTITION_COLUMN_NAMES;
      ``test_ingest_resumes_after_compaction``).
    - **Only COMMITTED batches merge, into the RESERVED id −1**
      (:func:`_committed`, reading the ``_checkpoint`` sibling
      ``incremental_ivf_index`` pins; collapsing into the max DATA id
      would let a replay erase the whole index).  A prior
      ``batch=-1`` always re-merges, and possibly-uncommitted subtrees
      are carried into the new tree VERBATIM for the resume replay to
      overwrite in place.

    The staged write and the swap are :func:`_swap_compact`; with no
    index and nothing to recover it raises ``FileNotFoundError``.
    Returns ``index_path``."""
    import os
    import shutil

    def write(staging: str) -> bool:
        if not os.path.exists(index_path):
            raise FileNotFoundError(
                f"compact_ivf_index: no index at {index_path!r} and no "
                "recoverable staging/displaced tree"
            )
        on_disk = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(index_path)
            if d.startswith("batch=") and d.split("=", 1)[1].lstrip("-").isdigit()
        )
        mergeable = _committed(
            os.path.dirname(index_path), [b for b in on_disk if b >= 0]
        )
        if -1 in on_disk:  # prior compaction output: always re-mergeable
            mergeable = [-1] + mergeable
        if not mergeable:
            return False
        index = spark.read.parquet(index_path)
        data_cols = [c for c in index.columns if c not in ("batch", "cid")]
        # repartition on cid → each cell's rows land in one task, so the
        # partitionBy write emits ONE consolidated file per cid directory
        # (all under the reserved batch=-1 subtree).
        (
            index.where(F.col("batch").isin(mergeable))
            .select(*data_cols, F.lit(-1).alias("batch"), "cid")
            .repartition(F.col("cid"))
            .write.mode("overwrite")
            .partitionBy("batch", "cid")
            .parquet(staging)
        )
        for b in on_disk:
            if b not in mergeable:
                shutil.copytree(
                    os.path.join(index_path, f"batch={b}"),
                    os.path.join(staging, f"batch={b}"),
                )
        return True

    _swap_compact(index_path, write)
    return index_path


def incremental_scd2(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    on_batch=None,
    n_buckets: int = _STATE_BUCKETS,
) -> None:
    """Incremental SCD2 dimension maintenance via ``foreachBatch`` — the
    warehouse MERGE pattern for keeping a type-2 dimension current as a
    change stream lands: each micro-batch's events fold into the
    versioned SCD2 state (``{state_dir}/v{batch_id}``), closing or
    extending each user's open run.

    The fold per batch (pure DataFrame algebra, state-sized joins):
      1. gaps-and-islands run compaction WITHIN the batch (same two
         windows as the batch twin ``q_events_scd2``);
      2. each user's FIRST batch run either EXTENDS the user's open run
         (same status: counts add, ``valid_from`` keeps the open run's
         start) or CLOSES it (``valid_to`` = the batch run's start);
      3. later batch runs append with run ids continuing the user's
         numbering; the user's last batch run becomes the new open row.

    Exactness: with the source chunks time-ordered (every batch's events
    after the previous batch's — the CDC contract), this fold is exactly
    the batch compaction for ANY chunking: run boundaries are computed
    on full-precision timestamps, counts and run ids are integers, no
    float exists anywhere — so the end state is bit-identical to the
    one-shot batch oracle and the driver grades the incremental
    execution exactly.  State versions give idempotent replay (a crashed
    batch rewrites ``v{batch_id}`` from the same input); a lakehouse
    MERGE replaces the version directory at production scale.

    Bucketed by ``user_id`` (round 10; contract: :func:`_bucketed_fold`)
    — a user's whole SCD2 history lives in one bucket, so the fold's
    prev_open/prev_closed inputs for the batch's users are complete and
    users in untouched buckets keep their older version.  Per-batch work
    is O(touched buckets), not O(|dimension|); an empty batch writes
    nothing at all.

    ``on_batch(batch_id)`` is the crash-injection hook (:func:`_drain`).
    """
    from pyspark.sql import Window

    def step(prev: DataFrame, ev: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
        marked = ev.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.when(
                F.lag("event_type").over(w).isNull()
                | (F.lag("event_type").over(w) != F.col("event_type")),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("chg"),
        )
        bruns = (
            marked.select(
                "user_id",
                "event_type",
                "ts",
                F.sum("chg")
                .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
                .alias("brun"),
            )
            .groupBy("user_id", "brun", F.col("event_type").alias("status"))
            .agg(F.min("ts").alias("from_ts"), F.count(F.lit(1)).alias("n_events"))
        )
        prev_open = prev.where(F.col("valid_to_ts").isNull()).select(
            "user_id",
            F.col("run_id").alias("open_run_id"),
            F.col("status").alias("open_status"),
            F.col("from_ts").alias("open_from"),
            F.col("n_events").alias("open_n"),
        )
        prev_closed = prev.where(F.col("valid_to_ts").isNotNull())
        firsts = bruns.where(F.col("brun") == 1).select(
            "user_id",
            F.col("status").alias("first_status"),
            F.col("from_ts").alias("first_from"),
        )
        flags = firsts.join(prev_open, "user_id", "left").select(
            "user_id",
            "first_from",
            F.coalesce("open_run_id", F.lit(0)).alias("base"),
            F.coalesce(
                (F.col("open_status") == F.col("first_status")).cast("long"),
                F.lit(0),
            ).alias("cont"),
            "open_from",
            "open_n",
        )
        new_rows = bruns.join(flags, "user_id").select(
            "user_id",
            (F.col("base") + F.col("brun") - F.col("cont")).alias("run_id"),
            "status",
            F.when(
                (F.col("brun") == 1) & (F.col("cont") == 1), F.col("open_from")
            )
            .otherwise(F.col("from_ts"))
            .alias("from_ts"),
            F.when(
                (F.col("brun") == 1) & (F.col("cont") == 1),
                F.col("n_events") + F.col("open_n"),
            )
            .otherwise(F.col("n_events"))
            .alias("n_events"),
        )
        w2 = Window.partitionBy("user_id").orderBy(F.asc("run_id"))
        new_rows = new_rows.withColumn(
            "valid_to_ts", F.lead("from_ts").over(w2)
        )
        # A non-continuing first batch run closes the user's open row at
        # the batch's first event time; a continuing one REPLACED it in
        # new_rows (merged counts), so only cont == 0 rows emit here.
        closed_open = (
            prev_open.join(
                flags.where(F.col("cont") == 0).select("user_id", "first_from"),
                "user_id",
            )
            .select(
                "user_id",
                F.col("open_run_id").alias("run_id"),
                F.col("open_status").alias("status"),
                F.col("open_from").alias("from_ts"),
                F.col("open_n").alias("n_events"),
                F.col("first_from").alias("valid_to_ts"),
            )
        )
        untouched_open = prev_open.join(firsts, "user_id", "left_anti").select(
            "user_id",
            F.col("open_run_id").alias("run_id"),
            F.col("open_status").alias("status"),
            F.col("open_from").alias("from_ts"),
            F.col("open_n").alias("n_events"),
            F.lit(None).cast("timestamp").alias("valid_to_ts"),
        )
        return (
            prev_closed.unionByName(closed_open)
            .unionByName(untouched_open)
            .unionByName(new_rows.select(*prev_closed.columns))
        )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        _bucketed_fold(
            batch_df.where(F.col("user_id").isNotNull()),
            state_dir,
            batch_id,
            "user_id",
            n_buckets,
            "user_id long, run_id long, status string, from_ts timestamp, "
            "n_events long, valid_to_ts timestamp",
            step,
        )

    _claim_bucket_layout(state_dir, "user_id", n_buckets)
    _drain(
        spark,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
        src_dir,
        state_dir,
        upsert,
        on_batch,
    )


# The schemas of the append-only logs (plain ``v{n}`` files and the
# compacted ``v-1`` alike), so no read of them infers one: the band
# state, curation's pair log and the semantic fold's pair log.
_BAND_SCHEMA = "doc_id long, band int, bsig string"
_DOC_PAIRS = "doc_a long, doc_b long"
_VEC_PAIRS = "vec_a long, vec_b long"


def band_state_reader(
    s: SparkSession,
    buckets,
    bands_dir: str,
    batch_id: int | None = None,
) -> DataFrame:
    """The accumulated band-state relation a batch's probe joins — the
    ONE read definition (code-review r12: a probe-isolation measurement,
    BASELINE.md "Round-12 near-dup probe isolation", once re-implemented
    this inline, which is exactly the drift the
    ``band_probe_candidates`` factoring exists to prevent): append-only
    ``v{n}`` versions (strictly below ``batch_id`` when given — the
    replay guard) together with, when :func:`compact_neardup_bands` has
    run, ONLY the compacted ``bkt=`` subtrees among ``buckets`` — the
    ones the batch's signatures hash into (the compaction's whole
    point; :func:`_probe_and_verify` observes them while it materializes
    the batch's band rows).  Read by the band schema
    (:func:`_read_log`), so no job runs."""
    paths, compacted = band_state_paths(bands_dir, batch_id)
    if compacted is not None:
        paths += _bucket_leaves(compacted, buckets)
    return _read_log(s, _BAND_SCHEMA, paths)


def band_probe_candidates(bands_new: DataFrame, bands_old: DataFrame) -> DataFrame:
    """Near-dup candidate pairs for one micro-batch's band rows — the
    probe both the near-dup ingestion fold and the curation ingestion
    fold run (through :func:`_probe_and_verify`, so the two consumers
    can never drift on discovery semantics): the batch's (band, bsig)
    rows equi-join the accumulated band state ``bands_old``
    (:func:`band_state_reader`) UNION the new×new in-batch self-join,
    normalized to ``doc_a < doc_b`` and deduplicated.  A pair is
    discovered EXACTLY ONCE, in the batch where its later-arriving
    member lands, for any chunking of the corpus.  ``bands_new`` must be
    persisted AND materialized by the caller (the InMemoryRelation's
    true batch-sized footprint is what lets Catalyst auto-broadcast the
    probe side)."""
    # Candidates: old×new on the band key (exactly-once pair
    # discovery — the old member landed in an earlier batch) plus
    # new×new within the batch; normalized to doc_a < doc_b.
    ob = bands_old.alias("ob")
    nb = bands_new.alias("nb")
    cand_on = ob.join(
        nb,
        (F.col("ob.band") == F.col("nb.band"))
        & (F.col("ob.bsig") == F.col("nb.bsig"))
        & (F.col("ob.doc_id") != F.col("nb.doc_id")),
    ).select(
        F.least("ob.doc_id", "nb.doc_id").alias("doc_a"),
        F.greatest("ob.doc_id", "nb.doc_id").alias("doc_b"),
    )
    na = bands_new.alias("na")
    nn = bands_new.alias("nn")
    cand_nn = na.join(
        nn,
        (F.col("na.band") == F.col("nn.band"))
        & (F.col("na.bsig") == F.col("nn.bsig"))
        & (F.col("na.doc_id") < F.col("nn.doc_id")),
    ).select(
        F.col("na.doc_id").alias("doc_a"),
        F.col("nn.doc_id").alias("doc_b"),
    )
    return cand_on.unionByName(cand_nn).distinct()


def _probe_and_verify(
    sig: DataFrame,
    new_ids: DataFrame,
    sets_dir: str,
    sets_schema: str,
    bands_dir: str,
    batch_id: int,
    n_buckets: int,
    finish,
    rewrite_old: bool,
) -> None:
    """One micro-batch's near-pair discovery, shared by
    :func:`incremental_neardup` and :func:`incremental_curation`: the
    band rows of the batch's signatures ``sig`` are persisted and
    materialized by one ``noop`` write, which also observes the
    compacted band buckets they hash into, then probe the band state
    under ``bands_dir`` (:func:`band_state_reader`,
    :func:`band_probe_candidates`).  ``new_ids`` key a
    :func:`_bucketed_fold` over the doc_id-bucketed set state at
    ``sets_dir`` (columns ``doc_id``, ``sh_set``, ``n_sh`` among
    ``sets_schema``); the candidate endpoints not among them (old docs)
    join that key frame when ``rewrite_old``, and are read only
    otherwise.  The fold's step verifies the candidates by exact Jaccard
    (``portable_verify_pairs``) against the batch's sets and the old
    endpoints' state sets, appends the batch's band rows as
    ``v{batch_id}`` (one file sorted by bsig, for row-group pruning and
    a merge-shaped compaction), and returns ``finish(old, verified)``:
    the twin's rows for the touched buckets of the set state, ``old``
    their state and ``verified`` the batch's (doc_a, doc_b) near-pairs
    (step contract: :func:`_bucketed_fold`)."""
    from ..operators.dedup import portable_band_rows, portable_verify_pairs

    seen = Observation()
    bands_new = (
        portable_band_rows(sig)
        .observe(
            seen,
            F.collect_set(
                _bucket_expr(F.col("bsig"), _compacted_band_buckets(bands_dir))
            ).alias("bkt"),
        )
        .persist()
    )
    try:
        # Materialize the persisted band rows BEFORE building the probe
        # join: an unmaterialized persist reports the default (huge)
        # sizeInBytes, so Catalyst shuffle-joined the whole band history
        # against 800 rows — the solo ladder measured the per-batch wall
        # growing 10.5 → 23.3 s across 40k→160k docs on exactly that
        # exchange.  Materialized, the InMemoryRelation reports its true
        # batch-sized footprint and the probe auto-broadcasts (with the
        # built-in fallback for a giant backfill batch that genuinely
        # shouldn't broadcast — no manual size dispatch needed).
        bands_new.write.format("noop").mode("overwrite").save()
        bands_old = band_state_reader(
            sig.sparkSession, set(seen.get["bkt"]), bands_dir, batch_id
        )
        cand = band_probe_candidates(bands_new, bands_old).persist()
        try:
            # Old docs the verification touches: candidate endpoints not
            # in this batch.
            old_need = (
                cand.select(F.col("doc_a").alias("doc_id"))
                .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
                .distinct()
                .join(new_ids, "doc_id", "left_anti")
            )

            def step(old: DataFrame, _keys: DataFrame) -> DataFrame:
                sets = sig.select("doc_id", "sh_set", "n_sh").unionByName(
                    old.join(old_need, "doc_id", "left_semi").select(
                        "doc_id", "sh_set", "n_sh"
                    )
                )
                verified = portable_verify_pairs(cand, sets).select(
                    "doc_a", "doc_b"
                )
                bands_new.sort("bsig").coalesce(1).write.mode(
                    "overwrite"
                ).parquet(f"{bands_dir}/v{batch_id}")
                return finish(old, verified)

            _bucketed_fold(
                new_ids.unionByName(old_need) if rewrite_old else new_ids,
                sets_dir,
                batch_id,
                "doc_id",
                n_buckets,
                sets_schema,
                step,
                reads=None if rewrite_old else old_need,
            )
        finally:
            cand.unpersist()
    finally:
        bands_new.unpersist()


def incremental_neardup(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    on_batch=None,
    n_buckets: int = _STATE_BUCKETS,
) -> None:
    """Incremental MinHash-LSH NEAR-dup at ingestion via ``foreachBatch``
    (VERDICT r10 "what's missing" #1: the streaming gate deduplicated by
    exact md5 only; the LSH family was batch-only).  A production corpus
    ingests continuously and must ask "is this batch a NEAR-dup of
    anything already seen" without recomputing signatures over the
    accumulated corpus.

    Two state relations under ``state_dir``, deliberately DIFFERENT
    layouts because their mutability differs:

    - ``bands/``: (doc_id, band, bsig) LSH band rows for EVERY seen doc
      — immutable FACTS, so the relation is APPEND-ONLY: each batch
      writes exactly its own band rows as ``v{batch_id}`` (one sorted
      file), never rewriting history, and the probe scans the complete
      versions below the batch id and hash-joins on (band, bsig).  The
      first draft bucketed this state by ``pmod(xxhash64(bsig), B)``
      and merged-on-write like the other folds — the ladder measured
      per-batch wall GROWING 9→19→32 s across 16× corpus growth, all
      of it parquet file-commit overhead: a 100-doc batch emits ~800
      band signatures, which touch ~B·(1−e^(−800/B)) buckets, so the
      versioned rewrite paid 400–700 per-batch file commits (~30 ms
      each) to move rows that never change.  Append-only writes O(batch)
      rows in ONE file and the wall flattens.
    - ``docs/``: (doc_id, lang, source, sh_set, n_sh, dropped) — one row
      per seen doc, where ``dropped`` MUTATES (a later smaller-id
      near-dup flips it), so this relation keeps the bucket-versioned
      merge layout keyed by ``doc_id`` (:func:`_bucketed_fold`); its
      per-batch file count is bounded by batch size + candidate
      endpoints (≤ ~150 buckets), not by corpus size.

    The per-batch fold (pure DataFrame algebra):
      1. batch docs → portable MinHash signatures + band rows (the SAME
         ``portable_minhash_sig`` / ``portable_band_rows`` expression
         chain as the batch LSH — the two executions must agree on every
         minhash bit);
      2. candidates = new bands ⋈ state bands on (band, bsig) plus the
         new×new self-join — a pair (a, b) is discovered EXACTLY ONCE,
         in the batch where the later-arriving member lands (the earlier
         one is in state), for any chunking of the corpus;
      3. exact-Jaccard verification (``portable_verify_pairs``, the
         batch threshold 0.8) using new docs' in-batch sets and old
         docs' state sets (read from only the buckets the candidate old
         ids hash into);
      4. the drop rule is the batch oracle's: a doc is dropped iff some
         verified pair names it as the LARGER doc_id.  As a fold this is
         a monotone OR over discovered pairs — associative, commutative,
         idempotent — so with (2)'s exactly-once discovery the end state
         is bit-identical to the one-shot batch keep-one for ANY arrival
         order, including a later-arriving smaller-id doc flipping an
         already-kept doc to dropped (the flag-update path).

    ALL seen docs' signatures stay in state — the batch semantics needs
    dropped docs to keep killing later arrivals (in the batch oracle a
    dropped doc still appears as doc_a of other pairs).  Replay safety
    as everywhere in this module: both state dirs read versions below
    the batch id and rewrite their ``v{batch_id}`` idempotently.
    ``on_batch(batch_id)`` is the shared crash-injection hook
    (:func:`_drain`).

    At 100 TB the probe's full scan of the band table does NOT survive —
    the production path is periodic COMPACTION of the per-batch appends
    into bsig-bucketed dirs (exactly the ``compact_ivf_index`` pattern:
    rare amortized rewrites buy per-probe partition pruning), with the
    probe reading compacted buckets + the small uncompacted tail; the
    per-batch band file is written SORTED by bsig so compaction is a
    merge and row-group min/max stats prune even pre-compaction.
    Verification stays candidate-sized; the one honest state cost is
    each doc's hashed-shingle set (needed for EXACT verification, as in
    the batch pipeline) — a MinHash-estimate verification would shrink
    state to the 32-minhash vector at the price of approximate Jaccard.
    """
    from ..operators.dedup import portable_minhash_sig

    bands_dir = f"{state_dir}/bands"
    docs_dir = f"{state_dir}/docs"

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        sig = portable_minhash_sig(batch_df.select("doc_id", "text")).persist()

        def flag(docs_old: DataFrame, verified: DataFrame) -> DataFrame:
            # Every batch doc gets a docs-state row — docs too short to
            # shingle have no signature but are still (trivially kept)
            # corpus members the graded keeper set must contain.
            docs_new = (
                batch_df.select("doc_id", "lang", "source")
                .join(sig.select("doc_id", "sh_set", "n_sh"), "doc_id", "left")
                .select(
                    "doc_id",
                    "lang",
                    "source",
                    F.coalesce("sh_set", F.array().cast("array<long>")).alias(
                        "sh_set"
                    ),
                    F.coalesce("n_sh", F.lit(0)).alias("n_sh"),
                    F.lit(False).alias("dropped"),
                )
            )
            dropped = (
                verified.select(F.col("doc_b").alias("doc_id"))
                .distinct()
                .withColumn("dp", F.lit(True))
            )
            # OR-fold the flag onto every row of the touched buckets (a
            # new smaller-id near-dup flips an already-kept old doc;
            # already-dropped stays).
            return (
                docs_old.unionByName(docs_new)
                .join(dropped, "doc_id", "left")
                .select(
                    "doc_id",
                    "lang",
                    "source",
                    "sh_set",
                    "n_sh",
                    (F.col("dropped") | F.coalesce("dp", F.lit(False))).alias(
                        "dropped"
                    ),
                )
            )

        try:
            _probe_and_verify(
                sig,
                batch_df.select("doc_id"),
                docs_dir,
                "doc_id long, lang string, source string, "
                "sh_set array<long>, n_sh int, dropped boolean",
                bands_dir,
                batch_id,
                n_buckets,
                flag,
                rewrite_old=True,
            )
        finally:
            sig.unpersist()

    _claim_bucket_layout(docs_dir, "doc_id", n_buckets)
    _drain(
        spark,
        "doc_id long, text string, lang string, source string",
        src_dir,
        state_dir,
        upsert,
        on_batch,
    )


def band_state_paths(
    bands_dir: str, below: int | None = None
) -> tuple[list[str], str | None]:
    """(plain append versions, compacted tree) of an append-only band
    state — the append-only sibling of :func:`bucket_latest_paths`.
    Plain = every COMPLETE (``_SUCCESS``) ``v{id}`` strictly below the
    batch id (ALL versions matter: each holds different rows); the
    compacted tree is the reserved ``v-1``
    (:func:`compact_neardup_bands`), returned separately because it is
    bsig-bucketed (``bkt=`` subdirs) and mixing its partitioned layout
    into one multi-path read with plain files would fail partition
    discovery — callers read its touched ``bkt=`` dirs as leaves."""
    versions = _complete_versions(bands_dir)
    plain = [p for v, p in versions if v >= 0 and (below is None or v < below)]
    compacted = next((p for v, p in versions if v == -1), None)
    return plain, compacted


def _compacted_band_buckets(bands_dir: str) -> int:
    """The bucket count the compacted band tree ``{bands_dir}/v-1`` was
    written with, from its ``_bucket_layout`` marker (every probe must
    hash with the WRITER's count or pruning reads the wrong buckets);
    1 when there is no compacted tree."""
    import json
    import os

    try:
        with open(os.path.join(bands_dir, "v-1", "_bucket_layout")) as fh:
            return int(json.load(fh)["n_buckets"])
    except FileNotFoundError:
        return 1


def compact_neardup_bands(
    spark: SparkSession, state_dir: str, n_buckets: int = 256
) -> str | None:
    """Compact the near-dup fold's append-only band state: merge the
    COMMITTED ``v{id}`` append files (:func:`_committed`) and any prior
    ``v-1`` into the reserved ``v-1``, partitioned by ``bkt =
    pmod(xxhash64(bsig), n_buckets)`` with one file per bucket — the
    100 TB pruning path :func:`incremental_neardup`'s docstring
    promises: after compaction a probe reads only the buckets its
    ~8·batch signatures hash into (O(batch·bucket_size)) plus the small
    uncompacted tail, instead of scanning the whole band history.  The
    staged write and the swap are :func:`_swap_compact`; the merged
    versions are deleted after it publishes.  A crash between the
    publish and those deletions leaves their rows in both ``v-1`` and
    ``v{id}`` — benign: the probe's candidate set is ``distinct`` and
    the next compaction re-merges with ``.distinct()``.

    Choose ``n_buckets`` so a bucket holds ~0.5–2k rows at the current
    corpus (the bucketed-state sizing rule, BASELINE.md "Round-10 rework
    rungs"); the count is recorded
    in ``v-1/_bucket_layout`` and probes read it from there, so
    RE-compacting with a different count is always safe.  Returns the
    compacted dir path, or None when no ``v-1`` exists."""
    import os
    import shutil

    bands_dir = f"{state_dir}/bands"
    target = os.path.join(bands_dir, "v-1")
    versions = dict(_complete_versions(bands_dir))
    sources = [
        versions[v] for v in _committed(state_dir, [v for v in versions if v >= 0])
    ]

    def write(staging: str) -> bool:
        compacted = _bucket_leaves(target) if os.path.isdir(target) else []
        if not sources and not compacted:
            return False
        # .distinct(): heals the duplicate rows a crash between publish
        # and deletion can leave (docstring).
        (
            _read_log(spark, _BAND_SCHEMA, sources + compacted)
            .distinct()
            .withColumn("bkt", _bucket_expr(F.col("bsig"), n_buckets))
            .repartition(F.col("bkt"))
            .sortWithinPartitions("bsig")
            .write.mode("overwrite")
            .partitionBy("bkt")
            .parquet(staging)
        )
        _claim_bucket_layout(staging, "bsig", n_buckets)
        return True

    if _swap_compact(target, write):
        for p in sources:
            shutil.rmtree(p, ignore_errors=True)
    return target if os.path.isdir(target) else None


def incremental_curation(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    on_batch=None,
    n_buckets: int = _STATE_BUCKETS,
) -> None:
    """The FULL curation ladder AT INGESTION via ``foreachBatch`` —
    quality gate → language-ID gate → exact-dedup keep-one → near-dup
    component keep-one, maintained incrementally as documents arrive
    (round 12; the composition capstone of the streaming side, the way
    ``q_export_release`` is the batch side's).  The prior ingestion
    rungs each ran ONE gate (`incremental_doc_dedup` = exact md5,
    `incremental_neardup` = pairwise LSH); a production crawl runs the
    whole ladder, and its end state must be bit-identical to the batch
    composite (``operators/text.curated_docs``) so the SAME chained
    oracle grades both executions.

    Four state relations under ``state_dir``, layout per mutability:

    - ``bands/``: append-only (doc_id, band, bsig) LSH rows for every
      seen doc — identical to ``incremental_neardup``'s band state
      (immutable facts, one sorted file per batch;
      :func:`compact_neardup_bands` applies unchanged for the 100 TB
      pruning path).
    - ``pairs/``: append-only verified near-pairs (doc_a < doc_b,
      Jaccard ≥ 0.8) — immutable facts discovered EXACTLY ONCE (in the
      batch where the later member lands, via
      :func:`band_probe_candidates`), so each batch appends one
      pair-sized file (:func:`compact_pair_log` is the file-count
      maintenance path — the log is never probed during ingest, so
      compaction here is listing hygiene, not probe pruning).  Both
      logs compact by the one protocol, :func:`_swap_compact`.  The
      pair relation is ≪ corpus-sized (BASELINE
      sf0.1: ~250 pairs off 60k docs), which is what makes keeping the
      EDGES — not per-doc drop flags — the right state for component
      semantics.
    - ``shsets/``: (doc_id, sh_set, n_sh) hashed-shingle sets for docs
      that shingle, bucketed by doc_id — read per batch only for the
      candidate endpoints' exact-Jaccard verification (touched-bucket
      reads); rows are immutable, so per-batch writes rewrite only the
      buckets receiving NEW rows.
    - ``kept/``: the gate-surviving exact-dedup state, keyed and
      bucketed by ``content_hash``: one row per distinct md5 among
      QUALITY+LANG survivors carrying the keeper (min doc_id) row's
      (doc_id, lang_pred, quality, n_tokens) — the same
      min-struct fold as ``incremental_doc_dedup`` restricted to gate
      passers (the gates are deterministic per-doc scans, so filtering
      each batch before the fold equals the batch semantics' dedup-over-
      kept).  Duplicates and gate failures die at the gate: this state
      never holds them.

    Why the NEAR-dup stage stores edges instead of folding drop flags:
    batch curation's keeper rule (r8 semantics) is per CONNECTED
    COMPONENT — keeper = min doc_id among gate survivors of the whole
    cluster, which pairwise flag-folding cannot express (components
    merge when a later batch bridges two earlier clusters, and a
    keeper can change retroactively).  "Dropped" is therefore not a
    per-doc monotone fold; the per-batch INCREMENTAL work is the
    expensive part — signature computation, band probing, exact
    verification, all O(batch + candidates) — while the component walk
    runs at READ time over the accumulated pair log
    (:func:`read_curated_state`), a pairs-sized fixpoint exactly like
    the batch composite's (release pipelines need the final clusters at
    export time, not per-batch).  End-state invariance: the streamed
    pair set equals the one-shot batch pair set for any chunking
    (exactly-once discovery + the shared verification expressions), the
    min-struct fold is associative/commutative/idempotent, and the
    read-time walk is a pure function of both — so the curated relation
    is bit-identical to the batch ``curated`` CTE for ANY arrival
    order, and the chained batch oracle grades the streaming execution
    exactly (the split-invariance pytest pins it).

    Replay safety as everywhere in this module (:func:`_bucketed_fold`):
    reads take versions strictly below the batch id; every per-batch
    write (two appends, two touched-bucket merges) rewrites
    ``v{batch_id}`` idempotently.
    """
    from ..functions.textfns import lang_id, quality_score, token_count
    from ..operators.dedup import portable_minhash_sig
    from ..operators.text import _CURATION_QUALITY_MIN

    bands_dir = f"{state_dir}/bands"
    pairs_dir = f"{state_dir}/pairs"
    sets_dir = f"{state_dir}/shsets"
    kept_dir = f"{state_dir}/kept"

    def keep_min(gated: DataFrame) -> DataFrame:
        """min(struct(doc_id, lang_pred, quality, n_tokens)) per
        content_hash, unpacked — the ONE fold definition the batch
        partial and the merge share (same discipline as
        incremental_doc_dedup.keep_first)."""
        return (
            gated.select(
                "content_hash",
                F.struct(
                    "doc_id", "lang_pred", "quality", "n_tokens"
                ).alias("first"),
            )
            .groupBy("content_hash")
            .agg(F.min("first").alias("first"))
            .select(
                "content_hash",
                F.col("first.doc_id").alias("doc_id"),
                F.col("first.lang_pred").alias("lang_pred"),
                F.col("first.quality").alias("quality"),
                F.col("first.n_tokens").alias("n_tokens"),
            )
        )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        sig = portable_minhash_sig(batch_df.select("doc_id", "text")).persist()
        sets_new = sig.select("doc_id", "sh_set", "n_sh")

        def append_pairs(sets_old: DataFrame, verified: DataFrame) -> DataFrame:
            # Append-only pair version: one file, exactly this batch's
            # rows (an empty verified set still writes a schema-carrying
            # file — uniform version listing).
            verified.coalesce(1).write.mode("overwrite").parquet(
                f"{pairs_dir}/v{batch_id}"
            )
            return sets_old.unionByName(sets_new)

        try:
            # Keyed by the batch's SIGNED docs: only the buckets receiving
            # their set rows are rewritten (rows are immutable — the
            # verify-only buckets are read, not dirtied), and a batch with
            # none (every doc too short to shingle) writes no set, band or
            # pair version at all.
            _probe_and_verify(
                sig,
                sets_new.select("doc_id"),
                sets_dir,
                "doc_id long, sh_set array<long>, n_sh int",
                bands_dir,
                batch_id,
                n_buckets,
                append_pairs,
                rewrite_old=False,
            )
        finally:
            sig.unpersist()
        # Gate + exact-dedup fold (independent of the pair state; runs
        # last so a crash mid-batch leaves at most idempotently
        # rewritable versions behind).  No gate survivors: kept state
        # stands.
        gated = batch_df.select(
            "doc_id",
            F.md5(F.col("text").cast("binary")).alias("content_hash"),
            (quality_score(F.col("text")) + F.lit(0.0)).alias("quality"),
            lang_id(F.col("text")).alias("lang_pred"),
            token_count(F.col("text")).cast("long").alias("n_tokens"),
        ).where(
            (F.col("quality") >= _CURATION_QUALITY_MIN)
            & (F.col("lang_pred") != "und")
        )
        _fold_partial(
            keep_min(gated), kept_dir, batch_id, "content_hash", n_buckets, keep_min
        )

    _claim_bucket_layout(sets_dir, "doc_id", n_buckets)
    _claim_bucket_layout(kept_dir, "content_hash", n_buckets)
    _drain(
        spark,
        "doc_id long, text string, lang string, source string",
        src_dir,
        state_dir,
        upsert,
        on_batch,
    )


def read_curated_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Assemble the curated relation from :func:`incremental_curation`'s
    end state: gate survivors (the ``kept/`` min-fold state) anti-joined
    against near-dup non-keepers derived by running the SHARED two-star
    component walk (``operators/dedup.pair_component_labels``) over the
    accumulated ``pairs/`` log — keeper = min doc_id among gate
    SURVIVORS per component, verbatim the batch ``curated_docs`` keeper
    rule (r8 semantics).  The walk is pairs-sized (≪ corpus), every
    other relation here is state-sized; returns None when no batch ever
    committed."""
    from ..operators.dedup import pair_component_labels

    kept = read_bucketed_state(spark, f"{state_dir}/kept")
    if kept is None:
        return None
    surv = kept.select("doc_id", "lang_pred", "quality", "n_tokens")
    # Complete versions only: a crashed batch's partial version must not
    # feed the walk.
    versions = [p for _, p in _complete_versions(f"{state_dir}/pairs")]
    if not versions:
        return surv
    labels = pair_component_labels(_read_log(spark, _DOC_PAIRS, versions))
    lab_surv = labels.join(
        surv.select("doc_id"), labels["id"] == F.col("doc_id")
    ).select("id", "label")
    keepers = lab_surv.groupBy("label").agg(F.min("id").alias("keeper"))
    non_keepers = (
        lab_surv.join(keepers, "label")
        .where(F.col("id") != F.col("keeper"))
        .select(F.col("id").alias("doc_id"))
    )
    return surv.join(non_keepers, "doc_id", "left_anti")


def _semantic_pair_kernel(mode: str):
    """Arrow tile kernels for the semantic-dedup ingestion probe — the
    SAME numeric path as the batch GEMM tile (operators/dedup
    q_dedup_embedding.score_tile: float64 cast, L2-normalize each side
    once, one dense GEMM, threshold on the RAW sims): the streamed pair
    set must equal the batch pair set, and the stability argument
    (measured margins ≥1e-4 at the 0.45 threshold vs ~1e-16
    summation-order noise) only transfers if the arithmetic shape is
    identical.  ``mode='cross'`` scores side 1 (batch) × side 0 (state)
    and keeps every distinct-id pair (state ids predate batch ids —
    each old×new pair lives in exactly one state block's group);
    ``mode='diag'`` scores the batch against itself and keeps the upper
    triangle.  Degenerate rows score no pair: a null embedding is dropped
    before the matrix is built (it would misalign the flattened values)
    and a zero vector normalizes to NaN, which no threshold passes."""

    def kernel(tbl):
        # Worker-side imports, as in the batch tile kernel.
        import numpy as np
        import pyarrow as pa

        def empty():
            return pa.table(
                {
                    "vec_a": np.array([], dtype="int64"),
                    "vec_b": np.array([], dtype="int64"),
                }
            )

        if tbl.column("embedding").null_count:
            tbl = tbl.filter(tbl.column("embedding").is_valid())
            if len(tbl) == 0:
                return empty()
        ids = tbl.column("vec_id").to_numpy()
        emb = tbl.column("embedding").combine_chunks()
        mat = (
            emb.flatten()
            .to_numpy(zero_copy_only=False)
            .astype("float64", copy=False)
            .reshape(len(tbl), -1)
        )
        with np.errstate(divide="ignore", invalid="ignore"):
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        if mode == "cross":
            side = tbl.column("side").to_numpy()
            mask_x = side == 1
            mask_y = side == 0
            if not mask_x.any() or not mask_y.any():
                return empty()
            la, rb = mat[mask_x], mat[mask_y]
            ids_x, ids_y = ids[mask_x], ids[mask_y]
        else:
            la = rb = mat
            ids_x = ids_y = ids
        sims = la @ rb.T
        ia, ib = np.nonzero(sims >= 0.45)
        ida, idb = ids_x[ia], ids_y[ib]
        keep = ida < idb if mode == "diag" else ida != idb
        return pa.table(
            {
                "vec_a": np.minimum(ida, idb)[keep],
                "vec_b": np.maximum(ida, idb)[keep],
            }
        )

    return kernel


def incremental_semantic_dedup(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    on_batch=None,
    n_blocks: int = 8,
) -> None:
    """SEMANTIC (embedding-cosine) dedup AT INGESTION via
    ``foreachBatch`` — the embedding rung's streaming story (round 12),
    completing the ingestion ladder the md5 / MinHash folds built:
    vectors arrive in micro-batches, each batch discovers its cos ≥
    0.45 pairs against everything already seen, and the accumulated
    pair log replays the batch ``q_dedup_semantic`` drop list exactly.

    Two state relations, BOTH append-only (every fact here is
    immutable — contrast the md5/near-dup folds, whose keeper/drop
    columns mutate):

    - ``vecs/``: (vec_id, embedding) for every seen vector — one file
      per batch.
    - ``pairs/``: verified cos ≥ 0.45 pairs (vec_a < vec_b), discovered
      EXACTLY ONCE each — old×new in the batch where the later vector
      lands (the probe), new×new in its own batch (the diagonal tile);
      :func:`compact_pair_log` bounds the per-batch file accumulation,
      by the one compaction protocol (:func:`_swap_compact`).

    The probe is the batch GEMM discipline applied rectangularly: state
    vectors hash into ``n_blocks`` blocks, the (small) batch replicates
    to every block, and one ``applyInArrow`` kernel per block runs a
    dense float64 batch×block GEMM — no Catalyst pair relation, no
    driver-side collect, per-task memory one block + one batch.  The
    honest cost: EXACT semantic dedup at a 63° threshold is inherently
    quadratic (see q_dedup_embedding's docstring — sign-LSH cannot band
    at cos 0.45), so the per-batch probe reads the whole vector state:
    per-batch work grows linearly in |seen| and the TOTAL work equals
    the one-shot batch GEMM's n²/2 — streaming spreads the same flops
    across arrivals, it cannot shrink them.  A pipeline that needs
    sub-linear per-batch semantic screening trades exactness for the
    streaming ANN index (``incremental_ivf_index`` + probe) — that
    path exists and is graded separately; THIS fold is the exact one,
    and grades against the exact batch oracle.

    The drop list itself is component-based (keeper = min vec_id per
    connected cluster), so like the curation fold the state keeps
    EDGES and the component walk runs at read time over the pairs-sized
    log (:func:`read_semantic_state`) — a later batch can bridge two
    established clusters and retroactively re-elect a keeper, which no
    per-vector flag fold can express.  End-state invariance: exactly-
    once discovery + identical kernel arithmetic ⇒ the streamed pair
    multiset equals the batch pair set for any chunking; the walk is a
    pure function of it (crash-resume + split-invariance pytest-pinned).

    Replay safety as everywhere: reads take versions strictly below the
    batch id; both appends rewrite ``v{batch_id}`` idempotently.
    """
    import math
    import os

    vecs_dir = f"{state_dir}/vecs"
    pairs_dir = f"{state_dir}/pairs"
    cents_dir = f"{state_dir}/cents"
    # Exact-screen threshold angle: pairs below cos 0.45 are discarded by
    # the kernel, so any state row whose CENTROID angle sits more than
    # T = arccos(0.45) away from every batch vector's centroid angle can
    # be skipped without reading it into the GEMM (triangle inequality:
    # θ_qx ≥ |θ_qc − θ_xc|, so cos(q,x) ≥ 0.45 ⇒ θ_xc ∈ [θ_qc − T,
    # θ_qc + T]).  The margin absorbs float noise in the angle
    # computation — generous vs the ~1e-7 error of a float64 acos chain.
    _T = math.acos(0.45)
    _MARGIN = 1e-4

    def _load_cents(s: SparkSession):
        """The pinned per-state quantizer: (cid, float64-normalized
        centroid vector) rows, or None before the first batch commits
        them.  Metadata-sized (≤16 × dim floats)."""
        if not os.path.exists(os.path.join(cents_dir, "_SUCCESS")):
            return None
        rows = s.read.parquet(cents_dir).collect()
        return [(int(r["cid"]), [float(x) for x in r["cvec"]]) for r in rows]

    def _cell_angles(cents) -> Column:
        """array<struct<t, cid>> of the row's angle to EVERY pinned
        centroid, float64 with clipped acos — one expression shared by
        the nearest-cell assignment (array_min: smallest angle, ties to
        the smaller cid) and the batch-side hull aggregation; both sides
        computing the identical angles is what makes the screen's
        triangle-inequality bound sound.  A zero or null embedding has
        no angle: ``t`` is NULL (and the nearest cell the smallest
        cid)."""
        from ..functions.vectors import dot, l2_norm

        nrm = l2_norm(F.col("embedding"))
        return F.array(
            *[
                F.struct(
                    F.when(
                        nrm > 0,
                        F.acos(
                            F.least(
                                F.lit(1.0),
                                F.greatest(
                                    F.lit(-1.0),
                                    dot(
                                        F.col("embedding"),
                                        F.array(*[F.lit(x) for x in cvec]),
                                    )
                                    / nrm,
                                ),
                            )
                        ),
                    ).alias("t"),
                    F.lit(cid).alias("cid"),
                )
                for cid, cvec in cents
            ]
        )

    def _cell_angle_cols(df: DataFrame, cents) -> DataFrame:
        """(vec_id, embedding, …) → + (cell, tcc): nearest pinned
        centroid by angle and the angle to it (row-local, so
        micro-batching cannot move an assignment — the
        incremental_ivf_index discipline)."""
        best = F.array_min(_cell_angles(cents))
        return df.withColumn("cell", best["cid"]).withColumn("tcc", best["t"])

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        batch = batch_df.select("vec_id", "embedding").persist()
        try:
            if batch.count() == 0:
                return  # empty batch: every state version stands
            versions = [p for _, p in _complete_versions(vecs_dir, batch_id)]
            # -- pin the per-state quantizer on the first committing
            #    batch (replay-safe: a replayed first batch re-derives
            #    the identical rows and overwrites idempotently).  The
            #    centroid CHOICE only affects screen selectivity, never
            #    the pair set — the screen below is lossless for any
            #    quantizer.
            cents = _load_cents(s)
            if cents is None:
                from ..functions.vectors import l2_norm as _l2n

                nrm = _l2n(F.col("embedding"))
                (
                    # A null embedding has a null norm; neither it nor a
                    # zero vector has a direction to pin.
                    batch.where(nrm > 0)
                    .orderBy("vec_id")
                    .limit(16)
                    .select(
                        F.col("vec_id").alias("cid"),
                        F.transform(
                            "embedding", lambda x: x.cast("double") / nrm
                        ).alias("cvec"),
                    )
                    .coalesce(1)
                    .write.mode("overwrite")
                    .parquet(cents_dir)
                )
                cents = _load_cents(s)
            diag = (
                batch.withColumn("g", F.lit(0))
                .groupBy("g")
                .applyInArrow(
                    _semantic_pair_kernel("diag"),
                    schema=_VEC_PAIRS,
                )
            )
            batch_cells = _cell_angle_cols(batch, cents)
            if versions:
                # -- ANN screen, EXACT (round 13, VERDICT r12 #5): per
                #    cell, the batch's centroid-angle hull widened by
                #    T + margin; a state row outside its cell's hull
                #    provably has cos < 0.45 against every batch vector
                #    (triangle inequality above), so the filter prunes
                #    rows BEFORE the Arrow boundary and the GEMM with
                #    zero false negatives.  State files are written
                #    sorted by (cell, tcc), so the pushed range
                #    predicate also skips whole row groups.  The hulls
                #    are ≤16 rows — collected driver-side like the IVF
                #    probe's literal cell list.  A zero or null
                #    embedding has no angle (NULL tcc): such state rows
                #    are kept by the IS NULL disjunct rather than
                #    dropped by a NULL predicate, and batch rows add no
                #    hull bound.
                hulls = (
                    batch.select(F.explode(_cell_angles(cents)).alias("ct"))
                    .groupBy(F.col("ct.cid").alias("cell"))
                    .agg(
                        F.min("ct.t").alias("lo"), F.max("ct.t").alias("hi")
                    )
                    .collect()
                )
                screen = F.col("tcc").isNull()
                for r in hulls:
                    if r["lo"] is None:
                        continue
                    c = (F.col("cell") == int(r["cell"])) & F.col(
                        "tcc"
                    ).between(
                        float(r["lo"]) - _T - _MARGIN,
                        float(r["hi"]) + _T + _MARGIN,
                    )
                    screen = screen | c
                vstate = (
                    _read_log(s, batch_cells.schema, versions)
                    .where(screen)
                    .select(
                        "vec_id",
                        "embedding",
                        F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).alias(
                            "blk"
                        ),
                        F.lit(0).alias("side"),
                    )
                )
                vbatch = batch.select(
                    "vec_id",
                    "embedding",
                    F.explode(
                        F.array(*[F.lit(p) for p in range(n_blocks)])
                    ).alias("blk"),
                    F.lit(1).alias("side"),
                )
                cross = (
                    vstate.unionByName(vbatch)
                    .groupBy("blk")
                    .applyInArrow(
                        _semantic_pair_kernel("cross"),
                        schema=_VEC_PAIRS,
                    )
                )
                found = cross.unionByName(diag)
            else:
                found = diag
            found.coalesce(1).write.mode("overwrite").parquet(
                f"{pairs_dir}/v{batch_id}"
            )
            # (cell, tcc)-sorted so the probe's pushed range predicate
            # prunes row groups inside large (seed/compacted) versions.
            batch_cells.coalesce(1).sortWithinPartitions(
                "cell", "tcc"
            ).write.mode("overwrite").parquet(f"{vecs_dir}/v{batch_id}")
        finally:
            batch.unpersist()

    _drain(
        spark,
        "vec_id long, embedding array<float>, label int",
        src_dir,
        state_dir,
        upsert,
        on_batch,
    )


def read_semantic_state(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Assemble the semantic drop list from
    :func:`incremental_semantic_dedup`'s end state: the SHARED two-star
    component walk (``operators/dedup.pair_component_labels``) over the
    accumulated pair log, then keeper = min vec_id per cluster — the
    batch ``q_dedup_semantic`` tail verbatim, over a pairs-sized
    relation.  Returns None when no batch ever committed."""
    from ..operators.dedup import pair_component_labels

    versions = [p for _, p in _complete_versions(f"{state_dir}/pairs")]
    if not versions:
        return None
    labels = pair_component_labels(
        _read_log(spark, _VEC_PAIRS, versions), a="vec_a", b="vec_b"
    )
    keepers = labels.groupBy("label").agg(
        F.min("id").alias("keeper_vec_id"),
        F.count(F.lit(1)).cast("long").alias("cluster_size"),
    )
    return (
        labels.join(keepers, "label")
        .where(F.col("id") != F.col("keeper_vec_id"))
        .select(F.col("id").alias("vec_id"), "keeper_vec_id", "cluster_size")
    )


def compact_pair_log(spark: SparkSession, pairs_dir: str) -> str | None:
    """Compact an append-only pair log (the ``pairs/`` state of the
    curation and semantic ingestion folds) — merge the COMMITTED
    per-batch ``v{n}`` versions (:func:`_committed`) and any prior
    ``v-1`` into ONE ``v-1`` file and delete the merged versions after
    the swap publishes (:func:`_swap_compact`).  An uncommitted version
    stays verbatim for its replay to overwrite.  The log is only READ at
    end-state time (never probed during ingest), so the maintenance
    concern is file count, not probe pruning: a long-running ingest
    accumulates one tiny file per batch, and this rare amortized rewrite
    keeps the listing bounded — the same lifecycle as
    :func:`compact_neardup_bands`, minus the bucketing (the whole log is
    pairs-sized).  A crash between the publish and the deletions leaves
    duplicate EDGES, which change neither component labels nor keeper
    election and which the next merge's ``.distinct()`` drops.  The
    semantic fold's state holds ``vecs/`` beside its log, which picks
    the log's schema.  Returns the compacted path, or None when no
    ``v-1`` exists."""
    import os
    import shutil

    state_dir = os.path.dirname(pairs_dir)
    target = os.path.join(pairs_dir, "v-1")
    versions = dict(_complete_versions(pairs_dir))
    sources = [
        versions[v] for v in _committed(state_dir, [v for v in versions if v >= 0])
    ]
    schema = (
        _VEC_PAIRS if os.path.isdir(os.path.join(state_dir, "vecs")) else _DOC_PAIRS
    )

    def write(staging: str) -> bool:
        if not sources:
            return False
        olds = [target] if os.path.isdir(target) else []
        _read_log(spark, schema, sources + olds).distinct().coalesce(
            1
        ).write.mode("overwrite").parquet(staging)
        return True

    if _swap_compact(target, write):
        for p in sources:
            shutil.rmtree(p, ignore_errors=True)
    return target if os.path.isdir(target) else None
