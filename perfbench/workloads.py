"""The benchmark workloads.

A workload writes its seeded inputs (``generate``) and computes their
expected results (``oracles``) before Spark starts, runs its one-time builds
(``setup``), and then runs operations one after another, each started only
when the previous one has finished (a closed loop with one client).  An
operation returns its timed samples and the checks of its outputs; checks
run after the measured window.
"""

from __future__ import annotations

import os
import re
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

import gen
import oracle


@dataclass
class OpResult:
    """One operation: its latency samples (one per query or micro-batch), how
    many queries it ran and how many input rows it consumed, the checks of
    its outputs (callables returning an error string or None) and the
    per-layer values it measured itself."""

    latencies: list[float]
    queries: int
    rows: int
    checks: list = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)


def _timed_query(spark, registry, name: str, data_dir: str, rec) -> tuple[float, object]:
    """Plan (the registry function) then execute (an Arrow fetch of every
    row); both sides of the split are spans in the traced run."""
    t0 = time.monotonic()
    with rec.span("query.plan", query=name):
        df = registry.QUERIES[name](spark, data_dir)
    with rec.span("query.exec", query=name):
        table = df.toArrow()
    return time.monotonic() - t0, table


def _check(name: str, table, want: oracle.Expected):
    return lambda: oracle.mismatch(name, table, want)


class Workload:
    name = ""
    queries: tuple[str, ...] = ()
    warm_unit = 1  # operations per warm-up step

    def __init__(self, work_dir: str, seed: int):
        self.work = work_dir
        self.seed = seed
        self.data = os.path.join(work_dir, "data")
        self.sizes: dict[str, int] = {}
        self.expected: dict[str, oracle.Expected] = {}

    def generate(self) -> None:
        raise NotImplementedError

    def oracles(self, registry) -> None:
        self.expected = oracle.expected_all(
            self.data, {q: registry.ORACLES[q] for q in self.queries}
        )

    def setup(self, spark, rec) -> dict[str, float]:
        """One-time builds; returns their named durations."""
        return {}

    def op(self, spark, registry, i: int, rec) -> OpResult:
        raise NotImplementedError

    def op_name(self, i: int) -> str:
        return self.name


class RecsysTopK(Workload):
    """The flagship item-item similarity top-K on the relational join arm."""

    name = "recsys_topk"
    queries = ("q_topk_similar_items",)

    def generate(self) -> None:
        from recsys_mapreduce_mrjob_spark.operators.recsys import (
            _FLAGSHIP_JOIN_MIN_ROWS,
        )
        from recsys_mapreduce_mrjob_spark.sources.readers import parquet_num_rows

        self.sizes = gen.ratings_tables(self.data, self.seed)
        n = parquet_num_rows(self.data, "lineitem")
        if n is None or n < _FLAGSHIP_JOIN_MIN_ROWS:
            raise ValueError(
                f"lineitem footer reads {n} rows; the join arm needs "
                f">= {_FLAGSHIP_JOIN_MIN_ROWS}"
            )

    def oracles(self, registry) -> None:
        super().oracles(registry)
        con = oracle.connect(self.data)
        try:
            (self.sizes["ratings"], self.sizes["pair_events"]) = con.execute(
                "WITH r AS (SELECT o_custkey u, l_partkey i FROM lineitem "
                "JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2), "
                "d AS (SELECT count(*) n FROM r GROUP BY u) "
                "SELECT CAST(sum(n) AS BIGINT), CAST(sum(n * (n - 1) / 2) AS BIGINT) FROM d"
            ).fetchone()
        finally:
            con.close()

    def op(self, spark, registry, i, rec) -> OpResult:
        q = self.queries[0]
        spark.catalog.clearCache()
        wall, table = _timed_query(spark, registry, q, self.data, rec)
        return OpResult([wall], 1, self.sizes["ratings"],
                        [_check(q, table, self.expected[q])],
                        {"recsys.topk_rows": table.num_rows})


class CorpusExport(Workload):
    """One clearCache epoch, then the curation and three exports over it."""

    name = "corpus_export"
    queries = ("q_corpus_curation", "q_export_manifest", "q_export_chunks",
               "q_export_release")

    def generate(self) -> None:
        self.sizes["documents"] = gen.documents_table(self.data, self.seed)

    def op(self, spark, registry, i, rec) -> OpResult:
        spark.catalog.clearCache()
        lat, checks = [], []
        for q in self.queries:
            wall, table = _timed_query(spark, registry, q, self.data, rec)
            lat.append(wall)
            checks.append(_check(q, table, self.expected[q]))
        return OpResult(lat, len(self.queries), self.sizes["documents"], checks)


class Interactive(Workload):
    """Short oracle-backed queries, seed-shuffled, one at a time."""

    name = "interactive"
    queries = (
        "q_join_agg_q3", "q_join_agg_q5", "q_agg_q6_forecast", "q_join_agg_q10",
        "q_join_agg_q12", "q_join_agg_q14", "q_agg_pricing_summary",
        "q_agg_rollup", "q_window_rank", "q_window_topk_per_group",
        "q_topn_orders", "q_knn_batch_ivf",
    )

    def __init__(self, work_dir, seed):
        super().__init__(work_dir, seed)
        self.warm_unit = len(self.queries)
        self._rng = np.random.default_rng([seed, 9])
        self._order: list[str] = []
        self.input_rows: dict[str, int] = {}

    def generate(self) -> None:
        self.sizes = gen.tpch_tables(self.data, self.seed)

    def oracles(self, registry) -> None:
        super().oracles(registry)
        # Logical input of a query: the rows of every table its oracle reads.
        for q in self.queries:
            used = set(re.findall(r"\b(\w+)\b", registry.ORACLES[q])) & set(self.sizes)
            self.input_rows[q] = sum(self.sizes[t] for t in used)

    def setup(self, spark, rec) -> dict[str, float]:
        from recsys_mapreduce_mrjob_spark.operators import embeddings

        t0 = time.monotonic()
        embeddings.ivf_index_dir(spark, self.data)
        return {"embeddings.index_build_s": time.monotonic() - t0}

    def op_name(self, i: int) -> str:
        j = i if i >= 0 else -1 - i  # warm-up operations count down from -1
        while len(self._order) <= j:
            self._order += list(self._rng.permutation(self.queries))
        return self._order[j]

    def op(self, spark, registry, i, rec) -> OpResult:
        q = self.op_name(i)
        spark.catalog.clearCache()
        wall, table = _timed_query(spark, registry, q, self.data, rec)
        return OpResult([wall], 1, self.input_rows[q], [_check(q, table, self.expected[q])])


class StreamIngest(Workload):
    """Exact dedup at ingestion: one ``availableNow`` drain of the seeded
    chunk files into a fresh state directory per operation."""

    name = "stream_ingest"
    queries = ("q_stream_dedup_docs_exec",)

    def __init__(self, work_dir, seed):
        super().__init__(work_dir, seed)
        self.src = os.path.join(work_dir, "stream_src")
        self._drains = 0

    def generate(self) -> None:
        self.sizes = gen.stream_chunks(self.src, self.data, self.seed)

    def op(self, spark, registry, i, rec) -> OpResult:
        from recsys_mapreduce_mrjob_spark.streaming import twins

        self._drains += 1
        state = os.path.join(self.work, f"state-{self._drains}")
        marks: list[float] = []
        t0 = time.monotonic()
        twins.incremental_doc_dedup(
            spark, self.src, state, on_batch=lambda _b: marks.append(time.monotonic())
        )
        t1 = time.monotonic()
        edges = marks + [t1]
        lat = [b - a for a, b in zip(edges, edges[1:])]
        if len(marks) != self.sizes["chunks"]:
            raise RuntimeError(f"drain ran {len(marks)} micro-batches, expected "
                               f"{self.sizes['chunks']}")
        files, size = self._state_usage(state)
        return OpResult(
            lat, len(marks), self.sizes["documents"],
            [lambda: self._check_state(spark, twins, state)],
            {"streaming.batch_s": sum(lat) / len(lat),
             "streaming.state_files": files, "streaming.state_bytes": size},
        )

    def _check_state(self, spark, twins, state: str):
        from pyspark.sql import functions as F

        q = self.queries[0]
        final = twins.read_bucketed_state(spark, state)
        if final is None:
            return f"{q}: state dir {state} is empty after the drain"
        table = final.select(
            "content_hash", F.col("doc_id").alias("keeper_doc_id"), "lang", "source"
        ).toArrow()
        shutil.rmtree(state, ignore_errors=True)
        return oracle.mismatch(q, table, self.expected[q])

    @staticmethod
    def _state_usage(state: str) -> tuple[int, int]:
        """(files, bytes) of the parquet files in a state directory."""
        files = size = 0
        for root, _dirs, names in os.walk(state):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
        return files, size


WORKLOADS = {w.name: w for w in (RecsysTopK, CorpusExport, Interactive, StreamIngest)}
