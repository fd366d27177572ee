"""The memo lifetime contract (caching.py): one handle table, scoped to
the ``clearCache`` epoch.  Within an epoch every call shares one handle;
after ``spark.catalog.clearCache()`` every ``build()`` runs again,
nested memos included, so no run rides a predecessor's relations."""

from __future__ import annotations

from pyspark.storagelevel import StorageLevel

from recsys_mapreduce_mrjob_spark import registry
from recsys_mapreduce_mrjob_spark.caching import (
    memo_checkpoint,
    memo_persist,
    memo_unpersist,
)
from recsys_mapreduce_mrjob_spark.sources.readers import load_table

registry.load_all()


def _spy(monkeypatch, module, relation: str) -> list:
    """Record every handle ``module``'s ``memo_persist`` returns for
    ``relation``."""
    seen = []
    real = module.memo_persist

    def spy(spark, rel, sf_dir, build):
        df = real(spark, rel, sf_dir, build)
        if rel == relation:
            seen.append(df)
        return df

    monkeypatch.setattr(module, "memo_persist", spy)
    return seen


def test_memo_persist_builds_again_after_clear_cache(spark, smoke_dir):
    builds = []

    def build():
        builds.append(1)
        return load_table(spark, smoke_dir, "region")

    try:
        first = memo_persist(spark, "cold_probe", smoke_dir, build)
        assert memo_persist(spark, "cold_probe", smoke_dir, build) is first
        assert len(builds) == 1
        spark.catalog.clearCache()
        second = memo_persist(spark, "cold_probe", smoke_dir, build)
        assert len(builds) == 2
        assert second is not first
        assert second.storageLevel != StorageLevel.NONE
    finally:
        memo_unpersist("cold_probe")


def test_nested_memo_is_persisted_again_after_clear_cache(
    spark, smoke_dir, monkeypatch
):
    """The curation ladder nests ``curation_scored`` inside
    ``curation_survivors`` inside ``curated_docs``: after a clearCache
    the inner persist barrier must be registered again, not silently
    lost under a still-memoized outer handle."""
    from recsys_mapreduce_mrjob_spark.operators import text

    scored = _spy(monkeypatch, text, "curation_scored")
    spark.catalog.clearCache()
    text.curated_docs(spark, smoke_dir).count()
    assert len(scored) == 1
    spark.catalog.clearCache()
    text.curated_docs(spark, smoke_dir).count()
    assert len(scored) == 2
    assert scored[-1] is not scored[0]
    assert scored[-1].storageLevel != StorageLevel.NONE


def test_als_recs_is_one_persisted_handle_per_epoch(spark, smoke_dir, monkeypatch):
    from recsys_mapreduce_mrjob_spark.operators import recsys

    recs = _spy(monkeypatch, recsys, "als_recs")
    spark.catalog.clearCache()
    registry.QUERIES["q_recommend_als"](spark, smoke_dir)
    registry.QUERIES["q_recommend_als_audit"](spark, smoke_dir).collect()
    assert len(recs) == 2
    assert recs[1] is recs[0]
    assert recs[0].storageLevel != StorageLevel.NONE
    spark.catalog.clearCache()
    registry.QUERIES["q_recommend_als"](spark, smoke_dir)
    assert recs[2] is not recs[0]
    assert recs[2].storageLevel != StorageLevel.NONE


def test_memo_checkpoint_is_new_after_clear_cache(spark, smoke_dir):
    def build():
        return load_table(spark, smoke_dir, "nation")

    try:
        first = memo_checkpoint(spark, "ckpt_probe", smoke_dir, build)
        assert memo_checkpoint(spark, "ckpt_probe", smoke_dir, build) is first
        spark.catalog.clearCache()
        second = memo_checkpoint(spark, "ckpt_probe", smoke_dir, build)
        assert second is not first
        assert second.count() == first.count()
    finally:
        memo_unpersist("ckpt_probe")
