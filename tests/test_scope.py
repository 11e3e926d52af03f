"""excelstream_spark.scope at fixture scale: the durable DISK_ONLY path
and the no-estimate fallback (both otherwise reached only at production
scale), the release boundary, and the checkpoint-handle invariant."""

from __future__ import annotations

import warnings

import pytest
from pyspark import StorageLevel
from pyspark.sql import DataFrame

import excelstream_spark.plans.extension  # noqa: F401  (registers v2)
from excelstream_spark import scope
from excelstream_spark.plans.catalog import CATALOG

from .conftest import SF_DIR, assert_matches_oracle, normalize_frame

V2 = "training_corpus_pipeline_v2"


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _durable(item) -> bool:
    return (
        isinstance(item, DataFrame)
        and item.storageLevel == StorageLevel.DISK_ONLY
    )


def test_durable_path_gives_the_same_rows(spark, duck, monkeypatch):
    """Bound 0 forces materialize() onto the DISK_ONLY persist that only
    payload-scale tables take in production: v2 (which materializes its
    rewritten corpus) returns the same rows as under the default bound
    and as its DuckDB oracle."""
    spec = CATALOG[V2]
    default = normalize_frame(spec.fn(spark, SF_DIR).toPandas())
    assert not any(_durable(x) for x in scope._SCOPE)

    monkeypatch.setattr(scope, "_CHECKPOINT_BOUND_BYTES", 0)
    df = spec.fn(spark, SF_DIR)
    assert any(_durable(x) for x in scope._SCOPE)
    assert normalize_frame(df.toPandas()) == default
    assert_matches_oracle(df, duck, spec.oracle)
    scope.release_persists()


def test_release_frees_every_persisted_rdd(spark):
    """After release_persists() nothing the run pinned is left: shared
    and materialized frames, the connected-components and BPE round
    checkpoints, and the two-pass sampler's range checkpoint.  The
    result handles stay referenced throughout, so JVM garbage
    collection cannot be what frees them."""
    from excelstream_spark.operators.sampling import reservoir_sample_exact
    from excelstream_spark.operators.tokenizer import bpe_train, encode_words
    from excelstream_spark.tables import load_table

    scope.release_persists()
    before = _persistent_ids(spark)
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    words = spark.createDataFrame(
        [("banana",), ("bandana",), ("ananas",)], "word string"
    )
    kept = [
        CATALOG[V2].fn(spark, SF_DIR),  # share + materialize + CC
        reservoir_sample_exact(docs, 40, merge_max=10),
        encode_words(words, bpe_train(docs.limit(50), num_merges=17)),
    ]
    for df in kept:
        df.collect()
    assert _persistent_ids(spark) - before
    scope.release_persists()
    assert _persistent_ids(spark) - before == set()


def test_checkpoint_handle_dies_at_the_boundary(spark):
    """A checkpointed frame reads truncated lineage: kept past
    release_persists() it raises on re-execution instead of silently
    recomputing or returning rows."""
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    ckpt, _ = scope.checkpoint(df)
    mat = scope.materialize(df)  # below the bound: also a checkpoint
    assert ckpt.count() == mat.count() == 100
    scope.release_persists()
    for handle in (ckpt, mat):
        with pytest.raises(Exception):
            handle.collect()


class _NoAnalyzed:
    """A QueryExecution whose analyzed plan (the checkpoint RDD id)
    cannot be read; the size estimate still can."""

    def __init__(self, qe):
        self._qe = qe

    def optimizedPlan(self):
        return self._qe.optimizedPlan()

    def analyzed(self):
        raise RuntimeError("analyzed() unavailable")


def _expected(df) -> list:
    return sorted(map(tuple, df.collect()))


def test_missing_size_estimate_warns_and_takes_durable_path(
    spark, monkeypatch
):
    df = spark.range(50).selectExpr("id", "id % 7 AS k")
    want = _expected(df)

    def no_plan(_df):
        raise RuntimeError("queryExecution() unavailable")

    monkeypatch.setattr(scope, "_query_execution", no_plan)
    with pytest.warns(RuntimeWarning, match="size estimate unavailable"):
        out = scope.materialize(df)
    assert _durable(scope._SCOPE[-1])
    assert _expected(out) == want
    scope.release_persists()


def test_unresolved_rdd_id_warns_and_keeps_rows(spark, monkeypatch):
    df = spark.range(50).selectExpr("id", "id % 7 AS k")
    want = _expected(df)
    real = scope._query_execution
    monkeypatch.setattr(
        scope, "_query_execution", lambda d: _NoAnalyzed(real(d))
    )
    with pytest.warns(RuntimeWarning, match="RDD id unresolved"):
        out = scope.materialize(df)
    assert _expected(out) == want
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        scope.release_persists()  # the unowned free is a no-op
