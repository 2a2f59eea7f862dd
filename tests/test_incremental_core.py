"""The exactly-once frame shared by the three incremental indexes
(operators/incremental.py): session config is restored when the batch
scope fails to set up, and the Spark job count per cold and warm ingest
stays within a pinned upper bound."""

from __future__ import annotations

import contextlib
import math

import pytest

from migration_pair_spark.cdc.apply import _AQE_STATE
from migration_pair_spark.operators import incremental
from migration_pair_spark.operators.incremental import (
    IncrementalChunkIndex,
    IncrementalDeduper,
    IncrementalEmbeddingIndex,
)

_DOCS = "doc_id long, text string"
_VECS = "vec_id long, embedding array<float>"
_A = " ".join(f"alpha{i:02d} bravo{i:02d}" for i in range(12))


def _vec(seed: int) -> list[float]:
    return [
        round(math.sin(seed * 37 + d * 101) + math.cos(seed * 13 + d * 7), 4)
        for d in range(16)
    ]


#: per variant: (class, create kwargs, cold batch, warm batch, batch schema)
_VARIANTS = {
    "lsh": (
        IncrementalDeduper,
        dict(corpus_buckets=4, index_buckets=8, threshold=0.4,
             bands=tuple((i,) for i in range(8))),
        [(0, _A), (1, "unrelated base document about mountain weather"),
         (2, "another distinct base doc about tidal records")],
        [(10, _A + " charlie"), (11, "fresh content about glacier cores"),
         (12, "fresh content about glacier cores")],
        _DOCS,
    ),
    "srp": (
        IncrementalEmbeddingIndex,
        dict(threshold=0.35, dim=16, vector_buckets=4, index_buckets=8),
        [(i, _vec(i)) for i in range(8)],
        [(10, [x * 1.01 for x in _vec(3)]), (11, _vec(40))],
        _VECS,
    ),
    "chunk": (
        IncrementalChunkIndex,
        dict(corpus_buckets=4, index_buckets=8, w=3),
        [(0, "a b c d e f"), (1, "p q r s t u")],
        [(10, "a b c x y z"), (11, "d e f a b c"), (12, "m n o m n o")],
        _DOCS,
    ),
}

#: Upper bounds on Spark jobs per ingest of the fixtures above (local[4],
#: 8 shuffle partitions): the counts measured when each class still had
#: its own copy of the ingest frame. Sharing the frame must not add jobs.
_MAX_JOBS = {
    ("lsh", "cold"): 10,
    ("lsh", "warm"): 20,
    ("srp", "cold"): 7,
    ("srp", "warm"): 14,
    ("chunk", "cold"): 7,
    ("chunk", "warm"): 9,
}


def _make(spark, tmp_path, variant):
    cls, kwargs, cold, warm, schema = _VARIANTS[variant]
    ix = cls.create(spark, str(tmp_path / variant), **kwargs)
    return (
        ix,
        spark.createDataFrame(cold, schema),
        spark.createDataFrame(warm, schema),
    )


def _confs(spark):
    return {
        k: spark.conf.get(k)
        for k in ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    }


@contextlib.contextmanager
def _raising_scope(spark, n):
    raise RuntimeError("scope setup failed")
    yield  # pragma: no cover


@pytest.mark.parametrize("variant", sorted(_VARIANTS))
@pytest.mark.parametrize("failure", ["shuffle_scope", "rows_per_task"])
def test_failed_scope_setup_restores_session_config(
    spark, tmp_path, monkeypatch, variant, failure
):
    """An exception while the batch scope is being entered must leave
    spark.sql.adaptive.enabled and spark.sql.shuffle.partitions exactly
    as they were before the ingest, and release the refcounted AQE
    override (a held count keeps AQE off for every later query). The
    checks run while the caller still holds the exception: a scope left
    entered is only unwound when the traceback's frames are freed."""
    ix, cold, _ = _make(spark, tmp_path, variant)
    if failure == "shuffle_scope":
        monkeypatch.setattr(
            incremental, "_scoped_shuffle_partitions", _raising_scope
        )
    else:
        ix.rows_per_task = 0
    before = _confs(spark)
    with pytest.raises((RuntimeError, ZeroDivisionError)) as failed:
        ix.ingest(cold, "b0")
    assert _confs(spark) == before, failed.value
    assert spark not in _AQE_STATE, failed.value


@pytest.mark.parametrize("variant", sorted(_VARIANTS))
def test_jobs_per_ingest_bounded(spark, tmp_path, variant):
    """Pin the Spark job count of one cold ingest (empty index) and one
    warm ingest (index non-empty) as an upper bound."""
    ix, cold, warm = _make(spark, tmp_path, variant)
    sc = spark.sparkContext
    got = {}
    for phase, batch in (("cold", cold), ("warm", warm)):
        group = f"jobs-{variant}-{phase}-{tmp_path.name}"
        sc.setJobGroup(group, f"{variant} {phase} ingest")
        try:
            out = ix.ingest(batch, phase)
        finally:
            sc.setJobGroup(None, None)
        assert not out["replayed"] and out["n_new"] == batch.count()
        got[phase] = len(sc.statusTracker().getJobIdsForGroup(group))
    print(f"jobs {variant}: {got}")
    for phase, n in got.items():
        assert n <= _MAX_JOBS[(variant, phase)], (variant, phase, n)
