"""open_pulsar_spark/materialize.py — the exception paths: a failed
body, thunk or micro-batch must leave no cached plan behind, and the
generation pin must keep one live generation per name."""

from __future__ import annotations

import sys
import threading
import time

import pytest

from open_pulsar_spark import materialize
from open_pulsar_spark.materialize import (
    cache_is_empty,
    pin,
    release,
    run_concurrently,
    scoped_cache,
)


class Boom(RuntimeError):
    pass


@pytest.fixture
def clean(spark):
    """Start and end every test with no pins and no cached plans, so a
    leak is this test's own."""
    materialize.release_pins()
    spark.catalog.clearCache()
    yield spark
    materialize.release_pins()
    spark.catalog.clearCache()


def _cached(df) -> bool:
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


def test_scoped_cache_unpersists_when_body_raises(clean):
    spark = clean
    with pytest.raises(Boom):
        with scoped_cache() as cache:
            a = cache(spark.range(10).selectExpr("id * 2 AS x"))
            b = cache(spark.range(5).selectExpr("id + 1 AS y"))
            assert a.count() == 10 and b.count() == 5
            assert not cache_is_empty(spark)
            raise Boom
    assert not _cached(a) and not _cached(b)
    assert cache_is_empty(spark)


def test_scoped_cache_drop_releases_one_frame_early(clean):
    spark = clean
    with scoped_cache() as cache:
        a = cache(spark.range(10).selectExpr("id * 3 AS a"))
        b = cache(spark.range(10).selectExpr("id * 5 AS b"))
        cache.drop(a)
        assert not _cached(a) and _cached(b)
    assert cache_is_empty(spark)


def test_scoped_cache_shared_by_more_threads_than_cores(clean):
    """Concurrent thunks cache into one scope (user_rfm_segments' shape):
    a lost update to its frame list would leave a cached plan behind."""
    spark = clean
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with scoped_cache() as cache:
            frames = run_concurrently(
                [lambda i=i: cache(spark.range(i + 1)) for i in range(16)]
            )
            assert all(_cached(f) for f in frames)
    finally:
        sys.setswitchinterval(old)
    assert cache_is_empty(spark)


def test_run_concurrently_waits_then_reraises_and_releases(clean):
    spark = clean
    finished = []
    lock = threading.Lock()

    def slow(i):
        def thunk():
            with scoped_cache() as cache:
                df = cache(spark.range(100).selectExpr(f"id + {i} AS v"))
                df.count()
            time.sleep(0.5)
            with lock:
                finished.append(i)
            return i

        return thunk

    def failing():
        raise Boom("one pass failed")

    with pytest.raises(Boom, match="one pass failed"):
        with scoped_cache() as outer:
            run_concurrently(
                [slow(1), failing, slow(2), lambda: outer(spark.range(3)).count()]
            )
    # raised only after the slow thunks had finished
    assert sorted(finished) == [1, 2]
    assert cache_is_empty(spark)


def test_run_concurrently_returns_results_in_thunk_order(clean):
    assert run_concurrently([lambda i=i: i * i for i in range(5)]) == [0, 1, 4, 9, 16]
    assert run_concurrently([]) == []


def test_neardup_batch_leaves_no_cache_when_commit_raises(clean, tmp_path, monkeypatch):
    from open_pulsar_spark.streaming import neardup_stream

    spark = clean

    def commit_fails(*args, **kwargs):
        raise Boom("sink unavailable")

    monkeypatch.setattr(neardup_stream, "commit_survivors", commit_fails)
    docs = spark.createDataFrame(
        [(1, " ".join(f"tok{i}" for i in range(30))), (2, "a b c d e")],
        "doc_id LONG, text STRING",
    )
    with pytest.raises(Boom):
        neardup_stream.filter_batch_against_index(
            spark, docs, str(tmp_path / "index"), epoch_id=0
        )
    assert cache_is_empty(spark)


def test_generation_pin_replaces_reuses_and_repersists(clean):
    spark = clean
    # distinct plans throughout: Spark's cache matches frames by plan
    first = pin("gen_test", spark.range(10).selectExpr("id * 3 AS a"))
    second = pin("gen_test", spark.range(10).selectExpr("id * 5 AS b"))
    # a new generation under the same name releases the previous one
    assert not _cached(first) and _cached(second)

    builds = []

    def build(tag):
        def thunk():
            builds.append(tag)
            return spark.range(10 + len(builds)).selectExpr(f"id AS {tag}")

        return thunk

    k1 = pin("gen_test", build("k"), key="sf_a")
    assert not _cached(second) and _cached(k1)
    # same key: the live generation is reused and the thunk never runs
    assert pin("gen_test", build("k_again"), key="sf_a") is k1
    assert builds == ["k"]

    # an external clearCache() drops the storage level; a hit re-persists
    spark.catalog.clearCache()
    assert not _cached(k1)
    hit = pin("gen_test", build("k_cleared"), key="sf_a")
    assert _cached(hit) and builds == ["k"]

    # a stale key rebuilds
    k2 = pin("gen_test", build("k2"), key="sf_b")
    assert builds == ["k", "k2"] and _cached(k2) and not _cached(hit)

    release("gen_test")
    assert not _cached(k2)
    assert cache_is_empty(spark)
