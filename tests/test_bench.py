import time

import pytest
from pyspark.sql import functions as F

import bench


def test_consume_evaluates_a_column_count_prunes(spark):
    df = spark.range(3).select("id", F.raise_error(F.lit("boom")).alias("c"))
    assert df.count() == 3
    with pytest.raises(Exception, match="boom"):
        bench.consume(df)


def test_timed_unpersists_before_the_clock_starts(spark, monkeypatch):
    cache = spark._jsparkSession.sharedState().cacheManager()
    df = spark.range(100).persist()
    df.count()
    assert not cache.isEmpty()
    cache_empty_at_clock = []

    class Clock:
        @staticmethod
        def perf_counter():
            cache_empty_at_clock.append(cache.isEmpty())
            return time.perf_counter()

    monkeypatch.setattr(bench, "time", Clock)
    sec, rows = bench.timed(spark, df.count)
    assert rows == 100 and sec >= 0
    assert cache_empty_at_clock == [True, True]
