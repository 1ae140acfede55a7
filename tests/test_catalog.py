"""runtime.catalog — memoized static-table handles — the
operators.util sort helpers introduced for the range-sampling
double-evaluation fix, and fan_out's job-free split decision."""

from __future__ import annotations

from pyspark.sql import functions as F

from knetminer_etl_spark.operators.util import (
    fan_out,
    pinned_sort,
    presentation_sort,
)
from knetminer_etl_spark.runtime import catalog as CAT


class TestCatalog:
    def test_same_handle_per_session_and_path(self, spark, tmp_path):
        p = str(tmp_path / "t")
        spark.range(0, 10).write.parquet(p)
        a = CAT.read_parquet(spark, p)
        b = CAT.read_parquet(spark, p)
        assert a is b  # one resolution, shared logical scan
        assert a.count() == 10

    def test_distinct_paths_distinct_handles(self, spark, tmp_path):
        p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
        spark.range(0, 3).write.parquet(p1)
        spark.range(0, 5).write.parquet(p2)
        assert CAT.read_parquet(spark, p1) is not CAT.read_parquet(spark, p2)
        assert CAT.read_parquet(spark, p2).count() == 5

    def test_invalidate_resolves_fresh_listing(self, spark, tmp_path):
        """A memoized handle freezes the file listing — after an
        in-place rewrite, invalidate() is what picks up new files."""
        p = str(tmp_path / "t")
        spark.range(0, 4).write.parquet(p)
        stale = CAT.read_parquet(spark, p)
        assert stale.count() == 4
        spark.range(0, 9).write.mode("overwrite").parquet(p)
        CAT.invalidate(p)
        assert CAT.read_parquet(spark, p).count() == 9

    def test_invalidate_all(self, spark, tmp_path):
        p = str(tmp_path / "t")
        spark.range(0, 2).write.parquet(p)
        a = CAT.read_parquet(spark, p)
        CAT.invalidate()
        assert CAT.read_parquet(spark, p) is not a


class TestSortHelpers:
    def _noisy(self, spark):
        # deliberately unordered input with a computed column
        return spark.createDataFrame(
            [(3, "c"), (1, "a"), (2, "b"), (5, "e"), (4, "d")], "k int, v string"
        ).withColumn("kk", F.col("k") * 10)

    def test_pinned_sort_matches_order_by(self, spark):
        df = self._noisy(spark)
        want = [tuple(r) for r in df.orderBy("k").collect()]
        got = [tuple(r) for r in pinned_sort(df, "k").collect()]
        assert got == want

    def test_presentation_sort_matches_order_by(self, spark):
        df = self._noisy(spark)
        want = [tuple(r) for r in df.orderBy(F.desc("k")).collect()]
        got = [tuple(r) for r in presentation_sort(df, F.desc("k")).collect()]
        assert got == want
        assert presentation_sort(df, "k").rdd.getNumPartitions() == 1


class TestFanOut:
    """fan_out decides from the frame's own plan and runs no Spark job,
    counted through the application status store (UI off)."""

    @staticmethod
    def _jobs(spark):
        sc = spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        return sc.statusStore().jobsList(None).size()

    def _one_file(self, spark, tmp_path):
        p = str(tmp_path / "one")
        spark.range(0, 100).coalesce(1).write.parquet(p)
        return spark.read.parquet(p)

    def test_narrow_scan_splits_without_a_job(self, spark, tmp_path):
        df = self._one_file(spark, tmp_path).filter("id > 3")
        before = self._jobs(spark)
        out = fan_out(df)
        assert self._jobs(spark) == before
        want = spark.sparkContext.defaultParallelism
        assert out.rdd.getNumPartitions() == want

    def test_post_exchange_frame_untouched_without_a_job(
        self, spark, tmp_path
    ):
        df = (
            self._one_file(spark, tmp_path)
            .groupBy((F.col("id") % 3).alias("k"))
            .count()
        )
        before = self._jobs(spark)
        assert fan_out(df) is df
        assert self._jobs(spark) == before
        # the counter sees jobs at all: running the frame adds some
        assert df.count() == 3
        assert self._jobs(spark) > before


class TestBloomAfterRewrite:
    def test_bloom_filter_sees_rewritten_dimension(self, spark, tmp_path):
        """``orders_bloom_pruned`` builds its customer bit table on every
        call: after ``customer.parquet`` is rewritten and the catalog
        invalidated, new BUILDING customers must pass the filter — a
        bloom filter never rejects an inserted key, so the bloom count
        can never fall below the exact match count."""
        from knetminer_etl_spark.queries.analytics2 import orders_bloom_pruned

        sf = str(tmp_path / "sf")
        segs = ["BUILDING", "AUTOMOBILE", "MACHINERY"]
        prios = ["1-URGENT", "2-HIGH", "3-MEDIUM"]

        def write(n_cust):
            spark.createDataFrame(
                [(c, segs[c % 3]) for c in range(1, n_cust + 1)],
                "c_custkey long, c_mktsegment string",
            ).write.mode("overwrite").parquet(f"{sf}/customer.parquet")
            spark.createDataFrame(
                [
                    (10 * c + p, c, prios[(c + p) % 3])
                    for c in range(1, n_cust + 1)
                    for p in range(3)
                ],
                "o_orderkey long, o_custkey long, o_orderpriority string",
            ).write.mode("overwrite").parquet(f"{sf}/orders.parquet")
            CAT.invalidate(f"{sf}/customer.parquet")
            CAT.invalidate(f"{sf}/orders.parquet")

        def run():
            rows = orders_bloom_pruned(spark, sf).collect()
            for r in rows:
                assert r["n_bloom_pass"] >= r["n_true_match"], r
            return sum(r["n_true_match"] for r in rows)

        write(30)
        assert run() == 10 * 3
        # 30 more customers, 10 of them BUILDING, 3 orders each
        write(60)
        assert run() == 20 * 3
