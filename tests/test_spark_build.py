"""Spark integration tests for the build/merge/probe core (SURVEY.md §5.2).

Covers: zero-FN golden (query ⊂ corpus ⇒ all might_contain, the analog of
inputs/query.txt being an exact prefix of inputs/sars-cov-2.fasta), FPR
bound on guaranteed-absent keys, estimate-vs-exact against Spark
aggregates, and shingle SQL-reproducibility against DuckDB. Invariance
of the merged sketches to partitioning and merge plan is
test_merge_invariance.py.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from bloomfilter_multithread_spark.functions.shingles import (
    duckdb_shingles_cte,
    explode_shingles,
)
from bloomfilter_multithread_spark.operators.build import (
    SketchSpec,
    build_partials,
    build_sketches,
    tree_merge,
    with_cms_estimate,
    with_might_contain,
)
from bloomfilter_multithread_spark.sources.transcripts import synth_query_set


def _random_hashes(n: int) -> list[int]:
    """``n`` distinct full-width int64 keys (float64 cannot hold them)."""
    keys = np.random.default_rng(5).integers(-(2 ** 63), 2 ** 63 - 1, n, dtype=np.int64)
    return [int(k) for k in np.unique(keys)]


@pytest.fixture(scope="module")
def built(spark, corpus):
    specs = [
        SketchSpec("bloom_text", "bloom", "text", {"m_bits": 1 << 22, "k": 5}),
        SketchSpec("hll_conv", "hll", "conv_id", {"p": 14}),
        SketchSpec("cms_role", "cms", "role", {"width": 1 << 12, "depth": 5}),
        SketchSpec("kll_len", "kll", "length(text)", {"k": 200}),
        SketchSpec("td_len", "tdigest", "length(text)", {"delta": 200.0}),
    ]
    return build_sketches(corpus, specs)


class TestBuildMergeProbe:
    def test_zero_false_negatives_golden(self, spark, corpus, built):
        """Probe table 'present' part is copied verbatim from the corpus —
        every row must hit (reference all-ones expectation, main.cpp:276-281)."""
        q = synth_query_set(spark, corpus)
        probed = with_might_contain(q, "text", built["bloom_text"])
        res = (
            probed.groupBy("expected_present")
            .agg(F.count("*").alias("n"), F.sum(F.col("might_contain").cast("long")).alias("hits"))
            .collect()
        )
        by = {r["expected_present"]: r for r in res}
        assert by[True]["hits"] == by[True]["n"]  # zero FN
        n_corpus = corpus.count()
        fpr_bound = built["bloom_text"].fpr_bound(n_corpus)
        observed = by[False]["hits"] / by[False]["n"]
        slack = 5 * np.sqrt(max(fpr_bound, 1e-12) / by[False]["n"])
        assert observed <= fpr_bound + slack

    def test_hll_vs_exact_distinct(self, spark, corpus, built):
        exact = corpus.select("conv_id").distinct().count()
        est = built["hll_conv"].estimate()
        assert abs(est - exact) / exact < 4 * built["hll_conv"].rel_error_bound()

    def test_kmv_vs_exact_distinct(self, spark, corpus):
        """KMV through the full Spark build path (JVM xxhash64 → mapInArrow
        partials → min-wise merge) estimates distinct texts within bound;
        saturation is asserted so the test exercises the order-statistics
        estimator, not the trivial exact mode."""
        k = build_sketches(corpus, [SketchSpec("k", "kmv", "text", {"k": 256})])["k"]
        exact = corpus.select("text").distinct().count()
        assert k.saturated
        assert abs(k.estimate() - exact) / exact < 4 * k.rel_error_bound()

    def test_cms_vs_exact_counts(self, spark, corpus, built):
        exact = {r["role"]: r["n"] for r in corpus.groupBy("role").count().withColumnRenamed("count", "n").collect()}
        est_df = with_cms_estimate(
            corpus.select("role").distinct(), "role", built["cms_role"], "est"
        ).collect()
        for r in est_df:
            assert r["est"] >= exact[r["role"]]
            assert r["est"] - exact[r["role"]] <= built["cms_role"].error_bound()

    def test_quantiles_vs_exact(self, spark, corpus, built):
        exact = corpus.selectExpr(
            "percentile(length(text), array(0.1, 0.5, 0.9)) as q"
        ).first()["q"]
        n = corpus.count()
        lens = np.sort(np.array([r[0] for r in corpus.selectExpr("length(text)").collect()]))
        for sk_name, eps in (("kll_len", built["kll_len"].rank_error_bound()), ("td_len", 0.02)):
            for q, ex in zip((0.1, 0.5, 0.9), exact):
                est = built[sk_name].quantile(q)
                rank = np.searchsorted(lens, est, side="right") / n
                assert abs(rank - q) <= 2 * eps, (sk_name, q, est, ex)

    def test_partials_carry_lineage(self, spark, corpus):
        parts = build_partials(
            corpus, [SketchSpec("b", "bloom", "text", {"m_bits": 1 << 16, "k": 3})]
        ).collect()
        assert all(r["n_rows"] >= 0 and r["partition_id"] >= 0 for r in parts)
        assert sum(r["n_rows"] for r in parts) == corpus.count()
        merged = tree_merge(
            build_partials(corpus, [SketchSpec("b", "bloom", "text", {"m_bits": 1 << 16, "k": 3})])
        )
        assert "b" in merged

    def test_null_keys_skipped(self, spark, corpus):
        # 'tool' is null on most rows — build must not crash nor count nulls
        specs = [SketchSpec("h", "hll", "tool", {"p": 12})]
        sk = build_sketches(corpus, specs)
        exact = corpus.where("tool is not null").select("tool").distinct().count()
        assert abs(sk["h"].estimate() - exact) / max(exact, 1) < 0.1
        # exact count: one key plus 20 nulls is ONE distinct key, and a
        # null key probes absent (xxhash64(NULL) is 42, not null)
        one = spark.createDataFrame([("a",)] + [(None,)] * 20, "k string").coalesce(1)
        sk = build_sketches(one, [
            SketchSpec("h", "hll", "k", {"p": 12}),
            SketchSpec("b", "bloom", "k", {"m_bits": 1 << 12, "k": 3}),
            SketchSpec("c", "cms", "k", {"width": 1 << 8, "depth": 3}),
        ])
        assert round(sk["h"].estimate()) == 1
        probed = with_cms_estimate(with_might_contain(one, "k", sk["b"]), "k", sk["c"])
        got = {(r["k"], r["might_contain"], r["cms_estimate"]) for r in probed.collect()}
        assert got == {("a", True, 1), (None, False, 0)}

    def test_pre_hashed_build_keeps_keys_beside_a_null(self, spark):
        """A null in a pre_hashed batch must not send the other 64-bit
        keys through float64 (which drops their low bits): every exact
        key lands in the Bloom."""
        keys = _random_hashes(50)
        df = spark.createDataFrame([(k,) for k in keys] + [(None,)], "h long").coalesce(1)
        bloom = build_sketches(df, [SketchSpec("b", "bloom", "h", {"m_bits": 1 << 16, "k": 3},
                                               pre_hashed=True)])["b"]
        assert bloom.probe_hashes(np.array(keys, dtype=np.int64)).all()

    def test_pre_hashed_probe_reads_keys_beside_a_null(self, spark):
        """The probe reads a pre_hashed key column with a null as exact
        int64: all 50 present keys hit, the null key probes False."""
        keys = _random_hashes(50)
        spec = SketchSpec("b", "bloom", "h", {"m_bits": 1 << 16, "k": 3}, pre_hashed=True)
        bloom = spec.make()
        bloom.update_hashes(np.array(keys, dtype=np.int64))
        q = spark.createDataFrame([(k,) for k in keys] + [(None,)], "h long").coalesce(1)
        hits = {r["h"]: r["might_contain"]
                for r in with_might_contain(q, "h", bloom, pre_hashed=True).collect()}
        assert [hits[k] for k in keys] == [True] * len(keys)
        assert hits[None] is False

    def test_dedup_projection_shares_identical_exprs(self, spark):
        """Specs over the same input (SQL string or Column object) + same
        hash/value treatment ride ONE projected column (the headline
        build ships length(text) once for kll AND t-digest — 8 of 40
        bytes/row across the exchange + Arrow boundary saved); differing
        pre_hashed/value treatment or distinct Column objects never share."""
        from bloomfilter_multithread_spark.operators.build import _dedup_projection

        text = F.col("text")
        specs = [
            SketchSpec("b", "bloom", "text", {"m_bits": 1 << 16, "k": 3}),
            SketchSpec("h", "hll", "conv_id", {"p": 12}),
            SketchSpec("k", "kll", "length(text)", {"k": 200}),
            SketchSpec("t", "tdigest", "length(text)", {"delta": 200.0}),
            # same string as 'b' but pre-hashed -> different expression
            SketchSpec("b2", "bloom", "text", {"m_bits": 1 << 16, "k": 3},
                       pre_hashed=True),
            # a distinct Column object -> its own column
            SketchSpec("b3", "bloom", text, {"m_bits": 1 << 16, "k": 3}),
            # the same Column object: shared when hashed too, not as values
            SketchSpec("h3", "hll", text, {"p": 12}),
            SketchSpec("k3", "kll", text, {"k": 200}),
        ]
        cols, index = _dedup_projection(specs)
        assert len(cols) == 6  # b, h, kll/td shared, b2, b3/h3 shared, k3
        assert index["k"] == index["t"] and index["b3"] == index["h3"]
        assert index["b"] != index["b2"] != index["b3"] != index["k3"]
        assert sorted(set(index.values())) == list(range(6))

    def test_dedup_projection_reused_column_keeps_each_treatment(self, spark):
        """One Column object reused by a kll spec and an hll spec: the hll
        hashes its keys instead of sharing the kll's cast to double."""
        v = F.col("v")
        df = spark.range(100).select(F.col("id").alias("v"))
        sk = build_sketches(df, [SketchSpec("k", "kll", v, {"k": 200}),
                                 SketchSpec("h", "hll", v, {"p": 12})])
        assert abs(sk["h"].estimate() - 100) <= 100 * 3 * sk["h"].rel_error_bound()
        assert 45 <= sk["k"].quantile(0.5) <= 55

    def test_dedup_projection_build_identity(self, spark, corpus):
        """Sketches built through a shared projected column are identical
        to independent single-spec builds — including when route_for's
        column is the shared one (the routed exchange keys off the
        deduped projection)."""
        kll_spec = SketchSpec("k", "kll", "length(text)", {"k": 200})
        td_spec = SketchSpec("t", "tdigest", "length(text)", {"delta": 200.0})
        b_spec = SketchSpec(
            "b", "bloom", "text",
            {"m_bits": 1 << 18, "k": 4, "block_bits": 1 << 12})
        h_spec = SketchSpec("h", "hll", "text", {"p": 12})  # shares b's column
        # unrouted: identical partitioning as the solo builds, so even the
        # partition-SENSITIVE quantile sketches must come out identical
        shared = build_sketches(corpus, [b_spec, h_spec, kll_spec, td_spec])
        solo = {
            s.name: build_sketches(corpus, [s])[s.name]
            for s in (b_spec, h_spec, kll_spec, td_spec)
        }
        assert np.array_equal(shared["b"].bits, solo["b"].bits)
        assert np.array_equal(shared["h"].registers, solo["h"].registers)
        for q in (0.1, 0.5, 0.9):
            assert shared["k"].quantile(q) == solo["k"].quantile(q)
            assert shared["t"].quantile(q) == pytest.approx(solo["t"].quantile(q))
        # routed: the exchange keys off the SHARED column; only the
        # partition-INVARIANT sketches are compared (kll/tdigest are
        # merge-order-sensitive by design, see partition_count_invariance)
        routed = build_sketches(corpus, [b_spec, h_spec, kll_spec, td_spec],
                                route_for="b")
        assert np.array_equal(routed["b"].bits, solo["b"].bits)
        assert np.array_equal(routed["h"].registers, solo["h"].registers)


class TestShingleSQLParity:
    def test_spark_vs_duckdb_shingles(self, spark, sf_dir):
        """explode_shingles must be row-for-row identical to the documented
        DuckDB CTE — the keystone for every shingle-based oracle query."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id < 200")
        got = (
            explode_shingles(docs, "text", k=5)
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_shingles"), F.countDistinct("shingle").alias("n_distinct"))
            .orderBy("doc_id")
            .collect()
        )
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
        cte = duckdb_shingles_cte("(SELECT * FROM documents WHERE doc_id < 200)", "doc_id", "text", 5)
        want = con.sql(
            f"WITH sh AS ({cte}) SELECT doc_id, COUNT(*) n, COUNT(DISTINCT shingle) d"
            " FROM sh GROUP BY doc_id ORDER BY doc_id"
        ).fetchall()
        assert [(r["doc_id"], r["n_shingles"], r["n_distinct"]) for r in got] == [
            (a, b, c) for a, b, c in want
        ]


def test_routed_blocked_build_equals_unrouted(spark, corpus):
    """Routing by hash-block must not change the merged sketch (merge is
    associative+commutative) — the reference-routing re-expression."""
    from bloomfilter_multithread_spark.operators.build import SketchSpec, build_sketches

    spec = [SketchSpec("b", "bloom", "text",
                       {"m_bits": 1 << 20, "k": 5, "block_bits": 1 << 16})]
    plain = build_sketches(corpus, spec)
    routed = build_sketches(corpus, spec, route_for="b")
    assert plain["b"].to_bytes() == routed["b"].to_bytes()


def test_routed_blocked_cbf_build_equals_unrouted(spark, corpus):
    """route_for generalizes to the blocked CBF (block_slots): the routed
    exchange must not change the merged counters (counter-add merge is
    associative+commutative), and the retraction subtract works on the
    routed-build result."""
    from bloomfilter_multithread_spark.operators.build import SketchSpec, build_sketches

    spec = [SketchSpec("c", "cbf", "text",
                       {"m_slots": 1 << 20, "k": 5, "block_slots": 1 << 16})]
    plain = build_sketches(corpus, spec)
    routed = build_sketches(corpus, spec, route_for="c")
    assert plain["c"].to_bytes() == routed["c"].to_bytes()
    # retraction on the routed result: subtract the whole corpus -> empty
    empty = routed["c"].subtract(plain["c"])
    assert empty.net_insert_count() == 0


def test_runtime_filter_semijoin_injects_catalyst_bloom(spark, sf_dir):
    """The contract query must actually carry Catalyst's injected
    runtime bloom filter (InjectRuntimeFilter): the lineitem scan side
    gets might_contain(bloom_filter_agg(xxhash64(o_orderkey))) — the
    reference's build→probe pipeline, planned by the optimizer. The
    plan is forced inside the query while the thresholds are lowered,
    so it must survive the conf restore."""
    import __spark_entry__ as entry

    df = entry.queries()["runtime_filter_semijoin"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in plan
    assert "bloom_filter_agg" in plan
    # and the confs were restored
    assert spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    ) != "0"


def test_bucketed_join_plans_zero_exchanges(spark, sf_dir):
    """bucketBy(8, user_id) on both sides must remove every Exchange
    from the join AND the downstream per-user aggregate (the bucketing
    is reused twice). The query itself raises if an Exchange sneaks in;
    this re-runs it end-to-end and checks result sanity."""
    import __spark_entry__ as entry

    rows = entry.queries()["bucketed_join"](spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r["n_pairs"] >= 1 for r in rows)
    # scratch tables cleaned up
    assert not spark.catalog.tableExists("_bck_err")
    assert not spark.catalog.tableExists("_bck_clk")


def test_cbo_column_stats_estimate_aggregate_cardinality(spark, sf_dir):
    """Catalog-statistics surface: ANALYZE TABLE ... FOR COLUMNS feeds
    the cost-based optimizer a distinct-count, so the estimated output
    cardinality of GROUP BY l_suppkey is the NDV (within the HLL error
    of the stats collection), not a guess proportional to input rows.
    At 100 TB these estimates are what make join reordering and
    broadcast decisions right before the first byte is read."""
    import shutil

    saved = spark.conf.get("spark.sql.cbo.enabled")
    spark.sql("DROP TABLE IF EXISTS _cbo_li")
    shutil.rmtree("/root/repo/spark-warehouse/_cbo_li", ignore_errors=True)
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").write.saveAsTable("_cbo_li")
        spark.sql("ANALYZE TABLE _cbo_li COMPUTE STATISTICS FOR COLUMNS l_suppkey")
        agg = spark.sql("SELECT l_suppkey, COUNT(*) AS n FROM _cbo_li GROUP BY l_suppkey")
        est = agg._jdf.queryExecution().optimizedPlan().stats().rowCount()
        assert est.isDefined(), "CBO produced no rowCount estimate"
        est_rows = int(str(est.get()))
        true_rows = agg.count()
        assert true_rows / 2 <= est_rows <= true_rows * 2, (est_rows, true_rows)
    finally:
        spark.conf.set("spark.sql.cbo.enabled", saved)
        spark.sql("DROP TABLE IF EXISTS _cbo_li")
        shutil.rmtree("/root/repo/spark-warehouse/_cbo_li", ignore_errors=True)
