"""Error-contract tests (reference §5: malformed inputs fail fast with clear
errors — accessor.py:456-457, 565-568, core.py dtype gates)."""

import pytest

from xarray_histogram_spark import (
    IntCategory,
    Integer,
    Regular,
    StrCategory,
    Variable,
    histogram,
    histogramdd,
)


def test_bins_ranges_arity(lineitem):
    with pytest.raises(ValueError, match="bin specs"):
        histogramdd(lineitem, ["l_quantity", "l_discount"], [Regular(5, 0, 1)])
    with pytest.raises(ValueError, match="ranges"):
        histogramdd(
            lineitem, ["l_quantity", "l_discount"], [5, 5],
            ranges=[(0.0, 1.0), (0.0, 1.0), (0.0, 1.0)],
        )


def test_no_variables(lineitem):
    with pytest.raises(ValueError, match="at least one"):
        histogramdd(lineitem, [], 5)


def test_bad_storage(lineitem):
    with pytest.raises(ValueError, match="storage"):
        histogram(lineitem, "l_quantity", 5, storage="int32")


def test_unknown_column(lineitem):
    with pytest.raises(ValueError, match="not in DataFrame"):
        histogram(lineitem, "nope", Regular(5, 0.0, 1.0))


def test_apply_func_non_monotonic(lineitem):
    h = histogram(lineitem, "l_quantity", Regular(5, 1.0, 51.0))
    with pytest.raises(ValueError, match="increasing"):
        h.apply_func(lambda e: -e)
    with pytest.raises(ValueError, match="factor"):
        h.scale(-2.0)


def test_apply_func_on_category(lineitem):
    h = histogram(lineitem, "l_returnflag", StrCategory(("A", "N", "R")))
    with pytest.raises(ValueError, match="interval axis"):
        h.apply_func(lambda e: e)
    with pytest.raises(ValueError, match="no edges"):
        h.edges()


def test_interval_confidence_range(lineitem):
    h = histogram(lineitem, "l_quantity", Regular(5, 1.0, 51.0))
    with pytest.raises(ValueError, match="confidence"):
        h.interval(1.5)


def test_moment_order(lineitem):
    h = histogram(lineitem, "l_quantity", Regular(5, 1.0, 51.0))
    with pytest.raises(ValueError, match="order"):
        h.moment(0)


@pytest.mark.parametrize(
    "kind,kw,match",
    [
        ("ppf", {"q": []}, "at least one"),
        ("ppf", {"q": [0.5, True]}, "q must be"),
        ("moment", {"order": 2.5}, "integer"),
        ("moment", {"order": True}, "integer"),
        ("interval", {"confidence": float("nan")}, "confidence"),
        ("cdf", {"x": "1.5"}, "number"),
    ],
)
def test_bad_stat_inputs_raise_early(lineitem, kind, kw, match):
    """Statistic inputs are checked once, before any plan is built, by the
    same validator in the Spark planner and in the DuckDB oracle."""
    from xarray_histogram_spark.oracle import stats_oracle_sql

    spec = Regular(5, 1.0, 51.0)
    h = histogram(lineitem, "l_quantity", spec)
    with pytest.raises(ValueError, match=match):
        getattr(h, kind)(**kw)
    with pytest.raises(ValueError, match=match):
        stats_oracle_sql(
            kind, "lineitem", ["l_quantity"], [spec], "l_quantity", **kw
        )


def test_stat_inputs_accept_numpy_scalars(lineitem):
    import numpy as np

    h = histogram(lineitem, "l_quantity", Regular(5, 1.0, 51.0))
    assert h.ppf(np.float32(0.5)).collect() == h.ppf(0.5).collect()
    assert h.moment(np.int64(2)).collect() == h.moment(2).collect()
    assert h.interval(np.float64(0.5)).collect() == h.interval(0.5).collect()


def test_unknown_variable(lineitem):
    h = histogram(lineitem, "l_quantity", Regular(5, 1.0, 51.0))
    with pytest.raises(ValueError, match="unknown variable"):
        h.mean("l_discount")
    with pytest.raises(ValueError, match="unknown variable"):
        h.normalize(["l_discount"])


def test_spec_validation_errors():
    with pytest.raises(ValueError):
        Variable((1.0,))
    with pytest.raises(ValueError):
        Integer(5, 5)
    with pytest.raises(ValueError):
        IntCategory(())
    with pytest.raises(ValueError):
        IntCategory((1, 1))

def test_infeasible_extent_raises(spark, lineitem):
    from xarray_histogram_spark import Regular, histogramdd

    big = Regular(2**12, 0.0, 1.0)
    with pytest.raises(ValueError, match="infeasible"):
        histogramdd(
            lineitem.selectExpr(
                "l_discount AS a", "l_tax AS b", "l_quantity AS c"
            ),
            ["a", "b", "c"], [big, big, big],
        )


def test_top_terms_validation(spark):
    from xarray_histogram_spark.operators.text import top_terms

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="k >= 1"):
        top_terms(docs, "text", "doc_id", k=0)
    with pytest.raises(ValueError, match="min_df >= 1"):
        top_terms(docs, "text", "doc_id", min_df=0)


def test_curate_split_validation(spark):
    from xarray_histogram_spark.operators.curate import curate_documents

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match=">= 2 splits"):
        curate_documents(docs, "text", "doc_id", splits=[("train", 1.0)])
    with pytest.raises(ValueError, match="sum to"):
        curate_documents(
            docs, "text", "doc_id", splits=[("a", 0.5), ("b", 0.2)]
        )
    # splits=() disables split assignment entirely
    cols = curate_documents(docs, "text", "doc_id", splits=()).columns
    assert "split" not in cols


def test_growth_on_fractional_column_raises(lineitem):
    """Growth on a double column would silently truncate values into int
    categories — must fail fast with direction instead."""
    from xarray_histogram_spark import Growth, histogram

    with pytest.raises(TypeError, match="string or integral"):
        histogram(lineitem, "l_extendedprice", Growth())


def test_max_categories_validation():
    """max_categories must be >= 1 everywhere it is accepted; an explicit
    0 used to silently fall back to the 10,000 default (ADVICE r05)."""
    from xarray_histogram_spark import Growth, IntCategory, StrCategory

    for bad in (0, -5):
        with pytest.raises(ValueError, match=">= 1"):
            Growth(max_categories=bad)
        with pytest.raises(ValueError, match=">= 1"):
            IntCategory((), growth=True, max_categories=bad)
        with pytest.raises(ValueError, match=">= 1"):
            StrCategory((), growth=True, max_categories=bad)
    Growth(max_categories=1)
    IntCategory((), growth=True, max_categories=1)
    StrCategory((), growth=True, max_categories=1)


def test_similarity_guards(spark, sf_dir):
    """Missing/duplicate query ids raise; mismatched embedding dimensions
    raise at execution instead of silently returning empty results."""
    from pyspark.sql import functions as F

    from xarray_histogram_spark.operators.similarity import (
        ann_topk, cosine_topk, ivf_topk, with_lsh_bucket,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="not found"):
        cosine_topk(emb, query_id=10**9)
    with pytest.raises(ValueError, match="not found"):
        ann_topk(emb, query_id=10**9)
    with pytest.raises(ValueError, match="not found"):
        ivf_topk(emb, query_id=10**9)
    dup = emb.unionByName(emb.limit(1))
    qid = emb.select("vec_id").first()[0]
    with pytest.raises(ValueError, match="not unique"):
        cosine_topk(dup, query_id=qid)
    # 3-dim embeddings vs 64-dim planes: loud failure, not bucket-0 soup
    from pyspark.errors import SparkRuntimeException

    bad = emb.withColumn("embedding", F.slice("embedding", 1, 3))
    with pytest.raises(SparkRuntimeException, match="dimension mismatch"):
        with_lsh_bucket(bad).select("bucket").collect()


def test_write_result_append_rejected(spark, lineitem, tmp_path):
    from xarray_histogram_spark import Regular, histogram
    from xarray_histogram_spark.sources.io import write_result

    h = histogram(lineitem, "l_quantity", Regular(5, 1.0, 51.0))
    with pytest.raises(ValueError, match="append"):
        write_result(h, str(tmp_path / "h"), mode="append")


def test_cdf_nan_raises(lineitem):
    from xarray_histogram_spark import Regular, histogram

    h = histogram(lineitem, "l_quantity", Regular(5, 1.0, 51.0))
    with pytest.raises(ValueError, match="NaN"):
        h.cdf(float("nan"))


def test_empty_variable_lists_raise(lineitem):
    from xarray_histogram_spark import Regular, histogram

    h = histogram(lineitem, "l_quantity", Regular(5, 1.0, 51.0), flow=True)
    with pytest.raises(ValueError, match="no variables"):
        h.remove_flow([])
    with pytest.raises(ValueError, match="no variables"):
        h.normalize([])


def test_new_curation_ops_collision_guards(spark):
    """Output-name collisions fail fast instead of producing ambiguous
    duplicate columns (the asof_join collision-check convention)."""
    import pytest as _pt

    from xarray_histogram_spark.operators import similarity as sim
    from xarray_histogram_spark.operators import text as tx

    df = spark.createDataFrame([("x", "t")], "n_pii STRING, text STRING")
    with _pt.raises(ValueError, match="collides"):
        tx.pii_scrub(df, "text", "n_pii")
    df2 = spark.createDataFrame([("x", "t")], "domain STRING, text STRING")
    with _pt.raises(ValueError, match="collides"):
        tx.extract_urls(df2, "text", "domain")
    df3 = spark.createDataFrame(
        [(1, [1.0])], "rk LONG, embedding ARRAY<FLOAT>"
    )
    with _pt.raises(ValueError, match="collides"):
        sim.ann_topk_batch(df3, [1], id_col="rk")


def test_lsh_bucket_name_collision_guard(spark):
    """An existing 'bucket' column would be silently overwritten by the
    LSH hash (review finding) — every ANN entry point must fail fast."""
    import pytest as _pt

    from xarray_histogram_spark.operators import similarity as sim

    df = spark.createDataFrame(
        [(1, [1.0], 9)], "vec_id LONG, embedding ARRAY<FLOAT>, bucket INT"
    )
    with _pt.raises(ValueError, match="bucket"):
        sim.with_lsh_bucket(df)
    with _pt.raises(ValueError, match="bucket"):
        sim.ann_topk_batch(df, [1])


def test_filter_top_fraction_sql_guard():
    """The SQL builder applies the same fraction guard as the Python
    twin instead of silently emitting an empty-result query
    (review-found mirror divergence)."""
    from xarray_histogram_spark.operators.sampling import (
        filter_top_fraction_sql,
    )

    for num, den in ((0, 4), (5, 4), (1, 0)):
        with pytest.raises(ValueError, match="keep_num"):
            filter_top_fraction_sql("t", ["id"], "score", num, den)
