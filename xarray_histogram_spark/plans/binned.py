"""Binned statistics: per-bin aggregates of a SECOND column — the
``scipy.stats.binned_statistic`` analog the histogram family is usually
asked for next (profile plots, calibration curves, per-bucket QC).

Not in the reference (its accessor derives statistics OF the histogram
itself — ``plans/stats.py`` covers that); this is the complementary
operator: bucketize x with any ``BinSpec``, then aggregate ``value`` per
bin.  Same scale shape as a histogram — scan + codegen bucketize, ONE
partial+final HashAggregate, dense labelled finish from a literal spine —
so everything in SCALE.md's contraction analysis applies unchanged.

Determinism (oracle-gated): ``count`` is an int64 count; ``sum`` and
``mean`` run on the exact-int64 quantization of ``value·10^scale``
(``binspec.scaled_weight_sql`` — the same SQL on both engines), so sums are
order-independent and ``mean`` is one double division of two exact ints;
``min``/``max`` are order-independent by definition.  Empty bins are NULL
for sum/mean/min/max and 0 for count (matching scipy, whose empty-bin
statistic is NaN).  ``count`` counts NON-NULL values of the value column
(engine and SQL mirror both use COUNT(value)); scipy has no NULL concept
to disagree with — NaN inputs poison its sums instead of being dropped.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..binspec import SPARK, BinSpec, flit, scaled_weight_sql
from .histogram import (
    axis_meta_exprs,
    id_col,
    label_col,
    spine_ids_zero,
    sql_ident,
    weight_sql,
)

STATS = ("count", "sum", "mean", "min", "max", "sum_sq", "sample_var")


def binned_statistic(
    df: DataFrame,
    x: str,
    spec: BinSpec,
    value: str,
    stats: Sequence[str] = ("count", "sum", "mean"),
    *,
    group_by: Sequence[str] = (),
    flow: bool = False,
    weight_scale: Optional[int] = 6,
    value_bound: Optional[float] = None,
    n_rows: Optional[int] = None,
) -> DataFrame:
    """Dense per-bin statistics of ``value`` bucketized by ``x``.

    Returns (group_by…, ``<x>_bin``, ``<x>_bins``, ``<stat>_<value>``…).
    Ungrouped output is DENSE (every spine bin, empty bins NULL with
    count 0); grouped output is sparse over observed (group, bin) pairs.

    The squared column and its SUM exist only when ``sum_sq`` or
    ``sample_var`` is requested — a plain count/sum/mean call pays no
    per-row multiply and no extra shuffle slot.  When they ARE requested
    under quantization, the int64-overflow guard runs one eager
    count/max job; callers that already know their data can skip it by
    passing BOTH ``value_bound`` (max ``|value|``) and ``n_rows`` (row
    count upper bound) — the same explicit-knowledge escape hatch as
    histogram range inference's explicit ranges.  The check then runs in
    pure Python on those numbers."""
    stats = list(stats)
    bad = [s for s in stats if s not in STATS]
    if bad:
        raise ValueError(f"unknown stats {bad}; choose from {STATS}")
    group_by = list(group_by)
    qx = sql_ident(x)
    pred = spec.keep_sql(qx, flow, SPARK)
    src = df.where(pred) if pred is not None else df
    idc = (
        spec.kept_id_sql(qx, SPARK)
        if pred is not None and not flow
        else spec.raw_id_sql(qx, SPARK)
    )
    v = f"CAST({sql_ident(value)} AS DOUBLE)"
    vsum, _, divisor = weight_sql(value, weight_scale)
    # sum of squares: in quantized mode q² is an EXACT integer product of
    # the quantized weight with itself (Σq² deterministic; value = Σq²/10^2s;
    # overflow bound (|w|·10^s)²·rows < 2⁶³ — reduce weight_scale for large
    # weights); raw mode sums v·v doubles (fast, order-sensitive).
    # Only materialized when a squared stat is requested.
    need_sq = bool({"sum_sq", "sample_var"} & set(stats))
    vsq = f"({vsum}) * ({vsum})" if weight_scale is not None else f"{v} * {v}"
    if weight_scale is not None and need_sq:
        # Σq² must stay inside int64 (Spark would WRAP silently while the
        # DuckDB oracle raises — silent corruption either way).  Worst
        # case Σq² ≤ n·q_max², q_max ≤ |v|_max·10^s + 0.5.  One eager
        # bound job — unless the caller supplied both numbers.
        if value_bound is not None and n_rows is not None:
            n, m = int(n_rows), abs(float(value_bound))
        else:
            row = src.agg(
                F.count(F.col(value)).alias("n"),
                F.max(F.abs(F.col(value).cast("double"))).alias("m"),
            ).first()
            n, m = row["n"], row["m"]
        if n and m is not None:
            q_max = abs(m) * divisor + 0.5
            if q_max * q_max * n >= float(2**63):
                raise ValueError(
                    f"sum of squared quantized values can overflow int64: "
                    f"max|{value}|={m!r} at weight_scale="
                    f"{weight_scale} over {n} rows; pass a smaller "
                    f"weight_scale (or weight_scale=None for raw double "
                    f"sums)"
                )
    base = src.selectExpr(
        *[sql_ident(g) for g in group_by],
        f"{idc} AS {sql_ident(id_col(x))}",
        f"{vsum} AS __s",
        *([f"{vsq} AS __s2"] if need_sq else []),
        f"{v} AS __v",
    )
    if not group_by:
        # dense by construction: NULL-valued spine rows union in BEFORE the
        # single aggregation (count/sum/min/max all ignore NULLs, so a
        # spine row contributes count 0 and nothing else) — the same
        # one-exchange shape as the histogram
        null_s = (
            "CAST(NULL AS BIGINT)" if weight_scale is not None
            else "CAST(NULL AS DOUBLE)"
        )
        spine0 = spine_ids_zero(
            base.sparkSession, [x], [spec], flow, null_s, val_name="__s",
        )
        if need_sq:
            spine0 = spine0.withColumn(
                "__s2",
                F.lit(None).cast(
                    "bigint" if weight_scale is not None else "double"
                ),
            )
        spine0 = spine0.withColumn("__v", F.lit(None).cast("double"))
        base = base.unionByName(spine0)
    aggs = [
        F.count(F.col("__v")).alias("__n"),
        F.sum("__s").alias("__sum"),
        *([F.sum("__s2").alias("__sum_sq")] if need_sq else []),
        F.min("__v").alias("__min"),
        F.max("__v").alias("__max"),
    ]
    agg = base.groupBy(*group_by, id_col(x)).agg(*aggs)
    sum_d = F.col("__sum").cast("double") / F.lit(divisor)
    out_cols = {
        "count": F.col("__n").alias(f"count_{value}"),
        "sum": sum_d.alias(f"sum_{value}"),
        "mean": (
            F.col("__sum").cast("double")
            / F.col("__n").cast("double")
            / F.lit(divisor)
        ).alias(f"mean_{value}"),
        "min": F.col("__min").alias(f"min_{value}"),
        "max": F.col("__max").alias(f"max_{value}"),
        "sum_sq": (
            F.col("__sum_sq").cast("double") / F.lit(divisor) / F.lit(divisor)
        ).alias(f"sum_sq_{value}"),
        # unbiased per-bin sample variance from the exact sums: the
        # expression order below is mirrored CHARACTER-FOR-CHARACTER in the
        # SQL so the doubles hash-match
        # clamped at 0: for a near-constant bin the two ~equal large
        # doubles' rounding difference can exceed the tiny true variance
        # and go (harmlessly but confusingly) negative
        "sample_var": F.when(
            F.col("__n") >= F.lit(2),
            F.greatest(
                (
                    F.col("__sum_sq").cast("double") / F.lit(divisor) / F.lit(divisor)
                    - (F.col("__sum").cast("double") / F.lit(divisor))
                    * (F.col("__sum").cast("double") / F.lit(divisor))
                    / F.col("__n").cast("double")
                )
                / (F.col("__n").cast("double") - F.lit(1.0)),
                F.lit(0.0),
            ),
        ).alias(f"sample_var_{value}"),
    }
    meta = axis_meta_exprs(x, spec, flow)
    return agg.selectExpr(meta[0], "*").select(
        *group_by,
        id_col(x),
        label_col(x),
        *[out_cols[s] for s in stats],
    )


def binned_statistic_sql(
    table: str,
    x: str,
    spec: BinSpec,
    value: str,
    stats: Sequence[str] = ("count", "sum", "mean"),
    *,
    group_by: Sequence[str] = (),
    flow: bool = False,
    weight_scale: Optional[int] = 6,
) -> str:
    """DuckDB mirror of ``binned_statistic`` (same quantized sums, same
    NULL-for-empty semantics)."""
    from ..oracle import _spine_values

    group_by = list(group_by)
    bid = spec.raw_id_sql(x)
    lo, hi = spec.keep_range(flow)
    if weight_scale is not None:
        divisor = float(10**weight_scale)
        dv = flit(divisor)  # flit: a bare float literal parses as DECIMAL
        sw = scaled_weight_sql(value, divisor)
        # int64 sum FIRST (DuckDB SUM(BIGINT) is HUGEINT — its direct
        # DOUBLE cast rounds differently above 2^53 and never overflows
        # where Spark's bigint sum does), then the double division
        ssum = f"CAST(SUM({sw}) AS BIGINT)"
        ssq = f"CAST(SUM({sw} * {sw}) AS BIGINT)"
        sum_out = f"CAST({ssum} AS DOUBLE) / {dv}"
        mean_out = f"CAST({ssum} AS DOUBLE) / CAST(COUNT({value}) AS DOUBLE) / {dv}"
        sum_sq_out = f"CAST({ssq} AS DOUBLE) / {dv} / {dv}"
        n_d = f"CAST(COUNT({value}) AS DOUBLE)"
        svar_out = (
            f"CASE WHEN COUNT({value}) >= 2 THEN GREATEST("
            f"({sum_sq_out} - (CAST({ssum} AS DOUBLE) / {dv}) * "
            f"(CAST({ssum} AS DOUBLE) / {dv}) / {n_d}) / ({n_d} - 1.0)"
            f", 0.0) END"
        )
    else:
        sum_out = f"SUM(CAST({value} AS DOUBLE))"
        mean_out = f"AVG(CAST({value} AS DOUBLE))"
        sum_sq_out = f"SUM(CAST({value} AS DOUBLE) * CAST({value} AS DOUBLE))"
        n_d = f"CAST(COUNT({value}) AS DOUBLE)"
        svar_out = (
            f"CASE WHEN COUNT({value}) >= 2 THEN GREATEST("
            f"({sum_sq_out} - {sum_out} * {sum_out} / {n_d}) / ({n_d} - 1.0)"
            f", 0.0) END"
        )
    outs = {
        # COUNT(value), not COUNT(*): the engine counts non-NULL values
        # (F.count('__v') — required for the NULL-spine dense union), so a
        # NULL in the value column is excluded from count on BOTH sides.
        # scipy's binned_statistic has no NULLs to disagree about (NaN
        # inputs poison its sums instead); the NULL-excluding count is the
        # documented semantics here.
        "count": f"CAST(COUNT({value}) AS BIGINT)",
        "sum": sum_out,
        "mean": mean_out,
        "min": f"MIN(CAST({value} AS DOUBLE))",
        "max": f"MAX(CAST({value} AS DOUBLE))",
        "sum_sq": sum_sq_out,
        "sample_var": svar_out,
    }
    gsel = "".join(f"{g}, " for g in group_by)
    aggsel = ", ".join(f"{outs[s]} AS {s}_{value}" for s in stats)
    binned = (
        f"SELECT {gsel}{bid} AS b, {aggsel} FROM {table} "
        f"WHERE {bid} BETWEEN {lo} AND {hi} "
        f"GROUP BY {gsel}{bid}"
    )
    sel_stats = ", ".join(
        f"COALESCE(binned.{s}_{value}, 0) AS {s}_{value}"
        if s == "count"
        else f"binned.{s}_{value} AS {s}_{value}"
        for s in stats
    )
    spine = _spine_values(x, spec, flow)
    if group_by:
        # grouped output is SPARSE (observed (group, bin) rows), matching
        # the engine side; the spine join only attaches labels
        plain = ", ".join(f"binned.{s}_{value} AS {s}_{value}" for s in stats)
        return (
            f"WITH binned AS ({binned}) "
            f"SELECT {', '.join('binned.' + g for g in group_by)}, "
            f"sp_{x}.{id_col(x)} AS {id_col(x)}, "
            f"sp_{x}.{label_col(x)} AS {label_col(x)}, {plain} "
            f"FROM binned JOIN {spine} ON binned.b = sp_{x}.{id_col(x)}"
        )
    return (
        f"WITH binned AS ({binned}) "
        f"SELECT sp_{x}.{id_col(x)} AS {id_col(x)}, "
        f"sp_{x}.{label_col(x)} AS {label_col(x)}, {sel_stats} "
        f"FROM {spine} LEFT JOIN binned ON binned.b = sp_{x}.{id_col(x)}"
    )


def weight_storage_histogram(
    df: DataFrame,
    x: str,
    spec: BinSpec,
    weights: str,
    *,
    group_by: Sequence[str] = (),
    flow: bool = False,
    weight_scale: Optional[int] = 6,
) -> DataFrame:
    """Boost ``Weight()`` accumulator storage: per-bin (value, variance) =
    (Σw, Σw²) — the error-bar-carrying weighted histogram the reference
    explicitly documents as UNSUPPORTED ("accumulator storage … are not
    supported", core.py:87-90,158-161).  Spark has no such restriction:
    both accumulators are sums, so the plan is the exact histogram shape —
    one scan, one partial+final aggregate — with two aggregate columns.

    Σw² runs on the squared quantized weight (an exact int64 product →
    order-independent, oracle-matchable); overflow bound
    ``(|w|·10^s)²·rows < 2⁶³`` — pass a smaller ``weight_scale`` for
    large-magnitude weights, or ``None`` for raw double sums.

    Returns (group_by…, ``<x>_bin``, ``<x>_bins``, value, variance).
    """
    out = binned_statistic(
        df, x, spec, weights, stats=("sum", "sum_sq"),
        group_by=group_by, flow=flow, weight_scale=weight_scale,
    )
    return out.withColumnRenamed(f"sum_{weights}", "value").withColumnRenamed(
        f"sum_sq_{weights}", "variance"
    )


def weight_storage_histogram_sql(
    table: str,
    x: str,
    spec: BinSpec,
    weights: str,
    *,
    group_by: Sequence[str] = (),
    flow: bool = False,
    weight_scale: Optional[int] = 6,
) -> str:
    inner = binned_statistic_sql(
        table, x, spec, weights, stats=("sum", "sum_sq"),
        group_by=group_by, flow=flow, weight_scale=weight_scale,
    )
    gsel = "".join(f"{g}, " for g in group_by)
    return (
        f"SELECT {gsel}{id_col(x)}, {label_col(x)}, "
        f"sum_{weights} AS value, sum_sq_{weights} AS variance "
        f"FROM ({inner}) ws"
    )


def mean_storage_histogram(
    df: DataFrame,
    x: str,
    spec: BinSpec,
    value: str,
    *,
    group_by: Sequence[str] = (),
    flow: bool = False,
    weight_scale: Optional[int] = 6,
) -> DataFrame:
    """Boost ``Mean()`` accumulator storage — the profile histogram: per
    bin, the count, mean and (unbiased) sample variance of a sampled
    quantity.  Like ``Weight()``, an accumulator storage the reference
    documents as unsupported; every accumulator here is a sum over exact
    quantized ints, so the plan keeps the one-scan one-aggregate
    histogram shape and stays oracle-deterministic.

    Returns (group_by…, ``<x>_bin``, ``<x>_bins``, count, mean, variance).
    """
    out = binned_statistic(
        df, x, spec, value, stats=("count", "mean", "sample_var"),
        group_by=group_by, flow=flow, weight_scale=weight_scale,
    )
    return (
        out.withColumnRenamed(f"count_{value}", "count")
        .withColumnRenamed(f"mean_{value}", "mean")
        .withColumnRenamed(f"sample_var_{value}", "variance")
    )


def mean_storage_histogram_sql(
    table: str,
    x: str,
    spec: BinSpec,
    value: str,
    *,
    group_by: Sequence[str] = (),
    flow: bool = False,
    weight_scale: Optional[int] = 6,
) -> str:
    inner = binned_statistic_sql(
        table, x, spec, value, stats=("count", "mean", "sample_var"),
        group_by=group_by, flow=flow, weight_scale=weight_scale,
    )
    gsel = "".join(f"{g}, " for g in group_by)
    return (
        f'SELECT {gsel}{id_col(x)}, {label_col(x)}, '
        f'count_{value} AS "count", mean_{value} AS mean, '
        f"sample_var_{value} AS variance FROM ({inner}) ms"
    )
