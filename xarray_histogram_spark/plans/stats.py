"""Histogram-derived distribution statistics as Spark window/fold queries.

Reference parity: the accessor's scipy ``rv_histogram``-backed statistics
(/root/reference/src/xarray_histogram/accessor.py:397-573): mean/var/std/
moment are moments of the piecewise-uniform distribution (the width²/12 term
in the variance is the within-bin uniform contribution, matching continuous
``rv_histogram``); cdf/ppf/median/interval are the piecewise-linear CDF and
its inverse.  Flow bins are stripped first (accessor.py:415-417); the other
histogram variables and any group keys act as the "loop dims" the statistic
is vectorised over (accessor.py:428-437) — here simply extra grouping keys.

One SQL source: every statistic's maths is rendered once as SQL text —
the id-sorted bin list and its fold (``bin_list_sql``, ``moment_sql``), the
running sums and the ppf crossing (``running_sums_sql``, ``crossing_sql``),
the cdf bracket (``cdf_sql``) — after ``stat_params`` has checked the
inputs.  The Spark planner parses the text with ``selectExpr``/``F.expr``
(a few py4j round trips per statistic) and ``oracle.stats_oracle_sql``
composes its DuckDB CTEs from the same renderers.  The dialects differ only
in the bin-list collect and fold, and in identifier quoting; the caller
passes ``dialect``.

Determinism design (the oracle hash-compares floats bit-for-bit):
- cdf/ppf run on the exact-int64 ``__val`` representation: running and total
  sums are integer (order-independent); only the final interpolation is
  double arithmetic on int64→double casts — identical in Spark and DuckDB.
- moments need Σ mass·f(center) over non-integer doubles, where sum order
  matters.  Each group's (tiny, dense) bin list is collected, sorted by bin
  id, and folded sequentially with an explicit 0.0 seed — a strict
  left-to-right reduction in both engines.  Per-group lists are ≤ axis
  extent (hundreds), so the collect is cheap and stays fully distributed
  across groups.
"""

from __future__ import annotations

import math
import numbers
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..binspec import SPARK, IntCategory, StrCategory, flit
from .histogram import axis_meta_exprs, id_col, ident_sql, label_col, sql_ident
from .result import HistogramResult

MOMENTS = ("mean", "var", "std", "moment")
QUANTILES = ("median", "ppf", "interval")
_D0 = "CAST(0.0 AS DOUBLE)"


def _real(v) -> bool:
    return isinstance(v, numbers.Real) and not isinstance(v, bool)


def stat_params(kind: str, v: str, *, order=2, q=None, confidence=None, x=None):
    """The one check of statistic inputs, run by the Spark planner and the
    DuckDB oracle alike.  Returns the output columns as (name, parameter)
    pairs: the moment order, one quantile per ppf column, or the cdf point.
    Numpy scalars are accepted; bools, empty ``q`` lists and non-integer
    orders are not."""
    if kind in ("mean", "var", "std"):
        return [(f"{v}_{kind}", None)]
    if kind == "moment":
        if not isinstance(order, numbers.Integral) or isinstance(order, bool):
            raise ValueError(f"order must be an integer, got {order!r}")
        if order < 1:
            raise ValueError("order must be >= 1")
        return [(f"{v}_moment{int(order)}", int(order))]
    if kind == "median":
        return [(f"{v}_median", 0.5)]
    if kind == "interval":
        if not (_real(confidence) and 0.0 < confidence < 1.0):
            raise ValueError("confidence must be in (0, 1)")
        alpha = (1.0 - float(confidence)) / 2.0
        return [(f"{v}_low", alpha), (f"{v}_high", 1.0 - alpha)]
    if kind == "ppf":
        qs = [q] if _real(q) else list(q)
        if not qs:
            raise ValueError("q must hold at least one quantile")
        for qq in qs:
            if not (_real(qq) and 0.0 < qq < 1.0):
                raise ValueError("q must be in (0, 1)")
        if len(qs) == 1:
            return [(f"{v}_ppf", float(qs[0]))]
        return [(f"{v}_ppf_{i}", float(qq)) for i, qq in enumerate(qs)]
    if kind == "cdf":
        if not _real(x):
            raise ValueError(f"cdf: x must be a number, got {x!r}")
        if math.isnan(x):
            raise ValueError("cdf: x must not be NaN")
        return [(f"{v}_cdf", float(x))]
    raise ValueError(f"unknown stat kind {kind!r}")


def bin_list_sql(v: str, dialect: str) -> str:
    """The group's core bins as one id-sorted list of (i, m, c, w) structs:
    id, mass as double, center, width."""
    i = ident_sql(id_col(v), dialect)
    c = ident_sql(f"__{v}_center", dialect)
    w = ident_sql(f"__{v}_width", dialect)
    m = "CAST(__val AS DOUBLE)"
    if dialect == SPARK:
        return (
            f"array_sort(collect_list(struct({i} AS i, {m} AS m, {c} AS c, "
            f"{w} AS w))) AS __a"
        )
    return (
        f"list(struct_pack(i := {i}, m := {m}, c := {c}, w := {w}) "
        f"ORDER BY {i}) AS a"
    )


def _fold_bins(term: str, dialect: str) -> str:
    """Strict sequential left fold of ``term`` over the bin list with a
    0.0 seed (DuckDB prepends the seed, so even the first addition is the
    same operation in both engines)."""
    if dialect == SPARK:
        return f"aggregate(__a, {_D0}, (acc, x) -> acc + {term})"
    return (
        f"list_reduce(list_prepend({_D0}, list_transform(a, x -> {term})), "
        f"(p, q) -> p + q)"
    )


def _safe_ratio(num: str, tot: str) -> str:
    # self-parenthesised: composed into larger expressions (e1 * e1) it
    # keeps its own association bit-for-bit
    return f"({num} / NULLIF({tot}, {_D0}))"


def moment_sql(kind: str, order: Optional[int], dialect: str) -> str:
    """Moment of the piecewise-uniform distribution over the bin list:
    mean Σm·c/Σm; raw ``order``-th moment Σm·cⁿ/Σm (bin-center
    approximation); var E[c² + w²/12] − mean²; std its square root."""
    tot = _fold_bins("x.m", dialect)
    e1 = _safe_ratio(_fold_bins("x.m * x.c", dialect), tot)
    if kind == "mean":
        return e1
    if kind == "moment":
        e = "x.c"
        for _ in range(order - 1):
            e = f"({e} * x.c)"
        return _safe_ratio(_fold_bins(f"x.m * {e}", dialect), tot)
    e2 = _safe_ratio(
        _fold_bins(f"x.m * (x.c * x.c + x.w * x.w / {flit(12.0)})", dialect), tot
    )
    var = f"{e2} - ({e1} * {e1})"
    return f"sqrt({var})" if kind == "std" else var


def running_sums_sql(v: str, part: list[str], int_mode: bool, dialect: str) -> list[str]:
    """Select list of the per-bin running and total mass: partition keys,
    id, left edge, width, mass, ``__cum`` and ``__tot``.  The sums are
    cast back to the mass type, which DuckDB widens (BIGINT → HUGEINT);
    raw-double mass must stay DOUBLE, since a BIGINT cast would truncate
    it.  In Spark the cast is a no-op that Catalyst drops, leaving only a
    rename projection above the windows."""
    keys = [ident_sql(p, dialect) for p in part]
    i = ident_sql(id_col(v), dialect)
    st = "BIGINT" if int_mode else "DOUBLE"
    over = f"PARTITION BY {', '.join(keys)}" if keys else ""
    return [
        *keys,
        i,
        f"CAST({ident_sql(label_col(v), dialect)} AS DOUBLE) AS __left",
        f"{ident_sql(f'__{v}_width', dialect)} AS __w",
        "__val",
        f"CAST(SUM(__val) OVER ({over + ' ' if over else ''}ORDER BY {i}) "
        f"AS {st}) AS __cum",
        f"CAST(SUM(__val) OVER ({over}) AS {st}) AS __tot",
    ]


def crossing_sql(q: float) -> str:
    """ppf(q) per group over the running sums: the bin whose cumulative
    mass crosses q·total, interpolated linearly within it."""
    qt = f"{flit(q)} * CAST(__tot AS DOUBLE)"
    cumb = "CAST(__cum - __val AS DOUBLE)"
    cross = f"CAST(__cum AS DOUBLE) >= {qt} AND {cumb} < {qt}"
    interp = f"__left + ({qt} - {cumb}) / CAST(__val AS DOUBLE) * __w"
    return f"MAX(CASE WHEN {cross} THEN {interp} END)"


def cdf_sql(v: str, spec, x: float, int_mode: bool, dialect: str) -> str:
    """CDF at the literal ``x`` per group: the mass below the bracketing
    bin plus the linear fraction of the bin itself.  The bracket ``j`` and
    the fraction are resolved Python-side from the BinSpec."""
    bins = spec.core_bins()
    if x < bins[0].left:
        j, frac = -1, 0.0
    elif x >= bins[-1].right:
        j, frac = spec.n, 0.0
    else:
        j = next(k for k, b in enumerate(bins) if b.left <= x < b.right)
        frac = (x - bins[j].left) / (bins[j].right - bins[j].left)
    i = ident_sql(id_col(v), dialect)
    st = "BIGINT" if int_mode else "DOUBLE"  # see running_sums_sql

    def mass(cond: str) -> str:
        return f"CAST(CAST(SUM({cond}) AS {st}) AS DOUBLE)"

    below = mass(f"CASE WHEN {i} < {j} THEN __val ELSE 0 END")
    at = mass(f"CASE WHEN {i} = {j} THEN __val ELSE 0 END")
    return f"({below} + {at} * {flit(frac)}) / NULLIF({mass('__val')}, {_D0})"


def _prep(result: HistogramResult, v: str):
    """Strip flow rows (all variables) and resolve the partition keys.

    When the result still carries its sparse pre-dense aggregate
    (``_sparse``: group keys + bin ids + ``__val``), the statistic reads
    THAT instead of the densely-filled ``_df``: zero-mass bins contribute
    exactly nothing to any statistic here (integer cumulative/total sums
    are unchanged; a ``0·x`` term cannot change an IEEE fold), so the
    dense-fill stages — the grouped pack-map aggregation + spine expansion
    — drop out of the statistic's plan entirely.  The target variable's
    label/width/center attach as O(1) literal-array lookups on the bin id
    (same doubles the dense path carries, from the same BinSpec)."""
    spec = result.specs[v]
    if isinstance(spec, (IntCategory, StrCategory)):
        raise ValueError(f"statistics need an interval axis, {v!r} is categorical")
    df = result._sparse if result._sparse is not None else result._df
    # core-bin filter FIRST (accessor.py:415-417 flow strip); on the sparse
    # path it also guards the literal-array meta lookup below
    for c in result.variables:
        i = sql_ident(id_col(c))
        df = df.where(f"{i} >= 0 AND {i} <= {result.specs[c].n - 1}")
    if result._sparse is not None:
        df = df.selectExpr("*", *axis_meta_exprs(v, spec, False))
    part = result.group_by + [id_col(c) for c in result.variables if c != v]
    return part, df


def _stat(result: HistogramResult, kind: str, variable: Optional[str], **kw) -> DataFrame:
    v = result._one_var(variable)
    outs = stat_params(kind, v, **kw)
    part, df = _prep(result, v)
    if kind in MOMENTS:
        g = df.groupBy(*part).agg(F.expr(bin_list_sql(v, SPARK)))
        return g.selectExpr(
            *[sql_ident(p) for p in part],
            *[f"{moment_sql(kind, p, SPARK)} AS {sql_ident(n)}" for n, p in outs],
        )
    if kind in QUANTILES:
        df = df.selectExpr(*running_sums_sql(v, part, result.int_mode, SPARK))
        sels = [crossing_sql(p) for _, p in outs]
    else:
        spec = result.specs[v]
        sels = [cdf_sql(v, spec, p, result.int_mode, SPARK) for _, p in outs]
    return df.groupBy(*part).agg(
        *[F.expr(f"{s} AS {sql_ident(n)}") for s, (n, _) in zip(sels, outs)]
    )


def mean(result: HistogramResult, variable: Optional[str] = None) -> DataFrame:
    """Distribution mean Σ mass·center (accessor.py:473-484)."""
    return _stat(result, "mean", variable)


def var(result: HistogramResult, variable: Optional[str] = None) -> DataFrame:
    """Variance of the piecewise-uniform distribution:
    Σ mass·(c² + w²/12) − mean²  (accessor.py:501-512)."""
    return _stat(result, "var", variable)


def std(result: HistogramResult, variable: Optional[str] = None) -> DataFrame:
    """Standard deviation (accessor.py:514-525)."""
    return _stat(result, "std", variable)


def moment(
    result: HistogramResult, order: int, variable: Optional[str] = None
) -> DataFrame:
    """Raw n-th moment Σ mass·centerⁿ (accessor.py:527-540; bin-center
    approximation, within the reference's half-bin-width test tolerance)."""
    return _stat(result, "moment", variable, order=order)


def ppf(result: HistogramResult, q, variable: Optional[str] = None) -> DataFrame:
    """Percent-point (inverse CDF) by piecewise-linear interpolation within
    the bracketing bin (accessor.py:443-458).  ``q`` may be a number or a
    list of numbers (one output column each).  All running sums are exact
    int64; only the final interpolation is float."""
    return _stat(result, "ppf", variable, q=q)


def median(result: HistogramResult, variable: Optional[str] = None) -> DataFrame:
    """ppf(0.5) (accessor.py:460-471)."""
    return _stat(result, "median", variable)


def interval(
    result: HistogramResult, confidence: float, variable: Optional[str] = None
) -> DataFrame:
    """Equal-tailed confidence interval [ppf(α), ppf(1−α)], α=(1−conf)/2
    (accessor.py:542-573)."""
    return _stat(result, "interval", variable, confidence=confidence)


def cdf(result: HistogramResult, x: float, variable: Optional[str] = None) -> DataFrame:
    """CDF at scalar ``x``: mass below the bracketing bin plus the linear
    within-bin fraction (accessor.py:486-499)."""
    return _stat(result, "cdf", variable, x=x)
