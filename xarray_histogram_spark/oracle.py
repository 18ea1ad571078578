"""DuckDB oracle SQL for the Spark histogram planner.

The driver's correctness gate runs each Spark query AND an ANSI-SQL oracle in
DuckDB side-by-side and hash-compares values.  Floating-point results only
hash-match if both engines execute the *same IEEE-754 operations in the same
order*, so this module composes its CTEs from the very SQL text the Spark
planner parses, rendered from the same BinSpec objects:

- the bucketize (``BinSpec.raw_id_sql`` and the weight quantization
  ``scaled_weight_sql`` — identical literals, op order, no runtime
  transcendentals on the exact path);
- the post-aggregate value: the density window and the display value
  (``plans.histogram.finish_value_sql``) and every distribution statistic
  (``plans.stats``: the checked inputs, the bin-list fold, the running sums
  and ppf crossing, the cdf bracket).

Only the assembly is the oracle's own: the aggregate, the dense spine join
with groups derived from the aggregated output, and the CTE chain.  Values
are exact int64 (counts, and weighted sums of ``round(w·10^s)``) — integer
addition is order-independent, and the final int64→double cast is
hardware-rounded identically in both engines (unlike DuckDB's
DECIMAL→DOUBLE cast, which is observably off by an ulp).  Spine VALUES
literals are explicitly CAST — DuckDB parses bare numeric literals as
DECIMAL, which would silently change column types and poison arithmetic
with decimal semantics.
"""

from __future__ import annotations

from typing import Optional, Sequence

from .binspec import DUCKDB, BinSpec, flit, scaled_weight_sql, slit
from .plans import stats as st
from .plans.histogram import finish_value_sql, id_col, label_col, value_col_name


def _spine_values(var: str, spec: BinSpec, flow: bool) -> str:
    rows = []
    for b in spec.bins(flow):
        if spec.label_type == "double":
            lab = f"CAST({flit(b.label)} AS DOUBLE)"
        elif spec.label_type == "bigint":
            lab = f"CAST({int(b.label)} AS BIGINT)"
        else:
            lab = spec.label_sql_lit(b.label)
        rows.append(
            f"({b.id}, {lab}, {flit(b.width)}, {flit(b.center)}, "
            f"{'TRUE' if b.is_flow else 'FALSE'})"
        )
    cols = (
        f"{id_col(var)}, {label_col(var)}, __{var}_width, __{var}_center, "
        f"__{var}_is_flow"
    )
    return f"(VALUES {', '.join(rows)}) AS sp_{var}({cols})"


def histogram_oracle_ctes(
    table: str,
    cols: Sequence[str],
    specs: Sequence[BinSpec],
    *,
    weights: Optional[str] = None,
    group_by: Sequence[str] = (),
    group_exprs: Optional[dict] = None,
    flow: bool = False,
    weight_scale: Optional[int] = 6,
    where: Optional[str] = None,
    label_specs: Optional[Sequence[BinSpec]] = None,
) -> tuple[list[str], bool, float]:
    """CTE list ending in ``filled`` (dense rows with exact-int ``__val`` and
    internal width/center/is_flow columns).  Returns (ctes, int_mode, divisor).

    ``label_specs`` (optional) supplies different specs for the spine
    labels/widths/centers than for the bucketize — the mirror of the
    accessor's metadata-only coordinate transforms (scale/apply_func), which
    relabel bins without touching the data.
    """
    cols = list(cols)
    specs = list(specs)
    group_by = list(group_by)
    group_exprs = dict(group_exprs or {})
    label_specs = list(label_specs) if label_specs is not None else specs

    gsel = ", ".join(f"{group_exprs.get(g, g)} AS {g}" for g in group_by)
    idsel = ", ".join(
        f"{s.raw_id_sql(c)} AS {id_col(c)}" for c, s in zip(cols, specs)
    )
    wsel = f", {weights} AS __w" if weights is not None else ""
    inner = f"SELECT {gsel + ', ' if gsel else ''}{idsel}{wsel} FROM {table}"
    if where:
        inner += f" WHERE {where}"
    keeps = []
    for c, s in zip(cols, specs):
        lo, hi = s.keep_range(flow)
        keeps.append(f"{id_col(c)} BETWEEN {lo} AND {hi}")
    base = f"SELECT * FROM ({inner}) AS raw WHERE {' AND '.join(keeps)}"

    if weights is not None:
        if weight_scale is not None:
            divisor = float(10**weight_scale)
            val = (
                f"CAST(SUM({scaled_weight_sql('__w', divisor)}) AS BIGINT)"
            )
            int_mode = True
        else:
            val = "SUM(CAST(__w AS DOUBLE))"
            int_mode, divisor = False, 1.0
    else:
        val = "CAST(COUNT(*) AS BIGINT)"
        int_mode, divisor = True, 1.0
    zero = "CAST(0 AS BIGINT)" if int_mode else "CAST(0.0 AS DOUBLE)"
    keys = group_by + [id_col(c) for c in cols]
    agg = (
        f"SELECT {', '.join(keys)}, {val} AS __val FROM base "
        f"GROUP BY {', '.join(keys)}"
    )

    spine = " CROSS JOIN ".join(
        _spine_values(c, s, flow) for c, s in zip(cols, label_specs)
    )
    if group_by:
        grp = f"SELECT DISTINCT {', '.join(group_by)} FROM agg"
        dense = f"SELECT * FROM grp CROSS JOIN (SELECT * FROM {spine}) AS spine"
    else:
        dense = f"SELECT * FROM {spine}"

    join_conds = [f"d.{g} IS NOT DISTINCT FROM a.{g}" for g in group_by] + [
        f"d.{id_col(c)} = a.{id_col(c)}" for c in cols
    ]
    filled_sel = (
        [f"d.{g} AS {g}" for g in group_by]
        + [f"d.{id_col(c)} AS {id_col(c)}" for c in cols]
        + [f"d.{label_col(c)} AS {label_col(c)}" for c in cols]
        + [f"COALESCE(a.__val, {zero}) AS __val"]
        + [f"d.__{c}_width AS __{c}_width" for c in cols]
        + [f"d.__{c}_center AS __{c}_center" for c in cols]
        + [f"d.__{c}_is_flow AS __{c}_is_flow" for c in cols]
    )
    filled = (
        f"SELECT {', '.join(filled_sel)} FROM dense d LEFT JOIN agg a "
        f"ON {' AND '.join(join_conds)}"
    )

    ctes = [f"base AS ({base})", f"agg AS ({agg})"]
    if group_by:
        ctes.append(f"grp AS ({grp})")
    ctes.append(f"dense AS ({dense})")
    ctes.append(f"filled AS ({filled})")
    return ctes, int_mode, divisor


def histogram_oracle_sql(
    table: str,
    cols: Sequence[str],
    specs: Sequence[BinSpec],
    *,
    weights: Optional[str] = None,
    density: bool = False,
    group_by: Sequence[str] = (),
    group_exprs: Optional[dict] = None,
    flow: bool = False,
    storage: str = "double",
    weight_scale: Optional[int] = 6,
    where: Optional[str] = None,
    value_name: Optional[str] = None,
    label_specs: Optional[Sequence[BinSpec]] = None,
) -> str:
    """DuckDB SQL equivalent of ``plans.histogram.histogramdd``.

    ``group_exprs`` maps a group column name to the SQL expression computing
    it (for Spark-side ``withColumn`` groups like a truncated date); plain
    table columns need no entry.  ``where`` mirrors any pre-filter the Spark
    side applied to the input DataFrame.  ``label_specs`` mirrors
    scale/apply_func relabelling (see ``histogram_oracle_ctes``).
    """
    cols = list(cols)
    group_by = list(group_by)
    vname = value_name or value_col_name(cols, density)
    ctes, int_mode, divisor = histogram_oracle_ctes(
        table, cols, specs, weights=weights, group_by=group_by,
        group_exprs=group_exprs, flow=flow, weight_scale=weight_scale,
        where=where, label_specs=label_specs,
    )
    out_cols = (
        list(group_by) + [id_col(c) for c in cols] + [label_col(c) for c in cols]
    )
    vexpr = finish_value_sql(
        cols, group_by, density=density, int_mode=int_mode, divisor=divisor,
        int64_out=weights is None and storage == "int64", dialect=DUCKDB,
    )
    final = f"SELECT {', '.join(out_cols)}, {vexpr} AS {vname} FROM filled"
    return "WITH " + ", ".join(ctes) + " " + final


def histogram_columns_oracle_sql(
    table: str,
    cols: Sequence[str],
    spec: BinSpec,
    *,
    weights: Optional[str] = None,
    density: bool = False,
    flow: bool = False,
    storage: str = "double",
    weight_scale: Optional[int] = 6,
    dim_name: str = "series",
    var_name: str = "value",
) -> str:
    """DuckDB mirror of ``plans.histogram.histogram_columns``: one
    histogram per column over a shared axis — a UNION ALL of per-column
    bucketize branches, one GROUP BY, dense spine per column."""
    cols = list(cols)
    lo, hi = spec.keep_range(flow)
    bin_id = id_col(var_name)

    if weights is not None:
        wsel = f", {weights} AS __w"
        if weight_scale is not None:
            divisor = float(10**weight_scale)
            val = (
                f"CAST(SUM({scaled_weight_sql('__w', divisor)}) AS BIGINT)"
            )
            int_mode = True
        else:
            val = "SUM(CAST(__w AS DOUBLE))"
            int_mode, divisor = False, 1.0
    else:
        val = "CAST(COUNT(*) AS BIGINT)"
        wsel = ""
        int_mode, divisor = True, 1.0
    zero = "CAST(0 AS BIGINT)" if int_mode else "CAST(0.0 AS DOUBLE)"

    branches = []
    for i, c in enumerate(cols):
        inner = (
            f"SELECT {i} AS __d, {spec.raw_id_sql(c)} AS {bin_id}{wsel} "
            f"FROM {table}"
        )
        branches.append(
            f"SELECT * FROM ({inner}) AS b{i} "
            f"WHERE {bin_id} BETWEEN {lo} AND {hi}"
        )
    base = " UNION ALL ".join(branches)
    agg = (
        f"SELECT __d, {bin_id}, {val} AS __val FROM base "
        f"GROUP BY __d, {bin_id}"
    )
    dim_rows = ", ".join(f"({i}, {slit(c)})" for i, c in enumerate(cols))
    dense = (
        f"SELECT * FROM (VALUES {dim_rows}) AS dd(__d, __dim) "
        f"CROSS JOIN {_spine_values(var_name, spec, flow)}"
    )
    filled = (
        f"SELECT d.__dim AS {dim_name}, d.{bin_id} AS {bin_id}, "
        f"d.{label_col(var_name)} AS {label_col(var_name)}, "
        f"COALESCE(a.__val, {zero}) AS __val, "
        f"d.__{var_name}_width AS __{var_name}_width, "
        f"d.__{var_name}_center AS __{var_name}_center, "
        f"d.__{var_name}_is_flow AS __{var_name}_is_flow "
        f"FROM dense d LEFT JOIN agg a "
        f"ON d.__d = a.__d AND d.{bin_id} = a.{bin_id}"
    )
    vname = value_col_name([var_name], density)
    vexpr = finish_value_sql(
        [var_name], [dim_name], density=density, int_mode=int_mode,
        divisor=divisor, int64_out=weights is None and storage == "int64",
        dialect=DUCKDB,
    )
    return (
        f"WITH base AS ({base}), agg AS ({agg}), dense AS ({dense}), "
        f"filled AS ({filled}) "
        f"SELECT {dim_name}, {bin_id}, {label_col(var_name)}, "
        f"{vexpr} AS {vname} FROM filled"
    )


def stats_oracle_sql(
    kind: str,
    table: str,
    cols: Sequence[str],
    specs: Sequence[BinSpec],
    variable: str,
    *,
    order: int = 2,
    q=None,
    x: Optional[float] = None,
    confidence: Optional[float] = None,
    weights: Optional[str] = None,
    group_by: Sequence[str] = (),
    group_exprs: Optional[dict] = None,
    flow: bool = False,
    weight_scale: Optional[int] = 6,
    where: Optional[str] = None,
) -> str:
    """DuckDB SQL of ``plans.stats.<kind>`` on the histogram defined by the
    same arguments, composed from the renderers the Spark planner parses.
    ``kind`` ∈ {mean, var, std, moment, median, ppf, interval, cdf}."""
    cols = list(cols)
    specs = list(specs)
    group_by = list(group_by)
    v = variable
    outs = st.stat_params(kind, v, order=order, q=q, confidence=confidence, x=x)
    ctes, int_mode, divisor = histogram_oracle_ctes(
        table, cols, specs, weights=weights, group_by=group_by,
        group_exprs=group_exprs, flow=flow, weight_scale=weight_scale,
        where=where,
    )
    core_keep = " AND ".join(
        f"{id_col(c)} BETWEEN 0 AND {s.n - 1}" for c, s in zip(cols, specs)
    )
    ctes.append(f"core AS (SELECT * FROM filled WHERE {core_keep})")
    part = group_by + [id_col(c) for c in cols if c != v]
    psel = (", ".join(part) + ", ") if part else ""
    pgroup = f" GROUP BY {', '.join(part)}" if part else ""
    if kind in st.MOMENTS:
        ctes.append(
            f"g AS (SELECT {psel}{st.bin_list_sql(v, DUCKDB)} FROM core{pgroup})"
        )
        sels = [st.moment_sql(kind, p, DUCKDB) for _, p in outs]
        src = "g"
    elif kind in st.QUANTILES:
        sums = ", ".join(st.running_sums_sql(v, part, int_mode, DUCKDB))
        ctes.append(f"c2 AS (SELECT {sums} FROM core)")
        sels = [st.crossing_sql(p) for _, p in outs]
        src = f"c2{pgroup}"
    else:
        spec = dict(zip(cols, specs))[v]
        sels = [st.cdf_sql(v, spec, p, int_mode, DUCKDB) for _, p in outs]
        src = f"core{pgroup}"
    cols_sql = ", ".join(f"{e} AS {n}" for e, (n, _) in zip(sels, outs))
    return "WITH " + ", ".join(ctes) + f" SELECT {psel}{cols_sql} FROM {src}"
