"""The workloads.  Each drives the public API of ``xarray_histogram_spark``
the way its user would, and each op shape has a DuckDB oracle that checks
its first occurrence.

A workload's life: ``prepare`` (make seeded inputs, untimed) → ``setup``
(load, cache, index: timed as ``setup_s``, repeated) → ``warm_rounds``
untimed rounds of every shape, the first checked against the oracle → the
timed closed loop.
"""

from __future__ import annotations

import itertools
import os
import shutil
from dataclasses import dataclass
from typing import Callable, Optional

import numpy as np

from . import check, data


class Ctx:
    """What a workload needs from the runner: the session, the tracer, a
    scratch directory, the seed and size, and a lazily opened DuckDB."""

    def __init__(self, spark, tracer, scratch: str, seed: int, size: str,
                 threads: int) -> None:
        self.spark = spark
        self.tracer = tracer
        self.scratch = scratch
        self.seed = seed
        self.size = size
        self.threads = threads
        self._duck = None

    @property
    def duck(self):
        if self._duck is None:
            import duckdb

            self._duck = duckdb.connect()
            self._duck.execute(f"SET threads = {self.threads}")
        return self._duck

    def query(self, sql: str):
        return self.duck.execute(sql).fetchdf()

    def plan(self, df) -> None:
        """Traced ops only: Catalyst planning of the op's DataFrame."""
        if self.tracer.enabled:
            with self.tracer.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()


class Workload:
    name = ""
    # untimed rounds of every shape before timing, so that the Spark driver
    # JVM's JIT has mostly settled: analyst op times fall ~15% over the
    # first rounds of the mix; the first dedup cycle of a fresh JVM runs
    # up to twice as long as later ones
    warm_rounds = 1
    # the timed loop stops only after a multiple of this many ops
    block = 1
    # index bytes appended per kept doc, one entry per dedup op
    extend_bytes: tuple = ()

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark

    def prepare(self) -> None: ...
    def setup(self) -> None: ...
    def teardown(self) -> None: ...

    def ready(self) -> None:
        """Untimed, after the last set-up."""

    def shapes(self) -> list: ...

    def order(self, rng: np.random.Generator):
        """Infinite op-shape sequence of the timed loop."""
        return itertools.cycle(self.shapes())

    def run(self, shape):
        """One timed op; returns its output."""

    def collect(self, shape, out):
        """The op's checkable result (untimed)."""
        return out

    def oracle(self, shape):
        """The expected result of ``shape`` from an independent engine."""

    def rows(self, shape) -> int: ...

    def before_op(self) -> None:
        """Untimed bookkeeping before an op."""

    def after_op(self, shape) -> None:
        """Untimed bookkeeping after an op and its check."""


# ---------------------------------------------------------------------------
# analyst_session: many small queries on cached TPC-H-shaped tables
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Shape:
    table: str
    cols: tuple
    specs: tuple
    kw: dict
    # HistogramResult step → result; None for stat shapes
    step: Optional[Callable] = None
    deliver: str = "numpy"  # numpy | pandas | stat
    stat: Optional[Callable] = None
    stat_sql: Optional[dict] = None
    group_exprs: Optional[dict] = None
    # the oracle: density=True SQL for the normalize step (the registry's
    # normalize-after law), then ``expect`` applied to its dense array
    # (numpy) or rows (pandas)
    oracle_density: bool = False
    expect: Callable = lambda x: x


def _rebin(axis: int, f: int):
    def go(a: np.ndarray) -> np.ndarray:
        shape = list(a.shape)
        shape[axis:axis + 1] = [shape[axis] // f, f]
        return a.reshape(shape).sum(axis=axis + 1)
    return go


def _keep_bins(var: str, lo: int, hi: int):
    """Oracle rows of core bins ``lo <= id < hi`` of ``var``."""
    def go(pdf):
        c = f"{var}_bin"
        return pdf[(pdf[c] >= lo) & (pdf[c] < hi)]
    return go


def _slice(var: str, lo: int, hi: int):
    def go(pdf):
        c = f"{var}_bin"
        out = _keep_bins(var, lo, hi)(pdf).copy()
        out[c] = (out[c] - lo).astype(out[c].dtype)
        return out
    return go


def _analyst_shapes() -> dict:
    from xarray_histogram_spark import Regular, Variable

    month = {"ship_month": "CAST(month(l_shipdate) AS INT)"}
    stat_spec = (Regular(25, 1.0, 51.0),)
    return {
        "regular_normalize": Shape(
            "lineitem", ("l_extendedprice",), (Regular(40, 900.0, 105000.0),),
            {}, step=lambda h: h.normalize(), oracle_density=True),
        "variable_slice": Shape(
            "lineitem", ("l_discount",),
            (Variable((0.0, 0.02, 0.05, 0.08, 0.11)),), {},
            step=lambda h: h.slice_bins(1, 3), deliver="pandas",
            expect=_slice("l_discount", 1, 3)),
        "orders_log_normalize": Shape(
            "orders", ("o_totalprice",),
            (Variable(tuple(Regular(47, 800.0, 600000.0,
                                    transform="log").edges()), binary=True),),
            {}, step=lambda h: h.normalize(), oracle_density=True),
        "hist2d_rebin": Shape(
            "lineitem", ("l_quantity", "l_discount"),
            (Regular(20, 1.0, 51.0), Variable((0.0, 0.03, 0.06, 0.11))), {},
            step=lambda h: h.rebin(4, "l_quantity"), expect=_rebin(0, 4)),
        "flag_rebin": Shape(
            "lineitem", ("l_quantity",), (Regular(12, 1.0, 51.0),),
            {"group_by": ["l_returnflag"]},
            step=lambda h: h.rebin(3), expect=_rebin(1, 3)),
        "month_slice": Shape(
            "lineitem", ("l_quantity",), (Regular(8, 1.0, 51.0),),
            {"group_by": ["ship_month"]}, group_exprs=month,
            step=lambda h: h.slice_bins(2, 6), deliver="pandas",
            expect=_slice("l_quantity", 2, 6)),
        "weighted_normalize": Shape(
            "lineitem", ("l_discount",), (Regular(15, 0.0, 0.1),),
            {"weights": "l_extendedprice"},
            step=lambda h: h.normalize(), oracle_density=True),
        # normalize / rebin / slice_bins all refuse a density result, so
        # the density shape's step is remove_flow
        "density_remove_flow": Shape(
            "lineitem", ("l_quantity",), (Regular(6, 10.0, 40.0),),
            {"density": True, "flow": True},
            step=lambda h: h.remove_flow(), deliver="pandas",
            expect=_keep_bins("l_quantity", 0, 6)),
        "stat_median": Shape(
            "lineitem", ("l_quantity",), stat_spec,
            {"group_by": ["l_returnflag"]}, deliver="stat",
            stat=lambda h: h.median("l_quantity"),
            stat_sql={"kind": "median"}),
        "stat_ppf90": Shape(
            "lineitem", ("l_quantity",), stat_spec,
            {"group_by": ["l_returnflag"]}, deliver="stat",
            stat=lambda h: h.ppf(0.9, "l_quantity"),
            stat_sql={"kind": "ppf", "q": 0.9}),
        "stat_mean_weighted": Shape(
            "lineitem", ("l_quantity",), stat_spec,
            {"group_by": ["l_returnflag"], "weights": "l_extendedprice"},
            deliver="stat", stat=lambda h: h.mean("l_quantity"),
            stat_sql={"kind": "mean"}),
    }


class AnalystSession(Workload):
    """One analyst's closed loop of small histogram queries over cached
    ``lineitem`` and ``orders``: build → one result step → dense delivery,
    or one statistic collected."""

    name = "analyst_session"
    warm_rounds = 2

    def prepare(self) -> None:
        self.paths = data.lineitem_orders(
            self.ctx.seed, self.ctx.size, self.ctx.scratch)
        for t, p in self.paths.items():
            self.ctx.duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        self.spec = _analyst_shapes()

    def setup(self) -> None:
        self.t = {}
        self.n = {}
        for name, path in self.paths.items():
            df = self.spark.read.parquet(path).cache()
            self.n[name] = df.count()
            self.t[name] = df

    def teardown(self) -> None:
        for df in self.t.values():
            df.unpersist(blocking=True)

    def shapes(self) -> list:
        return list(self.spec)

    @property
    def block(self) -> int:
        return len(self.spec)

    def order(self, rng):
        """Blocks of one seeded permutation of the mix each."""
        names = self.shapes()
        while True:
            for j in rng.permutation(len(names)):
                yield names[int(j)]

    def rows(self, shape) -> int:
        return self.n[self.spec[shape].table]

    def run(self, shape):
        import xarray_histogram_spark as xhs
        from pyspark.sql import functions as F

        s = self.spec[shape]
        ctx = self.ctx
        with ctx.tracer.span("plans.histogram.build"):
            df = self.t[s.table]
            if s.group_exprs:
                df = df.withColumn(
                    "ship_month", F.month("l_shipdate").cast("int"))
            h = xhs.histogramdd(df, list(s.cols), list(s.specs), **s.kw)
        if s.deliver == "stat":
            with ctx.tracer.span("plans.stats.stat"):
                sdf = s.stat(h)
                ctx.plan(sdf)
                return check.sorted_frame(sdf.toPandas(), s.kw["group_by"])
        with ctx.tracer.span("plans.result.algebra"):
            h = s.step(h)
        ctx.plan(h.df)
        with ctx.tracer.span("plans.result.deliver"):
            return h.to_numpy() if s.deliver == "numpy" else h.to_pandas()

    def oracle(self, shape):
        from xarray_histogram_spark import oracle as orc
        from xarray_histogram_spark.plans.histogram import value_col_name

        s = self.spec[shape]
        group_by = list(s.kw.get("group_by", []))
        common = dict(group_by=group_by, group_exprs=s.group_exprs,
                      weights=s.kw.get("weights"))
        if s.deliver == "stat":
            kw = dict(s.stat_sql)
            sql = orc.stats_oracle_sql(
                kw.pop("kind"), s.table, list(s.cols), list(s.specs),
                s.cols[0], **common, **kw)
            return check.sorted_frame(self.ctx.query(sql), group_by)
        density = s.oracle_density or s.kw.get("density", False)
        sql = orc.histogram_oracle_sql(
            s.table, list(s.cols), list(s.specs), density=density,
            flow=s.kw.get("flow", False), **common)
        pdf = self.ctx.query(sql)
        ids = [f"{c}_bin" for c in s.cols]
        if s.deliver == "numpy":
            return s.expect(check.dense(
                pdf, group_by, ids, value_col_name(list(s.cols), density)))
        return check.sorted_frame(s.expect(pdf), group_by + ids)


# ---------------------------------------------------------------------------
# shard_dedup: incremental dedup of incoming crawl shards
# ---------------------------------------------------------------------------

N_SHARDS = 8
KEEPER_SHARDS = (0, 1, 2, 3)
INCOMING = (4, 5, 6, 7)
VERDICT_COLS = ["doc_id", "dup_of_kept", "kept_match", "dup_within_new",
                "keep"]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class ShardDedup(Workload):
    """Each op takes one incoming shard through incremental dedup against
    the persisted band index, persists the verdicts, extends the index and
    appends the keepers' texts.  After every four-shard cycle the index and
    keeper corpus are restored to their set-up state."""

    name = "shard_dedup"
    block = len(INCOMING)  # whole cycles: every run times each shard

    def prepare(self) -> None:
        self.docs_path = data.documents(
            self.ctx.seed, self.ctx.size, self.ctx.scratch)
        rng = np.random.default_rng([self.ctx.seed, 4])
        self.cycle = [int(s) for s in rng.permutation(INCOMING)]
        root = self.ctx.scratch
        self.idx = os.path.join(root, "band_index")
        self.kept = os.path.join(root, "keeper_text")
        self.pristine = os.path.join(root, "pristine")
        self.verdicts = os.path.join(root, "verdicts")
        self.done = 0
        self.extend_bytes: list[float] = []

    def setup(self) -> None:
        from pyspark.sql import functions as F
        from xarray_histogram_spark.operators import dedup as dd

        k = self.ctx.threads
        self.docs = (self.spark.read.parquet(self.docs_path)
                     .repartition(k).cache())
        self.docs.count()
        keepers = self.docs.where(
            (F.col("doc_id") % N_SHARDS).isin(*KEEPER_SHARDS))
        dd.band_rows(keepers, "text", "doc_id").write.parquet(self.idx)
        keepers.write.parquet(self.kept)

    def teardown(self) -> None:
        self.docs.unpersist(blocking=True)
        shutil.rmtree(self.idx)
        shutil.rmtree(self.kept)

    def ready(self) -> None:
        """Keep the set-up state for the restores."""
        from pyspark.sql import functions as F

        os.makedirs(self.pristine)
        shutil.copytree(self.idx, os.path.join(self.pristine, "idx"))
        shutil.copytree(self.kept, os.path.join(self.pristine, "kept"))
        counts = (self.docs.groupBy((F.col("doc_id") % N_SHARDS).alias("s"))
                  .count().collect())
        self.n = {int(r["s"]): int(r["count"]) for r in counts}

    def shapes(self) -> list:
        return list(self.cycle)

    def rows(self, shape) -> int:
        return self.n[shape]

    def run(self, shape):
        from pyspark.sql import functions as F
        from xarray_histogram_spark.operators import dedup as dd

        ctx = self.ctx
        out = os.path.join(self.verdicts, f"op{self.done}")
        new = self.docs.where(F.col("doc_id") % N_SHARDS == shape)
        with ctx.tracer.span("sources.read"):
            kept = self.spark.read.parquet(self.kept)
            bands = self.spark.read.parquet(self.idx)
        with ctx.tracer.span("operators.dedup.build"):
            v = dd.incremental_dedup(new, kept, "text", "doc_id",
                                     kept_bands=bands)
        ctx.plan(v)
        with ctx.tracer.span("operators.dedup.probe"):
            v.write.parquet(out)
        with ctx.tracer.span("sources.read"):
            verdicts = self.spark.read.parquet(out)
        with ctx.tracer.span("operators.dedup.extend"):
            dd.extend_band_index(new, verdicts, self.idx, "text", "doc_id")
        with ctx.tracer.span("operators.dedup.append"):
            (new.join(verdicts.where(F.col("keep")).select("doc_id"),
                      "doc_id")
             .write.mode("append").parquet(self.kept))
        return out

    def collect(self, shape, out):
        pdf = self.spark.read.parquet(out).toPandas()
        shutil.rmtree(out)
        self._kept_docs = int(pdf["keep"].sum())
        return check.sorted_frame(pdf[VERDICT_COLS], ["doc_id"])

    def before_op(self) -> None:
        self._idx_bytes = _dir_bytes(self.idx)
        self._kept_docs = None  # set by collect when the op succeeded

    def after_op(self, shape) -> None:
        if self._kept_docs is not None:
            added = _dir_bytes(self.idx) - self._idx_bytes
            self.extend_bytes.append(added / max(self._kept_docs, 1))
        self.done += 1
        if self.done % len(self.cycle) == 0:
            for live, saved in ((self.idx, "idx"), (self.kept, "kept")):
                shutil.rmtree(live)
                shutil.copytree(os.path.join(self.pristine, saved), live)

    def oracle(self, shape):
        """The loop composed in DuckDB as ``dedup_extend_loop`` does:
        shard verdicts by ``incremental_dedup_sql`` against the keeper
        corpus so far, then that shard's keepers join the corpus."""
        from xarray_histogram_spark.operators import dedup as dd

        duck = self.ctx.duck
        if not hasattr(self, "_want"):
            duck.execute(
                "CREATE TABLE docs AS SELECT doc_id, text FROM "
                f"read_parquet('{self.docs_path}')")
            keepers = ", ".join(map(str, KEEPER_SHARDS))
            duck.execute(
                "CREATE TABLE kept AS SELECT doc_id, text FROM docs "
                f"WHERE doc_id % {N_SHARDS} IN ({keepers})")
            self._want = {}
            for s in self.cycle:
                shard = (f"SELECT doc_id, text FROM docs "
                         f"WHERE doc_id % {N_SHARDS} = {s}")
                sql = dd.incremental_dedup_sql(
                    shard, "SELECT doc_id, text FROM kept", "text", "doc_id")
                duck.execute(f"CREATE TABLE v{s} AS {sql}")
                duck.execute(
                    f"INSERT INTO kept SELECT d.doc_id, d.text FROM ({shard}) d "
                    f"JOIN v{s} v ON d.doc_id = v.doc_id WHERE v.keep")
                self._want[s] = check.sorted_frame(
                    self.ctx.query(f"SELECT {', '.join(VERDICT_COLS)} "
                                   f"FROM v{s}"), ["doc_id"])
        return self._want[shape]


WORKLOADS = {w.name: w for w in (AnalystSession, ShardDedup)}
