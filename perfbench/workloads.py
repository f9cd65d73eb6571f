"""The three closed-loop workloads: one client, one op at a time.

``prepare`` generates and loads a workload's inputs (timed as set-up);
``op(ctx, k)`` runs op ``k``, where op 0 is the warm-up (part of
set-up). ``op_s`` is a nominal op latency (4-vCPU VM, at the commit that
added the benchmark): a run plans its op count from it, in whole
``cycle``s, so every run of a given ``--seconds`` runs the same ops
however fast the program is. Each phase of a traced run runs
``trace_ops`` ops. An op's latency covers what its user waits for: the
public API calls and the collect of the returned table. Generating
inputs, updating the registry's model and the DuckDB check happen
outside that interval.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from data import ANALYZED, CATEGORICAL, CONT_LOWCARD, CONT_NEARUNIQUE, WEIGHT, cohort, write_parts
from oracle import Oracle
from procstat import tree_cpu_s


class Api:
    """The public entry points an op calls, optionally spanned."""

    def __init__(self, tracer=None):
        from tableone_pyspark_spark import tableone
        from tableone_pyspark_spark.sources import tablelog as tl

        wrap = tracer.wrap if tracer is not None else (lambda _name, fn: fn)
        self.tableone = wrap("engine.tableone", tableone)
        self.collect = wrap("engine.result_collect", lambda df: df.collect())
        self.commit = tl.commit
        self.merge_rows = wrap("tablelog.merge_rows", tl.merge_rows)
        self.delete_rows = wrap("tablelog.delete_rows", tl.delete_rows)
        self.optimize = wrap("tablelog.optimize", tl.optimize)
        self.read_version = wrap("tablelog.read_version", tl.read_version)
        self.describe_detail = tl.describe_detail


@dataclass
class OpResult:
    latency_s: float
    cpu_s: float  # driver, JVM and Python-worker CPU during the op
    rows: int  # input rows the op summarized
    errors: list[str]


class Timer:
    """Wall time and process-tree CPU of one op; its span when tracing."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.wall = self.cpu = 0.0

    def __enter__(self):
        self._span = self.tracer.span("op") if self.tracer is not None else contextlib.nullcontext()
        self._span.__enter__()
        self.cpu = tree_cpu_s(os.getpid())
        self.wall = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.wall
        self.cpu = tree_cpu_s(os.getpid()) - self.cpu
        self._span.__exit__(*exc)
        return False


@dataclass
class Ctx:
    spark: object
    api: Api
    oracle: Oracle
    root: str  # this workload's scratch directory
    seed: int
    scale: float
    tracer: object = None

    def timer(self) -> Timer:
        return Timer(self.tracer)


def _analyzed(cols: list[str]) -> list[tuple[str, str]]:
    return [(c, "cat" if c in CATEGORICAL else "cont") for c in cols]


def _scaled(n: int, scale: float) -> int:
    return max(200, int(n * scale))


def _table_one(ctx: Ctx, df, strat: str, cols: list[str], p_values=False, beautify=False,
               weight=None) -> list[dict]:
    out = ctx.api.tableone(df, col_to_strat=strat, cols_to_analyze=cols, p_values=p_values,
                           beautify=beautify, weight_col=weight)
    return [r.asDict() for r in ctx.api.collect(out)]


def _check(ctx: Ctx, source: str, result: list[dict], strat: str, cols: list[str],
           p_values: bool, beautify: bool, weight, exp=None) -> tuple[list[str], dict]:
    analyzed = _analyzed(cols)
    if exp is None:
        exp = ctx.oracle.expect(source, strat, [c for c, k in analyzed if k == "cat"],
                                [c for c, k in analyzed if k == "cont"], weight)
    return ctx.oracle.check(result, exp, strat, analyzed, weight, p_values, beautify), exp


def _sql_files(paths: list[str]) -> str:
    return "read_parquet([" + ", ".join("'" + p + "'" for p in paths) + "])"


class CohortFull:
    """One cohort over several multi-row-group files; ops cycle through
    four TableOne shapes over all analyzed columns."""

    name = "cohort_full"
    cycle = 4  # one op of each shape
    trace_ops = 4
    op_s = 5.0
    ROWS = 200_000
    FILES = 8
    SHAPES = [
        dict(strat=""),
        dict(strat="arm"),
        dict(strat="arm", p_values=True, beautify=True),
        dict(strat="arm", weight=WEIGHT),
    ]

    def prepare(self, ctx: Ctx) -> None:
        rng = np.random.default_rng(ctx.seed)
        self.n = _scaled(self.ROWS, ctx.scale)
        self.files = write_parts(cohort(rng, self.n), os.path.join(ctx.root, "cohort"),
                                 self.FILES, row_groups_per_file=4)
        self.df = ctx.spark.read.parquet(*self.files)
        self.expected: dict[int, dict] = {}

    def op(self, ctx: Ctx, k: int) -> OpResult:
        i = k % len(self.SHAPES)
        shape = self.SHAPES[i]
        kw = dict(p_values=shape.get("p_values", False), beautify=shape.get("beautify", False),
                  weight=shape.get("weight"))
        with ctx.timer() as t:
            result = _table_one(ctx, self.df, shape["strat"], ANALYZED, **kw)
        errs, self.expected[i] = _check(ctx, _sql_files(self.files), result, shape["strat"],
                                        ANALYZED, exp=self.expected.get(i), **kw)
        return OpResult(t.wall, t.cpu, self.n, errs)


class CohortInteractive:
    """An analyst session: small sub-cohorts, each in its own files, with
    the strat column, analyzed columns and flags drawn from the seed.

    The seed deals out the columns and flags, but every session has the
    same mix: 24 distinct calls over 600k rows; each strat column six
    times; one low-cardinality and one near-unique continuous column per
    call, each column twelve times; one or two categoricals per call (one
    call of each size pair has two), each categorical twelve times;
    p-values on two of the three stratified calls in each block of four;
    beautify on a third of the calls."""

    name = "cohort_interactive"
    #: sub-cohort sizes in session order: each pair sums to 50k rows
    SIZES = [5_000, 45_000, 12_000, 38_000, 20_000, 30_000] * 4
    STRATS = ["arm", "sex", "treated", ""]
    cycle = len(SIZES)  # the whole session, so every run has the same mix
    trace_ops = len(SIZES) // 2  # whole strat blocks and size pairs
    op_s = 1.3

    def prepare(self, ctx: Ctx) -> None:
        rng = np.random.default_rng(ctx.seed)
        n, block = self.cycle, len(self.STRATS)
        strats = [str(s) for _ in range(n // block) for s in rng.permutation(self.STRATS)]
        p_values = set()
        for b in range(0, n, block):
            stratified = [j for j in range(b, b + block) if strats[j]]
            p_values |= set(rng.choice(stratified, size=2, replace=False).tolist())
        beautify = set(rng.permutation(n)[: n // 3].tolist())
        lowcard = rng.permutation(CONT_LOWCARD * (n // len(CONT_LOWCARD)))
        nearunique = rng.permutation(CONT_NEARUNIQUE * (n // len(CONT_NEARUNIQUE)))
        two_cats = {j + int(rng.integers(2)) for j in range(0, n, 2)}
        # n/2 calls name one categorical, n/2 name all but one
        single = iter(rng.permutation(CATEGORICAL * (n // 2 // len(CATEGORICAL))))
        left_out = iter(rng.permutation(CATEGORICAL * (n // 2 // len(CATEGORICAL))))
        self.calls = []
        for j, rows in enumerate(self.SIZES):
            rows = _scaled(rows, ctx.scale)
            if j in two_cats:
                skip = next(left_out)
                cat = [c for c in CATEGORICAL if c != skip]
            else:
                cat = [next(single)]
            cols = [c for c in ANALYZED if c in (lowcard[j], nearunique[j], *cat)]
            files = write_parts(cohort(rng, rows), os.path.join(ctx.root, f"sub{j:02d}"),
                                files=2, row_groups_per_file=2)
            self.calls.append(dict(files=files, rows=rows, strat=strats[j], cols=cols,
                                   p_values=j in p_values, beautify=j in beautify))
        self.expected: dict[int, dict] = {}

    def op(self, ctx: Ctx, k: int) -> OpResult:
        i = (k - 1) % self.cycle  # op 1 opens the session; the warm-up op 0 takes the last call
        c = self.calls[i]
        with ctx.timer() as t:
            df = ctx.spark.read.parquet(*c["files"])
            result = _table_one(ctx, df, c["strat"], c["cols"], c["p_values"], c["beautify"])
        errs, self.expected[i] = _check(ctx, _sql_files(c["files"]), result, c["strat"], c["cols"],
                                        c["p_values"], c["beautify"], None, self.expected.get(i))
        return OpResult(t.wall, t.cpu, c["rows"], errs)


class RegistryRefresh:
    """A rolling registry on a tablelog table. Each op upserts a day's
    admissions plus corrections, drops the oldest day, optimizes every
    fifth op (the warm-up op 0, then ops 5, 10, ...), and runs TableOne
    on the latest version. DuckDB keeps the live set the generator knows."""

    name = "registry_refresh"
    cycle = 5  # one optimize per five ops
    trace_ops = 5
    op_s = 4.2
    LIVE = 50_000
    DAYS = 20
    CORRECTIONS = 0.01  # share of the live set re-measured per op
    STRAT = "arm"

    def prepare(self, ctx: Ctx) -> None:
        self.rng = np.random.default_rng(ctx.seed)
        n = _scaled(self.LIVE, ctx.scale)
        self.per_day = n // self.DAYS
        base = cohort(self.rng, n)
        base = base.set_column(base.schema.get_field_index("day"), "day",
                               pa.array(np.arange(n, dtype=np.int64) * self.DAYS // n))
        self.table = os.path.join(ctx.root, "registry")
        self.batches = os.path.join(ctx.root, "batches")
        os.makedirs(self.batches, exist_ok=True)
        files = write_parts(base, os.path.join(ctx.root, "initial"), files=4, row_groups_per_file=2)
        ctx.api.commit(ctx.spark, ctx.spark.read.parquet(*files), self.table)
        con = ctx.oracle.con
        con.execute("DROP TABLE IF EXISTS live")
        con.execute(f"CREATE TABLE live AS SELECT * FROM {_sql_files(files)}")
        self.next_pid, self.oldest, self.today = n, 0, self.DAYS
        self.source_bytes = 0

    def _batch(self, ctx: Ctx, k: int) -> tuple[str, pa.Table]:
        con = ctx.oracle.con
        live = con.execute("SELECT pid, day FROM live ORDER BY pid").fetchnumpy()
        m = min(len(live["pid"]), int(len(live["pid"]) * self.CORRECTIONS) + 1)
        pick = np.sort(self.rng.choice(len(live["pid"]), size=m, replace=False))
        fixes = cohort(self.rng, m)
        fixes = fixes.set_column(0, "pid", pa.array(live["pid"][pick]))
        fixes = fixes.set_column(1, "day", pa.array(live["day"][pick]))
        new = cohort(self.rng, self.per_day, first_pid=self.next_pid, day=self.today)
        self.next_pid += self.per_day
        batch = pa.concat_tables([new, fixes])
        path = os.path.join(self.batches, f"batch-{k:05d}.parquet")
        pq.write_table(batch, path)
        self.source_bytes += os.path.getsize(path)
        return path, batch

    def op(self, ctx: Ctx, k: int) -> OpResult:
        from pyspark.sql import functions as F

        path, batch = self._batch(ctx, k)
        spark, api = ctx.spark, ctx.api
        with ctx.timer() as t:
            api.merge_rows(spark, self.table, spark.read.parquet(path), ["pid"])
            api.delete_rows(spark, self.table, F.col("day") == self.oldest)
            if k % self.cycle == 0:
                api.optimize(spark, self.table)
            result = _table_one(ctx, api.read_version(spark, self.table), self.STRAT, ANALYZED,
                                p_values=True)
        con = ctx.oracle.con
        con.register("batch", batch)
        con.execute("DELETE FROM live WHERE pid IN (SELECT pid FROM batch)")
        con.execute("INSERT INTO live SELECT * FROM batch")
        con.execute(f"DELETE FROM live WHERE day = {self.oldest}")
        con.unregister("batch")
        self.oldest += 1
        self.today += 1
        rows = con.execute("SELECT count(*) FROM live").fetchone()[0]
        errs, _ = _check(ctx, "live", result, self.STRAT, ANALYZED, True, False, None)
        return OpResult(t.wall, t.cpu, rows, errs)

    def layout(self, ctx: Ctx) -> dict:
        """Live/deletion-vector file counts and on-disk bytes of the table."""
        det = ctx.api.describe_detail(ctx.spark, self.table, with_size=True)
        disk = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(self.table) for f in fs)
        return {"live_files": det["n_files"], "dv_files": det["n_dv_files"],
                "live_bytes": det["size_bytes"], "disk_bytes": disk}

    def compact_live_bytes(self, ctx: Ctx) -> int:
        path = os.path.join(ctx.root, "live-compact.parquet")
        pq.write_table(ctx.oracle.con.execute("SELECT * FROM live").arrow(), path)
        size = os.path.getsize(path)
        os.remove(path)
        return size


WORKLOADS = {w.name: w for w in (CohortFull, CohortInteractive, RegistryRefresh)}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
