"""The two closed-loop, single-client workloads.

Each workload prepares its inputs, then runs cycles. A cycle is one timed
op followed by its output checks and the reads that serve its tables. The
checks after the op run on timed cycles only; a warm-up cycle fails only
if the op raises or reports a problem itself (a failed DAG task or a wrong
landed row count):

* ``elt_reload``: op = one full ``build_elt_dag(...).run()`` into a fresh
  warehouse; reads = the three ``SERVING_QUERIES`` (checked against what
  the generator says was landed) and seeded per-ticker date-range SQL
  (checked against DuckDB over the same parquet files).
* ``query_library``: op = one pass over the 6 library keys in a seeded
  order, each built with ``QUERIES[k](spark, sf)`` and run into a noop
  sink; the op time is the summed build and execute time, a read is one
  key, and each key's output digest must equal the committed oracle digest.

Both run Spark with its default cleaner. Before each op, outside its
timing, ``Ctx.settle`` waits until the cleaner has deleted the shuffle
files of the ops before it.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time
from dataclasses import dataclass, field
from datetime import timedelta

import engine
import gen
import querylib

RANGE_SQL = (
    "SELECT Date, Open, High, Low, Close, Volume FROM openclose "
    "WHERE Ticker = '{t}' AND Date BETWEEN DATE '{a}' AND DATE '{b}'"
)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    tracer: object
    local_dir: str  # Spark's local dir, where its shuffle files go
    # (root span id, wall seconds) of every traced op, for reconciliation
    traced_ops: list = field(default_factory=list)
    # (seconds waited, shuffle files left) of every settle()
    settles: list = field(default_factory=list)

    def settle(self) -> None:
        self.settles.append(engine.settle(self.spark, self.local_dir))


@dataclass
class Cycle:
    op_s: float = 0.0
    cpu_s: float = 0.0
    reads: list[float] = field(default_factory=list)
    problems: list[str] = field(default_factory=list)
    tasks: dict = field(default_factory=dict)  # DAG task -> TaskResult
    dag_s: float = 0.0
    files_written: int = 0
    bytes_written: int = 0
    traced: bool = False

    @property
    def ok(self) -> bool:
        return not self.problems


def run_op(ctx: Ctx, fn):
    """Run ``fn`` as one timed op: wall and process-tree CPU seconds, under
    a root span when tracing."""
    cpu0 = engine.tree_cpu_s()
    t0 = time.perf_counter()
    with ctx.tracer.span("op") as root:
        out = fn()
    wall = time.perf_counter() - t0
    cpu = engine.tree_cpu_s() - cpu0
    if root is not None:
        ctx.traced_ops.append((root.id, wall))
    return out, wall, cpu


def _sort_key(row):
    return tuple(repr(v) for v in row if not isinstance(v, float))


def same_rows(a, b) -> bool:
    """Equal as multisets of rows; floats equal to 1e-9 relative."""
    if len(a) != len(b):
        return False
    for x, y in zip(sorted(map(tuple, a), key=_sort_key), sorted(map(tuple, b), key=_sort_key)):
        if len(x) != len(y):
            return False
        for u, v in zip(x, y):
            if isinstance(u, float) or isinstance(v, float):
                if u is None or v is None or not math.isclose(u, v, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif u != v:
                return False
    return True


def parquet_sizes(path: str) -> list[int]:
    """Sizes of the parquet data files under ``path``."""
    return [
        os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(path)
        for n in names
        if n.endswith(".parquet")
    ]


class EltReload:
    name = "elt_reload"
    range_reads = 5
    warmup_max_ops = 8

    def __init__(self, ctx: Ctx):
        import duckdb

        from fortune_500_financial_insights_pipeline_spark import warehouse
        from fortune_500_financial_insights_pipeline_spark.plans import jobs

        self.ctx = ctx
        self.jobs = jobs
        self.serving = warehouse.SERVING_QUERIES
        self.rng = random.Random(ctx.seed)
        self.duck = duckdb.connect()
        self.feed: gen.Feed | None = None

    def close(self) -> None:
        self.duck.close()

    def prepare(self, rep: int) -> None:
        self.feed = gen.generate(os.path.join(self.ctx.work, f"raw{rep}"), self.ctx.seed)

    def enough(self, cycles: list[Cycle]) -> bool:
        return len(cycles) >= 3

    def cycle(self, i: int, check: bool) -> Cycle:
        wh = os.path.join(self.ctx.work, f"wh{i}")
        try:
            return self._cycle(wh, check)
        finally:
            # deleted here, not by the next reload: outside any timing
            shutil.rmtree(wh, ignore_errors=True)

    def _cycle(self, wh: str, check: bool) -> Cycle:
        c = Cycle()
        _, c.op_s, c.cpu_s = run_op(self.ctx, lambda: self._reload(wh, c))
        if c.problems:
            return c
        sizes = parquet_sizes(wh)
        c.files_written = len(sizes)
        c.bytes_written = sum(sizes)
        if check:
            self.duck.execute(
                "CREATE OR REPLACE VIEW openclose AS SELECT * FROM "
                f"read_parquet('{wh}/openclose/*/*.parquet', hive_partitioning = true)"
            )
            scored = self.duck.execute(
                f"SELECT count(TotalESG) FROM read_parquet('{wh}/sustainability/*.parquet')"
            ).fetchone()[0]
            if scored != self.feed.esg_scored:
                c.problems.append(
                    f"{scored} tickers with ESG scores, expected {self.feed.esg_scored}"
                )
        self._serve(c, check)
        return c

    def _reload(self, wh: str, c: Cycle) -> None:
        f, tr = self.feed, self.ctx.tracer
        with tr.span("plans.build_elt_dag"):
            dag = self.jobs.build_elt_dag(
                self.ctx.spark, f.kaggle_glob, f.api_glob, f.info_glob, f.esg_glob, wh
            )
        for task in dag.tasks.values():
            task.fn = tr.wrap(f"plans.task.{task.name}", task.fn)
        t0 = time.perf_counter()
        with tr.span("plans.run"):
            c.tasks = dag.run()
        c.dag_s = time.perf_counter() - t0
        for name, r in c.tasks.items():
            if r.status != "success":
                c.problems.append(f"task {name} {r.status}: {r.error}")
        want = {
            "transform_open_close": f.openclose_rows,
            "transform_info": f.info_rows,
            "transform_sustainability": f.esg_rows,
        }
        for task, rows in want.items():
            if c.tasks[task].output != rows:
                c.problems.append(f"{task} landed {c.tasks[task].output} rows, expected {rows}")

    def _read(self, sql: str, c: Cycle):
        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span("warehouse.serve_analyze"):
            df = self.ctx.spark.sql(sql)
        with tr.span("warehouse.serve_collect"):
            rows = df.collect()
        c.reads.append(time.perf_counter() - t0)
        return rows

    def _serve(self, c: Cycle, check: bool) -> None:
        """The serving queries, checked against what the generator says was
        landed, and the seeded date-range reads, checked by DuckDB."""
        checks = {
            "yearly_price_summary": self._check_yearly,
            "latest_close_per_ticker": self._check_latest,
            "price_with_metadata": self._check_metadata,
        }
        for name, sql in self.serving.items():
            rows = self._read(sql, c)
            if check:
                checks[name](rows, c)
        span_days = (gen.API_LAST - gen.KAGGLE_FIRST).days
        for _ in range(self.range_reads):
            a = gen.KAGGLE_FIRST + timedelta(days=self.rng.randrange(span_days))
            b = a + timedelta(days=self.rng.randrange(7, 120))
            sql = RANGE_SQL.format(t=self.rng.choice(gen.TICKERS), a=a, b=b)
            rows = self._read(sql, c)
            if check and not same_rows(rows, self.duck.execute(sql).fetchall()):
                c.problems.append(f"range read differs from DuckDB: {sql}")

    def _check_yearly(self, rows, c: Cycle) -> None:
        got: dict[str, list] = {}
        for r in rows:
            g = got.setdefault(r.Ticker, [0, 0, math.inf, -math.inf, 0.0])
            g[0] += r.trading_days
            g[1] += r.total_volume
            g[2] = min(g[2], r.yr_low)
            g[3] = max(g[3], r.yr_high)
            g[4] += r.avg_close * r.trading_days
        for t, a in self.feed.per_ticker.items():
            g = got.get(t)
            if g is None or g[:4] != [a.rows, a.volume, a.low, a.high] or not math.isclose(
                g[4], a.close, rel_tol=1e-9
            ):
                c.problems.append(f"yearly_price_summary for {t}: {g} != {a}")

    def _check_latest(self, rows, c: Cycle) -> None:
        got = {r.Ticker: (r.Date, r.Close) for r in rows}
        want = {t: (a.last_date, a.last_close) for t, a in self.feed.per_ticker.items()}
        if got != want:
            c.problems.append("latest_close_per_ticker differs from the feed")

    def _check_metadata(self, rows, c: Cycle) -> None:
        got = {r.Ticker: (r.Sector, r.total_volume) for r in rows}
        want = {t: (self.feed.sectors[t], a.volume) for t, a in self.feed.per_ticker.items()}
        if got != want:
            c.problems.append("price_with_metadata differs from the feed")


class QueryLibrary:
    name = "query_library"
    warmup_max_ops = 5

    def __init__(self, ctx: Ctx):
        from fortune_500_financial_insights_pipeline_spark.queries import QUERIES

        self.ctx = ctx
        self.queries = QUERIES
        self.rng = random.Random(ctx.seed)

    def close(self) -> None:
        pass

    def prepare(self, rep: int) -> None:
        import pyarrow.parquet as pq

        from fortune_500_financial_insights_pipeline_spark.catalog import TABLES

        self.expected = querylib.load_expected()
        missing = [k for k in querylib.KEYS if k not in self.expected or k not in self.queries]
        if missing:
            raise RuntimeError(f"no query or expected digest for {missing}")
        for t in TABLES:
            pq.read_metadata(os.path.join(querylib.DATA_DIR, f"{t}.parquet"))

    def enough(self, cycles: list[Cycle]) -> bool:
        return len(cycles) >= 2

    def cycle(self, i: int, check: bool) -> Cycle:
        c = Cycle()
        keys = list(querylib.KEYS)
        self.rng.shuffle(keys)
        for k in keys:

            def op():
                tr = self.ctx.tracer
                with tr.span(f"queries.build.{k}"):
                    df = self.queries[k](self.ctx.spark, querylib.DATA_DIR)
                with tr.span(f"operators.exec.{k}"):
                    df.write.format("noop").mode("overwrite").save()
                return df

            df, wall, cpu = run_op(self.ctx, op)
            c.op_s += wall
            c.cpu_s += cpu
            c.reads.append(wall)
            if check:
                got = querylib.digest(df.toPandas())
                if got != self.expected[k]:
                    c.problems.append(f"{k} digest {got} != expected {self.expected[k]}")
            # a key's cached and checkpointed blocks and shuffle files go
            # before the next key's timing starts
            del df
            self.ctx.settle()
        return c


WORKLOADS = {w.name: w for w in (EltReload, QueryLibrary)}
