"""The four benchmark workloads.

Each workload drives the engine only through its public modules:
``findb_spark.layout`` (bulk load, open, scan metrics), ``findb_spark.asof``
(the as-of operators), ``findb_spark.versioning`` (versioned commits and
reads) and the ``findb_spark.registry`` specs.  The engine receives only
the parquet written by ``perfbench.gen``; expected answers come from
DuckDB over the same files, computed after the timed window.

Why these four: ``point_asof`` is bound by driver planning and job
scheduling (one small query), ``backtest_batch`` by executor scan, join,
aggregation and shuffle over the whole table, ``revise_read`` puts
whole-table commits beside reads of the versions they create, and
``pipeline_suite`` covers the data-pipeline operators of the registry.
A gain in one of those costs should move one workload and leave another
flat.  BENCHMARK.json lists ``revise_read`` and ``pipeline_suite`` only,
so that its runs fit their time budget (see README.md); the other two run
with the same command.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import gen
from perfbench.stats import median, tail


@dataclass
class OpResult:
    i: int
    latency_s: float
    rows: int = 0
    #: what verify() compares against the expected answer
    check: object = None
    error: str | None = None
    #: sub-step latencies, by step name
    steps: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    workdir: str
    #: table name -> (rows, bytes) of every generated input
    inputs: dict = field(default_factory=dict)
    #: per-layer numbers recorded during setup
    setup_layers: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)


def _dir_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring commit markers."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


#: bulk-load repetitions in setup; setup reports the median
LOAD_REPS = 3
#: files the bulk load lays the prices table out in
LOAD_FILES = 16


class Workload:
    name = ""
    #: closed-loop clients issuing ops
    clients = 1
    #: untimed ops before the window; JIT compilation keeps speeding ops up
    #: for the first few
    warm_ops = 1

    def warm_up(self, ctx: Ctx, counter) -> list[OpResult]:
        """Untimed ops at full size: they pay the session's first-job, JIT
        and codegen costs for this workload's plans before the window.
        Their answers are still checked."""
        return [self.op(ctx, next(counter)) for _ in range(self.warm_ops)]

    def figures(self, results: list[OpResult]) -> dict[str, tuple[float, str]]:
        """Named figures beyond the common end-to-end metrics: (value, unit)."""
        return {}

    def scan_ratio(self, ctx: Ctx, results: list[OpResult]) -> tuple[float, float]:
        """(files scanned per query, rows scanned per row returned)."""
        return 0.0, 0.0

    def storage(self) -> dict[str, float]:
        return {}


class PricesWorkload(Workload):
    """Shared set-up of the as-of workloads: generate a revision-heavy
    prices table and bulk-load it ``LOAD_REPS`` times, keeping the last."""

    n_assets, n_days, mean_revisions = 300, 750, 2.0

    def load(self, ctx: Ctx, dest: str) -> None:
        from findb_spark.layout import write_prices

        with ctx.tracer.span("layout.write_prices"):
            write_prices(ctx.spark.read.parquet(self.src), dest, num_partitions=LOAD_FILES)

    def setup(self, ctx: Ctx) -> None:
        t0 = time.perf_counter()
        table = gen.gen_prices(
            np.random.default_rng([ctx.seed, gen.TAG_TABLE]),
            self.n_assets, self.n_days, self.mean_revisions,
        )
        self.src = ctx.path("in", "prices.parquet")
        ctx.inputs["prices"] = (table.num_rows, gen.write_table(table, self.src))
        ts = table["ts"].to_numpy()
        self.ts_min, self.ts_max = int(ts.min()), int(ts.max())
        self.universe = gen.PriceUniverse(ctx.seed, self.n_assets, self.n_days, self.ts_max)
        self.rows = table.num_rows
        self.user_bytes = self.rows * gen.PRICE_ROW_BYTES
        gen_s = time.perf_counter() - t0
        loads = []
        for rep in range(LOAD_REPS):
            self.table = ctx.path(f"table_{rep}")
            t0 = time.perf_counter()
            self.load(ctx, self.table)
            loads.append(time.perf_counter() - t0)
            if rep < LOAD_REPS - 1:
                shutil.rmtree(self.table)
        self.loaded_bytes, nfiles = _dir_bytes_files(self.table)
        ctx.setup_layers.update(
            {
                "gen_s": gen_s,
                "layout.load_s": median(loads),
                "layout.bytes_written": self.loaded_bytes,
                "layout.files_written": nfiles,
                "layout.bytes_per_user_byte": self.loaded_bytes / self.user_bytes,
            }
        )

    def scan_sample(self, build) -> tuple[int, int]:
        """(files, rows) the file scans of a rebuilt op read, executed once
        more outside any timed span."""
        from findb_spark.layout import scan_metrics

        scans = scan_metrics(build())
        return (
            sum(s.get("numFiles", 0) for s in scans),
            sum(s.get("numOutputRows", 0) for s in scans),
        )


class PointAsof(PricesWorkload):
    name = "point_asof"
    clients = 2

    def _query(self, ctx: Ctx, i: int):
        from findb_spark.asof import asof_range
        from findb_spark.layout import read_prices

        asset, start, end, asof = gen.point_query(ctx.seed, i, self.universe)
        tr = ctx.tracer
        with tr.span("layout.read_prices", i):
            src = read_prices(ctx.spark, self.table)
        with tr.span("asof.build", i):
            return asof_range(src, asset, start, end, asof), (asset, start, end, asof)

    def op(self, ctx: Ctx, i: int) -> OpResult:
        t0 = time.perf_counter()
        df, params = self._query(ctx, i)
        with ctx.tracer.span("asof.exec", i):
            rows = df.collect()
        lat = time.perf_counter() - t0
        got = [(r.asset_id, r.date, r.ts, r.value) for r in rows]
        return OpResult(i, lat, len(got), (params, got))

    def verify(self, ctx: Ctx, results: list[OpResult]) -> list[int]:
        ok = [r for r in results if r.error is None]
        want = gen.expected_ranges([self.src], [r.check[0] for r in ok])
        return [r.i for r, w in zip(ok, want) if r.check[1] != w]

    def scan_ratio(self, ctx: Ctx, results: list[OpResult]) -> tuple[float, float]:
        sample = [r for r in results if r.error is None and r.rows][:4]
        files = rows = returned = 0
        for r in sample:
            f, n = self.scan_sample(lambda: self._query(ctx, r.i)[0])
            files, rows, returned = files + f, rows + n, returned + r.rows
        return (files / len(sample), rows / returned) if sample else (0.0, 0.0)


#: as-of queries per backtest batch, and trade probes per as-of join
BATCH_QUERIES = 400
JOIN_PROBES = 50_000


class BacktestBatch(PricesWorkload):
    """One op is one backtest step: an ``asof_batch`` of multi-year queries
    followed by an ``asof_join`` marking a batch of trades to quotes; both
    run to a noop sink, with an observed checksum."""

    name = "backtest_batch"
    # the second op still runs ~25% slower than the steady state
    warm_ops = 2

    def _inputs(self, ctx: Ctx, i: int) -> tuple[str, str]:
        qp, pp = ctx.path("in", f"batch_{i}.parquet"), ctx.path("in", f"probes_{i}.parquet")
        gen.write_table(gen.batch_queries(ctx.seed, i, self.universe, BATCH_QUERIES), qp)
        gen.write_table(gen.probes(ctx.seed, i, self.universe, JOIN_PROBES, self.ts_min), pp)
        return qp, pp

    def _batch(self, ctx: Ctx, i: int, qp: str):
        from findb_spark.asof import asof_batch
        from findb_spark.layout import read_prices

        with ctx.tracer.span("layout.read_prices", i):
            src = read_prices(ctx.spark, self.table)
        with ctx.tracer.span("asof.build", i):
            return asof_batch(src, ctx.spark.read.parquet(qp))

    def _join(self, ctx: Ctx, i: int, pp: str):
        from findb_spark.asof import asof_join
        from findb_spark.layout import read_prices

        with ctx.tracer.span("layout.read_prices", i):
            src = read_prices(ctx.spark, self.table)
        with ctx.tracer.span("asof.build", i):
            return asof_join(ctx.spark.read.parquet(pp), src, on="asset_id", left_time="qts")

    def _run(self, ctx: Ctx, i: int, df, exprs) -> tuple[int, ...]:
        from pyspark.sql import Observation

        obs = Observation(f"checksum_{i}")
        with ctx.tracer.span("asof.exec", i):
            df.observe(obs, *[e.alias(f"c{k}") for k, e in enumerate(exprs)]).write.format(
                "noop"
            ).mode("overwrite").save()
        got = obs.get
        return tuple(int(got[f"c{k}"] or 0) for k in range(len(exprs)))

    def op(self, ctx: Ctx, i: int) -> OpResult:
        from pyspark.sql import functions as F

        qp, pp = self._inputs(ctx, i)
        t0 = time.perf_counter()
        b = self._run(
            ctx, i, self._batch(ctx, i, qp),
            [
                F.count(F.lit(1)), F.sum("ts"),
                F.sum(F.round(F.col("value") * 100).cast("bigint")),
                F.sum(F.pmod(F.col("query_id") * 1000003 + F.col("date").cast("bigint") * 31 + F.col("ts"), F.lit(1000000007))),
            ],
        )
        t1 = time.perf_counter()
        mts, mval = F.coalesce(F.col("matched_ts"), F.lit(0)), F.coalesce(F.col("matched_value"), F.lit(0.0))
        j = self._run(
            ctx, i, self._join(ctx, i, pp),
            [
                F.count(F.lit(1)), F.sum(mts),
                F.sum(F.round(mval * 100).cast("bigint")),
                F.sum(F.pmod(F.col("probe_id") * 1000003 + mts, F.lit(1000000007))),
            ],
        )
        t2 = time.perf_counter()
        return OpResult(i, t2 - t0, b[0] + j[0], (qp, pp, b, j), steps={"batch": t1 - t0, "join": t2 - t1})

    def figures(self, results: list[OpResult]) -> dict[str, tuple[float, str]]:
        return {
            f"{step}_p50_ms": (median([r.steps[step] for r in results if r.steps]) * 1e3, "ms")
            for step in ("batch", "join")
        }

    def verify(self, ctx: Ctx, results: list[OpResult]) -> list[int]:
        bad = []
        for r in results:
            if r.error is not None:
                continue
            qp, pp, b, j = r.check
            if b != gen.expected_batch_checksum(self.src, qp) or j != gen.expected_join_checksum(self.src, pp):
                bad.append(r.i)
        return bad

    def scan_ratio(self, ctx: Ctx, results: list[OpResult]) -> tuple[float, float]:
        ok = [r for r in results if r.error is None]
        if not ok:
            return 0.0, 0.0
        r = ok[0]
        rows_returned = r.check[2][0]
        files, rows = self.scan_sample(lambda: self._batch(ctx, r.i, r.check[0]))
        return float(files), rows / max(rows_returned, 1)


#: revise_read: share of the table each commit revises, and reads per commit
REVISE_FRACTION = 0.01
READS_AFTER_COMMIT = 3


class ReviseRead(PricesWorkload):
    """One op: commit ~1% of rows as revisions (a new table version), read
    revised keys at a knowledge time after the commit, then read one
    revised key just before it."""

    name = "revise_read"
    warm_ops = 3
    n_assets = 40
    #: v1 is bulk-loaded clustered, like the prices table of the other workloads
    load_files = 4

    def load(self, ctx: Ctx, dest: str) -> None:
        from findb_spark.layout import cluster_prices
        from findb_spark.versioning import commit_version

        with ctx.tracer.span("versioning.commit_version"):
            clustered = cluster_prices(ctx.spark.read.parquet(self.src), self.load_files)
            commit_version(clustered, dest, expected_base=0)

    def setup(self, ctx: Ctx) -> None:
        super().setup(ctx)
        self.t0 = self.ts_max + gen.REVISION_STEP_S
        self.n_revs = max(1, int(self.rows * REVISE_FRACTION))
        self.committed: list[str] = []

    def _read(self, ctx: Ctx, i: int, q: tuple[int, int, int, int]):
        from findb_spark.asof import asof_range
        from findb_spark.versioning import read_version

        with ctx.tracer.span("versioning.read_version", i):
            src = read_version(ctx.spark, self.table)
        with ctx.tracer.span("asof.build", i):
            return asof_range(src, *q)

    def op(self, ctx: Ctx, i: int) -> OpResult:
        from findb_spark.asof import add_revisions
        from findb_spark.versioning import commit_version, read_version

        k = i + 1  # version k is the head this op builds on
        revs = gen.revisions(ctx.seed, k, self.universe, self.n_revs, self.t0)
        rev_path = ctx.path("in", f"revisions_{k}.parquet")
        gen.write_table(revs, rev_path)
        reads = gen.revision_reads(ctx.seed, k, self.universe, revs, READS_AFTER_COMMIT, self.t0)
        tr = ctx.tracer
        t0 = time.perf_counter()
        with tr.span("versioning.read_version", i):
            head = read_version(ctx.spark, self.table)
        with tr.span("versioning.commit_version", i):
            commit_version(add_revisions(head, ctx.spark.read.parquet(rev_path)), self.table, expected_base=k)
        self.committed.append(rev_path)
        commit_s = time.perf_counter() - t0
        read_s, rows, got = [], 0, []
        for q in reads:
            t1 = time.perf_counter()
            df = self._read(ctx, i, q)
            with tr.span("asof.exec", i):
                out = df.collect()
            read_s.append(time.perf_counter() - t1)
            got.append((q, [(r.asset_id, r.date, r.ts, r.value) for r in out]))
            rows += len(out)
        return OpResult(
            i, time.perf_counter() - t0, rows, got,
            steps={"commit": commit_s, "reads": read_s},
        )

    def verify(self, ctx: Ctx, results: list[OpResult]) -> list[int]:
        ok = [r for r in results if r.error is None]
        flat = [(r.i, q, got) for r in ok for q, got in r.check]
        # revisions of later commits carry later knowledge times than any
        # read of an earlier op, so one table of every commit answers all
        want = gen.expected_ranges([self.src, *self.committed], [q for _, q, _ in flat])
        return sorted({i for (i, _q, got), w in zip(flat, want) if got != w})

    def scan_ratio(self, ctx: Ctx, results: list[OpResult]) -> tuple[float, float]:
        sample = [(r, q, got) for r in results if r.error is None for q, got in r.check if got][:4]
        files = rows = returned = 0
        for r, q, got in sample:
            f, n = self.scan_sample(lambda: self._read(ctx, r.i, q))
            files, rows, returned = files + f, rows + n, returned + len(got)
        return (files / len(sample), rows / returned) if sample else (0.0, 0.0)

    def figures(self, results: list[OpResult]) -> dict[str, tuple[float, str]]:
        reads = [x for r in results for x in r.steps.get("reads", [])]
        pct, read_tail = tail(reads)
        return {
            "commit_p50_ms": (median([r.steps["commit"] for r in results if r.steps]) * 1e3, "ms"),
            "read_p50_ms": (median(reads) * 1e3, "ms"),
            "read_tail_ms": (read_tail * 1e3, "ms"),
            "read_tail_percentile": (pct, "%"),
            "reads": (len(reads), "count"),
            "bytes_stored_per_user_byte": (self.storage()["bytes_stored_per_user_byte"], "ratio"),
        }

    def storage(self) -> dict[str, float]:
        """Bytes on disk after the run, per byte of user data."""
        from findb_spark.versioning import list_versions

        versions = list_versions(self.table)
        total = sum(_dir_bytes_files(p)[0] for p in versions.values())
        _, files = _dir_bytes_files(versions[max(versions)])
        rev_user = len(self.committed) * self.n_revs * gen.PRICE_ROW_BYTES
        return {
            "bytes_stored_per_user_byte": total / (self.user_bytes + rev_user),
            "versioning.bytes_written_per_user_byte": (total - self.loaded_bytes) / rev_user if rev_user else 0.0,
            "versioning.files_per_version": float(files),
        }


#: One registry spec per operator category, chosen so a pass fits a run:
#: the full bench-flagged set outside ``asof`` takes ~22 s per warm pass on
#: 4 cores, longer than a whole run may take.
SUITE_SPECS = (
    "q3_top_orders",          # relational
    "ts_moving_avg",          # timeseries
    "events_sessionize",      # events
    "text_token_stats",       # text
    "dedup_ngram_jaccard",    # dedup: per-session memo
    "vec_pq_search",          # vector: trained-codebook memo
    "pipeline_pretrain_mix",  # pipeline
)
#: the suite tables' scale (orders / 1,000)
SUITE_SCALE = 1


class PipelineSuite(Workload):
    """One op is one pass over SUITE_SPECS, each built and run to a noop
    sink; ``release_caches`` runs between passes, outside the timed span."""

    name = "pipeline_suite"
    # passes keep speeding up for two passes after the oracle check; with
    # fewer warm passes the window's pass count biases the median
    warm_ops = 2

    def setup(self, ctx: Ctx) -> None:
        from findb_spark.registry import all_specs
        from findb_spark.session import load_table

        t0 = time.perf_counter()
        self.sf_dir = ctx.path("in", "suite")
        rng = np.random.default_rng([ctx.seed, gen.TAG_SUITE])
        for name, t in gen.gen_suite_tables(rng, SUITE_SCALE).items():
            ctx.inputs[name] = (t.num_rows, gen.write_table(t, os.path.join(self.sf_dir, f"{name}.parquet")))
        for name in ctx.inputs:
            load_table(ctx.spark, self.sf_dir, name)  # primes the schema cache
        specs = all_specs()
        self.specs = [specs[n] for n in SUITE_SPECS]
        ctx.setup_layers.update({"gen_s": time.perf_counter() - t0})
        self.pq_memo_at_pass_start: list[bool] = []
        self.problems: dict[str, list[str]] = {}
        self.rows_per_pass = 0

    def warm_up(self, ctx: Ctx, counter) -> list[OpResult]:
        """``oracle.compare_query`` once per spec, which also executes every
        spec once, then untimed passes."""
        from findb_spark.oracle import compare_query, duck_connection
        from findb_spark.session import release_caches

        con = duck_connection(self.sf_dir)
        for s in self.specs:
            p = compare_query(ctx.spark, con, s.fn, s.sql, self.sf_dir, name=s.name)
            if p:
                self.problems[s.name] = p
            self.rows_per_pass += con.execute(f"SELECT count(*) FROM ({s.sql})").fetchone()[0]
        con.close()
        release_caches(ctx.spark)
        return super().warm_up(ctx, counter)

    def op(self, ctx: Ctx, i: int) -> OpResult:
        from findb_spark.queries.vector_queries import _PQ_CB_MEMO
        from findb_spark.session import release_caches

        self.pq_memo_at_pass_start.append(bool(_PQ_CB_MEMO))
        tr = ctx.tracer
        steps = {}
        t0 = time.perf_counter()
        for s in self.specs:
            t1 = time.perf_counter()
            with tr.span(f"suite.{s.name}.build", i):
                df = s.fn(ctx.spark, self.sf_dir)
            t2 = time.perf_counter()
            with tr.span(f"suite.{s.name}.run", i):
                df.write.format("noop").mode("overwrite").save()
            steps[s.name] = (t2 - t1, time.perf_counter() - t2)
        lat = time.perf_counter() - t0
        release_caches(ctx.spark)
        return OpResult(i, lat, self.rows_per_pass, None, steps=steps)

    def figures(self, results: list[OpResult]) -> dict[str, tuple[float, str]]:
        return {
            "pass_s": (median([r.latency_s for r in results if r.error is None]), "s"),
            "pq_memo_hits_at_pass_start": (sum(self.pq_memo_at_pass_start), "count"),
            "oracle_mismatches": (len(self.problems), "count"),
        }

    def verify(self, ctx: Ctx, results: list[OpResult]) -> list[int]:
        # the oracle check covers every spec once per run; a mismatch there
        # fails every pass that ran the mismatching spec
        return [r.i for r in results if r.error is None] if self.problems else []


WORKLOADS = {w.name: w for w in (PointAsof, BacktestBatch, ReviseRead, PipelineSuite)}
