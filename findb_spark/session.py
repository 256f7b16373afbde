"""SparkSession builder with scale-oriented defaults.

The engine is tested on ``local[N]`` but every default below is chosen for a
large cluster reading ~100 TB:

- AQE on (runtime coalescing, skew-join splitting, runtime join-strategy
  demotion to broadcast when a side turns out small).
- Arrow on for every Python<->JVM boundary we cannot avoid (Pandas UDFs).
- Parquet filter pushdown + vectorized reader (defaults, asserted here so a
  misconfigured environment fails loudly in tests rather than silently
  scanning everything).
- Session timezone pinned to UTC so epoch arithmetic matches the DuckDB
  oracle bit-for-bit.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable, Iterable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession, functions as F

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "findb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``.

    ``extra_conf`` is applied last, over these defaults.  For inputs much
    larger than memory per core, set AQE's initial shuffle grain there:
    ``extra_conf={"spark.sql.adaptive.coalescePartitions.initialPartitionNum":
    str(n)}`` with ``n`` about the bytes entering the shuffle / 64 MB,
    rounded up (the measured rule in SURVEY.md §6).  It is not a default:
    iterative operators run many tiny shuffles per round, and a fine grain
    costs each of them a fixed per-bucket overhead.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Round-13 (guide §2.2 — let AQE coalesce): default-off upstream
        # only for cached-plan-stability conservatism, this lets AQE apply
        # partition coalescing (and skew splitting) to the plans UNDER
        # persisted relations.  The engine persists many small reused
        # intermediates (hashed shingle arrays, MinHash signatures,
        # verified pair relations, adjacency lists); without this they
        # materialize at the static shuffle grain (32 partitions of a few
        # hundred rows each at bench SF), and every downstream job over
        # them schedules 32+ near-empty tasks — measured 0.4 s off
        # dedup_clusters' steady build alone.  Scale-adaptive by
        # construction: AQE targets the advisory partition size, so big
        # deployments still get big-input grains (nothing is pinned to
        # the local core count).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.codegen.wholeStage", "true")
        # events ``ts`` may be TIMESTAMP(NANOS), which Spark reads only as
        # a long (see load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def files_fingerprint(path: str) -> tuple:
    """``(file, st_mtime_ns, st_size)`` of every data file of a parquet
    table, sorted by file name.

    ``path`` is a single parquet file (driver testdata) or a directory of
    part files (engine writers).  Names Spark's file listing hides are
    skipped, files and directories alike: those starting with ``.``, and
    those starting with ``_`` unless they hold ``=`` (a partition
    directory).  So ``_SUCCESS``, checksums, a version log's ``_log/``, an
    in-flight writer's ``_temporary/`` and a sink's ``_spark_metadata/``
    never change the fingerprint.  Any rewrite of the data — Spark's new
    part-file names, or an in-place overwrite's new mtime and size — does,
    so it is the content half of every :class:`Memo` key.  Driver-side
    stat calls only, no Spark job."""

    def hidden(name: str) -> bool:
        return name.startswith(".") or (name.startswith("_") and "=" not in name)

    p = os.path.realpath(path)
    if os.path.isdir(p):
        files = []
        for r, ds, fs in os.walk(p):
            ds[:] = [d for d in ds if not hidden(d)]
            files.extend(os.path.join(r, f) for f in fs if not hidden(f))
        files.sort()
    else:
        files = [p]
    stats = [(f, os.stat(f)) for f in files]
    return tuple((f, st.st_mtime_ns, st.st_size) for f, st in stats)


class Memo:
    """Bounded memo of driver-side values derived from one parquet table
    (schemas, trained PQ codebook arrays).  Relations are not kept here:
    Spark's cache holds them (see :func:`release_caches`).

    **Key.** :meth:`key` builds ``(applicationId, files_fingerprint(path),
    *extra)`` from the caller's source parquet ``path``; callers never
    build keys themselves.  The fingerprint makes a rewritten table a
    miss, so no value outlives the content it was built from, and the
    application id scopes values to one session.  ``extra`` carries the
    build's other inputs (e.g. the PQ geometry).  At ``capacity`` the
    oldest entry goes.  ``in`` / ``len`` / truthiness expose the store to
    tests."""

    def __init__(self, capacity: int = 4):
        self._store: dict[tuple, object] = {}
        self._lock = threading.Lock()
        self.capacity = capacity

    def key(self, spark: SparkSession, path: str, *extra) -> tuple:
        return (spark.sparkContext.applicationId, files_fingerprint(path), *extra)

    def get_or_build(self, spark: SparkSession, path: str, build, *extra):
        """The memoized ``build()`` for ``path``'s current content."""
        k = self.key(spark, path, *extra)
        with self._lock:
            if k not in self._store:
                while len(self._store) >= self.capacity:
                    del self._store[next(iter(self._store))]
                self._store[k] = build()
            return self._store[k]

    def __contains__(self, k) -> bool:
        return k in self._store

    def __len__(self) -> int:
        return len(self._store)


def release_caches(spark: SparkSession) -> None:
    """Drop every relation the engine's operators persisted.

    Spark's cache is the only holder of reused relations.  Operators
    persist small reused intermediates (hashed shingle arrays and pair
    relations in ``ops/dedup.py``, the daily price series
    ``queries/timeseries.py:_daily``, per-key frequency profiles) and
    return LAZY DataFrames, so they cannot unpersist before the caller
    executes.  Spark substitutes a cached relation into any later plan
    equal to it, and plans compare paths, not file contents; so
    :func:`read_parquet`, the engine's read path, calls
    ``spark.catalog.refreshByPath`` the first time it opens a table's
    new content, and every cached relation over a rewritten table is
    rebuilt from the new files.  That is the one invalidation rule.

    In a long-lived driver sweeping many corpora / sf_dirs the
    MEMORY_AND_DISK blocks accumulate (disk blocks are not LRU-evicted):
    call this between sweeps.  :class:`Memo` values (schemas, PQ
    codebooks) stay; their content keys cannot go stale."""
    spark.catalog.clearCache()


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def local_relation_df(spark: SparkSession, rows, schema):
    """A SMALL driver-built relation as a true LocalRelation
    (``LocalTableScan`` in the plan) instead of a Python-RDD-backed plan.

    ``spark.createDataFrame(list, schema)`` parallelizes the rows into
    ``defaultParallelism`` PICKLED slices, and **every** evaluation of
    the resulting relation — including each broadcast build and each
    re-execution under AQE — round-trips those slices through Python
    workers: measured 32 near-empty tasks and ~200 ms of worker latency
    per evaluation at bench scale (the dominant cost of the PQ ADC-table
    relation, whose actual payload is kilobytes).  Routing
    the same rows through ``createDataFrame(pandas)`` instead serializes
    them ONCE driver-side over the Arrow channel
    (``spark.sql.execution.arrow.pyspark.enabled`` — on in this
    session's defaults), and anything under
    ``spark.sql.execution.arrow.localRelationThreshold`` lands as a
    JVM-local ``LocalRelation``: zero tasks, zero Python at evaluation,
    broadcast builds driver-side.  Values cross as BINARY Arrow buffers,
    so doubles/int64 (including nested arrays) stay bit-identical to the
    py4j path this replaces — pinned by the oracle gate over every
    migrated call site and by test_local_relation_df.

    ``rows``: list of tuples/Rows (positional) or dicts (by name); an empty
    list gives an empty ``LocalRelation`` built in the JVM.
    ``schema``: StructType or DDL string.  Oversized payloads degrade to
    an Arrow-batch-backed JVM RDD (still no Python at evaluation).

    Raises ``ValueError`` where the pandas/Arrow channel would silently
    change values vs the py4j path: NaN in a floating-point column or
    inside a floating-point array (pyarrow ``from_pandas`` treats NaN as
    missing, so it becomes SQL NULL), and None in an integral column
    (pandas coerces the column to float64, which rounds integers above
    2**53).  None in a floating-point or decimal column is not lossy: it
    becomes SQL NULL on both paths.  Callers with such data must pre-clean
    it or keep ``createDataFrame(list)``."""
    import pandas as pd

    from pyspark.sql import types as T

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if not rows:
        # ``createDataFrame([])`` would be RDD-backed: jobs on every collect
        jdf = spark._jsparkSession.createDataFrame(
            spark._jvm.java.util.ArrayList(), spark._jsparkSession.parseDataType(schema.json())
        )
        return DataFrame(jdf, spark)
    names = schema.fieldNames()
    data = {
        n: [r[n] if isinstance(r, dict) else r[i] for r in rows]
        for i, n in enumerate(names)
    }
    for f in schema.fields:
        t, col = f.dataType, data[f.name]
        if isinstance(t, T.IntegralType):
            lossy = any(v is None for v in col)
        elif isinstance(t, T.FractionalType):
            lossy = any(v != v for v in col)
        elif isinstance(t, T.ArrayType) and isinstance(t.elementType, T.FractionalType):
            lossy = any(v is not None and any(x != x for x in v) for v in col)
        else:
            continue
        if lossy:
            raise ValueError(
                f"local_relation_df: column {f.name!r} holds None (integral) "
                "or NaN (floating), which the Arrow channel turns into "
                "float64 or NULL"
            )
    return spark.createDataFrame(pd.DataFrame(data, columns=names), schema=schema)


def map_rows(
    df: DataFrame, rows_of: Callable[..., Iterable[tuple]], schema: str
) -> DataFrame:
    """The Arrow row kernel: a ``mapInPandas`` stage that calls
    ``rows_of(*row)`` on each row of ``df`` (Python values, in ``df``'s
    column order) and emits the tuples that call returns as rows of the
    DDL ``schema``: one tuple for a decode, several for a row-expanding
    stage, none to drop the row.  Stages whose work is numpy over a whole
    batch (``ops/vector.py``) keep their own ``mapInPandas``.

    Batches stream through the Python worker, so executor memory is
    bounded by the Arrow batch size, not by the partition."""
    import pandas as pd

    from pyspark.sql import types as T

    names = T.StructType.fromDDL(schema).fieldNames()

    def batches(it):
        for pdf in it:
            rows = pdf.itertuples(index=False, name=None)
            yield pd.DataFrame([out for row in rows for out in rows_of(*row)], columns=names)

    return df.mapInPandas(batches, schema)


def local_path(uri: str) -> str | None:
    """The local path a Spark file URI names, or None when its scheme is
    not ``file``.  ``inputFiles()`` percent-encodes its URIs (a space is
    ``%20``), so the path is decoded, not just stripped of ``file:``."""
    u = urlparse(uri)
    return unquote(u.path) if u.scheme == "file" else None


#: Inferred schema per table content.  ``spark.read.parquet`` without a
#: schema runs a footer-read job on every call; with the memoized schema
#: a repeat open runs none, so plan construction of a lazy query triggers
#: zero Spark jobs and any job seen while building a query marks a
#: genuinely eager operator.  64 entries hold the ten registry tables of
#: several sf_dirs without evicting inside a sweep.
_SCHEMA_MEMO = Memo(capacity=64)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema taken from
    :data:`_SCHEMA_MEMO`.  Only the first open of a table's current
    content infers it, and that open also refreshes Spark's cached
    relations over ``path`` (see :func:`release_caches`)."""

    def build():
        schema = spark.read.parquet(path).schema
        spark.catalog.refreshByPath(path)
        return schema

    schema = _SCHEMA_MEMO.get_or_build(spark, path, build)
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-provided parquet table (TESTDATA.md).

    The events table's ``ts`` has shipped in two physical flavors across
    testdata generations — TIMESTAMP(NANOS) (which Spark's parquet reader
    rejects by default; ``get_spark`` sets nanosAsLong to read nanos as
    long, then this truncates to micros) and
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (which Spark reads as
    TIMESTAMP_NTZ). Normalize both to a session-tz TimestampType: the
    session timezone is pinned to UTC, so the NTZ->LTZ cast preserves the
    underlying epoch-micros value and ``unix_micros`` arithmetic matches
    the DuckDB oracle's ``epoch_us`` over the same file bit-for-bit.
    """
    path = table_path(sf_dir, name)
    if name != "events":
        return read_parquet(spark, path)
    return normalize_events_ts(read_parquet(spark, path))


def normalize_events_ts(df):
    """Normalize an events DataFrame's ``ts`` to a session-tz TimestampType
    regardless of physical flavor (bigint nanos-as-long, TIMESTAMP_NTZ, or
    already TimestampType). Shared by the batch reader above and the
    streaming source (streaming.events_stream.read_events_stream) so the
    stream/batch twins can never desynchronize on a new physical flavor."""
    for f in df.schema.fields:
        if f.name == "ts" and f.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif f.name == "ts" and f.dataType.simpleString() == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
