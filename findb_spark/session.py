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

from pyspark.sql import SparkSession, functions as F

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "findb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    initial_partitions: int | None = None,
    auto_grain_for: tuple[str, str, str | float] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``.

    ``initial_partitions`` sets AQE's ``coalescePartitions.
    initialPartitionNum`` — THE dial for data ≫ memory-per-core.  Shuffles
    start at this grain and AQE coalesces them back to the 64 MB advisory
    size, so a high value is safe for big inputs while small inputs
    converge to the same post-coalesce plan.  Measured on the 256x n-gram
    Jaccard corpus (3.5 GB exploded input, JIT-warm, same session/data):
    initial grain 32 → 322 s wall / 10,130 s executor CPU / 13.3% GC
    (giant per-task sorts thrash cache and heap); 128 → 57 s / 1,469 s /
    1.5% GC; 512 over-fragments (GC back to 14%).  Rule of thumb:
    ``input_bytes_after_explode / 64 MB``.  It is NOT defaulted globally:
    iterative operators (connected components, k-means) run dozens of
    tiny shuffles per round whose fixed per-bucket overhead costs ~8% of
    headline bench wall at sf0.1 — size it per deployment, not per box.

    ``auto_grain_for=(sf_dir, table, family)`` is the production
    one-liner for that sizing (round-11 verdict item 6): it feeds
    :func:`auto_initial_partitions` from the driving table's on-disk
    bytes (:func:`table_input_bytes`) times the operator family's
    measured shuffle multiplier (:func:`explode_factor_for` — a family
    name like ``"shingle"`` or a numeric factor).  E.g. a shingle-dedup
    deployment: ``get_spark(auto_grain_for=(corpus_dir, "documents",
    "shingle"))``.  sf<=0.1 inputs degenerate to the core-count floor
    (pinned in tests/test_auto_grain.py), so the bench headline cannot
    regress.  An explicit ``initial_partitions`` wins over the rule.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if auto_grain_for is not None and initial_partitions is None:
        grain_dir, grain_table, grain_family = auto_grain_for
        initial_partitions = auto_initial_partitions(
            table_input_bytes(grain_dir, grain_table),
            explode_factor_for(grain_family),
        )
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
    )
    if initial_partitions is not None:
        builder = builder.config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(initial_partitions),
        )
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


#: AQE's advisory post-shuffle partition size — the coalesce target the
#: initial grain is sized against (Spark default for
#: spark.sql.adaptive.advisoryPartitionSizeInBytes).
ADVISORY_PARTITION_BYTES = 64 * 1024 * 1024


def auto_initial_partitions(
    input_bytes: int,
    explode_factor: float = 1.0,
    cpus: int | None = None,
) -> int:
    """Size AQE's ``coalescePartitions.initialPartitionNum`` from the
    measured rule (PARTITION_DIAL_r10, round-10 verdict item 3):
    optimal grain ~= bytes-entering-the-shuffle / 64 MB.  On the 256x
    n-gram Jaccard corpus (3.5 GB exploded) grain 128 beat grain 32 by
    5.6x wall / 6.9x CPU; 512 over-fragmented (GC back to 14%).

    ``input_bytes`` is the ON-DISK table size (see
    :func:`table_input_bytes`); ``explode_factor`` is the operator
    family's measured on-disk -> shuffle-bytes multiplier (e.g.
    ``ops.dedup.SHINGLE_EXPLODE_BYTES_PER_INPUT_BYTE`` for the shingle
    pipelines — parquet compresses text hard AND the explode multiplies
    rows, so the multiplier is large).

    Rounded UP to a power of two: AQE coalesces an over-fine grain back
    to the 64 MB advisory size for free, but cannot split an over-coarse
    one — so err high.  Floored at the core count: below that the grain
    is not the bottleneck, and small inputs (every sf<=0.1 table) get
    today's default — iterative operators' per-round fixed cost per
    bucket (~8% of headline wall at sf0.1, measured) is why this is a
    per-workload dial, never a global default."""
    import math

    cpus = cpus or DEFAULT_SHUFFLE_PARTITIONS
    raw = (input_bytes * explode_factor) / ADVISORY_PARTITION_BYTES
    if raw <= cpus:
        return cpus
    return 1 << math.ceil(math.log2(raw))


def explode_factor_for(family: str | float) -> float:
    """Measured on-disk -> shuffle-bytes multiplier per operator family,
    feeding :func:`auto_initial_partitions`.

    ``"scan"``/``"join"``/``"agg"`` shuffle roughly what they read
    (parquet decompression and row widening cancel against projection
    pruning within the rule's one-octave tolerance — pow2-ceil absorbs
    it).  ``"shingle"`` covers the explode-heavy text-dedup family
    (shingle/Jaccard/containment/MinHash): parquet compresses text hard
    AND the explode multiplies rows, measured 24x
    (``ops.dedup.SHINGLE_EXPLODE_BYTES_PER_INPUT_BYTE``, calibrated on
    the 256x corpus — AUTO_GRAIN_r11).  A numeric argument passes
    through for families measured by the deployment itself."""
    if isinstance(family, (int, float)) and not isinstance(family, bool):
        return float(family)
    if family in ("scan", "join", "agg"):
        return 1.0
    if family in ("shingle", "jaccard", "minhash", "dedup-text"):
        # local import: ops.dedup imports from session at module level
        from findb_spark.ops.dedup import SHINGLE_EXPLODE_BYTES_PER_INPUT_BYTE

        return float(SHINGLE_EXPLODE_BYTES_PER_INPUT_BYTE)
    raise ValueError(
        f"unknown operator family {family!r}: pass one of "
        "scan/join/agg/shingle/jaccard/minhash/dedup-text or a numeric "
        "on-disk->shuffle multiplier measured for your workload"
    )


def table_input_bytes(sf_dir: str, name: str) -> int:
    """On-disk bytes of one parquet table: summed data-file sizes.

    Driver-side filesystem walk — no Spark job, same numbers the
    footer-stats manifest (manifest.py) sees per file; used to feed
    :func:`auto_initial_partitions` without reading any data pages."""
    path = table_path(sf_dir, name)
    # driver testdata ships single-file tables; engine writers produce
    # directories of part files — handle both
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


class BoundedDFMemo:
    """Bounded per-(session, key) DataFrame memo with a single shared
    eviction/release contract (round 13, unifying the two hand-rolled
    copies that release_caches previously had to know by name).

    Keys always lead with ``spark.sparkContext.applicationId`` so a
    stopped session's dead RDD is never resurrected.  At ``capacity``
    the oldest entry is evicted: with ``unpersist_on_evict`` its blocks
    drop immediately (the persist-backed contract), without it eviction
    merely drops the last Python reference and the ContextCleaner
    reclaims the blocks after GC (the localCheckpoint contract — there
    is no public unpersist for a checkpoint's backing RDD, and the
    DataFrame's derived RDDs would not touch the checkpoint blocks).

    Every instance self-registers, and :func:`release_caches` clears
    them ALL — a new persist site gets the between-sweeps release for
    free by building on this class instead of a bare dict.  Dict-like
    introspection (``in`` / ``len`` / truthiness) is provided for the
    id-stability and release pins."""

    _instances: "list[BoundedDFMemo]" = []

    def __init__(self, capacity: int = 4, unpersist_on_evict: bool = False):
        self._store: dict[tuple, object] = {}
        self.capacity = capacity
        self.unpersist_on_evict = unpersist_on_evict
        BoundedDFMemo._instances.append(self)

    def get_or_build(self, spark: SparkSession, key, build):
        k = (spark.sparkContext.applicationId, key)
        if k not in self._store:
            while len(self._store) >= self.capacity:
                old = self._store.pop(next(iter(self._store)))
                if self.unpersist_on_evict:
                    old.unpersist()
            self._store[k] = build()
        return self._store[k]

    def clear(self) -> None:
        self._store.clear()

    def __contains__(self, k) -> bool:
        return k in self._store

    def __len__(self) -> int:
        return len(self._store)

    def __bool__(self) -> bool:
        return bool(self._store)


def release_caches(spark: SparkSession) -> None:
    """Drop every deliberately-persisted intermediate relation.

    The engine's operators persist small reused intermediates — hashed
    shingle arrays and verified pair relations (``ops/dedup.py``), MinHash
    signatures, per-key frequency profiles (``stats_key_skew``), the
    shared PIT daily price series (``queries/timeseries.py:_daily``) — and
    return LAZY DataFrames, so they cannot unpersist before the caller
    executes (an eager unpersist would reintroduce the multi-evaluation
    the persist exists to prevent).  In a long-lived driver sweeping many
    corpora / sf_dirs those MEMORY_AND_DISK blocks accumulate unboundedly
    (disk blocks are not LRU-evicted): call this between sweeps.  Inside
    one sweep the persists are bounded by design — each is keyed by the
    corpus plan, orders of magnitude smaller than its source table."""
    # memos hold persist/checkpoint-backed DataFrames: after clearCache
    # those entries would silently hand out UNcached plans (breaking the
    # one-scan contracts), so every registered memo empties with the
    # cache — no per-site imports to forget (round 13)
    for memo in BoundedDFMemo._instances:
        memo.clear()
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
    per evaluation at bench scale (the dominant cost of the PQ codebook
    / ADC-table relations, whose actual payload is kilobytes).  Routing
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

    ``rows``: list of tuples/Rows (positional) or dicts (by name).
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
        return spark.createDataFrame([], schema)
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


#: (session id, path) -> schema.  spark.read.parquet without a schema fires
#: a footer-read job per call; at 100 TB that is harmless metadata traffic,
#: but driver-side it makes every plan construction look like it executed
#: work (and re-lists footers a query may build against dozens of times).
#: Caching the inferred schema per session makes repeat loads job-free:
#: plan construction of a lazy query triggers ZERO Spark jobs, so any job
#: seen while building a query marks a genuinely eager operator.
_SCHEMA_CACHE: dict[tuple[str, str], object] = {}


def _cached_schema(spark: SparkSession, path: str):
    key = (spark.sparkContext.applicationId, path)
    if key not in _SCHEMA_CACHE:
        _SCHEMA_CACHE[key] = spark.read.parquet(path).schema
    return _SCHEMA_CACHE[key]


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-provided parquet table (TESTDATA.md).

    The events table's ``ts`` has shipped in two physical flavors across
    testdata generations — TIMESTAMP(NANOS) (which Spark's parquet reader
    rejects by default; read nanos as long, truncate to micros) and
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (which Spark reads as
    TIMESTAMP_NTZ). Normalize both to a session-tz TimestampType: the
    session timezone is pinned to UTC, so the NTZ->LTZ cast preserves the
    underlying epoch-micros value and ``unix_micros`` arithmetic matches
    the DuckDB oracle's ``epoch_us`` over the same file bit-for-bit.
    """
    path = table_path(sf_dir, name)
    if name != "events":
        return spark.read.schema(_cached_schema(spark, path)).parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_events_ts(
        spark.read.schema(_cached_schema(spark, path)).parquet(path)
    )


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
