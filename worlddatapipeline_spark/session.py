"""SparkSession factory tuned for the engine.

The reference (Aether-Verilys/WorldDataPipeline) has no execution engine of its
own — it is single-threaded Python orchestrating subprocesses
(`/root/reference/structure.md:15-26`).  Everything here replaces that with
Spark's distributed execution.  The knobs below are chosen for the dual target:

* local[32] correctness/bench runs on the driver box, and
* a 1000-executor cluster at ~100 TB, where AQE, skew-join handling and a
  sane shuffle-partition default matter far more.

Scale notes
-----------
- AQE is on: runtime coalescing of shuffle partitions + skew-join splitting
  means the same plans survive 100x data growth without retuning.
- ``spark.sql.shuffle.partitions`` defaults to a local-friendly number but is
  only the *initial* value — AQE coalesces/splits at runtime.
- Arrow is enabled for every pandas_udf / applyInPandas operator (the stateful
  scans and simulation operators are Arrow-batched, never row-at-a-time).
- File listing runs with as many tasks as the session has cores
  (``spark.sql.sources.parallelPartitionDiscovery.parallelism``).  Above
  ``parallelPartitionDiscovery.threshold`` (32) paths Spark lists in a job
  with one task per path up to that cap, 10,000 by default.  The listing
  work is the same at any task count, so tasks beyond the cores only add
  launches: reading back a camera export of 64 ``sequence_id=``
  directories ran two 64-task listing jobs.  A cluster with more listing
  throughput than cores raises it through ``extra_conf``.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "worlddatapipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Every config set here is a plain public Spark conf; on a real cluster the
    same builder is used with ``master`` unset (inherited from spark-submit).
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_CPUS
    local = re.fullmatch(r"local\[(\d+)\]", master)
    cores = int(local.group(1)) if local else DEFAULT_CPUS
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", str(cores))
    )
    if not SparkSession.getActiveSession():
        b = b.master(master)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def literal_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """The engine's one way to turn driver-side values into a frame: job
    manifests, intrinsics, band and probe tables, rows a staged round-trip
    collected back.

    ``rows`` are tuples (or ``Row``s from ``collect()``) matched to
    ``schema`` by position; ``schema`` is a DDL string or a ``StructType``.
    The rows become a ``pyarrow.Table`` typed by ``to_arrow_schema``, which
    Spark plans as a ``LocalTableScan`` held in the JVM with exact size
    statistics.  A Python list handed to ``createDataFrame`` would plan as
    ``Scan ExistingRDD`` over a Python RDD: unknown size to the optimizer,
    and a Python worker re-unpickling it on every action.  So in a plan
    ``Scan ExistingRDD`` means a checkpoint, never a literal.

    An empty ``rows`` gives an empty frame of the schema.  Columns whose
    type Spark converts before storing (dates, timestamps, structs, and
    arrays or maps holding them) pass through the schema's own
    ``toInternal``, as on the list path, so a naive ``datetime`` is read in
    the process's local zone there and here alike instead of being
    shifted.  A row of the wrong width raises.
    """
    import pyarrow as pa  # noqa: PLC0415
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows, strict=True)) or [()] * len(schema.fields)
    arrays = [
        pa.array(
            [f.dataType.toInternal(v) for v in col]
            if f.dataType.needConversion() else col,
            type=a.type,
        )
        for f, a, col in zip(schema.fields, arrow_schema, cols, strict=True)
    ]
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def materialize_and_release(result, *cached):
    """Materialize ``result`` with an eager ``localCheckpoint``, then
    unpersist the ``cached`` frames it derived from — the one barrier
    helper for query builders.

    Builders return lazy plans by default.  When several readers of an
    intermediate meet at one exchange, Spark's exchange reuse already
    computes it once, and a persist + checkpoint only moves execution into
    the builder and pins a checkpoint RDD.  A barrier is allowed only
    where two readers of an intermediate share no exchange AND an
    interleaved A/B shows the lazy plan re-reading it.  The remaining
    callers, each with the second reader named at its call site (lazy
    time over barrier time, sf0.1, 4 cores):
    ``queries_analytics.q_curation_pipeline_stats`` (4.0×),
    ``queries_mining.q_short_text_editdups`` (1.76×),
    ``mining.association_rules`` (1.50×), ``mining.cooccurrence_cosine``
    (1.29×), ``dedup.ngram_jaccard_pairs`` (1.24×),
    ``queries_mining.q_kaplan_meier_churn`` (1.19×),
    ``queries_ext.q_embedding_lsh_recall`` (1.18×) and
    ``aggregates.skyline_2d`` (1.13×).

    Persisting without this helper would leak the cache: the returned
    frame is lazy, so there is no point inside the builder where the cache
    is both fully consumed and releasable (ADVICE r3).  Truncating the
    lineage makes the release safe immediately.

    Stated tradeoff for the 100 TB deployment: a localCheckpoint lives on
    executors and is lost with them, so this is only for results that are
    small aggregates / candidate-pair sets (every call site here is).  A
    large result should be written to durable storage and read back instead.

    The returned checkpoint RDD itself stays pinned until the DataFrame is
    GC'd and the ContextCleaner runs — bounded by the (small) result size
    per call, but a driver LOOPING over such calls should `.unpersist()`
    each returned frame when done with it rather than relying on GC pace.
    """
    out = result.localCheckpoint(eager=True)
    for c in cached:
        c.unpersist()
    return out


def streaming_events(spark: SparkSession, sf_dir: str):
    """Normalized ``readStream`` over the input events.parquet — the ONE
    place a stream over that table is opened.  It pins
    the same confs and applies the same ``_normalize_timestamps`` as
    ``load_tables``, because every streaming query must normalize `ts`
    exactly as its batch oracle does or silently diverge from it.  The raw
    schema comes from the memoized ``_read_parquet``."""
    _pin_read_confs(spark)
    raw_schema = _read_parquet(spark, os.path.join(sf_dir, "events.parquet")).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return _normalize_timestamps(stream, "events")


def parquet_num_rows(sf_dir: str, name: str) -> int:
    """Exact row count of one input table from the parquet FOOTER — the
    same statistic Spark's own scan planning reads — without scheduling
    a job.  Used by ``route_by_rows`` for size-routed plan choices
    (e.g. the ``fuzzy_record_linkage`` hybrid), where a full count action
    would cost more than the routing decision saves.  Handles both a single
    ``<name>.parquet`` file (the driver's testdata layout) and a
    Spark-written directory of part files."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet")
        )
    return pq.ParquetFile(path).metadata.num_rows


def route_by_rows(sf_dir: str, table: str, knob: str, default: int) -> bool:
    """The size routers' one decision: True (take the scale-path plan)
    when ``table`` has AT LEAST ``$knob`` rows (``default`` when the env
    var is unset), False (keep the reference plan) below it.  The count
    comes from the parquet footer (``parquet_num_rows``) — no job, no data
    pass.  ``knob=0`` therefore always routes to the scale path, and a
    knob above the table size always keeps the reference plan."""
    return parquet_num_rows(sf_dir, table) >= int(os.environ.get(knob, str(default)))


# The parquet confs that change the schema Spark infers from a footer.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
# abspath -> (stamp, schema Spark inferred): one entry per input table.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _schema_stamp(spark: SparkSession, path: str) -> tuple:
    """(inode, mtime_ns, size) of the file — of every file under it, by
    relative path, when ``path`` is a directory of parts — plus the
    inference confs' values."""
    def sig(f):
        st = os.stat(f)
        return st.st_ino, st.st_mtime_ns, st.st_size

    if os.path.isdir(path):
        files = tuple(sorted(
            (os.path.relpath(os.path.join(d, f), path), *sig(os.path.join(d, f)))
            for d, _, fs in os.walk(path) for f in fs
        ))
    else:
        files = sig(path)
    return files, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema inference job run
    only when the files or the inference confs changed since the last
    read of ``path`` in this process; otherwise the schema Spark inferred
    then is handed back to the reader.

    The stamp is taken before inference, so a file that changes in
    between is stored under its old stamp and re-inferred on the next
    read; concurrent callers at worst infer twice."""
    path = os.path.abspath(path)
    stamp = _schema_stamp(spark, path)
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (stamp, df.schema)
    return df


def _pin_read_confs(spark: SparkSession) -> None:
    """The confs every input-table read relies on.  A session built
    without get_spark carries neither: nanosAsLong makes TIMESTAMP(NANOS)
    readable at all, and the UTC session tz makes the NTZ->TIMESTAMP cast
    and window bucketing agree with DuckDB's ``epoch_us``."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # pragma: no cover - conf may be fixed on some builds
        pass
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _normalize_timestamps(df: DataFrame, name: str) -> DataFrame:
    """Every timestamp column of table ``name`` as a session-tz TIMESTAMP.

    `events.ts` may arrive as TIMESTAMP(NANOS) (read as long nanos under
    nanosAsLong) or as plain TIMESTAMP(MICROS, isAdjustedToUTC=false) — the
    latter surfaces as TIMESTAMP_NTZ, which `unix_micros`/`withWatermark`
    reject.
    With the session tz pinned UTC the NTZ->TIMESTAMP cast is wall-clock
    preserving.  Works on batch and streaming frames alike."""
    from pyspark.sql import functions as F  # noqa: PLC0415
    from pyspark.sql.types import LongType, TimestampNTZType  # noqa: PLC0415

    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
        elif name == "events" and f.name == "ts" and isinstance(f.dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Register the input parquet tables as temp views and return them.

    Mirrors the reference's catalog-open step (`scene_registry.py:16-25` opens
    SQLite once; here we attach parquet).  Column pruning + predicate
    pushdown then happen automatically at the parquet scan.  Timestamp
    columns are normalized by ``_normalize_timestamps``.

    Schemas are memoized per process (``_read_parquet``): the key is the
    table's absolute path, and an entry holds the file's (inode,
    mtime_ns, size) — every part's, for a directory — and the values of
    the parquet inference confs.  Only the schema Spark itself inferred
    is cached, never data, so a warm call launches no Spark job; a
    changed file or conf invalidates the entry and re-runs inference.
    """
    names = names or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    _pin_read_confs(spark)
    out = {}
    for n in names:
        df = _read_parquet(spark, os.path.join(sf_dir, f"{n}.parquet"))
        df = _normalize_timestamps(df, n)
        df.createOrReplaceTempView(n)
        out[n] = df
    return out


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    """``load_tables`` for the named tables, returned in argument order —
    the query builders' ``(orders, lineitem) = _t(spark, sf_dir, ...)``."""
    tabs = load_tables(spark, sf_dir, list(names))
    return [tabs[n] for n in names]
