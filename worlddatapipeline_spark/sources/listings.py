"""Object-store / filesystem listing ingestion (SURVEY.md §2.1).

The reference shells out to `bcecmd bos ls [-r|-a]` and parses the text
output line-by-line in python (`storage/scene_copy.py:94-145,191-226`,
`scene_download.py:117-167`, `sync_baked_scenes.py:17-78`).  Line formats:

    PRE  prefix/dir/                      (directory marker, non-recursive ls)
    2024-01-05 11:22:33    123456  STANDARD  path/to/key with spaces.uasset
    TOTAL  42 OBJECTS ...                 (footer, skipped)

Here the same parse is a DataFrame over `spark.read.text` — classic
semi-structured log parsing with `regexp_extract`, fully parallel over the
listing file splits.  A 100 TB bucket inventory (S3 Inventory-style text) is
exactly this shape.

Filesystem scans (`scene_scanner.py:84-119,122-160`) become a driver-side
os.walk that yields a DataFrame — listing is metadata-scale, the heavy
operators downstream are the distributed part.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import literal_frame

# 'date time size STORAGE_CLASS key...' — key may contain spaces; storage
# class is a single token (reference handles this at scene_copy.py:191-226)
_OBJ_RE = (
    r"^\s*(\d{4}-\d{2}-\d{2})\s+(\d{2}:\d{2}:\d{2})\s+(\d+)\s+(\S+)\s+(.*\S)\s*$"
)


def parse_bos_listing(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """Parse `bcecmd bos ls` text lines into (kind, key, size, modified,
    storage_class) rows.

    kind: 'prefix' for `PRE  dir/` lines, 'object' for data lines; TOTAL
    footers and blanks are dropped.  Reference parse targets:
    `scene_copy.py:131-135` (PRE strip), `:191-226` (field parse),
    `sync_baked_scenes.py:50-69`.
    """
    v = F.col(value_col)
    is_pre = v.rlike(r"^\s*PRE\s+")
    is_total = v.rlike(r"^\s*TOTAL\b")
    obj_key = F.regexp_extract(v, _OBJ_RE, 5)
    parsed = lines.filter(~is_total & (F.trim(v) != "")).select(
        F.when(is_pre, F.lit("prefix")).otherwise(F.lit("object")).alias("kind"),
        F.when(is_pre, F.regexp_replace(v, r"^\s*PRE\s+", ""))
        .otherwise(obj_key)
        .alias("key"),
        F.when(is_pre, F.lit(None).cast("long"))
        .otherwise(F.regexp_extract(v, _OBJ_RE, 3).try_cast("long"))
        .alias("size"),
        F.when(
            ~is_pre,
            F.try_to_timestamp(
                F.concat_ws(
                    " ",
                    F.regexp_extract(v, _OBJ_RE, 1),
                    F.regexp_extract(v, _OBJ_RE, 2),
                )
            ),
        ).alias("modified"),
        F.when(~is_pre, F.regexp_extract(v, _OBJ_RE, 4)).alias("storage_class"),
    )
    # drop malformed object lines (regexp_extract yields '' on no-match)
    return parsed.filter((F.col("kind") == "prefix") | (F.col("key") != ""))


def scan_directory(
    spark: SparkSession, root: str, exclude_exts: list[str] | None = None
) -> DataFrame:
    """Recursive local-directory inventory as a DataFrame
    (path, relpath, size, mtime) — the engine-side form of
    `scene_scanner.py:122-160` / `copy_scene_assets.py:172-190`.

    Driver-side walk (listing is metadata-scale); the returned frame feeds
    the distributed operators (content hash, reconcile, stats).  The walk
    becomes a frame through ``session.literal_frame``, so it plans as a
    ``LocalTableScan`` held in the JVM (later actions on the listing start
    no Python worker), and an empty tree gives an empty four-column frame.
    """
    rows = []
    exclude_exts = [e.lower() for e in (exclude_exts or [])]
    for dirpath, _dirnames, filenames in os.walk(root):
        for fn in filenames:
            full = os.path.join(dirpath, fn)
            ext = os.path.splitext(fn)[1].lstrip(".").lower()
            if ext in exclude_exts:
                continue
            try:
                st = os.stat(full)
            except OSError:
                continue
            rows.append(
                (full, os.path.relpath(full, root), int(st.st_size), int(st.st_mtime))
            )
    return literal_frame(
        spark, rows, "path string, relpath string, size bigint, mtime bigint"
    )


def first_level_folders(listing: DataFrame, key_col: str = "key") -> DataFrame:
    """Distinct first path segments of object keys
    (`scene_scanner.py:593-614`)."""
    return (
        listing.select(F.split(F.col(key_col), "/")[0].alias("folder"))
        .filter(F.col("folder") != "")
        .distinct()
    )


def content_subdir_first_occurrence(
    listing: DataFrame, key_col: str = "key"
) -> DataFrame:
    """Per scene, the first Content-subdir (shortest, then lexicographic) —
    the reference's first-occurrence dedup over listing keys
    (`scene_copy.py:236-310`), via ranking window instead of dict insertion
    order.  Scene = first segment; content dir = segment after 'Content'."""
    from ..operators.joins import top_k_per_group

    parts = F.split(F.col(key_col), "/")
    content_idx = F.array_position(parts, "Content")
    with_dir = (
        listing.select(
            parts[0].alias("scene"),
            F.when(
                (content_idx > 0) & (F.size(parts) > content_idx),
                F.element_at(parts, (content_idx + 1).cast("int")),
            ).alias("content_dir"),
            F.col(key_col).alias("key"),
        )
        .filter(F.col("content_dir").isNotNull() & (F.col("content_dir") != ""))
    )
    return top_k_per_group(
        with_dir,
        ["scene", "content_dir"],
        [F.length("key").asc(), F.col("key").asc()],
        1,
    ).select("scene", "content_dir", F.col("key").alias("first_key"))


# ---------------------------------------------------------------------------
# Spark 4 Python DataSource: the listing parser as a pluggable source
# ---------------------------------------------------------------------------

_BOS_LISTING_SCHEMA = (
    "kind string, key string, size long, modified timestamp, "
    "storage_class string"
)


class BosListingDataSource:
    """`spark.read.format("bos_listing").load(dir)` — the bcecmd listing
    parse as a REAL pluggable source via Spark 4's Python DataSource API,
    the engine-native form of the reference's paginated SDK listing reader
    (`scene_copy.py:94-145`: page loop → rows; here: partition-per-file →
    Arrow batches).

    A second, independent implementation of the SAME line format that
    `parse_bos_listing` handles in expressions — the pytest parity check
    pins the two against each other (dual-implementation oracle, like the
    as-of kernel vs DuckDB ASOF).  Partitions: one per listing file, so a
    many-file inventory drop parallelizes; within a file the parse is a
    linear generator the API streams out as Arrow batches (no
    whole-file materialization).  Prefer the expression form when the
    lines are already in a DataFrame — it rides codegen; this source is
    for consuming listing FILES directly, with the parse behind the scan
    boundary so downstream ops see a typed relation.

    Defined lazily (class body builds the pyspark subclasses on first
    use) so importing this module never hard-depends on the Python
    DataSource API being present.
    """

    _impl = None

    @classmethod
    def impl(cls):
        if cls._impl is not None:
            return cls._impl
        import datetime
        import glob as globmod
        import os
        import re

        from pyspark.sql.datasource import (
            DataSource,
            DataSourceReader,
            InputPartition,
            SimpleDataSourceStreamReader,
        )

        obj_re = re.compile(
            r"^\s*(\d{4}-\d{2}-\d{2})\s+(\d{2}:\d{2}:\d{2})\s+(\d+)\s+(\S+)\s+(.*\S)\s*$"
        )
        pre_re = re.compile(r"^\s*PRE\s+")
        total_re = re.compile(r"^\s*TOTAL\b")

        class _FilePartition(InputPartition):
            def __init__(self, path):
                self.path = path

        def _list_files(path):
            if os.path.isdir(path):
                files = sorted(globmod.glob(os.path.join(path, "*")))
            else:
                files = sorted(globmod.glob(path)) or [path]
            return [f for f in files if os.path.isfile(f)]

        def _parse_file(path):
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    if total_re.match(line) or not line.strip():
                        continue
                    if pre_re.match(line):
                        yield ("prefix", pre_re.sub("", line.rstrip("\n")), None, None, None)
                        continue
                    m = obj_re.match(line)
                    if not m:
                        continue
                    # Mirror the expression parser's lenient typed fields
                    # (try_to_timestamp / try_cast): a digit-shaped but
                    # invalid datetime ('2024-02-31', hour 25) or an
                    # int64-overflowing size yields NULL, never a
                    # task-killing exception — the parity contract is
                    # row-identical output.
                    try:
                        modified = datetime.datetime.strptime(
                            f"{m.group(1)} {m.group(2)}", "%Y-%m-%d %H:%M:%S"
                        )
                    except ValueError:
                        modified = None
                    size = int(m.group(3))
                    if size > 0x7FFFFFFFFFFFFFFF:
                        size = None
                    yield ("object", m.group(5), size, modified, m.group(4))

        class _Reader(DataSourceReader):
            def __init__(self, options):
                self._path = options.get("path")
                if not self._path:
                    raise ValueError("bos_listing requires a path")

            def partitions(self):
                return [_FilePartition(f) for f in _list_files(self._path)]

            def read(self, partition):
                yield from _parse_file(partition.path)

        class _StreamReader(SimpleDataSourceStreamReader):
            """Incremental form: each micro-batch consumes the listing
            files that appeared since the last offset — the
            inventory-drop ingestion loop (the reference re-runs its
            listing command and diffs; here the diff IS the offset).

            Offset = sorted comma-joined basenames consumed so far:
            exact (late-arriving files with low-sorting names are still
            picked up — a max-name high-water would skip them) and
            replayable (readBetweenOffsets re-reads exactly end−start).
            Offset size grows with file count, fine at inventory scale
            (thousands of drops); a production source would compact
            committed names into a retention-bounded set via commit().
            """

            def __init__(self, options):
                self._path = options.get("path")
                if not self._path:
                    raise ValueError("bos_listing requires a path")

            def initialOffset(self):
                return {"done": ""}

            def _consumed(self, offset):
                return set(f for f in offset.get("done", "").split(",") if f)

            def read(self, start):
                done = self._consumed(start)
                new = [
                    f
                    for f in _list_files(self._path)
                    if os.path.basename(f) not in done
                ]

                # a materialized list's ITERATOR, not a bare generator:
                # the runner copy()s the prefetched iterator to serve the
                # rows as the batch's partition, and generators don't
                # support copy/pickle (listing drops are metadata-scale,
                # so materializing is fine)
                rows = [r for f in new for r in _parse_file(f)]
                end = {
                    "done": ",".join(
                        sorted(done | {os.path.basename(f) for f in new})
                    )
                }
                return iter(rows), end

            def readBetweenOffsets(self, start, end):
                batch = self._consumed(end) - self._consumed(start)
                base = (
                    self._path
                    if os.path.isdir(self._path)
                    else os.path.dirname(self._path)
                )
                return [
                    r
                    for name in sorted(batch)
                    for r in _parse_file(os.path.join(base, name))
                ]

        class _Source(DataSource):
            @classmethod
            def name(cls):
                return "bos_listing"

            def schema(self):
                return _BOS_LISTING_SCHEMA

            def reader(self, schema):
                return _Reader(self.options)

            def simpleStreamReader(self, schema):
                return _StreamReader(self.options)

        cls._impl = _Source
        return cls._impl


def register_bos_listing_source(spark: SparkSession) -> None:
    """Idempotent registration of the bos_listing Python data source."""
    spark.dataSource.register(BosListingDataSource.impl())
