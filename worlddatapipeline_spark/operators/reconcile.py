"""Incremental / reconciliation operators (SURVEY.md §2.8).

The reference's catalog maintenance is SQLite upserts + per-scene existence probes:
- upsert: ``INSERT … ON CONFLICT DO UPDATE`` (`scene_registry.py:224-239`),
- inventory reconcile: per-DB-row object-store probe with
  verified/missing/recovered transitions (`scene_registry.py:466-545`,
  `bos_manager.py:101-172`),
- skip-if-exists idempotence (`scene_copy.py:408-422`),
- delete-then-insert child refresh (`scene_scanner.py:513-524`).

Spark-first restatement: ALL of these are joins + a versioned-parquet
rewrite.  The N-per-row probe loop becomes ONE full-outer join between
catalog and listing — at 100 TB that is the difference between N API calls
and one shuffle.  The upsert's commit is ``_commit_version``: every writer
(``merge_upsert_parquet``, ``purge_rows``) stages the rewrite as the next
``_v*`` directory and moves the ``_CURRENT`` pointer; ``read_parquet_table``
resolves that pointer.  A Delta table (a ``_delta_log`` directory) is
refused on both sides by ``_guard_delta_layout``; binding the pointer
commit to a table format's ``MERGE INTO`` is the documented swap point in
``_commit_version``.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _guard_delta_layout(path: str) -> None:
    """Refuse a directory that carries a ``_delta_log``: its part files
    include the ones the log has removed, so reading it as a legacy layout
    returns stale rows, and a commit's sweep would rmtree the log — silent
    table destruction.  Runs in ``read_parquet_table`` and in
    ``_acquire_lease``, which every versioned-table writer goes through."""
    if os.path.isdir(os.path.join(path, "_delta_log")):
        raise ValueError(
            f"{path} is a Delta table — refusing to read or write it as a "
            "versioned-parquet table"
        )


class ConcurrentMergeError(RuntimeError):
    """Another writer holds the table's merge lease."""


def _acquire_lease(path: str, ttl_s: float = 3600.0) -> str:
    """Take the table's single-writer lease or fail fast.

    ``O_CREAT|O_EXCL`` on ``<path>/_LEASE`` is the atomic claim (POSIX/NFS;
    on an S3-class store swap for a conditional PUT).  The file embeds an
    expiry so a CRASHED holder never wedges the table: an expired or
    unreadable (torn) lease is removed and the claim retried exactly once —
    if a rival claims it in that window the ``O_EXCL`` create loses and
    this writer still fails fast.  A live lease always raises
    ``ConcurrentMergeError`` immediately; callers retry on their own
    schedule rather than queueing blind.  The Delta-layout guard runs
    first, so no writer can reach the layout without it."""
    _guard_delta_layout(path)
    os.makedirs(path, exist_ok=True)
    lease = os.path.join(path, "_LEASE")
    payload = f"pid={os.getpid()} expires={time.time() + ttl_s:.3f}\n"
    for attempt in (0, 1):
        try:
            fd = os.open(lease, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            try:
                with open(lease, encoding="utf-8") as fh:
                    exp = float(fh.read().rsplit("expires=", 1)[1])
            except (OSError, ValueError, IndexError):
                exp = 0.0  # torn/unreadable lease = crashed holder
            if time.time() < exp or attempt:
                raise ConcurrentMergeError(
                    f"merge lease held for {path} (expires={exp:.0f}); "
                    "another writer is active — retry after it commits"
                ) from None
            try:
                os.remove(lease)  # expired: best-effort takeover
            except FileNotFoundError:
                pass
            continue
        with os.fdopen(fd, "w", encoding="utf-8") as fh:
            fh.write(payload)
            fh.flush()
            os.fsync(fh.fileno())
        return lease
    raise ConcurrentMergeError(f"could not claim merge lease for {path}")


def _release_lease(lease: str) -> None:
    try:
        os.remove(lease)
    except FileNotFoundError:
        pass


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    update_cols: list[str] | None = None,
) -> DataFrame:
    """MERGE semantics on DataFrames: rows in source update matching target
    rows (per key) and insert when absent; unmatched target rows pass through.

    Reference analog: scenes/maps/sequences upsert
    (`scene_registry.py:224-239,306-314,391-404`).  Equivalent SQL:
    full-outer join + coalesce per column, source wins.
    """
    update_cols = update_cols or [c for c in source.columns if c not in keys]
    t = target.alias("t")
    s = source.alias("s")
    joined = t.join(s, keys, "full_outer")
    passthrough = [c for c in target.columns if c not in keys and c not in update_cols]
    cols = [F.col(k).alias(k) for k in keys]
    for c in update_cols:
        if c in target.columns:
            cols.append(F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}")).alias(c))
        else:
            cols.append(F.col(f"s.{c}").alias(c))
    for c in passthrough:
        cols.append(F.col(f"t.{c}").alias(c))
    return joined.select(*cols)


def _table_current_version(path: str) -> str | None:
    """Version name in the table's ``_CURRENT`` pointer file, or None for a
    legacy plain-parquet directory (no pointer yet)."""
    cur = os.path.join(path, "_CURRENT")
    if os.path.isfile(cur):
        with open(cur, encoding="utf-8") as fh:
            return fh.read().strip()
    return None


def table_versions(path: str) -> list[str]:
    """Version directories of a merged table, oldest first.  The GC policy
    keeps the live and previous versions, so this normally returns two —
    the rollback horizon (Delta keeps N by retention time; same knob)."""
    return sorted(
        d for d in os.listdir(path)
        if d.startswith("_v") and os.path.isdir(os.path.join(path, d))
    )


def read_parquet_table(spark, path: str, version: str | None = None) -> DataFrame:
    """Read a table written by ``merge_upsert_parquet``.

    Default: resolve the ``_CURRENT`` pointer to the live version (plain
    parquet fallback for never-merged directories).  Time travel: pass an
    explicit version name from ``table_versions`` (e.g. the previous one to
    read the pre-merge state — the engine-level `VERSION AS OF`).  Readers
    are lock-free either way: version directories are immutable once the
    pointer has moved past them, until GC'd by the next merge.

    The existence check here is EAGER but the read is lazy: if a writer
    merges twice between plan construction and the action, GC removes the
    directory and the job fails with the file-source's own error, not this
    ValueError.  Pin the version by acting on it promptly (or snapshot it);
    a reader cannot hold versions alive — same contract as Delta's vacuum
    horizon.

    A directory holding ``_delta_log`` is refused (``_guard_delta_layout``).
    """
    _guard_delta_layout(path)
    if version is not None:
        avail = table_versions(path)
        if version not in avail:
            raise ValueError(
                f"version {version!r} not available; table has {avail} "
                "(GC keeps live + previous — raise the horizon by snapshotting)"
            )
        return spark.read.parquet(os.path.join(path, version))
    v = _table_current_version(path)
    if v is None:
        return spark.read.parquet(path)
    return spark.read.parquet(os.path.join(path, v))


def _commit_pointer(path: str, version: str) -> None:
    """Point the table's ``_CURRENT`` at ``version``: the name goes to a
    temp file, which is fsync'd and ``os.replace``d onto ``_CURRENT`` —
    the single atomic commit point on POSIX/HDFS.  Readers resolve the
    pointer and see the old version or the new one, never a torn mix and
    never a missing table.  The only code that writes ``_CURRENT``."""
    tmp = os.path.join(path, "._CURRENT.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(version)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(path, "_CURRENT"))


def _sweep(path: str, keep: set[str], drop_legacy: bool) -> list[str]:
    """Drop crashed-run ``_staging-*`` orphans and every ``_v*`` version
    directory outside ``keep``; with ``drop_legacy``, also every other
    entry but the pointer and the lease (the root files of the
    pre-versioned layout).  Returns the removed version names, sorted."""
    removed = []
    for entry in os.listdir(path):
        if entry in keep or entry in ("_CURRENT", "_LEASE"):
            continue
        full = os.path.join(path, entry)
        if entry.startswith("_staging-"):
            shutil.rmtree(full, ignore_errors=True)
        elif entry.startswith("_v") and os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
            removed.append(entry)
        elif drop_legacy:
            if os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)
            else:
                os.remove(full)
    return sorted(removed)


def _commit_version(
    spark,
    path: str,
    rewrite,
    lease_ttl_s: float,
    keep_versions: int | None,
) -> DataFrame:
    """Commit ``rewrite(live table)`` as the table's next version and return
    the re-read table — the one write path of the versioned layout::

        <path>/_CURRENT        pointer file, contains e.g. "_v00000002"
        <path>/_v00000001      previous version (kept for rollback)
        <path>/_v00000002      live version
        <path>/_LEASE          single-writer lease, held while committing

    Commit protocol — no step ever mutates data a reader can be holding:

    1. take the lease (``_acquire_lease``, which also runs the Delta-layout
       guard) and read the live table;
    2. materialize the rewrite into ``<path>/_staging-<next>`` (never
       ``mode("overwrite")`` on the path being read — Spark plans lazily
       and would truncate its own input mid-job);
    3. ``os.rename`` staging → ``<path>/_v<next>`` (same-directory rename;
       the new version is still unreferenced, so a crash here leaves the
       live pointer — and therefore the table — untouched);
    4. ``_commit_pointer`` — the single atomic commit point;
    5. ``_sweep`` what the retention policy drops, then re-read.

    Retention: ``keep_versions`` keeps the newest ``max(2, keep_versions)``
    version directories plus the one just replaced, so a rollback target
    always survives (repoint ``_CURRENT`` by hand).  The root files of a
    never-versioned table are the "previous version" of the first commit
    and are removed only once a versioned predecessor exists.
    ``keep_versions=None`` is a history purge: only the new version
    survives, legacy root files included.

    Orphans from a crashed run (staging dirs, an unreferenced ``_v<next>``)
    are swept by the next commit, so every writer is idempotently
    retryable after a crash at ANY step.

    Object-store caveat: ``os.replace`` is atomic on POSIX filesystems and
    HDFS but S3-class stores have no atomic rename — there, bind step 4 to
    a table-format commit (Delta/Iceberg ``MERGE INTO``) or a
    conditional-PUT of the pointer object; the other steps stay identical.

    Concurrent writers: the lease (``O_EXCL``-claimed, TTL ``lease_ttl_s``)
    arbitrates — a second writer against a live lease raises
    ``ConcurrentMergeError`` immediately instead of silently racing the
    pointer; a crashed writer's lease expires and the next commit takes
    over and sweeps its orphans.  Readers never take the lease: they only
    resolve ``_CURRENT``, so reads stay lock-free at any concurrency.
    """
    lease = _acquire_lease(path, ttl_s=lease_ttl_s)
    try:
        table = read_parquet_table(spark, path)
        cur = _table_current_version(path)
        n = int(cur.lstrip("_v")) if cur else 0
        new_v = f"_v{n + 1:08d}"
        staging = os.path.join(path, f"_staging-{new_v}")
        # sweep orphans a crashed previous attempt may have left behind
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(os.path.join(path, new_v), ignore_errors=True)

        rewrite(table).write.mode("overwrite").parquet(staging)
        os.rename(staging, os.path.join(path, new_v))
        _commit_pointer(path, new_v)

        if keep_versions is None:
            _sweep(path, {new_v}, drop_legacy=True)
        else:
            keep = {new_v, *table_versions(path)[-max(2, int(keep_versions)):]}
            if cur:
                keep.add(cur)
            _sweep(path, keep, drop_legacy=cur is not None)
        return read_parquet_table(spark, path)
    finally:
        _release_lease(lease)


def merge_upsert_parquet(
    spark,
    path: str,
    source: DataFrame,
    keys: list[str],
    update_cols: list[str] | None = None,
    lease_ttl_s: float = 3600.0,
    keep_versions: int = 2,
) -> DataFrame:
    """Persistent MERGE into a parquet table; returns the re-read merged
    table.  The write path is the part `merge_upsert` alone leaves open
    (`scene_registry.py:224-239` commits in SQLite): the merged result is
    committed as the table's next version by ``_commit_version``, which
    documents the layout, the crash-safe commit protocol and the
    single-writer lease (TTL ``lease_ttl_s``).

    ``keep_versions`` is the retention horizon (Delta's
    ``delta.logRetentionDuration`` analog, counted in versions rather than
    time): the sweep keeps the newest ``keep_versions`` directories,
    minimum 2 so the rollback target always survives.  ``vacuum_table``
    trims further on demand.

    Schema evolution is automatic, as in Delta's ``mergeSchema``: source
    columns absent from the target are appended (NULL for unmatched target
    rows), target columns absent from the source pass through — each
    version directory is self-describing parquet, so old versions keep
    their old schema and time travel reads it unchanged.
    """
    return _commit_version(
        spark, path,
        lambda target: merge_upsert(target, source, keys, update_cols),
        lease_ttl_s, keep_versions,
    )


def purge_rows(
    spark,
    path: str,
    keys: list[str],
    key_rows: DataFrame,
    lease_ttl_s: float = 3600.0,
) -> DataFrame:
    """Right-to-be-forgotten purge: delete every row matching ``key_rows``
    (on ``keys``) from the merged table AND from its whole version
    history.  Compliance is the one case where time travel must lose data:
    a GC that keeps rollback versions would keep the purged rows readable,
    so after the new version commits, ALL older versions are removed —
    this purge is deliberately not rollback-able (the Delta
    DELETE-then-VACUUM(0) story as one atomic-feeling step).

    Committed by ``_commit_version`` like a merge (crash at any step
    leaves the table readable; retry completes), with the delete expressed
    as a broadcast-friendly left_anti join.  Returns the re-read table.
    """
    return _commit_version(
        spark, path,
        lambda target: target.join(
            key_rows.select(*keys).distinct(), keys, "left_anti"
        ),
        lease_ttl_s, keep_versions=None,  # history purge
    )


def vacuum_table(path: str, keep_last: int = 1) -> list[str]:
    """Trim a merged table's version history to the newest ``keep_last``
    directories (Delta ``VACUUM`` analog, version-counted).  Returns the
    removed version names.

    The live version is ALWAYS kept even if ``keep_last`` would not reach
    it (a stale ``_CURRENT`` pointing below the horizon must never become
    a dangling pointer).  Takes the same single-writer lease as a merge —
    vacuuming concurrently with a merge would race its GC sweep — and also
    sweeps crashed-run ``_staging-*`` orphans.  Readers stay lock-free but
    lose time-travel targets below the horizon, exactly like Delta: vacuum
    is the explicit trade of rollback depth for storage.
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the live version)")
    lease = _acquire_lease(path)
    try:
        keep = set(table_versions(path)[-keep_last:])
        cur = _table_current_version(path)
        if cur is not None:
            keep.add(cur)
        return _sweep(path, keep, drop_legacy=False)
    finally:
        _release_lease(lease)


def inventory_reconcile(
    catalog: DataFrame,
    listing: DataFrame,
    keys: list[str],
    exists_col: str = "exists_flag",
    status_col: str = "sync_status",
) -> DataFrame:
    """Catalog ⋈ listing full-outer reconcile with status transitions.

    Reference analog: `scene_registry.py:466-545` — statuses:
    - verified:   in catalog, in listing, was marked existing
    - recovered:  in catalog, in listing, was marked missing
    - missing:    in catalog, absent from listing
    - untracked:  in listing only (backfill candidates,
                  `sync_baked_scenes.py:83-155`)
    """
    c = catalog.alias("c")
    l = listing.select(*keys).dropDuplicates(keys).withColumn("__in_listing", F.lit(True)).alias("l")
    joined = c.join(l, keys, "full_outer")
    in_catalog = F.col(f"c.{keys[0]}").isNotNull() if keys else F.lit(True)
    # use a definite catalog column to detect presence
    probe = [col for col in catalog.columns if col not in keys]
    in_cat = F.col(f"c.{probe[0]}").isNotNull() if probe else in_catalog
    was_exists = F.coalesce(F.col(f"c.{exists_col}"), F.lit(False)) if exists_col in catalog.columns else F.lit(True)
    in_listing = F.coalesce(F.col("l.__in_listing"), F.lit(False))
    status = (
        F.when(in_listing & was_exists, F.lit("verified"))
        .when(in_listing & ~was_exists, F.lit("recovered"))
        .when(~in_listing & in_cat, F.lit("missing"))
        .otherwise(F.lit("missing"))
    )
    # untracked: listing-only rows — catalog side entirely null
    if probe:
        status = F.when(F.col(f"c.{probe[0]}").isNull() & in_listing, F.lit("untracked")).otherwise(status)
    out_cols = [F.col(k).alias(k) for k in keys]
    out_cols += [F.col(f"c.{c2}").alias(c2) for c2 in catalog.columns if c2 not in keys]
    return joined.select(*out_cols, status.alias(status_col))


def skip_existing(
    planned: DataFrame, existing: DataFrame, keys: list[str]
) -> DataFrame:
    """Idempotent work-list pruning: drop planned rows whose key already
    exists in the target inventory (`scene_copy.py:408-422`)."""
    from .joins import anti_diff

    return anti_diff(planned, existing, keys)


def changed_rows(
    current: DataFrame,
    snapshot: DataFrame,
    keys: list[str],
    hash_cols: list[str],
) -> DataFrame:
    """Change detection by content hash comparison.

    Reference analog: directory-hash vs stored ``content_hash``
    (`scene_registry.py:254-262,334-350`).  Returns current rows that are new
    or whose hash columns differ from the snapshot.
    """
    h = F.sha2(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in hash_cols]), 256)
    cur = current.withColumn("__h", h).alias("cur")
    snap = snapshot.withColumn("__h", h).select(*keys, "__h").alias("snap")
    joined = cur.join(snap, keys, "left")
    return (
        joined.filter(F.col("snap.__h").isNull() | (F.col("cur.__h") != F.col("snap.__h")))
        .select(*[F.col(f"cur.{c}").alias(c) for c in current.columns])
    )


def snapshot_changes(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    op_col: str = "op",
) -> DataFrame:
    """Change-data-capture BETWEEN two snapshots — the engine's analog of
    Delta's Change Data Feed over the versioned MERGE table: diff two
    ``table_versions`` reads into an I/U/D changelog (``changed_rows``
    above detects upserts only; this also emits deletes with their
    pre-image payload, like CDF's delete rows).

    Full-outer join NULL-SAFE on the keys (a NULL key identifies a row
    like any other value — the IVM merge had exactly this bug once);
    payload equality is per-column eqNullSafe, so NULL→value and
    value→NULL edits register as updates.  Unchanged rows drop out, so
    the changelog is delta-sized.  I/U rows carry the NEW payload, D rows
    the pre-image.

    Law (pinned by pytest): ``cdc_apply(old, snapshot_changes(old, new),
    keys, seq)`` row-equals ``new`` — changes compose back.  Scale: one
    full-outer join keyed by ``key_cols``; co-partitions with the table's
    bucketing; output is |changed| rows, not |table|.
    """
    payload = [c for c in old.columns if c not in key_cols]
    if set(old.columns) != set(new.columns):
        raise ValueError(
            f"snapshot schemas differ: {sorted(old.columns)} vs "
            f"{sorted(new.columns)}"
        )
    # presence flags that survive NULL keys and all-NULL payloads: a
    # literal TRUE carried per side is NULL exactly when that side missed
    o_mark = old.withColumn("__in_old", F.lit(True)).alias("o")
    n_mark = new.withColumn("__in_new", F.lit(True)).alias("n")
    cond = None
    for k in key_cols:
        e = F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
        cond = e if cond is None else (cond & e)
    joined = o_mark.join(n_mark, cond, "full_outer")
    same = None
    for c in payload:
        e = F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        same = e if same is None else (same & e)
    if same is None:
        same = F.lit(True)  # key-only table: present-in-both means equal
    op = (
        F.when(F.col("__in_old").isNull(), F.lit("I"))
        .when(F.col("__in_new").isNull(), F.lit("D"))
        .when(~same, F.lit("U"))
    )
    out_cols = [
        F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}")).alias(k)
        for k in key_cols
    ] + [
        # I/U carry the new payload; D the pre-image
        F.when(F.col("__in_new").isNotNull(), F.col(f"n.{c}"))
        .otherwise(F.col(f"o.{c}"))
        .alias(c)
        for c in payload
    ]
    return (
        joined.withColumn(op_col, op)
        .filter(F.col(op_col).isNotNull())
        .select(*out_cols, op_col)
    )


def directory_content_hash(
    files: DataFrame,
    group_cols: list[str],
    path_col: str = "path",
    size_col: str = "size",
    mtime_col: str = "mtime",
) -> DataFrame:
    """SHA-256 over the sorted (relpath, size, mtime) listing per directory —
    the reference's content-change fingerprint (`scene_registry.py:608-644`).

    Spark form: sort_array(collect_list(struct)) → concat → sha2.  One
    aggregation; deterministic because the list is sorted before hashing.
    """
    entry = F.concat_ws(
        "|", F.col(path_col), F.col(size_col).cast("string"), F.col(mtime_col).cast("string")
    )
    return (
        files.groupBy(*group_cols)
        .agg(F.sort_array(F.collect_list(entry)).alias("__entries"))
        .select(
            *group_cols,
            F.sha2(F.concat_ws("\n", F.col("__entries")), 256).alias("content_hash"),
            F.size("__entries").alias("file_count"),
        )
    )


def scd2_collapse(
    changelog: DataFrame,
    key_cols: list[str],
    attr_col: str,
    ts_col: str,
    seq_cols: list[str] | None = None,
) -> DataFrame:
    """Slowly-changing-dimension TYPE-2 build from an append-only changelog.

    Collapses consecutive runs of an equal ``attr_col`` value per key (in
    ``(ts_col, *seq_cols)`` order) into validity intervals:
    (key…, attr, valid_from, n_changes, version, valid_to, is_current) with
    ``valid_to`` = the next run's ``valid_from`` (NULL on the open interval).
    The warehouse-dimension counterpart of the engine's latest-status state
    machine (reference `scene_registry.py` status transitions keep only the
    LATEST state; a type-2 dimension keeps the full history queryable).

    Gaps-and-islands by row_number difference; ``seq_cols`` must make the
    per-key order total (e.g. a unique changelog id) or version numbering is
    tie-dependent.  Versions are ordered by the run's first changelog
    position, not by valid_from, so same-day attribute flips stay ordered.

    Same-timestamp flips produce ZERO-WIDTH versions ([t, t)) — correct
    history records (the flip happened and is numbered), but they cover no
    lookup timestamp: ``validity_join`` drops them before its as-of lookup
    so a fact at t deterministically gets the superseding version.

    Scale: one shuffle keyed by ``key_cols`` serves every window and the
    collapse groupBy; no self-join, no second scan.
    """
    from pyspark.sql import Window

    seq_cols = seq_cols or []
    order = [F.col(ts_col), *[F.col(c) for c in seq_cols]]
    w_all = Window.partitionBy(*key_cols).orderBy(*order)
    w_attr = Window.partitionBy(*key_cols, attr_col).orderBy(*order)
    runs = changelog.select(
        *key_cols,
        attr_col,
        ts_col,
        F.row_number().over(w_all).alias("__rn"),
        (F.row_number().over(w_all) - F.row_number().over(w_attr)).alias("__grp"),
    )
    collapsed = runs.groupBy(*key_cols, attr_col, "__grp").agg(
        F.min(ts_col).alias("valid_from"),
        F.min("__rn").alias("__seq"),
        F.count(F.lit(1)).alias("n_changes"),
    )
    w_ver = Window.partitionBy(*key_cols).orderBy("__seq")
    return collapsed.select(
        *key_cols,
        attr_col,
        "valid_from",
        "n_changes",
        F.row_number().over(w_ver).alias("version"),
        F.lead("valid_from").over(w_ver).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def merge_agg_state(
    base: DataFrame,
    delta: DataFrame,
    key_cols: list[str],
    count_col: str = "n",
    sum_cols: list[str] | None = None,
) -> DataFrame:
    """Incremental-view-maintenance merge of two partial aggregate states.

    ``base`` and ``delta`` both carry (keys…, count_col, sum_cols…); the
    merge is a full-outer join on the keys with null-safe addition — the
    commutative-monoid combine Spark itself uses for map-side partial
    aggregation, lifted to the table level.  Maintaining a 100 TB rollup
    under a daily delta this way costs one join keyed by the group key
    instead of a full-history rescan; averages derive as sum/count AFTER
    the merge (never merge averages directly).

    Keys join NULL-safely: groupBy puts all NULL keys in one group, so the
    merge must too — a plain equi-join would pass a NULL-keyed base row and
    a NULL-keyed delta row through as two unmerged rows.
    """
    sum_cols = sum_cols or []
    cond = None
    for c in key_cols:
        clause = F.col(f"b.{c}").eqNullSafe(F.col(f"d.{c}"))
        cond = clause if cond is None else cond & clause
    merged = base.alias("b").join(delta.alias("d"), on=cond, how="full_outer")
    zero = F.lit(0)
    out_cols = [
        F.coalesce(F.col(f"b.{c}"), F.col(f"d.{c}")).alias(c) for c in key_cols
    ]
    out_cols.append(
        (
            F.coalesce(F.col(f"b.{count_col}"), zero)
            + F.coalesce(F.col(f"d.{count_col}"), zero)
        ).alias(count_col)
    )
    for c in sum_cols:
        out_cols.append(
            (
                F.coalesce(F.col(f"b.{c}"), zero)
                + F.coalesce(F.col(f"d.{c}"), zero)
            ).alias(c)
        )
    return merged.select(*out_cols)


def cdc_apply(
    snapshot: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    seq_cols: list[str],
    op_col: str = "op",
    upsert_ops: tuple[str, ...] = ("I", "U"),
    delete_op: str = "D",
) -> DataFrame:
    """Apply an ordered change-data-capture log to a snapshot.

    Last-writer-wins per key: the snapshot rows enter the race as sequence
    -infinity (they lose to any change), the latest change per key decides
    the row's fate — ``upsert_ops`` replace the payload, ``delete_op``
    removes the key.  One window over one shuffle keyed by ``key_cols``;
    the engine-level form of Delta's ``MERGE INTO … WHEN MATCHED DELETE``
    fed from a CDC stream (extends merge_upsert, which is upsert-only).

    ``changes``' (seq_cols) order must be total per key — ties make the
    winner engine-dependent.  Columns of ``snapshot`` and ``changes`` must
    match apart from ``op_col`` (snapshot rows get an implicit upsert op).

    Unrecognized op values (not in ``upsert_ops`` + ``delete_op``) are
    filtered out BEFORE the race — a malformed op (say a lowercase 'd')
    must not silently win the per-key window and be applied as an upsert.
    Validate/raise upstream if malformed ops should be a hard error.
    """
    snap = snapshot.withColumn(op_col, F.lit(upsert_ops[0])).withColumn(
        "__is_change", F.lit(0)
    )
    known = [*upsert_ops, delete_op]
    ch = changes.filter(F.col(op_col).isin(known)).withColumn(
        "__is_change", F.lit(1)
    )
    # snapshot may omit the sequence columns (they arrive as NULL and never
    # decide: __is_change already outranks every snapshot row)
    unioned = snap.unionByName(ch, allowMissingColumns=True)
    # change rows beat snapshot rows; among changes, highest seq wins
    order = [F.col("__is_change").desc()] + [F.col(c).desc() for c in seq_cols]
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(*order)
    latest = unioned.withColumn("__rk", F.row_number().over(w)).filter(
        F.col("__rk") == 1
    )
    return latest.filter(F.col(op_col) != delete_op).drop(
        "__rk", "__is_change", op_col
    )
