"""Reconcile / incremental operator tests (reference §2.8 semantics)."""

import pytest
from pyspark.sql import functions as F

from worlddatapipeline_spark.operators import reconcile


def test_merge_upsert(spark):
    target = spark.createDataFrame(
        [("s1", "old", 1), ("s2", "keep", 2)], ["scene", "val", "n"]
    )
    source = spark.createDataFrame(
        [("s1", "new"), ("s3", "ins")], ["scene", "val"]
    )
    out = reconcile.merge_upsert(target, source, ["scene"], ["val"]).collect()
    got = {r["scene"]: (r["val"], r["n"]) for r in out}
    assert got["s1"] == ("new", 1)      # updated, passthrough col kept
    assert got["s2"] == ("keep", 2)     # untouched
    assert got["s3"][0] == "ins"        # inserted


def test_inventory_reconcile_transitions(spark):
    catalog = spark.createDataFrame(
        [
            ("s1", True, "x"),   # in listing, was exists -> verified
            ("s2", False, "y"),  # in listing, was missing -> recovered
            ("s3", True, "z"),   # absent from listing -> missing
        ],
        ["scene", "exists_flag", "payload"],
    )
    listing = spark.createDataFrame(
        [("s1",), ("s2",), ("s4",)], ["scene"]
    )
    out = reconcile.inventory_reconcile(catalog, listing, ["scene"]).collect()
    status = {r["scene"]: r["sync_status"] for r in out}
    assert status == {
        "s1": "verified",
        "s2": "recovered",
        "s3": "missing",
        "s4": "untracked",
    }


def test_skip_existing(spark):
    planned = spark.createDataFrame([("a",), ("b",), ("c",)], ["key"])
    existing = spark.createDataFrame([("b",)], ["key"])
    out = reconcile.skip_existing(planned, existing, ["key"]).collect()
    assert sorted(r["key"] for r in out) == ["a", "c"]


def test_changed_rows(spark):
    current = spark.createDataFrame(
        [("s1", "h1"), ("s2", "h2-new"), ("s3", "h3")], ["scene", "content"]
    )
    snapshot = spark.createDataFrame(
        [("s1", "h1"), ("s2", "h2-old")], ["scene", "content"]
    )
    out = reconcile.changed_rows(
        current, snapshot, ["scene"], ["content"]
    ).collect()
    assert sorted(r["scene"] for r in out) == ["s2", "s3"]


def test_directory_content_hash_deterministic(spark):
    files1 = spark.createDataFrame(
        [("s1", "a.txt", 10, 111), ("s1", "b.txt", 20, 222)],
        ["scene", "path", "size", "mtime"],
    )
    # same files, different row order -> same hash (sorted before hashing)
    files2 = spark.createDataFrame(
        [("s1", "b.txt", 20, 222), ("s1", "a.txt", 10, 111)],
        ["scene", "path", "size", "mtime"],
    )
    h1 = reconcile.directory_content_hash(files1, ["scene"]).collect()[0]
    h2 = reconcile.directory_content_hash(files2, ["scene"]).collect()[0]
    assert h1["content_hash"] == h2["content_hash"]
    assert h1["file_count"] == 2
    # changing mtime changes the hash
    files3 = spark.createDataFrame(
        [("s1", "a.txt", 10, 999), ("s1", "b.txt", 20, 222)],
        ["scene", "path", "size", "mtime"],
    )
    h3 = reconcile.directory_content_hash(files3, ["scene"]).collect()[0]
    assert h3["content_hash"] != h1["content_hash"]


def test_merge_upsert_parquet_write_path(spark, tmp_path):
    """Persistent MERGE: versioned write + pointer commit; updates applied,
    inserts added, untouched rows pass through, pointer resolves to the
    merged table."""
    import os

    from worlddatapipeline_spark.operators.reconcile import (
        merge_upsert_parquet,
        read_parquet_table,
    )

    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], ["k", "name", "bal"]
    ).write.parquet(path)
    source = spark.createDataFrame([(2, 99.0), (3, 30.0)], ["k", "bal"])
    out = merge_upsert_parquet(spark, path, source, ["k"], update_cols=["bal"])
    got = {r["k"]: (r["name"], r["bal"]) for r in out.collect()}
    assert got == {1: ("a", 10.0), 2: ("b", 99.0), 3: (None, 30.0)}
    # pointer-resolved read sees the merged table
    again = {r["k"]: r["bal"] for r in read_parquet_table(spark, path).collect()}
    assert again == {1: 10.0, 2: 99.0, 3: 30.0}
    with open(os.path.join(path, "_CURRENT"), encoding="utf-8") as fh:
        assert fh.read().strip() == "_v00000001"
    # no staging orphans after a clean merge
    assert not [e for e in os.listdir(path) if e.startswith("_staging-")]

    # second merge: new version published, first version kept for rollback,
    # legacy root files GC'd
    merge_upsert_parquet(
        spark, path, spark.createDataFrame([(1, 5.0)], ["k", "bal"]), ["k"],
        update_cols=["bal"],
    )
    final = {r["k"]: r["bal"] for r in read_parquet_table(spark, path).collect()}
    assert final == {1: 5.0, 2: 99.0, 3: 30.0}
    entries = set(os.listdir(path))
    assert {"_CURRENT", "_v00000001", "_v00000002"} <= entries
    assert not [e for e in entries if e.endswith(".parquet")]  # legacy files gone


def test_merge_upsert_parquet_crash_before_rename_not_torn(spark, tmp_path, monkeypatch):
    """A crash AFTER the staging write but BEFORE the version rename leaves
    the live table untouched and the merge retryable."""
    from worlddatapipeline_spark.operators import reconcile

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, 10.0), (2, 20.0)], ["k", "bal"]).write.parquet(path)
    source = spark.createDataFrame([(2, 99.0)], ["k", "bal"])

    def boom(*a, **kw):
        raise RuntimeError("simulated crash before version rename")

    monkeypatch.setattr(reconcile.os, "rename", boom)
    try:
        reconcile.merge_upsert_parquet(spark, path, source, ["k"])
        raise AssertionError("expected simulated crash")
    except RuntimeError:
        pass
    monkeypatch.undo()
    # table still fully readable with the OLD contents — no torn window
    live = {r["k"]: r["bal"] for r in reconcile.read_parquet_table(spark, path).collect()}
    assert live == {1: 10.0, 2: 20.0}
    # retry succeeds and sweeps the orphaned staging dir
    out = reconcile.merge_upsert_parquet(spark, path, source, ["k"])
    assert {r["k"]: r["bal"] for r in out.collect()} == {1: 10.0, 2: 99.0}


def test_merge_upsert_parquet_crash_before_pointer_commit_not_torn(
    spark, tmp_path, monkeypatch
):
    """A crash AFTER the version rename but BEFORE the pointer commit leaves
    the old version live (unreferenced new dir only); retry publishes."""
    from worlddatapipeline_spark.operators import reconcile

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, 10.0), (2, 20.0)], ["k", "bal"]).write.parquet(path)
    # establish a versioned layout first so _CURRENT exists
    reconcile.merge_upsert_parquet(
        spark, path, spark.createDataFrame([(1, 10.0)], ["k", "bal"]), ["k"]
    )

    def boom(*a, **kw):
        raise RuntimeError("simulated crash before pointer commit")

    monkeypatch.setattr(reconcile.os, "replace", boom)
    source = spark.createDataFrame([(2, 99.0)], ["k", "bal"])
    try:
        reconcile.merge_upsert_parquet(spark, path, source, ["k"])
        raise AssertionError("expected simulated crash")
    except RuntimeError:
        pass
    monkeypatch.undo()
    # pointer still names the old version; reads see the old table
    live = {r["k"]: r["bal"] for r in reconcile.read_parquet_table(spark, path).collect()}
    assert live == {1: 10.0, 2: 20.0}
    # retry overwrites the orphaned version dir and commits
    out = reconcile.merge_upsert_parquet(spark, path, source, ["k"])
    assert {r["k"]: r["bal"] for r in out.collect()} == {1: 10.0, 2: 99.0}


def test_purge_rows_crash_before_pointer_commit_not_torn(
    spark, tmp_path, monkeypatch
):
    """A purge that crashes AFTER the version rename but BEFORE the pointer
    commit leaves the old rows readable; the retry completes the purge and
    leaves exactly one version."""
    from worlddatapipeline_spark.operators import reconcile

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, 10.0), (2, 20.0)], ["k", "bal"]).write.parquet(path)
    reconcile.merge_upsert_parquet(
        spark, path, spark.createDataFrame([(3, 30.0)], ["k", "bal"]), ["k"]
    )
    keys = spark.createDataFrame([(2,)], ["k"])

    def boom(*a, **kw):
        raise RuntimeError("simulated crash before pointer commit")

    monkeypatch.setattr(reconcile.os, "replace", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        reconcile.purge_rows(spark, path, ["k"], keys)
    monkeypatch.undo()
    # pointer still names the pre-purge version; its rows stay readable
    live = {r["k"]: r["bal"] for r in reconcile.read_parquet_table(spark, path).collect()}
    assert live == {1: 10.0, 2: 20.0, 3: 30.0}
    # retry overwrites the orphaned version dir, commits, drops history
    out = reconcile.purge_rows(spark, path, ["k"], keys)
    assert {r["k"]: r["bal"] for r in out.collect()} == {1: 10.0, 3: 30.0}
    assert reconcile.table_versions(path) == ["_v00000002"]


def test_concurrent_merge_fails_fast_on_live_lease(spark, tmp_path):
    """A second writer against a live lease must raise immediately — two
    concurrent merges can never interleave their pointer commits."""
    import os

    import pytest as _pytest

    from worlddatapipeline_spark.operators import reconcile

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, 10.0)], ["k", "bal"]).write.parquet(path)
    src = spark.createDataFrame([(1, 99.0)], ["k", "bal"])

    lease = reconcile._acquire_lease(path)  # rival writer holds the lease
    with _pytest.raises(reconcile.ConcurrentMergeError):
        reconcile.merge_upsert_parquet(spark, path, src, ["k"])
    # the blocked attempt must not have touched the table
    assert {r["bal"] for r in reconcile.read_parquet_table(spark, path).collect()} == {10.0}
    reconcile._release_lease(lease)

    out = reconcile.merge_upsert_parquet(spark, path, src, ["k"])
    assert {r["bal"] for r in out.collect()} == {99.0}
    assert not os.path.exists(os.path.join(path, "_LEASE"))  # released


def test_expired_lease_taken_over_and_table_recovers(spark, tmp_path):
    """A crashed writer (stale expired lease + staging orphans) must not
    wedge the table: readers stay on the committed version, and the next
    merge takes the lease over, sweeps orphans, and commits."""
    import os

    from worlddatapipeline_spark.operators import reconcile

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, 10.0)], ["k", "bal"]).write.parquet(path)
    reconcile.merge_upsert_parquet(
        spark, path, spark.createDataFrame([(2, 20.0)], ["k", "bal"]), ["k"]
    )
    # simulate a crash mid-merge: stale lease (already expired) + orphans
    with open(os.path.join(path, "_LEASE"), "w", encoding="utf-8") as fh:
        fh.write("pid=99999 expires=1.0\n")
    os.makedirs(os.path.join(path, "_staging-_v00000002"))
    # reader falls back through _CURRENT to the committed version
    got = {r["k"]: r["bal"] for r in reconcile.read_parquet_table(spark, path).collect()}
    assert got == {1: 10.0, 2: 20.0}
    # next merge takes over the expired lease and commits normally
    out = reconcile.merge_upsert_parquet(
        spark, path, spark.createDataFrame([(3, 30.0)], ["k", "bal"]), ["k"]
    )
    assert {r["k"] for r in out.collect()} == {1, 2, 3}
    entries = os.listdir(path)
    assert not [e for e in entries if e.startswith("_staging-")]
    assert not os.path.exists(os.path.join(path, "_LEASE"))


def test_torn_lease_counts_as_crashed(tmp_path):
    """An unreadable lease (crash mid-write) must not wedge the claim."""
    import os

    from worlddatapipeline_spark.operators import reconcile

    path = str(tmp_path / "tbl")
    os.makedirs(path)
    with open(os.path.join(path, "_LEASE"), "w", encoding="utf-8") as fh:
        fh.write("garbage")  # no expires= field
    lease = reconcile._acquire_lease(path)
    assert os.path.isfile(lease)
    reconcile._release_lease(lease)


def test_scd2_collapse(spark):
    from worlddatapipeline_spark.operators.reconcile import scd2_collapse

    rows = [
        # user 1: A,A,B,A -> three runs, same-day flip covered by seq col
        (1, "A", 10, 100),
        (1, "A", 11, 101),
        (1, "B", 12, 102),
        (1, "A", 12, 103),
        # user 2: single run, always current
        (2, "X", 10, 200),
        (2, "X", 20, 201),
    ]
    df = spark.createDataFrame(rows, ["uid", "status", "ts", "change_id"])
    out = scd2_collapse(df, ["uid"], "status", "ts", seq_cols=["change_id"])
    got = {
        (r["uid"], r["version"]): (
            r["status"], r["valid_from"], r["valid_to"], r["n_changes"], r["is_current"]
        )
        for r in out.collect()
    }
    assert got[(1, 1)] == ("A", 10, 12, 2, False)
    assert got[(1, 2)] == ("B", 12, 12, 1, False)
    assert got[(1, 3)] == ("A", 12, None, 1, True)
    assert got[(2, 1)] == ("X", 10, None, 2, True)
    assert len(got) == 4


def test_merge_agg_state(spark):
    from worlddatapipeline_spark.operators.reconcile import merge_agg_state

    base = spark.createDataFrame(
        [(1, 2, 10.0), (2, 1, 5.0)], ["k", "n", "s"]
    )
    delta = spark.createDataFrame(
        [(2, 3, 7.0), (3, 1, 1.0)], ["k", "n", "s"]
    )
    out = {
        r["k"]: (r["n"], r["s"])
        for r in merge_agg_state(base, delta, ["k"], "n", ["s"]).collect()
    }
    # base-only key passes through, shared key adds, delta-only key appears
    assert out == {1: (2, 10.0), 2: (4, 12.0), 3: (1, 1.0)}


def test_cdc_apply_last_writer_wins_and_delete(spark):
    from worlddatapipeline_spark.operators.reconcile import cdc_apply

    snap = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    changes = spark.createDataFrame(
        [
            (1, "a2", "U", 1),
            (1, "a3", "U", 2),   # latest change wins over earlier + snapshot
            (2, None, "D", 1),   # delete removes the key
            (4, "d", "I", 1),    # insert of a new key
        ],
        ["k", "v", "op", "seq"],
    )
    out = {r["k"]: r["v"] for r in cdc_apply(snap, changes, ["k"], ["seq"]).collect()}
    assert out == {1: "a3", 3: "c", 4: "d"}


def test_cdc_apply_reinsert_after_delete(spark):
    from worlddatapipeline_spark.operators.reconcile import cdc_apply

    snap = spark.createDataFrame([(1, "a")], ["k", "v"])
    changes = spark.createDataFrame(
        [(1, None, "D", 1), (1, "re", "I", 2)], ["k", "v", "op", "seq"]
    )
    out = {r["k"]: r["v"] for r in cdc_apply(snap, changes, ["k"], ["seq"]).collect()}
    assert out == {1: "re"}


def test_merge_agg_state_null_key_merges(spark):
    """NULL group keys must combine into one state row, exactly as groupBy
    would put all NULLs in one group."""
    from worlddatapipeline_spark.operators.reconcile import merge_agg_state

    base = spark.createDataFrame([(None, 2, 10.0), (1, 1, 1.0)], "k int, n int, s double")
    delta = spark.createDataFrame([(None, 3, 7.0)], "k int, n int, s double")
    rows = merge_agg_state(base, delta, ["k"], "n", ["s"]).collect()
    out = {r["k"]: (r["n"], r["s"]) for r in rows}
    assert len(rows) == 2
    assert out[None] == (5, 17.0)
    assert out[1] == (1, 1.0)


def test_cdc_apply_unknown_op_filtered(spark):
    """A malformed op value must not win the per-key race as an implicit
    upsert; it is excluded before ranking."""
    from worlddatapipeline_spark.operators.reconcile import cdc_apply

    snap = spark.createDataFrame([(1, "a")], ["k", "v"])
    changes = spark.createDataFrame(
        [(1, "good", "U", 1), (1, None, "d", 2), (2, "x", "T", 1)],
        ["k", "v", "op", "seq"],
    )
    out = {r["k"]: r["v"] for r in cdc_apply(snap, changes, ["k"], ["seq"]).collect()}
    # lowercase 'd' and 'T' dropped: key 1 keeps the valid update, key 2 never appears
    assert out == {1: "good"}


def test_time_travel_read_previous_version(spark, tmp_path):
    """VERSION-AS-OF read: after a second merge the previous version stays
    readable by explicit name; unknown versions raise with the available
    rollback horizon."""
    import pytest as _pytest

    from worlddatapipeline_spark.operators.reconcile import (
        merge_upsert_parquet,
        read_parquet_table,
        table_versions,
    )

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, 10.0)], ["k", "bal"]).write.parquet(path)
    merge_upsert_parquet(
        spark, path, spark.createDataFrame([(2, 20.0)], ["k", "bal"]), ["k"],
        update_cols=["bal"],
    )
    merge_upsert_parquet(
        spark, path, spark.createDataFrame([(1, 99.0)], ["k", "bal"]), ["k"],
        update_cols=["bal"],
    )
    assert table_versions(path) == ["_v00000001", "_v00000002"]
    cur = {r["k"]: r["bal"] for r in read_parquet_table(spark, path).collect()}
    old = {
        r["k"]: r["bal"]
        for r in read_parquet_table(spark, path, version="_v00000001").collect()
    }
    assert cur == {1: 99.0, 2: 20.0}
    assert old == {1: 10.0, 2: 20.0}  # pre-second-merge state
    with _pytest.raises(ValueError, match="_v00000001"):
        read_parquet_table(spark, path, version="_v99999999")


def test_snapshot_changes_ops(spark):
    """I/U/D classification with NULL keys and NULL payload edges."""
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (None, "x")],
        "k int, v string",
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, "c"), (4, "d")],
        "k int, v string",
    )
    ch = {
        (r["k"], r["op"]): r["v"]
        for r in reconcile.snapshot_changes(old, new, ["k"]).collect()
    }
    assert ch == {
        (2, "U"): "B",       # value change -> new payload
        (3, "U"): "c",       # NULL -> value is an update
        (4, "I"): "d",
        (None, "D"): "x",    # NULL key deleted, pre-image payload
    }


def test_snapshot_changes_roundtrip_law(spark):
    """cdc_apply(old, snapshot_changes(old, new)) must row-equal new."""
    old = spark.createDataFrame(
        [(i, f"v{i}", float(i)) for i in range(0, 40, 2)] + [(None, "nk", 0.5)],
        "k int, s string, x double",
    )
    new = spark.createDataFrame(
        # drop multiples of 6, change multiples of 10, add odds < 9
        [(i, f"v{i}" if i % 10 else "CHANGED", float(i))
         for i in range(0, 40, 2) if i % 6]
        + [(i, "new", -1.0) for i in (1, 3, 5, 7)],
        "k int, s string, x double",
    )
    changes = reconcile.snapshot_changes(old, new, ["k"]).withColumn(
        "seq", F.lit(1)
    )
    applied = reconcile.cdc_apply(old, changes, ["k"], ["seq"])
    assert sorted(map(tuple, applied.select("k", "s", "x").collect()), key=str) == \
        sorted(map(tuple, new.collect()), key=str)
    # delta-sized: unchanged rows are absent from the changelog
    assert changes.count() < old.count() + new.count()


def test_snapshot_changes_roundtrip_randomized(spark):
    """Roundtrip law over randomized edit scripts (fixed seeds): for any
    old/new pair with inserts, deletes, updates, NULL keys, and NULL
    payloads, cdc_apply(old, snapshot_changes(old, new)) == new."""
    import random

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        keys = list(range(30)) + [None]
        old_rows = [
            (k, rng.choice(["a", "b", None]), rng.choice([1.5, 2.5, None]))
            for k in keys
            if rng.random() < 0.8
        ]
        old_keys = {r[0] for r in old_rows}
        new_rows = []
        for r in old_rows:
            roll = rng.random()
            if roll < 0.2:
                continue  # delete
            if roll < 0.5:  # update (possibly to/from NULL)
                new_rows.append(
                    (r[0], rng.choice(["a", "b", "z", None]),
                     rng.choice([1.5, 9.9, None]))
                )
            else:
                new_rows.append(r)  # unchanged
        new_rows += [
            (k, "ins", 0.1) for k in range(100, 110) if rng.random() < 0.5
        ]
        schema = "k int, s string, x double"
        old = spark.createDataFrame(old_rows, schema)
        new = spark.createDataFrame(new_rows, schema)
        changes = reconcile.snapshot_changes(old, new, ["k"]).withColumn(
            "seq", F.lit(1)
        )
        applied = reconcile.cdc_apply(old, changes, ["k"], ["seq"])
        got = sorted(map(tuple, applied.select("k", "s", "x").collect()), key=str)
        want = sorted(map(tuple, new.collect()), key=str)
        assert got == want, f"seed {seed}: {got} != {want}"


def test_merge_retention_horizon_and_vacuum(spark, tmp_path):
    """keep_versions widens the GC horizon; vacuum_table trims it back,
    never removes the live version, and read/time-travel behave across."""
    import os

    from worlddatapipeline_spark.operators import reconcile

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, 0.0)], ["k", "bal"]).write.parquet(path)
    for i in range(1, 5):
        reconcile.merge_upsert_parquet(
            spark,
            path,
            spark.createDataFrame([(1, float(i))], ["k", "bal"]),
            ["k"],
            keep_versions=3,
        )
    vers = reconcile.table_versions(path)
    assert vers == ["_v00000002", "_v00000003", "_v00000004"]
    # time travel to the oldest retained version
    old = reconcile.read_parquet_table(spark, path, version="_v00000002")
    assert old.collect()[0]["bal"] == 2.0

    removed = reconcile.vacuum_table(path, keep_last=1)
    assert removed == ["_v00000002", "_v00000003"]
    assert reconcile.table_versions(path) == ["_v00000004"]
    assert (
        reconcile.read_parquet_table(spark, path).collect()[0]["bal"] == 4.0
    )
    # vacuum never dangles the pointer and refuses keep_last < 1
    with open(os.path.join(path, "_CURRENT"), encoding="utf-8") as fh:
        assert fh.read().strip() == "_v00000004"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        reconcile.vacuum_table(path, keep_last=0)


def test_vacuum_respects_live_lease(spark, tmp_path):
    """vacuum takes the single-writer lease: a live merge blocks it."""
    import os
    import time

    import pytest as _pytest

    from worlddatapipeline_spark.operators import reconcile

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, 0.0)], ["k", "bal"]).write.parquet(path)
    reconcile.merge_upsert_parquet(
        spark, path, spark.createDataFrame([(1, 1.0)], ["k", "bal"]), ["k"]
    )
    with open(os.path.join(path, "_LEASE"), "w", encoding="utf-8") as fh:
        fh.write(f"pid=0 expires={time.time() + 60:.3f}\n")
    try:
        with _pytest.raises(reconcile.ConcurrentMergeError):
            reconcile.vacuum_table(path, keep_last=1)
    finally:
        os.remove(os.path.join(path, "_LEASE"))


def test_merge_schema_evolution(spark, tmp_path):
    """Source columns absent from the target are appended (NULL for
    unmatched rows); old versions keep the old schema for time travel."""
    from worlddatapipeline_spark.operators import reconcile

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "a")], ["k", "name"]).write.parquet(path)
    reconcile.merge_upsert_parquet(
        spark,
        path,
        spark.createDataFrame([(2, "b")], ["k", "name"]),
        ["k"],
    )
    out = reconcile.merge_upsert_parquet(
        spark,
        path,
        spark.createDataFrame([(2, "B", 9.5), (3, "c", 1.5)], ["k", "name", "score"]),
        ["k"],
    )
    got = {r["k"]: (r["name"], r["score"]) for r in out.collect()}
    assert got == {1: ("a", None), 2: ("B", 9.5), 3: ("c", 1.5)}
    # the pre-evolution version still reads with its own (old) schema
    old = reconcile.read_parquet_table(
        spark, path, version=reconcile.table_versions(path)[0]
    )
    assert old.columns == ["k", "name"]


def test_reader_across_one_merge_sees_prior_version(spark, tmp_path):
    """Snapshot behavior: a reader that resolved _CURRENT before a merge
    still reads its version afterwards — GC keeps the previous version as
    the rollback/lagging-reader horizon (one merge deep by contract)."""
    from worlddatapipeline_spark.operators import reconcile

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, 0.0)], ["k", "bal"]).write.parquet(path)
    reconcile.merge_upsert_parquet(
        spark, path, spark.createDataFrame([(1, 1.0)], ["k", "bal"]), ["k"]
    )
    held = reconcile.read_parquet_table(spark, path)  # resolves _v1
    reconcile.merge_upsert_parquet(
        spark, path, spark.createDataFrame([(1, 2.0)], ["k", "bal"]), ["k"]
    )
    # the lagging reader still materializes the version it resolved
    assert held.collect()[0]["bal"] == 1.0
    # and a fresh resolve sees the new state
    assert reconcile.read_parquet_table(spark, path).collect()[0]["bal"] == 2.0


def test_purge_rows_erases_history(spark, tmp_path):
    """Right-to-be-forgotten: the purged key disappears from the live
    table AND from every remaining version directory — no time-travel
    target can resurrect it."""
    import os

    from worlddatapipeline_spark.operators import reconcile

    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "alice"), (2, "bob")], ["k", "name"]
    ).write.parquet(path)
    for i in (1, 2):
        reconcile.merge_upsert_parquet(
            spark, path,
            spark.createDataFrame([(2, f"bob-v{i}")], ["k", "name"]), ["k"],
        )
    # pre-purge: key 2 exists in live and in the rollback version
    assert {r["k"] for r in reconcile.read_parquet_table(spark, path).collect()} == {1, 2}

    out = reconcile.purge_rows(
        spark, path, ["k"], spark.createDataFrame([(2,)], ["k"])
    )
    assert {r["k"] for r in out.collect()} == {1}
    # every surviving version directory is free of the purged key
    for v in reconcile.table_versions(path):
        rows = spark.read.parquet(os.path.join(path, v)).collect()
        assert all(r["k"] != 2 for r in rows)
    # exactly one version remains (history gone), table still merge-able
    assert len(reconcile.table_versions(path)) == 1
    after = reconcile.merge_upsert_parquet(
        spark, path, spark.createDataFrame([(3, "carol")], ["k", "name"]), ["k"]
    )
    assert {r["k"] for r in after.collect()} == {1, 3}


def test_legacy_layout_merge_null_coalesce(spark, tmp_path):
    """A merge into a never-versioned plain-parquet directory commits the
    first versioned table; a NULL source value keeps the target's value
    (coalesce semantics), and the merge runs end-to-end."""
    from worlddatapipeline_spark.operators import reconcile

    path = str(tmp_path / "tbl")
    t0 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id long, name string, v long"
    )
    t0.write.parquet(path)
    upd = spark.createDataFrame(
        [(2, None, 25), (3, "c", 30)], "id long, name string, v long"
    )
    out = {
        r["id"]: (r["name"], r["v"])
        for r in reconcile.merge_upsert_parquet(
            spark, path, upd, ["id"]
        ).collect()
    }
    # NULL source value preserved the target's name (coalesce semantics)
    assert out == {1: ("a", 10), 2: ("b", 25), 3: ("c", 30)}
    # a versioned-parquet table afterwards
    assert reconcile.table_versions(path)


def test_delta_layout_guard_on_destructive_maintenance(spark, tmp_path):
    """A directory carrying a _delta_log must never receive the
    versioned-parquet pointer-file surgery: purge_rows' history sweep
    would rmtree the Delta log (silent table destruction), and reading it
    as a legacy layout would return the part files the log has removed.
    Every writer and the reader refuse it."""
    import os

    import pytest

    from worlddatapipeline_spark.operators import reconcile

    path = str(tmp_path / "dtbl")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(
        path
    )
    os.makedirs(os.path.join(path, "_delta_log"))
    keys = spark.createDataFrame([(1,)], "id long")
    root_files = sorted(os.listdir(path))
    with pytest.raises(ValueError, match="is a Delta table"):
        reconcile.read_parquet_table(spark, path)
    with pytest.raises(ValueError, match="is a Delta table"):
        reconcile.purge_rows(spark, path, ["id"], keys)
    with pytest.raises(ValueError, match="is a Delta table"):
        reconcile.vacuum_table(path)
    # merge goes through the same lease, so it refuses too — every time:
    # a second merge must not sweep the log and the root data files
    src = spark.createDataFrame([(2, "b")], "id long, name string")
    for _ in range(2):
        with pytest.raises(ValueError, match="is a Delta table"):
            reconcile.merge_upsert_parquet(spark, path, src, ["id"])
    # the log directory and the root files are untouched
    assert os.path.isdir(os.path.join(path, "_delta_log"))
    assert sorted(os.listdir(path)) == root_files
