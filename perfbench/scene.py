"""The ``scene_pipeline`` workload: a seeded synthetic scene tree and the
reference job lifecycle run over it through the package's public calls.

``generate`` writes the inputs (run once per seed, outside every metric).
``Pipeline.steps`` gives one pass of the lifecycle as named steps, each one
timed operation; ``Pipeline.check`` verifies the state the passes left.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEYS = ["scene_name", "map_name"]
MAPS_PER_SCENE = 4
EXCLUDE_EXTS = ["txt", "url"]
# merges keep three versions; vacuum trims the history back to the live one
MERGE_KEEP, VACUUM_KEEP = 3, 1
SEQUENCE_MANIFEST = {"sequences_per_map": 2, "resample_points": 24,
                     "n_segments": 4, "steps_per_segment": 15}
# one pass, in dependency order; each step is named by the public call it
# times, and covers that call plus the action that materializes its result
STEPS = ["sources.scan_directory", "plans.run_scan_job",
         "reconcile.merge_upsert_parquet", "plans.run_bake_plan",
         "plans.run_sequence_job", "plans.run_render_plan",
         "plans.run_reconcile_job", "catalog.registry_statistics",
         "reconcile.vacuum_table"]

_WORDS = ["Harbor", "Ridge", "Plaza", "Canyon", "Depot", "Forest", "Dock",
          "Tower"]


def generate(seed: int, n_scenes: int, out: str) -> None:
    """Scene tree ``out/scenes/<scene>/Content/Maps/*.umap`` (plus files the
    scan must exclude), a per-map actors table, and a stale catalog seed."""
    rng = np.random.default_rng(seed)
    actors = {"map_name": [], "origin_x": [], "origin_y": [], "origin_z": [],
              "extent_x": [], "extent_y": [], "extent_z": []}
    stale = []
    for s in range(n_scenes):
        scene = f"Scene{s:03d}"
        maps_dir = os.path.join(out, "scenes", scene, "Content", "Maps")
        os.makedirs(maps_dir)
        # the seed varies names, file sizes and actors, not the amount of work
        names = [f"{_WORDS[int(rng.integers(len(_WORDS)))]}{s:03d}{m:02d}"
                 for m in range(MAPS_PER_SCENE)]
        # maps the scan job drops by name, and side files it drops by ext
        names += [f"{names[0]}_Overview", f"test_{names[1]}"]
        for name in names:
            with open(os.path.join(maps_dir, f"{name}.umap"), "wb") as fh:
                fh.write(rng.bytes(int(rng.integers(512, 4096))))
            n_act = int(rng.integers(10, 120))
            actors["map_name"] += [name] * n_act
            for axis, (lo, hi) in zip("xyz", [(-5e4, 5e4)] * 2 + [(0, 500)]):
                actors[f"origin_{axis}"] += rng.uniform(lo, hi, n_act).tolist()
                actors[f"extent_{axis}"] += rng.uniform(1, 300, n_act).tolist()
        for ext in EXCLUDE_EXTS:
            with open(os.path.join(maps_dir, f"notes.{ext}"), "w") as fh:
                fh.write(scene)
        stale.append((scene, f"Removed{s:03d}"))
    pq.write_table(pa.table(actors), os.path.join(out, "actors.parquet"))
    # catalog rows for maps no longer on disk: reconcile reports them missing
    pq.write_table(
        pa.table({"scene_name": [s for s, _ in stale],
                  "map_name": [m for _, m in stale],
                  "map_path": [None] * len(stale),
                  "exists_flag": [True] * len(stale)},
                 schema=pa.schema([("scene_name", pa.string()),
                                   ("map_name", pa.string()),
                                   ("map_path", pa.string()),
                                   ("exists_flag", pa.bool_())])),
        os.path.join(out, "catalog_seed.parquet"),
    )


class Pipeline:
    """One scene tree and one output dir.  The catalog table lives across
    passes (so versions accumulate and vacuum trims them); every other
    output is overwritten by each pass."""

    def __init__(self, spark, inputs: str, out: str):
        from pyspark.sql import functions as F

        self.spark, self.F = spark, F
        self.root = os.path.join(inputs, "scenes")
        self.out = out
        self.catalog_path = os.path.join(out, "maps_catalog")
        self.export_dir = os.path.join(out, "export")
        self.actors = spark.read.parquet(os.path.join(inputs, "actors.parquet"))
        # the first merge reads this as the table's legacy (pre-versioned)
        # layout, the second merge garbage-collects it
        spark.read.parquet(os.path.join(inputs, "catalog_seed.parquet")) \
            .write.parquet(self.catalog_path)
        self.state: dict = {}

    def _path(self, name: str) -> str:
        return os.path.join(self.out, "scan", name)

    def steps(self) -> list[tuple[str, object]]:
        from worlddatapipeline_spark.catalog import registry
        from worlddatapipeline_spark.functions import paths
        from worlddatapipeline_spark.operators import reconcile
        from worlddatapipeline_spark.plans import pipelines
        from worlddatapipeline_spark.sources import listings

        spark, F, st = self.spark, self.F, self.state

        def scan():
            files = listings.scan_directory(spark, self.root, EXCLUDE_EXTS)
            umaps = files.filter(paths.path_ext(F.col("path")) == "umap").select(
                paths.first_segment(F.col("relpath")).alias("scene_name"),
                paths.path_stem(F.col("path")).alias("map_name"),
                "path", "size",
            )
            st["files"], st["listing"] = umaps, umaps.select(*KEYS)
            st["listing"].count()

        def scan_job():
            out = pipelines.run_scan_job(spark, st["files"])
            for name in ("scenes", "maps"):
                out[name].write.mode("overwrite").parquet(self._path(name))
            out["stats"].collect()

        def merge():
            st["maps"] = spark.read.parquet(self._path("maps"))
            src = st["maps"].withColumn("exists_flag", F.lit(True))
            reconcile.merge_upsert_parquet(
                spark, self.catalog_path, src, KEYS, keep_versions=MERGE_KEEP
            ).count()

        def bake():
            plan = pipelines.run_bake_plan(spark, st["maps"], self.actors)
            st["bake"] = plan.select("map_name", "should_bake").collect()

        def sequence():
            pipelines.run_sequence_job(spark, st["maps"], SEQUENCE_MANIFEST,
                                       output_dir=self.export_dir)

        def render():
            st["sequences"] = (
                spark.read.csv(os.path.join(self.export_dir, "transform"),
                               header=True)
                .select(F.col("sequence_id").alias("sequence_name"))
                .distinct()
            )
            pipelines.run_render_plan(
                spark, st["sequences"], st["maps"],
                {"output_base_dir": "renders"},
            ).count()

        def reconcile_job():
            catalog = reconcile.read_parquet_table(spark, self.catalog_path)
            out = pipelines.run_reconcile_job(spark, catalog, st["listing"], KEYS)
            st["reconcile"] = {r["sync_status"]: r["n"]
                               for r in out["stats"].collect()}

        def registry_stats():
            scenes = spark.read.parquet(self._path("scenes")).select(
                "*", F.lit(None).cast("timestamp").alias("downloaded_at"),
                F.lit(True).alias("bos_exists"))
            baked = spark.createDataFrame(
                [(r["map_name"], bool(r["should_bake"])) for r in st["bake"]],
                "map_name string, navmesh_baked boolean")
            seqs = st["sequences"].select(
                F.lit(None).cast("timestamp").alias("uploaded_at"),
                F.lit(SEQUENCE_MANIFEST["resample_points"] / 30.0)
                .alias("duration_seconds"))
            st["stats"] = registry.registry_statistics(
                scenes, baked, seqs).collect()[0].asDict()

        def vacuum():
            reconcile.vacuum_table(self.catalog_path, keep_last=VACUUM_KEEP)

        return list(zip(STEPS, [scan, scan_job, merge, bake, sequence, render,
                                reconcile_job, registry_stats, vacuum]))

    def check(self, tamper: bool = False) -> list[str]:
        """Invariants of the state the last pass left; returns the broken
        ones (empty when all hold)."""
        from worlddatapipeline_spark.operators import reconcile

        spark, F, st = self.spark, self.F, self.state
        bad = []
        scanned = {tuple(r) for r in st["maps"].select(*KEYS).collect()}
        live = reconcile.read_parquet_table(spark, self.catalog_path)
        catalog = {tuple(r) for r in live.filter(F.col("map_path").isNotNull())
                   .select(*KEYS).collect()}
        if tamper:
            catalog.pop()
        if catalog != scanned:
            bad.append("catalog rows != distinct scanned maps")
        listing = {tuple(r) for r in st["listing"].collect()}
        union = {tuple(r) for r in live.select(*KEYS).collect()} | listing
        if sum(st["reconcile"].values()) != len(union):
            bad.append("reconcile status counts != key union")
        n_seq = len({m for _, m in scanned}) * SEQUENCE_MANIFEST["sequences_per_map"]
        n_rows = spark.read.csv(os.path.join(self.export_dir, "transform"),
                                header=True).count()
        if n_rows != n_seq * SEQUENCE_MANIFEST["resample_points"]:
            bad.append("exported transform rows != sequences x resample_points")
        versions = reconcile.table_versions(self.catalog_path)
        with open(os.path.join(self.catalog_path, "_CURRENT"),
                  encoding="utf-8") as fh:
            if fh.read().strip() != versions[-1]:
                bad.append("_CURRENT is not the newest version")
        if len(versions) != VACUUM_KEEP:
            bad.append(f"vacuum left {len(versions)} versions")
        if st["stats"]["total_maps"] != len(scanned):
            bad.append("registry_statistics total_maps != scanned maps")
        return bad
