"""Job pipelines — the engine analog of the reference CLI dispatch.

The reference routes every job type through `app.py:81-403` (subcommands
`bake_navmesh`, `create_sequence`, `export`, `render`, `upload_scene`, …):
manifest load → template/default deep-merge → plan → per-item subprocess
execution.  Here each job type is a *declarative composition* of the operator
library: the manifest is merged the same way (plans/manifests.py —
`job_utils.py:217-329`), the plan and the execution are one Spark dataflow,
and the result is returned as DataFrames (the caller — or the driver —
decides where to write).  No subprocess boundaries: what the reference
fans out as UE processes / k8s Jobs, Spark fans out as tasks over the jobs
DataFrame.

Composition per job type (reference lifecycle traces in SURVEY.md §3):

- scan:      directory/listing ingest → exclusions → catalog upsert shape →
             nested document export + statistics          (EP `scene_scanner`)
- bake_plan: catalog ⋈ scanned dirs → low-actor skip → spatial bounds
             aggregates per map → bake work list           (EP3 phases 1-2)
- sequence:  (map, seed, sequence_id) jobs → seeded simulation → fixed-speed
             fit → arc-length resample → angle derive/sanitize → camera rows
             [→ CSV export when the manifest gives an output dir]  (EP2)
- render_plan: sequences catalog → prefix-match to maps → work list with
             date-suffixed output paths                    (EP1 steps 1-3)
- reconcile: catalog ⋈ store listing → status transitions → sync stats
             (`scene_registry.py:466-545`)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import registry
from ..functions import paths as path_fns
from ..operators import aggregates as agg_ops
from ..operators import export as export_ops
from ..operators import reconcile as rec_ops
from ..operators import simulate as sim_ops
from ..operators import stateful as stateful_ops
from ..operators import windows as win_ops
from .manifests import merge_manifest

SCAN_DEFAULTS = {
    "type": "scan",
    "exclude_patterns": ["Overview", "prop", "test"],
    "exclude_exts": ["txt", "url"],
}

SEQUENCE_DEFAULTS = {
    "type": "sequence",
    "sequences_per_map": 2,
    "n_segments": 6,
    "steps_per_segment": 20,
    "speed": 100.0,
    "duration": 10.0,
    "resample_points": 48,
    "max_pitch_rate": 20.0,
    "pitch_range": [-60.0, 60.0],
    "fps": 30.0,
}

RENDER_DEFAULTS = {
    "type": "render",
    "output_base_dir": "renders",
}

BAKE_DEFAULTS = {
    "type": "bake_navmesh",
    "low_actor_threshold": 50,
    "grid_size": 5000.0,
    "z_bucket": 50.0,
}


def run_scan_job(
    spark: SparkSession,
    files: DataFrame,
    manifest: dict | None = None,
) -> dict[str, DataFrame]:
    """Scan pipeline (`scene_scanner.py:84-331,530-587`): a file inventory
    (scene_name, map_name, path columns — e.g. from
    sources/listings.py::scan_directory + path derivation) becomes the
    catalog upsert shape, the nested scenes-document export, and per-scene
    stats, with the scanner's exclusion predicates applied."""
    m = merge_manifest(manifest or {}, defaults=SCAN_DEFAULTS)
    kept = files.filter(
        ~path_fns.excluded_by_patterns(F.col("map_name"), m["exclude_patterns"])
        & ~path_fns.excluded_system_dir(F.col("scene_name"))
    )
    maps = kept.select(
        "scene_name", "map_name", F.col("path").alias("map_path")
    ).dropDuplicates(["scene_name", "map_name"])
    scenes = (
        kept.groupBy("scene_name")
        .agg(
            F.count(F.lit(1)).alias("file_count"),
            F.sum("size").alias("total_size_bytes"),
        )
        .withColumn("last_updated", F.lit(None).cast("string"))
    )
    document = registry.scenes_document_export(
        scenes.select("scene_name"),
        maps.select("scene_name", "map_name", "map_path"),
    )
    stats = scenes.agg(
        F.count(F.lit(1)).alias("total_scenes"),
        F.sum("file_count").alias("total_files"),
        F.sum("total_size_bytes").alias("total_size_bytes"),
    )
    return {"scenes": scenes, "maps": maps, "document": document, "stats": stats}


def run_bake_plan(
    spark: SparkSession,
    maps: DataFrame,
    actors: DataFrame,
    manifest: dict | None = None,
) -> DataFrame:
    """Bake planning (EP3: `batch_bake.py:242-360` + the
    `navmesh_injector.py:392-784` spatial aggregates): per map — actor count
    → low-actor skip flag; AABB bounds; densest grid cell; dominant ground
    plane.  Returns one plan row per map; the caller bakes only
    `should_bake` rows."""
    m = merge_manifest(manifest or {}, defaults=BAKE_DEFAULTS)
    counts = actors.groupBy("map_name").agg(F.count(F.lit(1)).alias("n_actors"))
    bounds = agg_ops.aabb(actors, group_cols=["map_name"])
    dense = agg_ops.grid_mode(
        actors, group_cols=["map_name"], x_col="origin_x", y_col="origin_y",
        cell_size=float(m["grid_size"]),
    )
    ground = agg_ops.histogram_mode(
        actors, group_cols=["map_name"], value_col="origin_z",
        bucket_size=float(m["z_bucket"]),
    )
    plan = (
        maps.join(counts, "map_name", "left")
        .join(bounds, "map_name", "left")
        .join(dense, "map_name", "left")
        .join(ground, "map_name", "left")
        .withColumn(
            "low_actor",
            F.coalesce(F.col("n_actors"), F.lit(0)) < int(m["low_actor_threshold"]),
        )
        .withColumn("should_bake", ~F.col("low_actor"))
    )
    return plan


def run_sequence_job(
    spark: SparkSession,
    maps: DataFrame,
    manifest: dict | None = None,
    output_dir: str | None = None,
) -> DataFrame:
    """Sequence generation (EP2, `worker_create.py:292-490` nine-step
    pipeline): expand (map × sequences_per_map) into seeded jobs, simulate,
    fixed-speed fit, arc-length resample, derive + sanitize angles, and
    return camera-ready pose rows.  When ``output_dir`` (or the manifest's
    ``output_base_dir``) is set, also writes the reference's camera CSV
    layout (`camera_exporter.py:383-437`).

    The job rows are repartitioned by number on ``sequence_id`` before the
    simulation.  They are a few KB, so adaptive execution, which sizes
    shuffle partitions by bytes, would coalesce them into one partition and
    run the CPU-bound simulation as a single task; a repartition by number
    is never coalesced, so every core gets a share of the sequences."""
    out, dest = sequence_poses(spark, maps, manifest, output_dir)
    if dest:
        export_ops.write_camera_csvs(out, dest)
    return out


def sequence_poses(
    spark: SparkSession,
    maps: DataFrame,
    manifest: dict | None = None,
    output_dir: str | None = None,
) -> tuple[DataFrame, str | None]:
    """`run_sequence_job` without the export: the lazy pose rows and the
    CSV destination (``output_dir``, else the merged manifest's
    ``output_base_dir``, else ``None``), for a caller that writes them
    itself and wants `write_camera_csvs`'s row count."""
    m = merge_manifest(manifest or {}, defaults=SEQUENCE_DEFAULTS)
    nseq = int(m["sequences_per_map"])
    jobs = (
        maps.select("map_name")
        .distinct()
        .select(
            "map_name",
            F.explode(F.sequence(F.lit(0), F.lit(nseq - 1))).alias("i"),
        )
        .select(
            F.concat_ws("_", "map_name", F.lpad(F.col("i").cast("string"), 3, "0"))
            .alias("sequence_id"),
            # numpy seeds must be non-negative: fold the 64-bit hash into
            # [0, 2^31) before offsetting by the per-map sequence index
            (
                F.pmod(F.xxhash64("map_name"), F.lit(2**31 - 1)) + F.col("i")
            ).alias("seed"),
        )
    )
    # by number, which AQE never coalesces (see run_sequence_job)
    poses = sim_ops.simulate_jobs(
        jobs.select("sequence_id", "seed").repartition(
            spark.sparkContext.defaultParallelism, "sequence_id"
        ),
        n_segments=int(m["n_segments"]),
        steps_per_segment=int(m["steps_per_segment"]),
        speed=float(m["speed"]),
    )
    cut = win_ops.fixed_speed_truncate(
        poses.select("sequence_id", F.col("point_idx").alias("ord"), "x", "y", "z"),
        "sequence_id", "ord",
        speed=float(m["speed"]), duration=float(m["duration"]),
    )
    grid = win_ops.arc_length_resample(
        cut, "sequence_id", "ord", int(m["resample_points"])
    )
    ang = win_ops.yaw_from_trajectory(grid, "sequence_id", "k")
    lo, hi = (float(v) for v in m["pitch_range"])
    ang = win_ops.pitch_from_slope(ang, "sequence_id", "k", min_pitch=lo, max_pitch=hi)
    ang = win_ops.unwrap_angle(ang, "sequence_id", "k", "yaw", "yaw_u")
    ang = stateful_ops.rate_limit(
        ang, "sequence_id", "k", "pitch",
        max_rate=float(m["max_pitch_rate"]), dt=1.0 / float(m["fps"]),
        lo=lo, hi=hi, out_col="pitch_l",
    )
    out = ang.select(
        "sequence_id",
        F.col("k").alias("frame"),
        "x", "y", "z",
        F.col("yaw_u").alias("yaw"),
        F.col("pitch_l").alias("pitch"),
        F.lit(0.0).alias("roll"),
    )
    return out, output_dir or m.get("output_base_dir")


def run_render_plan(
    spark: SparkSession,
    sequences: DataFrame,
    maps: DataFrame,
    manifest: dict | None = None,
) -> DataFrame:
    """Render planning (EP1 steps 1-3, `run_render_job_headless.py:622-650`):
    sequences are matched to their map by name prefix (`Demo` → `Demo001`),
    each pair gets a date-suffixed output path (the manifest merge applies
    the implicit `*output*dir*` rewrite of `job_utils.py:53-104`)."""
    m = merge_manifest(manifest or {}, defaults=RENDER_DEFAULTS)
    base = m["output_base_dir"]  # already date-suffixed by merge_manifest
    s, p = sequences.alias("s"), maps.alias("p")
    plan = s.join(
        F.broadcast(p),
        F.col("s.sequence_name").startswith(F.col("p.map_name")),
    )
    return plan.select(
        F.col("p.map_name").alias("map_name"),
        F.col("s.sequence_name").alias("sequence_name"),
        F.concat_ws(
            "/", F.lit(base), F.col("p.map_name"), F.col("s.sequence_name")
        ).alias("output_path"),
    )


def run_reconcile_job(
    spark: SparkSession,
    catalog: DataFrame,
    listing: DataFrame,
    keys: list[str],
    manifest: dict | None = None,
) -> dict[str, DataFrame]:
    """Inventory reconcile (`scene_registry.py:466-545`): full-outer status
    transitions + the sync-stats rollup the reference prints."""
    annotated = rec_ops.inventory_reconcile(catalog, listing, keys)
    stats = annotated.groupBy("sync_status").agg(F.count(F.lit(1)).alias("n"))
    return {"annotated": annotated, "stats": stats}
