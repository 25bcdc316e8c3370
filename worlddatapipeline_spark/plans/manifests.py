"""Job-manifest config model (SURVEY.md §1.1 #3, §3 step 1-2).

The reference's job lifecycle starts with nested-JSON manifests merged
through a template chain: template file < defaults < manifest overrides,
via recursive deep-merge (`core/job_utils.py:217-238,271-329`), with two
implicit behaviors reproduced here because pipelines depend on them:

- every ``*output*dir*`` key gets a ``/YYYY-MM-DD`` suffix appended unless
  one is already present (`job_utils.py:53-104`);
- ``"default"`` sentinel values are replaced from the defaults dict
  (`job_utils.py:289-300`).

This is driver-side config (not data-plane); jobs processed *at scale* go
through a `jobs` DataFrame instead (manifest_rows_to_df).
"""

from __future__ import annotations

import copy
import json
import re
from datetime import date
from typing import Any

_DATE_RE = re.compile(r"[/\\]\d{4}-\d{2}-\d{2}$")
_OUTPUT_DIR_KEY = re.compile(r"output.*dir|dir.*output", re.IGNORECASE)


def deep_merge(base: dict, override: dict) -> dict:
    """Recursive dict merge, override wins; nested dicts merge key-wise
    (`job_utils.py:217-238`).  Lists and scalars replace wholesale."""
    out = copy.deepcopy(base)
    for k, v in override.items():
        if k in out and isinstance(out[k], dict) and isinstance(v, dict):
            out[k] = deep_merge(out[k], v)
        else:
            out[k] = copy.deepcopy(v)
    return out


def apply_date_suffix(
    manifest: dict, today: date | None = None
) -> dict:
    """Append `/YYYY-MM-DD` to every `*output*dir*` string value (recursive
    walk) unless already dated (`job_utils.py:53-104`)."""
    d = (today or date.today()).isoformat()

    def walk(node: Any) -> Any:
        if isinstance(node, dict):
            return {
                k: (
                    _suffix(v, d)
                    if isinstance(v, str) and _OUTPUT_DIR_KEY.search(k)
                    else walk(v)
                )
                for k, v in node.items()
            }
        if isinstance(node, list):
            return [walk(x) for x in node]
        return node

    def _suffix(path: str, d: str) -> str:
        if _DATE_RE.search(path):
            return path
        return path.rstrip("/\\") + "/" + d

    return walk(manifest)


def resolve_defaults(manifest: dict, defaults: dict) -> dict:
    """Replace `"default"` sentinel values with the defaults-dict value at
    the same key path (`job_utils.py:289-300`)."""

    def walk(node: Any, dft: Any) -> Any:
        if isinstance(node, dict):
            return {
                k: walk(v, dft.get(k) if isinstance(dft, dict) else None)
                for k, v in node.items()
            }
        if node == "default" and dft is not None:
            return dft
        return node

    return walk(manifest, defaults)


def merge_manifest(
    manifest: dict,
    defaults: dict | None = None,
    template: dict | None = None,
    today: date | None = None,
) -> dict:
    """Full merge pipeline (`job_utils.py:271-329`):
    template < defaults < manifest, then sentinel resolution, then the
    output-dir date suffix."""
    merged: dict = {}
    for layer in (template or {}), (defaults or {}), manifest:
        merged = deep_merge(merged, layer)
    merged = resolve_defaults(merged, defaults or {})
    return apply_date_suffix(merged, today)


def load_manifest(path: str, today: date | None = None) -> dict:
    """Parse a manifest file and apply the implicit date rewrite — the
    reference mutates on load (`job_utils.py:111-126`)."""
    with open(path) as f:
        manifest = json.load(f)
    return apply_date_suffix(manifest, today)


def manifest_rows_to_df(spark, manifests: list[dict]):
    """Jobs-at-scale form: manifests as a DataFrame with the JSON document in
    a string column plus promoted common fields, ready for from_json/
    get_json_object processing (SURVEY §1.1 #3 Spark mapping)."""
    from pyspark.sql import functions as F

    from ..session import literal_frame

    rows = [(m.get("type", ""), json.dumps(m, sort_keys=True)) for m in manifests]
    df = literal_frame(spark, rows, "job_type string, manifest_json string")
    return df.withColumn(
        "output_base_dir",
        F.get_json_object("manifest_json", "$.output_base_dir"),
    )
