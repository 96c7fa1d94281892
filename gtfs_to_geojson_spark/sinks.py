"""GeoJSON sinks S6–S10 (SURVEY.md §2.1).

The reference writes ``JSON.stringify(featureCollection)`` to one file
per group — per agency, per (route, direction), or per shape
(src/lib/gtfs-to-geojson.ts:160-162,225-228,239-243). Here every file
of a run comes out of one grouped feature plan (each feature tagged
with its file's group ``g``) in one ordered streaming pass: a
range-partitioned sort by ``g`` and the in-file order, streamed to the
driver a partition at a time, a new file started whenever ``g``
changes. A large group can span partitions, and the driver never holds
more than one partition of feature JSON.
"""

from __future__ import annotations

import os
import shutil
import zipfile

from pyspark.sql import DataFrame


def prep_directory(path: str, overwrite: bool = True) -> None:
    """S10 — mkdir; refuse non-empty unless overwrite (reference
    src/lib/file-utils.ts:82-112)."""
    if os.path.isdir(path) and os.listdir(path):
        if not overwrite:
            raise FileExistsError(f"output dir not empty: {path}")
        shutil.rmtree(path)
    os.makedirs(path, exist_ok=True)


def write_geojson_groups(features, paths: list[str]) -> list[dict]:
    """S6 — one ``FeatureCollection`` file per group: group ``g`` is
    written to ``paths[g]``, every group gets its file (an empty
    collection when it has no features, as the reference writes one
    for a degenerate convex hull), and the manifests (filename,
    n_features, bytes) return in group order.

    ``features`` is a lazy format's DataFrame ``(g, kind, key,
    feature_json)``, sorted here and streamed once via
    ``toLocalIterator``, or a driver-finished format's list of ``(g,
    feature_json)`` already in file order."""
    if isinstance(features, DataFrame):
        # the range sort samples its input before shuffling it; the hash
        # exchange in front makes both passes read shuffle files instead
        # of running the feature plan (and its Python kernels) twice
        ordered = (
            features.repartition("g", "kind", "key")
            .orderBy("g", "kind", "key", "feature_json")
            .select("g", "feature_json")
        )
        rows = iter((r["g"], r["feature_json"]) for r in ordered.toLocalIterator())
    else:
        rows = iter(features)
    manifests = []
    pending = next(rows, None)
    for g, path in enumerate(paths):
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        n = 0
        with open(path, "w") as f:
            f.write('{"type":"FeatureCollection","features":[')
            while pending is not None and pending[0] == g:
                if n:
                    f.write(",")
                f.write(pending[1])
                n += 1
                pending = next(rows, None)
            f.write("]}")
        manifests.append(
            {"filename": os.path.basename(path), "n_features": n, "bytes": os.path.getsize(path)}
        )
    if pending is not None:
        raise ValueError(f"feature of group {pending[0]} is out of order or has no file")
    return manifests


def zip_outputs(out_dir: str, zip_path: str) -> int:
    """S8 — zip *.json/*.geojson outputs (reference
    src/lib/file-utils.ts:47-77 filters the same extensions).
    Driver-side post-process, as in the reference."""
    n = 0
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(out_dir):
            for fn in files:
                if fn.endswith((".json", ".geojson")):
                    zf.write(os.path.join(root, fn), os.path.relpath(os.path.join(root, fn), out_dir))
                    n += 1
    return n
