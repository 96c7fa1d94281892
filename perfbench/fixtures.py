"""Seeded benchmark inputs, cached on disk, plus their independent references.

Every fixture is a pure function of ``(kind, params, seed)``. It is written
once under ``<checkout>/.perfbench_cache/<kind>-<key>/`` where ``key`` hashes
the kind, the generator parameters, the seed and ``FIXTURE_VERSION``; a later
run with the same key reuses it. Generation happens before any timed region
and before ``setup_s``.

The references that the per-iteration output checks compare against are
derived here from the generated inputs with pandas and numpy alone: they never
call the engine's Spark operators or its cell code.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_VERSION = 1
N_FILES = 8  # parquet files per table, so scans run in parallel

# Local-frame metres per degree of latitude, the model the buffer formats use.
M_PER_DEG = 111_320.0


def cache_dir(root: str, kind: str, params: dict, seed: int) -> tuple[str, bool]:
    """Return ``(path, ready)`` for a fixture keyed by kind, params and seed."""
    blob = json.dumps(
        {"kind": kind, "params": params, "seed": seed, "v": FIXTURE_VERSION},
        sort_keys=True,
    )
    key = hashlib.sha256(blob.encode()).hexdigest()[:16]
    path = os.path.join(root, ".perfbench_cache", f"{kind}-{key}")
    return path, os.path.exists(os.path.join(path, "_READY"))


def _publish(tmp: str, path: str) -> None:
    """Atomically move a finished fixture directory into place."""
    with open(os.path.join(tmp, "_READY"), "w") as f:
        f.write("ok\n")
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def _write_chunked(df: pd.DataFrame, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), N_FILES)):
        table = pa.Table.from_pandas(df.iloc[part], preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"part-{i:03d}.parquet"))


# ---------------------------------------------------------------------------
# GTFS feeds
# ---------------------------------------------------------------------------


def gtfs_feed(root: str, seed: int, params: dict) -> tuple[str, dict[str, pd.DataFrame]]:
    """A ``synth.make_gtfs_feed`` feed written as parquet; returns the feed
    directory and the pandas frames it was written from."""
    from gtfs_to_geojson_spark import synth

    frames = synth.make_gtfs_feed(seed=seed, **params)
    path, ready = cache_dir(root, "gtfs", params, seed)
    if not ready:
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        synth.write_feed(frames, tmp)
        _publish(tmp, path)
    return path, frames


def _safe_name(s: str) -> str:
    return "".join(ch for ch in s if ch not in '\\/:*?"<>|' and ord(ch) >= 0x20)


def _used_stops(frames: dict, trips: pd.DataFrame) -> pd.DataFrame:
    """Stops served by ``trips`` plus the parent stations of those stops."""
    stops = frames["stops"]
    served = set(frames["stop_times"].loc[frames["stop_times"]["trip_id"].isin(trips["trip_id"]), "stop_id"])
    direct = stops[stops["stop_id"].isin(served)]
    parent_ids = set(direct["parent_station"].dropna())
    parents = stops[stops["stop_id"].isin(parent_ids) & (stops["location_type"] == 1)]
    return pd.concat([direct, parents]).drop_duplicates("stop_id")


def _shape_ids(frames: dict, trips: pd.DataFrame) -> set:
    return set(trips["shape_id"].dropna()) & set(frames["shapes"]["shape_id"])


def route_fanout_expected(frames: dict) -> dict[str, int]:
    """File name -> feature count for ``output_type='route'`` with the
    ``lines-and-stops`` format, re-derived from the synth frames.

    One file per (route, direction) kept by the first-trip-per-headsign
    rule; each file holds the route's line feature(s) and its used stops."""
    trips, routes = frames["trips"], frames["routes"]
    firsts = trips.sort_values("trip_id").drop_duplicates("trip_headsign")
    pairs = firsts[["route_id", "direction_id"]].drop_duplicates()
    pairs = pairs.merge(routes[["route_id", "agency_id", "route_short_name"]], on="route_id")

    def direction(v):
        return None if pd.isna(v) else int(v)

    rows = sorted(
        pairs.itertuples(index=False),
        key=lambda r: (str(r.route_id), str(direction(r.direction_id))),
    )
    expected: dict[str, int] = {}
    seen: dict[str, int] = {}
    for r in rows:
        d = direction(r.direction_id)
        sel = trips["route_id"] == r.route_id
        if d is not None:
            sel &= trips["direction_id"] == d
        group = trips[sel]
        if _shape_ids(frames, group):
            n_lines = 1
        else:  # stop-derived lines: one per (route, direction) with stop times
            unshaped = group[group["shape_id"].isna()]
            timed = unshaped[unshaped["trip_id"].isin(frames["stop_times"]["trip_id"])]
            n_lines = timed["direction_id"].nunique(dropna=False)
        parts = [r.agency_id, r.route_short_name, r.route_id, None if d is None else str(d)]
        base = _safe_name("_".join(str(p) for p in parts if p is not None and not pd.isna(p)))
        idx = seen.get(base)
        seen[base] = (idx or 0) + 1
        name = base + (f"_{idx}" if idx else "") + ".geojson"
        expected[name] = n_lines + len(_used_stops(frames, group))
    return expected


def route_lines(frames: dict) -> dict[str, list[np.ndarray]]:
    """route_id -> list of (n, 2) lon/lat vertex arrays of its shapes."""
    shapes = frames["shapes"].sort_values(["shape_id", "shape_pt_sequence"])
    by_shape = {
        sid: g[["shape_pt_lon", "shape_pt_lat"]].to_numpy(dtype=np.float64)
        for sid, g in shapes.groupby("shape_id")
    }
    out: dict[str, list[np.ndarray]] = {}
    for route_id, g in frames["trips"].groupby("route_id"):
        lines = [by_shape[s] for s in sorted(_shape_ids(frames, g))]
        if lines:
            out[route_id] = lines
    return out


def dissolved_parts_range(frames: dict, meters: float, steps: int = 32) -> tuple[int, int, np.ndarray]:
    """Bounds on the number of parts the union of all used-stop buffers has,
    and the used stop centres as an (n, 2) lon/lat array.

    Two buffers are n-gons of circumradius ``meters`` around their stops:
    they surely overlap below ``2·r·cos(π/steps)`` and surely do not above
    ``2·r``; pairs inside that band may go either way, so the part count
    is bounded by the components of the two threshold graphs."""
    used = _used_stops(frames, frames["trips"])
    lon = used["stop_lon"].to_numpy(dtype=np.float64)
    lat = used["stop_lat"].to_numpy(dtype=np.float64)
    kx = np.cos(np.radians(lat.mean())) * M_PER_DEG
    dx = (lon[:, None] - lon[None, :]) * kx
    dy = (lat[:, None] - lat[None, :]) * M_PER_DEG
    d = np.hypot(dx, dy)
    most = _components(d < 2 * meters * np.cos(np.pi / steps) * 0.995)
    fewest = _components(d <= 2 * meters * 1.005)
    return fewest, most, np.column_stack([lon, lat])


def _components(adj: np.ndarray) -> int:
    n = len(adj)
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i, j in zip(*np.nonzero(np.triu(adj, 1))):
        parent[find(i)] = find(j)
    return len({find(i) for i in range(n)})


def points_in_ring(pts: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray cast of (n, 2) points against one closed ring."""
    x, y = pts[:, 0][:, None], pts[:, 1][:, None]
    x1, y1 = ring[:-1, 0][None, :], ring[:-1, 1][None, :]
    x2, y2 = ring[1:, 0][None, :], ring[1:, 1][None, :]
    crosses = (y1 > y) != (y2 > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
    return (np.sum(crosses & (x < xint), axis=1) % 2) == 1


def points_in_polygon(pts: np.ndarray, rings: list) -> np.ndarray:
    """Points inside the outer ring and outside every hole."""
    arrs = [np.asarray(r, dtype=np.float64) for r in rings]
    inside = points_in_ring(pts, arrs[0])
    for hole in arrs[1:]:
        inside &= ~points_in_ring(pts, hole)
    return inside


# ---------------------------------------------------------------------------
# Points, supplier boxes and images
# ---------------------------------------------------------------------------

# The synthetic metro the GTFS synth and the image geotags live in.
BBOX = (-122.52, 37.70, -122.35, 37.84)


def points_and_boxes(root: str, seed: int, params: dict) -> dict:
    """Seeded points (70% uniform over the metro box, 30% clustered around
    supplier centres) and supplier envelopes, as chunked parquet.

    References: per-supplier envelope-join counts (numpy sweep over the
    lon-sorted points) and per-level pyramid row counts (distinct pixels of
    the numpy fine grid, halved per level)."""
    path, ready = cache_dir(root, "points", params, seed)
    if not ready:
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        rng = np.random.default_rng(seed)
        n, n_sup = params["n_points"], params["n_suppliers"]
        min_lon, min_lat, max_lon, max_lat = BBOX
        cx = rng.uniform(min_lon + 0.01, max_lon - 0.01, n_sup)
        cy = rng.uniform(min_lat + 0.01, max_lat - 0.01, n_sup)
        hw = rng.uniform(0.0008, 0.004, n_sup)
        hh = rng.uniform(0.0006, 0.003, n_sup)
        n_cl = int(n * 0.3)
        owner = rng.integers(0, n_sup, n_cl)
        lon = np.concatenate([
            rng.uniform(min_lon, max_lon, n - n_cl),
            cx[owner] + rng.normal(0.0, 1.0, n_cl) * hw[owner],
        ])
        lat = np.concatenate([
            rng.uniform(min_lat, max_lat, n - n_cl),
            cy[owner] + rng.normal(0.0, 1.0, n_cl) * hh[owner],
        ])
        perm = rng.permutation(n)
        lon, lat = lon[perm], lat[perm]
        key0 = int(rng.integers(0, 1 << 40))
        _write_chunked(
            pd.DataFrame({"point_id": np.arange(key0, key0 + n, dtype=np.int64), "lon": lon, "lat": lat}),
            os.path.join(tmp, "points"),
        )
        boxes = pd.DataFrame({
            "s_suppkey": np.arange(1, n_sup + 1, dtype=np.int64),
            "min_lon": cx - hw, "max_lon": cx + hw, "min_lat": cy - hh, "max_lat": cy + hh,
        })
        os.makedirs(os.path.join(tmp, "boxes"))
        boxes.to_parquet(os.path.join(tmp, "boxes", "boxes.parquet"), index=False)
        ref = {
            "join_counts": _envelope_counts(lon, lat, boxes).tolist(),
            "pyramid_rows": _pyramid_rows(lon, lat, params["tile_res"], params["min_res"], params["px_bits"]),
        }
        with open(os.path.join(tmp, "reference.json"), "w") as f:
            json.dump(ref, f)
        _publish(tmp, path)
    with open(os.path.join(path, "reference.json")) as f:
        ref = json.load(f)
    return {
        "points": os.path.join(path, "points"),
        "boxes": os.path.join(path, "boxes"),
        "n_points": params["n_points"],
        "join_counts": np.asarray(ref["join_counts"], dtype=np.int64),
        "pyramid_rows": {int(k): v for k, v in ref["pyramid_rows"].items()},
    }


def _envelope_counts(lon: np.ndarray, lat: np.ndarray, boxes: pd.DataFrame) -> np.ndarray:
    """Points inside each box, edges inclusive."""
    order = np.argsort(lon, kind="stable")
    slon, slat = lon[order], lat[order]
    out = np.zeros(len(boxes), dtype=np.int64)
    for i, b in enumerate(boxes.itertuples(index=False)):
        lo = np.searchsorted(slon, b.min_lon, side="left")
        hi = np.searchsorted(slon, b.max_lon, side="right")
        seg = slat[lo:hi]
        out[i] = np.count_nonzero((seg >= b.min_lat) & (seg <= b.max_lat))
    return out


def _pyramid_rows(lon, lat, tile_res: int, min_res: int, px_bits: int) -> dict[int, int]:
    """Distinct pixels per pyramid level: a pixel at level z is a cell of the
    global grid at resolution ``z + px_bits``."""
    fine = tile_res + px_bits
    n = 1 << fine
    x = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    y = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    rows = {}
    for z in range(tile_res, min_res - 1, -1):
        shift = tile_res - z
        rows[z] = int(len(np.unique(((x >> shift) << 32) | (y >> shift))))
    return rows


def image_table(root: str, seed: int, params: dict) -> dict:
    """Seeded 16x16 images in the lossless formats, with the phash of their
    pixels stored beside the encoded bytes, as chunked parquet."""
    from gtfs_to_geojson_spark import images as img

    path, ready = cache_dir(root, "images", params, seed)
    if not ready:
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        rng = np.random.default_rng(seed)
        n = params["n_images"]
        data, phash, fmts = [], np.zeros(n, dtype=np.int64), []
        for i in range(n):
            px = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
            fmt = img.FORMATS[i % len(img.FORMATS)]
            data.append(img.encode(px, fmt))
            phash[i] = img.phash64(px)
            fmts.append(fmt)
        df = pd.DataFrame({
            "image_id": [f"img_{seed}_{i:09d}" for i in range(n)],
            "bytes": data,
            "w": np.full(n, 16, dtype=np.int32),
            "h": np.full(n, 16, dtype=np.int32),
            "fmt": fmts,
            "caption": [f"scene {i} seed {seed}" for i in range(n)],
            "phash": phash,
        })
        _write_chunked(df, os.path.join(tmp, "images"))
        _publish(tmp, path)
    return {"images": os.path.join(path, "images"), "n_images": params["n_images"]}
