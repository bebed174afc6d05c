"""Seeded inputs. The same seed gives the same inputs; the package receives
only the rows generated here.

Images follow the package's ``images`` schema. The pixels of the image in
mosaic slot ``(gx, gy)`` are ``(off + (x ^ y)) % 256`` with a seeded
per-slot offset ``off``, so every block mean has an exact numpy oracle
(``oracles.py``) and a re-ingested slot changes every pixel.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TILE = 256
#: ``read_window``'s default target size (width, height)
TARGET = (1024, 512)
XY = np.arange(TILE, dtype=np.int64)[None, :] ^ np.arange(TILE, dtype=np.int64)[:, None]

IMAGES_ARROW = pa.schema([
    ("image_id", pa.string()),
    ("bytes", pa.binary()),
    ("w", pa.int32()),
    ("h", pa.int32()),
    ("fmt", pa.string()),
    ("caption", pa.string()),
    ("phash", pa.int64()),
])


def image_pixels(off: int) -> np.ndarray:
    return ((int(off) + XY) % 256).astype(np.uint8)


def images_table(slots, offs) -> pa.Table:
    """Image rows for mosaic ``slots`` (``slot = gy * G + gx``) with the
    given pixel offsets. The slot is encoded in ``image_id`` exactly as
    the package's synthetic fixtures do (``img-{slot:08d}``)."""
    slots = [int(s) for s in slots]
    n = len(slots)
    return pa.table(
        {
            "image_id": [f"img-{s:08d}" for s in slots],
            "bytes": [image_pixels(o).tobytes() for o in offs],
            "w": [TILE] * n,
            "h": [TILE] * n,
            "fmt": ["raw"] * n,
            "caption": [""] * n,
            "phash": [0] * n,
        },
        schema=IMAGES_ARROW,
    )


def publish_images(directory: str, name: str, slots, offs) -> None:
    """Write one image parquet file so that a file-stream source sees it
    whole: written under a hidden name, then renamed into place."""
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(images_table(slots, offs), tmp, compression="none")
    os.replace(tmp, os.path.join(directory, name))


# ---------------------------------------------------------------------------
# per-workload inputs
# ---------------------------------------------------------------------------


def mosaic_offsets(rng, G: int) -> np.ndarray:
    """(G, G) offsets: a seeded placement of the same multiset of offsets
    (0..255 repeated), so every seed builds from the same images and only
    where they sit changes. Seeds then differ in layout, not in how much
    the pixels cost to reduce, compress and write."""
    return rng.permutation(np.arange(G * G) % 256).reshape(G, G)


def build_inputs(seed: int, G: int) -> tuple[np.ndarray, np.ndarray]:
    """(offsets (G, G), row order): the mosaic and the order its rows arrive."""
    rng = np.random.default_rng([seed, 1])
    return mosaic_offsets(rng, G), rng.permutation(G * G)


def read_extents(rng, world: float, zooms) -> list[tuple[float, float, float, float]]:
    """One viewport extent per zoom, pairwise non-overlapping, at seeded
    positions and in seeded order. A window of ``TARGET * zoom`` base
    pixels reads level ``log2(zoom)`` at the API default target size. It
    starts on a tile corner of that level, so every read of one zoom
    touches the same number of tiles whatever the seed."""
    while True:
        out: list[tuple[float, float, float, float]] = []
        for zoom in sorted(zooms, reverse=True):  # largest first, so all fit
            w, h = TARGET[0] * zoom, TARGET[1] * zoom
            step = TILE * max(1.0, zoom)
            for _ in range(100):
                x0 = step * rng.integers(0, int((world - w) // step) + 1)
                y0 = step * rng.integers(0, int((world - h) // step) + 1)
                ext = (float(x0), float(y0), float(x0 + w), float(y0 + h))
                if all(ext[0] >= o[2] or ext[2] <= o[0] or ext[1] >= o[3] or ext[3] <= o[1] for o in out):
                    out.append(ext)
                    break
        if len(out) == len(zooms):
            return [out[i] for i in rng.permutation(len(out))]


def batch_slots(rng, G: int) -> np.ndarray:
    """One seeded slot under each level-1 tile: ``(G / 2)^2`` slots whose
    ancestors cover every tile of every level above the base, so each
    batch patches the same number of tiles whatever the seed."""
    h = G // 2
    gy, gx = np.divmod(np.arange(h * h), h)
    dy, dx = rng.integers(0, 2, size=(2, h * h))
    return (2 * gy + dy) * G + 2 * gx + dx


def ingest_trace(seed: int, G: int, cycles: int, zooms):
    """Initial offsets (G, G) and, per cycle, the slots and new offsets of
    one micro-batch plus the viewport extents read after it (one per zoom,
    so every cycle reads the same mix of levels)."""
    rng = np.random.default_rng([seed, 2])
    initial = mosaic_offsets(rng, G)
    world = float(G * TILE)
    trace = []
    for _ in range(cycles):
        slots = batch_slots(rng, G)
        offs = rng.integers(0, 256, size=len(slots))
        trace.append((slots, offs, read_extents(rng, world, zooms)))
    return initial, trace


def _ring(centre, radii, rotation: float) -> list[list[float]]:
    ang = np.linspace(0, 2 * np.pi, len(radii), endpoint=False) + rotation
    return [[float(centre[0] + q * np.cos(a)), float(centre[1] + q * np.sin(a))] for q, a in zip(radii, ang)]


def pip_inputs(seed: int, n_points: int, world: float, base_polygons: list[dict]):
    """Points (uniform share plus one hotspot cluster) and polygons (the
    package's fixture shapes plus seeded convex and concave ones).

    Shapes have fixed sizes and seeded centres and rotations, and the
    hotspot sits inside the first seeded polygon, so every seed covers,
    tests and refines about the same number of points."""
    rng = np.random.default_rng([seed, 3])
    centres = rng.uniform(0.2, 0.8, size=(5, 2)) * world
    rot = rng.uniform(0, 2 * np.pi, size=5)
    polygons = list(base_polygons)
    for i in range(3):  # convex octagons
        polygons.append({"polygon_id": f"convex-{i}", "ring": _ring(centres[i], [0.1 * world] * 8, rot[i])})
    for i in range(2):  # concave six-pointed stars
        radii = [0.11 * world, 0.05 * world] * 6
        polygons.append({"polygon_id": f"star-{i}", "ring": _ring(centres[3 + i], radii, rot[3 + i])})
    n_hot = n_points // 4
    uni = rng.uniform(0, world, size=(n_points - n_hot, 2))
    hot = rng.normal(centres[0], 0.03 * world, size=(n_hot, 2))
    xy = np.clip(np.concatenate([uni, hot]), 0.0, np.nextafter(world, 0))
    return xy[rng.permutation(n_points)], polygons
