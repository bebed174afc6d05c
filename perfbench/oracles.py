"""Output oracles, numpy only: every output the benchmark times is checked
here, and an op whose output disagrees counts as failed."""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

from .fixtures import TARGET, TILE, XY

#: float32 level storage rounds each 2x2 mean; the exact float64 mean of
#: the same base block differs by far less than this
ATOL = 1e-3


class OracleMismatch(AssertionError):
    pass


class BlockMeans:
    """Level-z pixel values of the closed-form mosaic: the mean of each
    ``2^z x 2^z`` block of base pixels, for every one of the 256 offsets."""

    def __init__(self):
        # every offset's image at once; uint8 addition wraps modulo 256
        self._imgs = np.arange(256, dtype=np.uint8)[:, None, None] + XY.astype(np.uint8)[None]
        self._by_z: dict[int, np.ndarray] = {0: self._imgs}

    def table(self, z: int) -> np.ndarray:
        """(256 offsets, 256 >> z, 256 >> z) block means."""
        if z not in self._by_z:
            f = 1 << z
            if f > TILE:
                raise ValueError(f"level {z} blocks span several images")
            n = TILE // f
            sums = self._imgs.reshape(256, n, f, n, f).sum(axis=(2, 4), dtype=np.int64)
            self._by_z[z] = sums / float(f * f)
        return self._by_z[z]

    def window(self, offs: np.ndarray, z: int, px0: int, py0: int, px1: int, py1: int) -> np.ndarray:
        """Expected level-z pixels ``[py0:py1, px0:px1]`` for the mosaic whose
        slot ``(gx, gy)`` has offset ``offs[gy, gx]``."""
        n = TILE >> z  # level pixels per image side
        rows = np.arange(py0, py1)
        cols = np.arange(px0, px1)
        o = offs[(rows // n)[:, None], (cols // n)[None, :]]
        return self.table(z)[o, (rows % n)[:, None], (cols % n)[None, :]]


def check_close(got: np.ndarray, want: np.ndarray, what: str) -> None:
    if got.shape != want.shape:
        raise OracleMismatch(f"{what}: shape {got.shape} != {want.shape}")
    if not np.allclose(got.astype(np.float64), want, atol=ATOL, rtol=0.0):
        bad = int((~np.isclose(got.astype(np.float64), want, atol=ATOL, rtol=0.0)).sum())
        raise OracleMismatch(f"{what}: {bad} pixels off")


def check_window(result: dict, extent, offs: np.ndarray, bm: BlockMeans, nlevels: int) -> None:
    """A ``PyramidDataset.read_window`` result against the mosaic ``offs``.
    Level choice and crop follow the reference's ``selectlevel``, restated
    here so a planning bug is caught too."""
    import math

    G = offs.shape[0]
    base = G * TILE
    xmin, ymin, xmax, ymax = extent
    dims = [math.log2((min(hi, base) - max(lo, 0.0)) / t)
            for lo, hi, t in ((xmin, xmax, TARGET[0]), (ymin, ymax, TARGET[1]))]
    z = int(min(max(math.ceil(max(dims)), 0), nlevels))
    if result["z"] != z:
        raise OracleMismatch(f"read {extent}: level {result['z']} != {z}")
    lw = -(-base // (1 << z))
    s = float(1 << z)
    px0 = max(0, min(lw, int(math.floor(xmin / s))))
    py0 = max(0, min(lw, int(math.floor(ymin / s))))
    px1 = max(px0, min(lw, int(math.ceil(xmax / s))))
    py1 = max(py0, min(lw, int(math.ceil(ymax / s))))
    check_close(result["data"], bm.window(offs, z, px0, py0, px1, py1), f"read {extent} z={z}")


def read_level_dir(level_dir: str) -> dict[tuple[int, int], np.ndarray]:
    """Every tile of one stored level, read straight from its parquet files
    (the package's readers are what is under test, so they are not used)."""
    t = pq.read_table(level_dir, columns=["tx", "ty", "w", "h", "dtype", "bytes"]).to_pydict()
    out = {}
    for tx, ty, w, h, dt, b in zip(t["tx"], t["ty"], t["w"], t["h"], t["dtype"], t["bytes"]):
        if (tx, ty) in out:
            raise OracleMismatch(f"{level_dir}: tile ({tx}, {ty}) stored twice")
        out[(tx, ty)] = np.frombuffer(b, dtype=np.dtype(dt)).reshape(h, w)
    return out


def check_build(path: str, offs: np.ndarray, bm: BlockMeans, nlevels: int, expected: dict) -> int:
    """Every stored tile of levels 1..nlevels of a built pyramid. Returns the
    number of tiles checked (the tiles the build wrote). ``expected``
    caches the oracle tiles across calls for the same ``offs``."""
    G = offs.shape[0]
    n_tiles = 0
    for z in range(1, nlevels + 1):
        tiles = read_level_dir(os.path.join(path, "tiles", f"z={z}"))
        lw = -(-G * TILE // (1 << z))
        nt = -(-lw // TILE)
        if set(tiles) != {(tx, ty) for tx in range(nt) for ty in range(nt)}:
            raise OracleMismatch(f"level {z}: {len(tiles)} tiles, want {nt * nt}")
        for (tx, ty), a in tiles.items():
            if (z, tx, ty) not in expected:
                x0, y0 = tx * TILE, ty * TILE
                expected[z, tx, ty] = bm.window(offs, z, x0, y0, min(lw, x0 + TILE), min(lw, y0 + TILE))
            check_close(a, expected[z, tx, ty], f"level {z} tile ({tx}, {ty})")
        n_tiles += len(tiles)
    return n_tiles


def points_in_ring(px: np.ndarray, py: np.ndarray, ring) -> np.ndarray:
    """Brute-force even-odd ray cast against one closed ring, with the
    package's half-open boundary rule (an edge counts when it crosses
    strictly above the point and to its right)."""
    r = np.asarray(ring, dtype=np.float64)
    x1, y1 = r[:, 0], r[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    inside = np.zeros(len(px), dtype=bool)
    for a, b, c, d in zip(x1, y1, x2, y2):
        cond = (b > py) != (d > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (c - a) * (py - b) / (d - b) + a
        inside ^= cond & (px < xint)
    return inside


def pip_counts(xy: np.ndarray, polygons: list[dict]) -> dict[str, int]:
    """Number of points inside each polygon."""
    return {
        p["polygon_id"]: int(points_in_ring(xy[:, 0], xy[:, 1], p["ring"]).sum())
        for p in polygons
    }
