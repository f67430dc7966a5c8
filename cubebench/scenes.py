"""Seeded Sentinel-2-like scenes for the cube workloads, and the LCF
reference the benchmark checks the engine's composites against.

Every scene is a single-band, 256-px-tiled, deflate-compressed GeoTIFF
written here with numpy and zlib, so the inputs do not depend on the
engine's own encoder. Pixels are a pure function of (seed, tile, date,
band): two calls with the same arguments give byte-identical files.

Bands: B04 (red) and B8A (nir) as int16 with nodata -9999, QA as uint8
with nodata 255; QA is 0 (clear) except under seeded cloud blobs, where
it is 4 (not clear). File names follow the engine's scan defaults:
``S_<tile>_<yyyymmdd>_<band>.tif``.
"""
import datetime as dt
import struct
import zlib

import numpy as np

BANDS = ("B04", "B8A", "QA")
SPECTRAL = ("B04", "B8A")
NODATA = -9999
QA_NODATA = 255
QA_CLOUD = 4
TILE_PX = 256
RES = 10.0
EPOCH = dt.date(2020, 1, 1)
PERIOD_DAYS = 16
# scene dates inside each 16-day period (day offsets from the period start)
DATE_OFFSETS = (1, 4, 7, 10, 13)


def tile_name(t):
    return "T%04d" % t


def period_start(period):
    return EPOCH + dt.timedelta(days=PERIOD_DAYS * period)


def period_dates(period, dates_per_period):
    return [period_start(period) + dt.timedelta(days=o)
            for o in DATE_OFFSETS[:dates_per_period]]


def scene_name(tile, date, band):
    return "S_%s_%s_%s.tif" % (tile_name(tile), date.strftime("%Y%m%d"), band)


def _rng(seed, *key):
    return np.random.default_rng([seed & 0xFFFFFFFF] + [int(k) for k in key])


def _field(rng, px, lo, hi):
    """Smooth field: a coarse random grid upsampled 32x, plus fine noise."""
    coarse = rng.integers(lo, hi, size=(px // 32 + 1, px // 32 + 1))
    base = np.repeat(np.repeat(coarse, 32, axis=0), 32, axis=1)[:px, :px]
    return base + rng.integers(0, 24, size=(px, px))


def scene_pixels(seed, tile, date, band, px):
    """Row-major pixel array for one scene (int16 or uint8 values)."""
    day = (date - EPOCH).days
    if band == "QA":
        rng = _rng(seed, tile, day, 3)
        qa = np.zeros((px, px), dtype=np.uint8)
        for _ in range(int(rng.integers(2, 7))):
            cy, cx = (int(v) for v in rng.integers(0, px, size=2))
            r = int(rng.integers(px // 16, px // 4))
            y0, x0 = max(cy - r, 0), max(cx - r, 0)
            yy, xx = np.ogrid[y0:min(cy + r + 1, px), x0:min(cx + r + 1, px)]
            blob = qa[y0:y0 + yy.shape[0], x0:x0 + xx.shape[1]]
            blob[(yy - cy) ** 2 + (xx - cx) ** 2 <= r * r] = QA_CLOUD
        return qa
    # the surface is fixed per (tile, band); each date adds its own haze
    surface = _field(_rng(seed, tile, 0, BANDS.index(band)), px,
                     300 if band == "B04" else 1500,
                     1400 if band == "B04" else 4200)
    haze = _rng(seed, tile, day, BANDS.index(band)).integers(0, 200)
    return (surface + haze).astype(np.int16)


def encode_tiff(pixels, origin_x, origin_y):
    """Little-endian tiled GeoTIFF, deflate-compressed, with ModelPixelScale,
    ModelTiepoint and a GDAL nodata tag."""
    h, w = pixels.shape
    is_qa = pixels.dtype == np.uint8
    bps, fmt = (8, 1) if is_qa else (16, 2)
    nodata = str(QA_NODATA if is_qa else NODATA).encode("ascii") + b"\0"
    le = pixels.astype("<u1" if is_qa else "<i2")
    across, down = -(-w // TILE_PX), -(-h // TILE_PX)
    tiles = []
    for ty in range(down):
        for tx in range(across):
            t = np.zeros((TILE_PX, TILE_PX), dtype=le.dtype)
            blk = le[ty * TILE_PX:(ty + 1) * TILE_PX, tx * TILE_PX:(tx + 1) * TILE_PX]
            t[:blk.shape[0], :blk.shape[1]] = blk
            tiles.append(zlib.compress(t.tobytes(), 1))
    n = len(tiles)
    offsets, pos = [], 8
    for t in tiles:
        offsets.append(pos)
        pos += len(t)
    doubles = pos
    offs_at = doubles + 9 * 8
    counts_at = offs_at + 4 * n
    nodata_at = counts_at + 4 * n
    ifd_at = nodata_at + len(nodata)
    entries = sorted([
        (256, 3, 1, w), (257, 3, 1, h), (258, 3, 1, bps), (259, 3, 1, 8),
        (262, 3, 1, 1), (277, 3, 1, 1), (322, 3, 1, TILE_PX),
        (323, 3, 1, TILE_PX),
        (324, 4, n, offsets[0] if n == 1 else offs_at),
        (325, 4, n, len(tiles[0]) if n == 1 else counts_at),
        (339, 3, 1, fmt), (33550, 12, 3, doubles), (33922, 12, 6, doubles + 24),
        (42113, 2, len(nodata), nodata_at)])
    out = [b"II", struct.pack("<HI", 42, ifd_at)]
    out += tiles
    out.append(struct.pack("<9d", RES, RES, 0, 0, 0, 0, origin_x, origin_y, 0))
    out.append(struct.pack("<%dI" % n, *offsets))
    out.append(struct.pack("<%dI" % n, *[len(t) for t in tiles]))
    out.append(nodata)
    out.append(struct.pack("<H", len(entries)))
    for tag, typ, count, value in entries:
        if typ == 3 and count == 1:
            out.append(struct.pack("<HHIHH", tag, typ, count, value, 0))
        else:
            out.append(struct.pack("<HHII", tag, typ, count, value))
    out.append(struct.pack("<I", 0))
    return b"".join(out)


def write_period(seed, out_dir, tiles, period, dates_per_period, px):
    """Write every scene of one period; returns {(tile, date, band): array}."""
    arrays = {}
    for t in range(1, tiles + 1):
        # tiles sit side by side on the x axis of one grid
        ox, oy = (t - 1) * px * RES, px * RES
        for d in period_dates(period, dates_per_period):
            for b in BANDS:
                a = scene_pixels(seed, t, d, b, px)
                arrays[(t, d, b)] = a
                with open("%s/%s" % (out_dir, scene_name(t, d, b)), "wb") as f:
                    f.write(encode_tiff(a, ox, oy))
    return arrays


def lcf_reference(arrays, tiles, period, dates_per_period):
    """Per (tile, period start, band) pixel sums of the LCF composite, and of
    the NDVI index band derived from it.

    LCF, with every scene at equal priority: per pixel, the value of the
    latest date whose QA is clear; where no date is clear, the value of the
    latest date (band samples are never nodata here).
    NDVI: trunc(10000.0 * ((nir - red) / (nir + red))) in doubles.
    """
    dates = sorted(period_dates(period, dates_per_period), reverse=True)
    ps = period_start(period).isoformat()
    sums = {}
    for t in range(1, tiles + 1):
        comp = {}
        for b in SPECTRAL:
            val = arrays[(t, dates[0], b)].astype(np.int64)
            done = np.zeros(val.shape, dtype=bool)
            for d in dates:
                clear = (arrays[(t, d, "QA")] != QA_CLOUD) & ~done
                val = np.where(clear, arrays[(t, d, b)], val)
                done |= clear
            comp[b] = val
            sums[(tile_name(t), ps, b)] = int(val.sum())
        red = comp["B04"].astype(np.float64)
        nir = comp["B8A"].astype(np.float64)
        ndvi = np.trunc(10000.0 * ((nir - red) / (nir + red)))
        sums[(tile_name(t), ps, "NDVI")] = int(ndvi.astype(np.int64).sum())
    return sums
