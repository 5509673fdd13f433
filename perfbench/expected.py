"""Expected outputs, computed apart from the engine.

The synthetic world is defined by the SQL in ``terrakit_spark.synth``
(labels, scenes and media derived from the base tables); this module
renders that definition in DuckDB and then computes every expected
output with its own code: the closed-form diamond test for the point
join, an exact piecewise-linear integration for rectangle x diamond
areas, the documented pixel formula for chip statistics and a
brute-force pixel-centre burn for label chips. None of it calls an
engine operator or kernel.
"""

from __future__ import annotations

import zlib

import numpy as np

RES = 0.0078125  # degrees per pixel (2^-7)
CHIP = 256  # chip window side in pixels
PIXEL_MOD, PIXEL_BASE, NODATA_EVERY = 10501, 500, 997
POST_DAYS = 7  # as-of window: a label date d matches scene dates in [d, d + 7]
COVERAGE_MOD = 25  # tile_label_coverage tiles the scene_id % 25 = 0 scenes
BASE_TABLES = ("events", "documents")


def world(in_dir: str):
    """DuckDB connection with ``labels``, ``scenes`` and ``media`` tables
    derived from the base parquet files under in_dir."""
    import duckdb

    from terrakit_spark.dialect import DUCK
    from terrakit_spark.synth import labels_sql, media_sql, scenes_sql

    con = duckdb.connect()
    for t in BASE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{in_dir}/{t}.parquet')")
    for name, fn in (("labels", labels_sql), ("scenes", scenes_sql), ("media", media_sql)):
        con.execute(f"CREATE TABLE {name} AS {fn(DUCK)}")
    return con


def crc_sum(keys) -> int:
    """Order-independent hash of a row set: the sum of CRC-32 over each
    row's '|'-joined key (Spark's crc32 is the same CRC-32)."""
    return sum(zlib.crc32(k.encode()) for k in keys)


# ---------------------------------------------------------------- pip_join
def pip_pairs(con) -> tuple[int, int]:
    """(pair count, crc_sum of 'media_ref|label_id') of the media points
    strictly inside each label diamond: |mx-cx|/rx + |my-cy|/ry < 1."""
    rows = con.execute(
        """
        SELECT m.media_ref || '|' || CAST(l.label_id AS VARCHAR)
        FROM media m JOIN labels l
          ON m.mx BETWEEN l.cx - l.rx AND l.cx + l.rx
         AND m.my BETWEEN l.cy - l.ry AND l.cy + l.ry
        WHERE abs(m.mx - l.cx) / l.rx + abs(m.my - l.cy) / l.ry < 1
        """
    ).fetchall()
    return len(rows), crc_sum(r[0] for r in rows)


# ---------------------------------------------------------------- windows
def window_grid(w: int, h: int) -> list[tuple[int, int, int]]:
    """(win_index, x, y) of the edge-clamped CHIP grid: offsets step by
    CHIP and the last one is pulled back to end at the edge (negative for
    images narrower than a chip); index runs x-major."""
    xs = [min(x, w - CHIP) for x in range(0, w, CHIP)]
    ys = [min(y, h - CHIP) for y in range(0, h, CHIP)]
    return [(i * len(ys) + j, x, y) for i, x in enumerate(xs) for j, y in enumerate(ys)]


# ---------------------------------------------------------------- coverage
def rect_diamond_area(tx0, ty0, tx1, ty1, cx, cy, rx, ry) -> np.ndarray:
    """Exact area of rect x diamond, vectorized over pairs. The vertical
    extent of the intersection at abscissa x is linear between the apex
    and the abscissas where the diamond's edges cross the rect's bottom
    and top, so the midpoint rule on those segments integrates exactly."""
    x0 = np.maximum(tx0, cx - rx)
    x1 = np.minimum(tx1, cx + rx)
    cuts = [x0, x1, cx]
    for y in (ty0, ty1):
        # the upper edges meet y at |x - cx| = rx (cy + ry - y) / ry,
        # the lower edges at |x - cx| = rx (y - cy + ry) / ry
        for d in (rx * (cy + ry - y) / ry, rx * (y - cy + ry) / ry):
            cuts += [cx - d, cx + d]
    bp = np.sort(np.clip(np.stack(cuts, axis=1), x0[:, None], x1[:, None]), axis=1)
    mid = (bp[:, 1:] + bp[:, :-1]) * 0.5
    half = ry[:, None] * (1.0 - np.abs(mid - cx[:, None]) / rx[:, None])
    top = np.minimum(ty1[:, None], cy[:, None] + half)
    bot = np.maximum(ty0[:, None], cy[:, None] - half)
    return np.sum((bp[:, 1:] - bp[:, :-1]) * np.maximum(0.0, top - bot), axis=1)


def coverage_candidates(con) -> dict[str, np.ndarray]:
    """Every (coverage window, label) pair whose bboxes overlap: window id
    sid/wi, window bounds tx0..ty1 and diamond cx, cy, rx, ry."""
    import pandas as pd

    scenes = con.execute(
        f"SELECT scene_id, width, height, xmin, ymin FROM scenes WHERE scene_id % {COVERAGE_MOD} = 0"
    ).fetchall()
    tiles = []
    for sid, w, h, xmin, ymin in scenes:
        for wi, x, y in window_grid(w, h):
            tx0, ty0 = xmin + x * RES, ymin + y * RES
            tiles.append((sid, wi, tx0, ty0, tx0 + CHIP * RES, ty0 + CHIP * RES))
    con.register("tiles", pd.DataFrame(tiles, columns=["sid", "wi", "tx0", "ty0", "tx1", "ty1"]))
    return con.execute(
        """
        SELECT t.sid, t.wi, t.tx0, t.ty0, t.tx1, t.ty1, l.cx, l.cy, l.rx, l.ry
        FROM tiles t JOIN labels l
          ON t.tx0 <= l.cx + l.rx AND l.cx - l.rx <= t.tx1
         AND t.ty0 <= l.cy + l.ry AND l.cy - l.ry <= t.ty1
        """
    ).fetchnumpy()


def coverage_windows(con) -> dict[tuple[int, int], tuple[int, int]]:
    """{(scene_id, win_index): (n_labels, area_u)} over the coverage
    scenes, where area_u sums each pair's area in micro-deg^2 rounded half
    up, and a pair counts when its rounded area is positive."""
    cand = coverage_candidates(con)
    area = rect_diamond_area(*(cand[k].astype(np.float64) for k in ("tx0", "ty0", "tx1", "ty1", "cx", "cy", "rx", "ry")))
    area_u = np.floor(area * 1e6 + 0.5).astype(np.int64)
    keep = area_u > 0
    out: dict[tuple[int, int], list[int]] = {}
    for sid, wi, au in zip(cand["sid"][keep].tolist(), cand["wi"][keep].tolist(), area_u[keep].tolist()):
        acc = out.setdefault((sid, wi), [0, 0])
        acc[0] += 1
        acc[1] += au
    return {k: (v[0], v[1]) for k, v in out.items()}


def coverage_hash(windows: dict[tuple[int, int], tuple[int, int]]) -> int:
    return crc_sum(f"{s}|{w}|{n}|{a}" for (s, w), (n, a) in windows.items())


# ---------------------------------------------------------------- chip_write
def matched_subset_scenes(con, scene_pred: str) -> list[tuple]:
    """Scenes passing scene_pred whose date wins the as-of match for some
    label date: the earliest scene date within [d, d + POST_DAYS]."""
    return con.execute(
        f"""
        WITH wins AS (
          SELECT DISTINCT (SELECT min(s.scene_date) FROM scenes s
                           WHERE s.scene_date BETWEEN d.dt AND d.dt + {POST_DAYS}) AS win
          FROM (SELECT DISTINCT dt FROM labels) d)
        SELECT scene_id, bands, width, height, xmin, ymax
        FROM scenes WHERE ({scene_pred}) AND scene_date IN (SELECT win FROM wins)
        ORDER BY scene_id
        """
    ).fetchall()


def scene_cube(scene_id: int, bands: int, h: int, w: int) -> np.ndarray:
    """(bands, h, w) int64 pixels: -9999 where (scene + band + y*w + x) is
    a multiple of 997, else (7 scene + 13 band + 31 y + 17 x) % 10501 + 500."""
    b = np.arange(bands).reshape(-1, 1, 1)
    y = np.arange(h).reshape(1, -1, 1)
    x = np.arange(w).reshape(1, 1, -1)
    vals = (7 * scene_id + 13 * b + 31 * y + 17 * x) % PIXEL_MOD + PIXEL_BASE
    return np.where((scene_id + b + y * w + x) % NODATA_EVERY == 0, -9999, vals).astype(np.int64)


def chip_windows(con, scene_pred: str) -> dict[tuple[int, int], dict]:
    """{(scene_id, win_index): chip} for every expected chip, with its
    clamped pixel box and exact per-band pixel sums and sums of squares."""
    out = {}
    for sid, bands, w, h, xmin, ymax in matched_subset_scenes(con, scene_pred):
        cube = scene_cube(sid, bands, h, w)
        for wi, x, y in window_grid(w, h):
            x0, y0 = max(x, 0), max(y, 0)
            x1, y1 = min(x + CHIP, w), min(y + CHIP, h)
            px = cube[:, y0:y1, x0:x1]
            out[(sid, wi)] = {
                "box": (x0, y0, x1, y1), "xmin": xmin, "ymax": ymax,
                "px_sum": px.sum(axis=(1, 2)).tolist(),
                "px_sumsq": (px * px).sum(axis=(1, 2)).tolist(),
            }
    return out


def chip_hash(keys) -> int:
    return crc_sum(f"{s}|{w}" for s, w in keys)


def burn_chip(labels: dict, xmin: float, ymax: float, box: tuple[int, int, int, int]) -> np.ndarray:
    """int32 label chip by brute force: each pixel centre takes the class
    of the highest-geom_seq diamond strictly containing it, else 0.
    labels: arrays geom_seq, cls, cx, cy, rx, ry."""
    x0, y0, x1, y1 = box
    X = xmin + (np.arange(x0, x1) + 0.5) * RES
    Y = ymax - (np.arange(y0, y1) + 0.5) * RES
    img = np.zeros((y1 - y0, x1 - x0), dtype=np.int32)
    negY = -Y  # ascending, for searchsorted
    for i in np.argsort(labels["geom_seq"]):
        cx, cy, rx, ry = (labels[k][i] for k in ("cx", "cy", "rx", "ry"))
        c0, c1 = np.searchsorted(X, cx - rx), np.searchsorted(X, cx + rx, side="right")
        r0, r1 = np.searchsorted(negY, -(cy + ry)), np.searchsorted(negY, -(cy - ry), side="right")
        if c0 >= c1 or r0 >= r1:
            continue
        inside = (np.abs(X[None, c0:c1] - cx) / rx + np.abs(Y[r0:r1, None] - cy) / ry) < 1
        img[r0:r1, c0:c1][inside] = labels["cls"][i]
    return img


def label_arrays(con) -> dict:
    d = con.execute("SELECT geom_seq, labelclass AS cls, cx, cy, rx, ry FROM labels").fetchnumpy()
    return {k: np.asarray(v) for k, v in d.items()}


def main(argv=None) -> None:
    """Print a seed's input row counts and every workload's expected
    output, recomputed from freshly generated inputs."""
    import argparse
    import json
    import tempfile

    import inputs
    from workloads import CHIP_SCENE_PRED, WORKLOADS

    p = argparse.ArgumentParser(description=main.__doc__)
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)
    out = {"seed": args.seed}
    with tempfile.TemporaryDirectory(dir=".") as tmp:
        for name, wl in WORKLOADS.items():
            counts = inputs.write_inputs(args.seed, tmp, *wl.SIZE)
            con = world(tmp)
            rec = {"inputs": counts}
            rec.update({t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in ("labels", "scenes", "media")})
            if name == "pip_join":
                rec["pairs"], rec["pairs_crc"] = pip_pairs(con)
            elif name == "coverage":
                win = coverage_windows(con)
                rec.update(windows=len(win), window_label_pairs=sum(n for n, _ in win.values()),
                           windows_crc=coverage_hash(win))
            else:
                chips = chip_windows(con, CHIP_SCENE_PRED)
                rec.update(chips=len(chips), chips_crc=chip_hash(chips),
                           px_sum=sum(sum(c["px_sum"]) for c in chips.values()))
            con.close()
            out[name] = rec
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    import os
    import sys

    sys.path[:0] = [os.getcwd(), os.path.dirname(os.path.abspath(__file__))]
    main()
