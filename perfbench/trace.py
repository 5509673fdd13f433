"""Per-layer metrics for the traced run (--trace 1).

Every layer is timed from outside the engine, around calls into its
public functions, on this run's inputs; the Spark metrics are the SQL
metrics Spark keeps on the executed plan of the workload's timed handle.
Every traced run prints every layer's metric: the README says which
end-to-end metric and workload each one should move.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np

import expected
from workloads import CHIP_SCENE_PRED

UNITS = {
    "synth.derive_s": "s",
    "spatial_join.cell_deg_probe_s": "s",
    "cells.candidates": "count",
    "spatial_join.hit_ratio": "ratio",
    "geometry.ray_cast_ns_per_pair": "ns",
    "geometry.clip_rect_ns_per_pair": "ns",
    "asof.match_s": "s",
    "raster.pixels_ns_per_px": "ns",
    "rasterize.burn_ns_per_px": "ns",
    "pipeline.chip_s": "s",
    "pipeline.stats_s": "s",
    "snapshots.commit_s": "s",
    "snapshots.written_mb": "MB",
    "spark.shuffle_mb": "MB",
    "spark.broadcast_mb": "MB",
    "spark.arrow_in_mb": "MB",
    "spark.arrow_out_mb": "MB",
    "spark.python_task_s": "s",
    "spark.python_init_s": "s",
    "host.control_s": "s",
    "host.steal_s": "s",
}
KERNEL_SAMPLE = 16_384  # candidate pairs per kernel timing: one engine kernel chunk
KERNEL_REPEATS = 5
MB = 1024.0 * 1024.0


class Spans:
    """In-memory spans (name, start, end) around calls into each layer."""

    def __init__(self):
        self.items: list[dict] = []

    def timed(self, name: str, fn, *args, **kw):
        t0 = time.perf_counter()
        out = fn(*args, **kw)
        t1 = time.perf_counter()
        self.items.append({"name": name, "start": t0, "end": t1})
        return out, t1 - t0


# ---------------------------------------------------------------- Spark plan
def plan_metrics(handle) -> dict[str, float]:
    """Sum Spark's SQL metrics over the executed plan of an executed
    DataFrame, through adaptive query stages and reused exchanges. Sizes
    in bytes, timings in seconds, each metric object counted once;
    broadcast exchanges' metrics are prefixed "broadcast."."""
    totals: dict[str, float] = {}
    seen: set[int] = set()
    stack = [handle._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif cls == "ReusedExchangeExec":
            stack.append(node.child())
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m = kv._2()
            if m.id() in seen:
                continue
            seen.add(m.id())
            scale = {"nsTiming": 1e-9, "timing": 1e-3}.get(m.metricType(), 1.0)
            name = f"broadcast.{kv._1()}" if cls == "BroadcastExchangeExec" else kv._1()
            totals[name] = totals.get(name, 0.0) + m.value() * scale
        for seq in (node.children(), node.subqueries()):
            for i in range(seq.size()):
                stack.append(seq.apply(i))
    return totals


def spark_layers(handle) -> dict[str, float]:
    m = plan_metrics(handle)
    return {
        "spark.shuffle_mb": m.get("shuffleBytesWritten", 0.0) / MB,
        "spark.broadcast_mb": m.get("broadcast.dataSize", 0.0) / MB,
        "spark.arrow_in_mb": m.get("pythonDataSent", 0.0) / MB,
        "spark.arrow_out_mb": m.get("pythonDataReceived", 0.0) / MB,
        "spark.python_task_s": m.get("pythonTotalTime", 0.0),
        "spark.python_init_s": m.get("pythonBootTime", 0.0) + m.get("pythonInitTime", 0.0),
    }


# ---------------------------------------------------------------- layers
def _ns_per(fn, n_units: float) -> float:
    """Median over repeats of one single-threaded call, per unit of work."""
    times = []
    for _ in range(KERNEL_REPEATS):
        t0 = time.perf_counter_ns()
        fn()
        times.append(time.perf_counter_ns() - t0)
    return statistics.median(times) / n_units


def _sample(d: dict, n: int, seed: int) -> dict:
    rows = len(next(iter(d.values())))
    idx = np.sort(np.random.default_rng(seed).choice(rows, size=min(n, rows), replace=False))
    return {k: np.asarray(v)[idx] for k, v in d.items()}


def _diamonds(d: dict) -> np.ndarray:
    cx, cy, rx, ry = d["cx"], d["cy"], d["rx"], d["ry"]
    return np.stack(
        [np.stack(v, axis=1) for v in ((cx - rx, cy), (cx, cy - ry), (cx + rx, cy), (cx, cy + ry))], axis=1
    ).astype(np.float64)


def synth_layer(spark, spans: Spans) -> float:
    """The synthetic tables every call derives from the base tables:
    labels, scenes and media, each forced in full."""
    from pyspark.sql import functions as F

    from terrakit_spark.dialect import SPARK
    from terrakit_spark.synth import labels_sql, media_sql, scenes_sql

    def derive():
        for fn in (labels_sql, scenes_sql, media_sql):
            df = spark.sql(fn(SPARK))
            df.agg(F.sum(F.crc32(F.to_json(F.struct(*df.columns))))).collect()

    return spans.timed("synth.derive", derive)[1]


def join_layers(spark, spans: Spans) -> dict[str, float]:
    """The cell-size probe, then the candidate set it implies: cell
    equi-join plus bbox prefilter, and the share of candidates that the
    exact test keeps (closed form, evaluated by Spark)."""
    from pyspark.sql import functions as F

    from terrakit_spark.functions.cells import with_cover_cells, with_point_cell
    from terrakit_spark.operators.spatial_join import adaptive_cell_deg

    points = spark.table("media").select("mx", "my")
    polys = spark.table("labels").selectExpr(
        "cx", "cy", "rx", "ry", "cx - rx AS xmin", "cy - ry AS ymin", "cx + rx AS xmax", "cy + ry AS ymax"
    )
    deg, probe_s = spans.timed("spatial_join.adaptive_cell_deg", adaptive_cell_deg, points, "mx", "my", polys)
    p = with_point_cell(points, "mx", "my", out="_cell", cell_deg=deg)
    g = with_cover_cells(polys, "xmin", "ymin", "xmax", "ymax", out="_cell", cell_deg=deg)
    cand = p.join(g, "_cell").filter(
        (F.col("mx") >= F.col("xmin")) & (F.col("mx") <= F.col("xmax"))
        & (F.col("my") >= F.col("ymin")) & (F.col("my") <= F.col("ymax"))
    )
    inside = F.abs(F.col("mx") - F.col("cx")) / F.col("rx") + F.abs(F.col("my") - F.col("cy")) / F.col("ry") < 1
    r, _ = spans.timed(
        "cells.candidates",
        lambda: cand.agg(F.count("*").alias("n"), F.sum(F.when(inside, 1).otherwise(0)).alias("hits")).collect()[0],
    )
    n = int(r["n"])
    return {
        "spatial_join.cell_deg_probe_s": probe_s,
        "cells.candidates": float(n),
        "spatial_join.hit_ratio": (r["hits"] or 0) / n if n else 0.0,
    }


def kernel_layers(con, spans: Spans, seed: int) -> dict[str, float]:
    """The geometry kernels on fixed candidate samples, one thread."""
    from terrakit_spark.functions.geometry import clip_area_rect, ray_cast

    pts = _sample(
        con.execute(
            """SELECT m.mx, m.my, l.cx, l.cy, l.rx, l.ry FROM media m JOIN labels l
               ON m.mx BETWEEN l.cx - l.rx AND l.cx + l.rx AND m.my BETWEEN l.cy - l.ry AND l.cy + l.ry"""
        ).fetchnumpy(),
        KERNEL_SAMPLE, seed,
    )
    quads = _diamonds(pts)
    px, py = pts["mx"].astype(np.float64), pts["my"].astype(np.float64)
    n = len(px)
    ray_ns, _ = spans.timed("geometry.ray_cast", _ns_per, lambda: ray_cast(px, py, quads), n)
    rect = _sample(expected.coverage_candidates(con), KERNEL_SAMPLE, seed)
    quads = _diamonds(rect)
    ns = np.full(len(quads), 4, dtype=np.int64)
    bounds = [rect[k].astype(np.float64) for k in ("tx0", "ty0", "tx1", "ty1")]
    clip_ns, _ = spans.timed(
        "geometry.clip_area_rect", _ns_per, lambda: clip_area_rect(quads, ns, *bounds), len(quads)
    )
    return {"geometry.ray_cast_ns_per_pair": ray_ns, "geometry.clip_rect_ns_per_pair": clip_ns}


def chip_layers(spark, con, in_dir: str, work: str, spans: Spans) -> tuple[dict[str, float], object]:
    """As-of match, pixel source, burn, chip pipeline, snapshot commit and
    dataset stats on the chip_write scene subset. Returns the layers and
    an executed handle over the chip pipeline for its plan metrics."""
    from pyspark.sql import functions as F

    from terrakit_spark.operators.rasterize import burn_image
    from terrakit_spark.pipeline import chip_pipeline, dataset_stats, matched_scenes
    from terrakit_spark.plans.snapshots import SnapshotTable
    from terrakit_spark.sources.raster import scene_pixels

    out = {}
    _, out["asof.match_s"] = spans.timed("asof.matched_scenes", lambda: matched_scenes(spark, CHIP_SCENE_PRED).collect())
    scenes = expected.matched_subset_scenes(con, CHIP_SCENE_PRED)
    lab = expected.label_arrays(con)
    order = np.argsort(lab["geom_seq"])
    lab = {k: v[order] for k, v in lab.items()}
    px_t = burn_t = 0.0
    n_px = n_burn = 0
    for sid, bands, w, h, xmin, ymax in scenes:
        _, dt = spans.timed("raster.scene_pixels", scene_pixels, sid, bands, h, w)
        px_t += dt
        n_px += bands * h * w
        xmax, ymin = xmin + w * expected.RES, ymax - h * expected.RES
        sel = ((lab["cx"] - lab["rx"] <= xmax) & (lab["cx"] + lab["rx"] >= xmin)
               & (lab["cy"] - lab["ry"] <= ymax) & (lab["cy"] + lab["ry"] >= ymin))
        polys = list(_diamonds({k: lab[k][sel] for k in ("cx", "cy", "rx", "ry")}))
        _, dt = spans.timed("rasterize.burn_image", burn_image, w, h, xmin, ymax, polys, lab["cls"][sel].tolist())
        burn_t += dt
        n_burn += h * w
    out["raster.pixels_ns_per_px"] = px_t * 1e9 / max(n_px, 1)
    out["rasterize.burn_ns_per_px"] = burn_t * 1e9 / max(n_burn, 1)
    _, out["pipeline.chip_s"] = spans.timed(
        "pipeline.chip_pipeline",
        lambda: chip_pipeline(spark, in_dir, scene_pred=CHIP_SCENE_PRED).write.format("noop").mode("overwrite").save(),
    )
    table = SnapshotTable(os.path.join(work, "trace-chips"))
    snap, out["snapshots.commit_s"] = spans.timed(
        "snapshots.commit", table.commit, chip_pipeline(spark, in_dir, scene_pred=CHIP_SCENE_PRED),
        step="chip", partition_col="scene_date_str",
    )
    out["snapshots.written_mb"] = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(snap.data_dir) for f in fs
    ) / MB
    _, out["pipeline.stats_s"] = spans.timed("pipeline.dataset_stats", lambda: dataset_stats(table.read(spark)).collect())
    handle = chip_pipeline(spark, in_dir, scene_pred=CHIP_SCENE_PRED).agg(F.count("*"))
    spans.timed("pipeline.chip_pipeline.handle", handle.collect)
    return out, handle


def profile(spark, handle, in_dir: str, work: str, con, seed: int, spans: Spans) -> dict[str, float]:
    """Every per-layer metric. handle: the executed DataFrame of the
    workload's last call (None for chip_write, whose stages keep their
    plans; its Spark metrics come from a chip pipeline handle)."""
    layers = {"synth.derive_s": synth_layer(spark, spans)}
    if handle is not None:
        layers.update(spark_layers(handle))
    layers.update(join_layers(spark, spans))
    layers.update(kernel_layers(con, spans, seed))
    chip, chip_handle = chip_layers(spark, con, in_dir, work, spans)
    layers.update(chip)
    if handle is None:
        layers.update(spark_layers(chip_handle))
    return layers


def write_spans(root: str, workload: str, seed: int, record: dict) -> str:
    out_dir = os.path.join(root, ".perfbench_work", "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{workload}-seed{seed}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1)
    return path
