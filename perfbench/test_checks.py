"""Self-test of the benchmark's output checks: each workload's check passes
on the engine's output and rejects the same output with one row corrupted.

    python3 -m pytest perfbench/test_checks.py -q    # from the repository root

Starts one small Spark application (local[2]) on a small seeded world.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

import expected  # noqa: E402
import host  # noqa: E402
import inputs  # noqa: E402
from workloads import CheckFailed, ChipWrite, Coverage, PipJoin  # noqa: E402

SEED = 7
SIZE = (3_000, 200)  # (events, documents)


@pytest.fixture(scope="module")
def world():
    work = os.path.join(ROOT, ".perfbench_work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    in_dir = os.path.join(work, "in")
    inputs.write_inputs(SEED, in_dir, *SIZE)
    app = host.Spark(work, 2, "1024m")
    app.start()
    try:
        yield app.session, expected.world(in_dir), in_dir, work
    finally:
        app.stop()
        shutil.rmtree(work, ignore_errors=True)


def _replace_first(df, order: list[str], col: str, new):
    """df with its first row (by order) replaced by a copy whose col is new."""
    first = df.orderBy(*order).limit(1)
    return df.exceptAll(first).unionByName(first.withColumn(col, new))


def _summary(row, keys) -> dict:
    return {k: int(row[k] or 0) for k in keys}


def test_pip_join_rejects_one_wrong_pair(world):
    from pyspark.sql import functions as F

    from terrakit_spark.operators.spatial_join import spatial_join_pip

    spark, con, in_dir, work = world
    wl = PipJoin(in_dir, work, SEED)
    wl.expect(con)
    assert wl.n > 0
    _, out, _ = wl.call(spark)
    wl.check(out)
    pairs = spatial_join_pip(spark, in_dir)
    bad = _replace_first(pairs, ["media_ref", "label_id"], "label_id", F.col("label_id") + 3)
    with pytest.raises(CheckFailed):
        wl.check(_summary(PipJoin.summarize(bad).collect()[0], ("n", "h")))


@pytest.mark.parametrize("col,value", [
    ("label_area", lambda F: F.col("label_area") + 1e-6),  # one micro-deg^2 off
    ("coverage", lambda F: F.lit(0.0)),  # outside 0 < coverage <= n_labels
])
def test_coverage_rejects_one_wrong_window(world, col, value):
    from pyspark.sql import functions as F

    from terrakit_spark.operators.coverage import tile_label_coverage

    spark, con, in_dir, work = world
    wl = Coverage(in_dir, work, SEED)
    wl.expect(con)
    assert wl.windows
    _, out, _ = wl.call(spark)
    wl.check(out)
    cov = tile_label_coverage(spark, in_dir)
    bad = _replace_first(cov, ["scene_id", "win_index"], col, value(F))
    with pytest.raises(CheckFailed):
        wl.check(_summary(Coverage.summarize(bad).collect()[0], ("n", "pairs", "h", "bad")))


def _rewrite(table_dir: str, edit) -> None:
    """Apply edit(dict of columns) to a committed table's rows in place."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(table_dir, "data", "*", "*.parquet")))
    t = pq.read_table(files)
    cols = t.to_pydict()
    edit(cols)
    for f in files:
        os.remove(f)
    pq.write_table(pa.table(cols, schema=t.schema), files[0])


def _zero_label_pixel(wl):
    """Toggle one label pixel between background and class 1: the chip's
    label_mass no longer counts its non-zero pixels."""
    def edit(cols):
        b = bytearray(cols["label"][0])
        b[0] = 0 if b[0] else 1
        cols["label"][0] = bytes(b)
    return edit


def _reclass_label_pixel(wl):
    """Change one pixel's class in a sampled chip, keeping label_mass
    right: only the brute-force burn can tell."""
    def edit(cols):
        key = wl.label_sample()[0]
        i = list(zip(cols["scene_id"], cols["win_index"])).index(key)
        b = bytearray(cols["label"][i])
        nz = [j for j in range(0, len(b), 4) if b[j]]
        j = nz[0] if nz else 0
        if not nz:
            cols["label_mass"][i] += 1
        b[j] = b[j] % 3 + 1
        cols["label"][i] = bytes(b)
    return edit


def _bump_px_sum(wl):
    def edit(cols):
        cols["px_sum"][0] = [v + 1 for v in cols["px_sum"][0]]
    return edit


def _duplicate_store_row(wl):
    def edit(cols):
        for v in cols.values():
            v.append(v[0])
    return edit


@pytest.mark.parametrize("table,corrupt,check", [
    ("chips", _zero_label_pixel, "full_check"),
    ("chips", _reclass_label_pixel, "full_check"),
    ("chips", _bump_px_sum, "check"),
    ("dataset", _duplicate_store_row, "check"),
])
def test_chip_write_rejects_one_wrong_chip(world, table, corrupt, check):
    spark, con, in_dir, work = world
    wl = ChipWrite(in_dir, work, SEED)
    wl.expect(con)
    assert len(wl.chips) >= 3
    _, out, _ = wl.call(spark)
    wl.check(out)
    wl.full_check(spark, out)
    _rewrite(os.path.join(out["wd"], table), corrupt(wl))
    with pytest.raises(CheckFailed):
        wl.check(out) if check == "check" else wl.full_check(spark, out)
    wl.release(out)
