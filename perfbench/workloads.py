"""The three workloads: one call each into a public entry point of
terrakit_spark, the output summary the call is checked by, and the checks.

Every call is checked: ``check`` compares the call's summary with the
expected values of ``expected.py``. For pip_join and coverage the summary
is a count plus an order-independent hash of every output row, computed in
the same Spark action that forces the output, so the per-call check is
already complete. chip_write also has a ``full_check``, run once per run
on the cold call's output outside the timing: exact pixel sums of every
chip, label bytes of a seeded sample of chips, label mass and store splits.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np

import expected


class CheckFailed(Exception):
    pass


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _crc_col(*cols):
    from pyspark.sql import functions as F

    return F.sum(F.crc32(F.concat_ws("|", *[F.col(c).cast("string") for c in cols])))


class Workload:
    """One workload: SIZE of its inputs, expect() from the DuckDB world,
    call() into the engine returning (rows, summary, executed handle or
    None), check() of every call's summary, and for the cold call's output
    full_check(); release() drops what a call left on disk."""

    SIZE: tuple[int, int]  # (events, documents)

    def __init__(self, in_dir: str, work_dir: str, seed: int):
        self.in_dir, self.work_dir, self.seed = in_dir, work_dir, seed

    def full_check(self, spark, out: dict) -> None:
        pass

    def release(self, out: dict) -> None:
        pass


class PipJoin(Workload):
    """spatial_join_pip forced over all its rows: media points x label
    diamonds, including the hotspot."""

    name = "pip_join"
    SIZE = (20_000, 2_000)

    def expect(self, con) -> None:
        self.n, self.h = expected.pip_pairs(con)

    @staticmethod
    def summarize(pairs):
        """The handle the call forces: pair count and hash of every pair."""
        from pyspark.sql import functions as F

        return pairs.agg(F.count("*").alias("n"), _crc_col("media_ref", "label_id").alias("h"))

    def call(self, spark) -> tuple[int, dict, object]:
        from terrakit_spark.operators.spatial_join import spatial_join_pip

        handle = self.summarize(spatial_join_pip(spark, self.in_dir))
        r = handle.collect()[0]
        return int(r["n"]), {"n": int(r["n"]), "h": int(r["h"] or 0)}, handle

    def check(self, out: dict) -> None:
        _require(out["n"] == self.n, f"pairs {out['n']} != expected {self.n}")
        _require(out["h"] == self.h, "pair-set hash differs from the closed-form join")


class Coverage(Workload):
    """tile_label_coverage forced in full: exact rect x diamond areas per
    chip window over the scene_id % 25 = 0 scenes."""

    name = "coverage"
    SIZE = (10_000, 500)

    def expect(self, con) -> None:
        self.windows = expected.coverage_windows(con)
        self.n_labels = sum(n for n, _ in self.windows.values())
        self.h = expected.coverage_hash(self.windows)

    @staticmethod
    def summarize(cov):
        """Window count, total (window, label) pairs, a hash of every
        window's (scene_id, win_index, n_labels, area in micro-deg^2), and
        the number of windows outside 0 < coverage <= n_labels."""
        from pyspark.sql import functions as F

        cov = cov.withColumn("area_u", F.round(F.col("label_area") * 1e6).cast("long"))
        bad = (F.col("coverage") <= 0) | (F.col("coverage") > F.col("n_labels"))
        return cov.agg(
            F.count("*").alias("n"),
            F.sum("n_labels").alias("pairs"),
            _crc_col("scene_id", "win_index", "n_labels", "area_u").alias("h"),
            F.sum(F.when(bad, 1).otherwise(0)).alias("bad"),
        )

    def call(self, spark) -> tuple[int, dict, object]:
        from terrakit_spark.operators.coverage import tile_label_coverage

        handle = self.summarize(tile_label_coverage(spark, self.in_dir))
        r = handle.collect()[0]
        out = {k: int(r[k] or 0) for k in ("n", "pairs", "h", "bad")}
        return out["pairs"], out, handle

    def check(self, out: dict) -> None:
        _require(out["n"] == len(self.windows), f"windows {out['n']} != expected {len(self.windows)}")
        _require(out["pairs"] == self.n_labels, f"sum n_labels {out['pairs']} != expected {self.n_labels}")
        _require(out["bad"] == 0, f"{out['bad']} windows outside 0 < coverage <= n_labels")
        _require(out["h"] == self.h, "per-window (n_labels, area) hash differs from the exact areas")


# All five scene shapes (256x256, 512x768, 700x300, 10x10, 64x48 cycle
# with scene_id // 5 % 5), so multi-window and edge-clamped tiling run.
CHIP_SCENE_PRED = "(scene_id % 625) IN (0, 130, 260, 390, 520)"
SPLITS = {"train", "validation", "test"}
LABEL_SAMPLE = 4


def _read(table_dir: str, columns: list[str]):
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(table_dir, "data", "*", "*.parquet")))
    return pq.read_table(files, columns=columns).to_pydict() if files else {c: [] for c in columns}


class ChipWrite(Workload):
    """The staged dataset-generation path of the CLI: labels, download
    (as-of match), chip (burn + edge-clamped tiling + stats + snapshot
    commit) and store, into a fresh working directory per call."""

    name = "chip_write"
    SIZE = (12_000, 500)

    def __init__(self, in_dir: str, work_dir: str, seed: int):
        super().__init__(in_dir, work_dir, seed)
        self.calls = 0

    def expect(self, con) -> None:
        self.chips = expected.chip_windows(con, CHIP_SCENE_PRED)
        self.h = expected.chip_hash(self.chips)
        self.px_total = sum(sum(c["px_sum"]) for c in self.chips.values())
        self.labels = expected.label_arrays(con)

    def call(self, spark) -> tuple[int, dict, object]:
        from terrakit_spark.cli import stage_chip, stage_download, stage_labels, stage_store

        wd = os.path.join(self.work_dir, f"chip-{self.calls}")
        self.calls += 1
        shutil.rmtree(wd, ignore_errors=True)
        os.makedirs(wd)
        stage_labels(spark, self.in_dir, wd)
        stage_download(spark, self.in_dir, wd)
        chips = stage_chip(spark, self.in_dir, wd, scene_pred=CHIP_SCENE_PRED)
        store = stage_store(spark, self.in_dir, wd)
        out = {"wd": wd, "chips": chips["chips_rows"], "dataset": store["dataset_rows"]}
        return out["chips"], out, None

    def check(self, out: dict) -> None:
        _require(out["chips"] == len(self.chips), f"chips {out['chips']} != expected {len(self.chips)}")
        _require(out["dataset"] == len(self.chips), f"dataset rows {out['dataset']} != expected {len(self.chips)}")
        ds = _read(os.path.join(out["wd"], "dataset"), ["scene_id", "win_index", "data_split"])
        keys = list(zip(ds["scene_id"], ds["win_index"]))
        _require(len(set(keys)) == len(keys), "a chip appears in more than one store row")
        _require(set(ds["data_split"]) <= SPLITS, f"unknown store splits {set(ds['data_split']) - SPLITS}")
        _require(expected.chip_hash(keys) == self.h, "stored (scene_id, win_index) set differs from the window grid")
        px = _read(os.path.join(out["wd"], "chips"), ["px_sum"])["px_sum"]
        _require(sum(sum(p) for p in px) == self.px_total, "total pixel sum differs from the pixel formula")

    def full_check(self, spark, out: dict) -> None:
        cols = ["scene_id", "win_index", "chip_w", "chip_h", "px_sum", "px_sumsq", "label_mass", "label"]
        t = _read(os.path.join(out["wd"], "chips"), cols)
        rows = {(s, w): i for i, (s, w) in enumerate(zip(t["scene_id"], t["win_index"]))}
        _require(set(rows) == set(self.chips), "chip (scene_id, win_index) set differs from the window grid")
        for key, exp in self.chips.items():
            i = rows[key]
            _require(t["px_sum"][i] == exp["px_sum"], f"px_sum of chip {key}")
            _require(t["px_sumsq"][i] == exp["px_sumsq"], f"px_sumsq of chip {key}")
            label = np.frombuffer(t["label"][i], dtype=np.int32)
            _require(int(np.count_nonzero(label)) == t["label_mass"][i], f"label_mass of chip {key}")
        for key in self.label_sample():
            exp, i = self.chips[key], rows[key]
            want = expected.burn_chip(self.labels, exp["xmin"], exp["ymax"], exp["box"])
            _require((t["chip_h"][i], t["chip_w"][i]) == want.shape, f"label shape of chip {key}")
            _require(bytes(t["label"][i]) == want.tobytes(), f"label bytes of chip {key}")

    def label_sample(self) -> list[tuple[int, int]]:
        """The seeded sample of chips whose label bytes are burned again."""
        keys = sorted(self.chips)
        pick = np.random.default_rng(self.seed).choice(len(keys), size=min(LABEL_SAMPLE, len(keys)), replace=False)
        return [keys[j] for j in sorted(pick)]

    def release(self, out: dict) -> None:
        shutil.rmtree(out["wd"], ignore_errors=True)


WORKLOADS = {w.name: w for w in (PipJoin, ChipWrite, Coverage)}
