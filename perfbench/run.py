"""Benchmark of terrakit_spark's dataset-generation path.

    python3 perfbench/run.py --workload pip_join --seed 1 --seconds 40 --trace 0

Run from the repository root. Generates the seed's inputs, starts the
engine's Spark session, calls the workload back to back (one caller,
closed loop) until --seconds of calls have run, checks every output, and
prints one JSON line with the end-to-end metrics (--trace 0) or the
per-layer metrics (--trace 1). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

SETTLE_CALLS = 1  # warm calls after the cold one left out of rows_per_s
MIN_SETTLED = 2  # settled calls a run makes at the least
TRACE_WARM_CALLS = 1


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["pip_join", "chip_write", "coverage"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=40)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "terrakit_spark", "__init__.py")):
        log("run from the repository root: terrakit_spark/ not found here")
        return 2
    sys.path.insert(0, root)
    # Python workers start from the JVM's working directory; they find the
    # engine only through PYTHONPATH.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        result = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, root: str, work: str) -> dict:
    import expected
    import host
    import inputs
    import trace
    from workloads import WORKLOADS, CheckFailed

    t_start = time.perf_counter()
    wl_cls = WORKLOADS[args.workload]
    in_dir = os.path.join(work, "in")
    counts = inputs.write_inputs(args.seed, in_dir, *wl_cls.SIZE)
    wl = wl_cls(in_dir, work, args.seed)
    con = expected.world(in_dir)
    wl.expect(con)
    hrec = host.host_record()
    cores, mem = host.spark_sizing(hrec)
    log(f"host {hrec} -> local[{cores}], driver {mem}; inputs {counts}; "
        f"prepared in {time.perf_counter() - t_start:.2f}s")

    spans = trace.Spans()
    attempted = failed = 0
    times, ok, rows, handle, layers = [], [], 0, None, {}
    app = host.Spark(work, cores, mem)
    with host.RssSampler() as rss:
        steal0 = host.steal_s()
        _, setup_s = spans.timed("setup", app.start)
        spark = app.session
        try:
            ctrl = host.control_s(spark, cores)
            log(f"setup {setup_s:.2f}s control {ctrl:.2f}s")
            measured = 0.0
            while True:
                attempted += 1
                call_steal0 = host.steal_s()
                t = time.perf_counter()
                try:
                    (n, out, handle), dt = spans.timed(f"{wl.name}.call", wl.call, spark)
                    wl.check(out)
                    if attempted == 1:
                        wl.full_check(spark, out)
                    wl.release(out)
                    rows = rows or n
                    ok.append(True)
                except Exception as exc:  # a failed call is counted, and the run goes on
                    dt = time.perf_counter() - t
                    failed += 1
                    ok.append(False)
                    log(f"call {attempted - 1} failed: {exc!r}")
                    if not isinstance(exc, CheckFailed):
                        traceback.print_exc(file=sys.stderr)
                times.append(dt)
                measured += dt
                log(f"call {attempted - 1}: {dt:.3f}s, cpu steal {host.steal_s() - call_steal0:.2f}s")
                if attempted == 1 + SETTLE_CALLS + MIN_SETTLED:
                    peak_mb = rss.peak_mb  # over the same calls in every run, however long it is
                if args.trace:
                    if attempted > TRACE_WARM_CALLS:
                        break
                elif measured >= args.seconds and attempted > SETTLE_CALLS + MIN_SETTLED:
                    break
            if args.trace:
                layers = trace.profile(spark, handle, in_dir, work, con, args.seed, spans)
                layers["host.control_s"] = ctrl
                layers["host.steal_s"] = host.steal_s() - steal0
        finally:
            t = time.perf_counter()
            app.stop()
            log(f"stopped in {time.perf_counter() - t:.2f}s; run took {time.perf_counter() - t_start:.2f}s")
    if args.trace:
        path = trace.write_spans(root, args.workload, args.seed, {
            "host": hrec, "inputs": counts, "call_s": times, "setup_s": setup_s,
            "layers": layers, "spans": spans.items,
        })
        log(f"spans written to {path}")
        metrics = {k: {"value": v, "unit": trace.UNITS[k]} for k, v in layers.items()}
    else:
        settled = [t for t, good in list(zip(times, ok))[1 + SETTLE_CALLS:] if good]
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cold_s": {"value": times[0], "unit": "s"},
            "rows_per_s": {"value": rows / statistics.median(settled) if settled else 0.0, "unit": "1/s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        }
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
