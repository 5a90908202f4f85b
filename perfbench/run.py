#!/usr/bin/env python3
"""tilemaker_spark benchmark: PBF -> MVT archive, and image geo-assignment.

    python3 perfbench/run.py --workload osm_z14 --seed 42 --seconds 5 --trace 0

Run from the repository root.  One run starts a fresh local[nproc] Spark
session, generates its input from --seed, runs the workload's job until
--seconds have passed (at least once), checks every output, and prints
as its last stdout line one JSON object {correct, attempted, failed,
metrics}.  --trace 0 reports the end-to-end metrics; --trace 1 runs the
job once untraced to warm up, once traced (one span per layer call, each
layer's output materialized before the next) and once untraced again,
then reports the per-layer metrics, including the signed difference
between the traced and the last untraced job.  Scratch files, the
report and the spans go to .perfbench/<workload>/.  See README.md.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

END_TO_END = {"setup_s": "s", "job_s": "s", "job_cpu_s": "s",
              "items_per_s": "1/s", "peak_rss_mb": "MB"}
SPAN_LAYERS = (
    "sources.pbf", "operators.assembly", "plans.profile",
    "operators.tiling.cover", "operators.tiling.build", "sinks.pmtiles",
    "sinks.mbtiles", "operators.images.decode_verify",
    "operators.spatial_join.pip_join", "operators.knn.knn_join_cell",
    "sql.tile_exprs.rollup")
SPAN_FIELDS = {"s": ("s", "lower"), "rows_in": ("count", "higher"),
               "rows_out": ("count", "higher"), "task_s": ("s", "lower"),
               "shuffle_write_mb": ("MB", "lower"),
               "spill_mb": ("MB", "lower"), "task_skew": ("ratio", "lower")}
RATIOS = {
    "operators.tiling.cover.fanout": ("ratio", "lower"),
    "operators.tiling.build.tile_bytes": ("bytes", "lower"),
    "operators.tiling.build.max_tile_bytes": ("bytes", "lower"),
    "sinks.pmtiles.archive_bytes": ("bytes", "lower"),
    "sinks.mbtiles.archive_bytes": ("bytes", "lower"),
    "operators.images.decode_verify.pix_ok_ratio": ("ratio", "higher"),
    "operators.spatial_join.pip_join.match_ratio": ("ratio", "higher"),
    "operators.knn.knn_join_cell.under_filled_ratio": ("ratio", "lower"),
}
KERNELS = ("pbf.decode_block", "geom.covering_tiles", "geom.clip",
           "geom.simplify", "mvt.encode", "mvt.gzip", "png.decode",
           "jpeg.decode")
TRACE = {"trace.total_s": ("s", "lower"), "trace.overhead_s": ("s", "lower")}


def per_layer_units() -> dict[str, tuple[str, str]]:
    """Every per-layer metric name -> (unit, better)."""
    out = {f"{layer}.{f}": ub for layer in SPAN_LAYERS
           for f, ub in SPAN_FIELDS.items()}
    out.update(RATIOS)
    for k in KERNELS:
        out[f"kernels.{k}.us"] = ("us", "lower")
        out[f"kernels.{k}.calls"] = ("count", "higher")
    out.update(TRACE)
    return out


class Ctx:
    def __init__(self, spark, work: str, seed: int, scale: float,
                 nproc: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.scale, self.nproc = scale, nproc


class Attempts:
    """Job attempts of one run: times of those whose output passed its
    check, and the count of those that raised or failed it."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = self.failed = 0
        self.times: list[float] = []
        self.cpu: list[float] = []
        self.rates: list[float] = []
        self.stats: list[dict] = []

    def run(self, fn) -> bool:
        """One attempt; False when the session may be unusable."""
        from harness import tree_cpu_s

        self.attempted += 1
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            out = fn()
            dt = time.perf_counter() - t0
            dcpu = tree_cpu_s() - c0
            errors, stats = self.wl.check(out)
        except Exception:  # a dead JVM or a failing layer: count it, stop
            traceback.print_exc()
            self.failed += 1
            return False
        if errors:
            print("output check failed: " + "; ".join(errors[:10]),
                  file=sys.stderr)
            self.failed += 1
            return True
        self.times.append(dt)
        self.cpu.append(dcpu)
        self.rates.append(stats["items"] / dt)
        self.stats.append(stats)
        return True


def traced_metrics(wl, tr, groups: dict, after: dict, last_stats: dict,
                   untraced_s: float | None) -> tuple[dict, list[str]]:
    errors = []
    m = {k: 0.0 for k in per_layer_units()}
    for layer in SPAN_LAYERS:
        spans = [s for s in tr.spans if s["name"] == layer]
        g = [groups.get(s["group"], {}) for s in spans]
        m[f"{layer}.s"] = sum(s["end"] - s["start"] for s in spans)
        m[f"{layer}.rows_in"] = sum(s.get("rows_in", 0) for s in spans)
        m[f"{layer}.rows_out"] = sum(s.get("rows_out", 0) for s in spans)
        m[f"{layer}.task_s"] = sum(x.get("task_s", 0.0) for x in g)
        m[f"{layer}.shuffle_write_mb"] = sum(
            x.get("shuffle_write_b", 0) for x in g) / 2**20
        m[f"{layer}.spill_mb"] = sum(x.get("spill_b", 0) for x in g) / 2**20
        m[f"{layer}.task_skew"] = max((x.get("task_skew", 1.0) for x in g),
                                      default=0.0)
    m.update(after)
    if wl.name == "osm_z14":
        m["operators.tiling.build.tile_bytes"] = last_stats["tile_bytes"]
        m["operators.tiling.build.max_tile_bytes"] = (
            last_stats["max_tile_bytes"])
        m["sinks.pmtiles.archive_bytes"] = last_stats["archive_bytes"]
    root = next(s for s in tr.spans if s["name"] == "job")
    total = root["end"] - root["start"]
    selfs = tr.self_times()
    in_tree = [s["id"] for s in tr.spans
               if s["id"] == root["id"] or s["parent"] == root["id"]]
    if abs(sum(selfs[i] for i in in_tree) - total) > 1e-6:
        errors.append("span self-times do not add up to the traced total")
    m["trace.total_s"] = total
    if untraced_s is None:
        errors.append("no untraced job to set against the traced one")
    else:
        m["trace.overhead_s"] = total - untraced_s
    return m, errors


def run(args, work: Path) -> dict:
    from harness import (RssSampler, Tracer, finish_host_facts, host_facts,
                         start_session, stop_session, task_metrics_by_group)
    from workloads import WORKLOADS

    facts = host_facts()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    event_dir = str(work / "eventlog") if args.trace else None
    report = {"run_id": run_id, "workload": args.workload,
              "seed": args.seed, "scale": args.scale}
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = start_session(str(work), facts["nproc"],
                              facts["mem_total_mb"], event_dir)
        session_s = time.perf_counter() - t0
        try:
            wl = WORKLOADS[args.workload](
                Ctx(spark, str(work), args.seed, args.scale, facts["nproc"]))
            gen_s = []
            # setup_s is reported by untraced runs only
            for _ in range(1 if args.trace else wl.setup_reps):
                t0 = time.perf_counter()
                report["input"] = wl.setup()
                gen_s.append(time.perf_counter() - t0)
            att = Attempts(wl)
            if not args.trace:
                t_end = time.perf_counter() + args.seconds
                while att.run(wl.job) and time.perf_counter() < t_end:
                    pass
            else:
                tr = Tracer(run_id, spark.sparkContext)
                after: dict = {}
                traced_stats = untraced_s = None
                att.run(wl.job)  # warm-up: the cold first job
                n_ok = len(att.times)
                if att.run(lambda: wl.traced_job(tr)) \
                        and len(att.times) > n_ok:
                    traced_stats = att.stats[-1]
                    try:
                        wl.after_trace(tr, after)
                    except Exception:  # counted like a failed job
                        traceback.print_exc()
                        att.attempted += 1
                        att.failed += 1
                    att.run(wl.job)
                    if len(att.times) > n_ok + 1:
                        untraced_s = att.times[-1]
        finally:
            stop_session(spark)
    facts = finish_host_facts(facts)
    report.update(host=facts, session_s=session_s, gen_s=gen_s,
                  job_s=att.times, job_cpu_s=att.cpu, items_per_s=att.rates,
                  stats=att.stats,
                  peak_rss_b=rss.peak_bytes, hwm_b=rss.hwm_by_name())
    correct = att.failed == 0 and bool(att.times)
    samples = {"setup_s": len(gen_s), "job_s": len(att.times)}
    if not args.trace:
        metrics = {
            "setup_s": session_s + statistics.median(gen_s),
            "job_s": statistics.median(att.times) if att.times else 0.0,
            "job_cpu_s": statistics.median(att.cpu) if att.cpu else 0.0,
            "items_per_s": (statistics.median(att.rates) if att.rates
                            else 0.0),
            "peak_rss_mb": rss.peak_bytes / 2**20,
        }
        units = END_TO_END
    else:
        tr.write(str(work / "spans.jsonl"))
        metrics = {k: 0.0 for k in per_layer_units()}
        if traced_stats is not None:
            from replay import replay
            metrics, errors = traced_metrics(
                wl, tr, task_metrics_by_group(event_dir), after,
                traced_stats, untraced_s)
            if errors:
                print("trace check failed: " + "; ".join(errors),
                      file=sys.stderr)
                correct = False
            metrics.update(replay(**wl.replay_inputs()))
        else:
            correct = False
        units = {k: u for k, (u, _) in per_layer_units().items()}
    report.update(samples=samples, metrics=metrics)
    with open(work / "report.json", "w") as f:
        json.dump(report, f, indent=1, default=str)
    print("host: " + json.dumps(facts))
    print("samples: " + json.dumps(samples))
    return {"correct": correct, "attempted": att.attempted,
            "failed": att.failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]}
                        for k in units}}


def main(argv=None) -> int:
    from workloads import WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (goldens hold at 1.0)")
    args = ap.parse_args(argv)
    if not ((ROOT / "tilemaker_spark").is_dir()
            and (ROOT / "jobs" / "build_tiles_job.py").is_file()):
        print(f"perfbench: no tilemaker_spark checkout at {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(ROOT / "jobs")]
    # Python workers inherit the environment, not the driver's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), os.environ.get("PYTHONPATH", "")])
    work = ROOT / ".perfbench" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = str(tmp)
    result = run(args, work)
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
