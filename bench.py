"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline set = every registered query (``__spark_entry__.REGISTRY``)
whose row has the bench flag set.  Tile-path throughput (MVT tiles written
per second) is measured by ``perfbench/`` (workload ``osm_z14``).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    import __spark_entry__ as E
    from tilemaker_spark.session import get_spark, release_storage

    spark = get_spark(cpus=cpus, shuffle_partitions=max(cpus, 16))

    headline = {name: row.query for name, row in E.REGISTRY.items()
                if row.bench}
    # best-of-N with INTERLEAVED rounds (run the whole list, then run it
    # again): single-shot numbers on this noisy shared host drift 20-50%
    # between rounds, which made round-over-round comparisons meaningless
    rounds = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "2"))
    timings: dict[str, float] = {}

    def prewarm() -> float:
        """Warm the JVM and the Python/Arrow worker pool on every core
        before timing.  Cold Arrow workers are a measurement artifact of
        the bench's one-session-many-jobs shape: on a real cluster (and
        in the real spark-submit job) executor Python workers are
        long-lived and stay hot across the pipeline.  On this
        descheduling-prone shared host a cold 32-wide worker-spawn storm
        otherwise lands entirely on whichever query happens to run first
        after an idle gap (measured: +15-80s on a query whose warm time
        is 2.5s).  The prewarm duration doubles as a per-round host
        calibration: the same fixed tiny job, reported in extras, so a
        reader can see which rounds hit a degraded window."""

        def touch(batches):
            from tilemaker_spark.kernels import geom, jpeg, png  # noqa: F401
            yield from batches

        t0 = time.time()
        (spark.range(cpus * 4, numPartitions=cpus)
         .mapInArrow(touch, "id long").count())
        return round(time.time() - t0, 3)

    round_totals: list[float] = []
    prewarm_secs: list[float] = []

    def run_round(rnd: int) -> float:
        pw = prewarm()
        prewarm_secs.append(pw)
        print(f"# r{rnd} prewarm (fixed calibration job): {pw}s",
              file=sys.stderr)
        total = 0.0
        for name, query in headline.items():
            t0 = time.time()
            n = query(spark, sf_dir).count()
            sec = round(time.time() - t0, 3)
            total += sec
            if name not in timings or sec < timings[name]:
                timings[name] = sec
            print(f"# r{rnd} {name}: {n} rows in {sec}s", file=sys.stderr)
            release_storage(spark)
        return total

    for rnd in range(rounds):
        round_totals.append(run_round(rnd))
    # the sandbox host's delivered capacity drifts several-x between
    # windows minutes apart; when the interleaved rounds disagree badly,
    # one of them hit a bad window — buy one extra round of best-of
    # (bounded: at most +1) instead of publishing the polluted minimum
    if (len(round_totals) >= 2
            and max(round_totals) > 1.5 * min(round_totals)):
        print(f"# round totals {['%.1f' % t for t in round_totals]} "
              f"disagree >1.5x (noisy host window) - running one extra "
              f"round", file=sys.stderr)
        round_totals.append(run_round(rounds))

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "extras": {
            "cpus": cpus,
            "bench_rounds": rounds,
            # sweep manifest: the registered-query count, so a driver
            # CORRECTNESS sweep that silently drops a row (r04 lost
            # `simplify` with no err entry) is detectable post hoc
            "n_registered_queries": len(E.REGISTRY),
            "n_benched_queries": len(headline),
            "prewarm_sec_per_round": prewarm_secs,
        },
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
