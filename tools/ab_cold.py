"""Cold-JVM interleaved A/B runner over two checkouts.

Each SAMPLE is one fresh python+JVM subprocess that runs a named
measurement against ONE side's code (its working directory and
``sys.path`` point at that side's checkout) with bench.py's
methodology (one untimed warm pass, then 3 timed runs, median) and
prints ``MED=<sec>``.  Side order alternates A,B,B,A,A,B,... so
monotone box drift cancels instead of biasing one side.  The two sides
are two checkouts of the repo, e.g. ``git worktree add ../base main``
for the parent and the working tree for the change.

Measurements:
  q30              q30_simhash at SPARK_GRAFT_SF_DIR (default sf0.1)
  streaming_ref    bench.streaming_reference_workload
  streaming_events bench.streaming_events_windows
  q100             q100_gram_duplication over the curve corpus
  q239             q239_cluster_canonicalize over the curve corpus
  q27_curve        q27_minhash_signatures over the curve corpus

The curve corpus is read from THIS checkout's ``.benchdata/sf1synth``
(built by ``bench.py``) for both sides, so both read identical bytes.

Usage:
  SPARK_GRAFT_CPUS=32 python tools/ab_cold.py --a DIR --b DIR <measurement> [pairs=3]
  python tools/ab_cold.py --child <measurement> DIR     (internal)
"""

from __future__ import annotations

import argparse
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BIG_DIR = os.path.join(REPO, ".benchdata", "sf1synth")

CURVE_QUERIES = {
    "q100": "q100_gram_duplication",
    "q239": "q239_cluster_canonicalize",
    "q27_curve": "q27_minhash_signatures",
}
MEASUREMENTS = ("q30", "streaming_ref", "streaming_events", *CURVE_QUERIES)


def _timed(fn, runs: int = 3, between=None) -> float:
    fn()  # untimed warm pass (plan compile + codegen + page cache)
    if between is not None:
        between()
    out = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
        if between is not None:
            between()
    return statistics.median(out)


def child(target: str, side: str) -> None:
    sys.path.insert(0, side)
    from etielle_spark.session import get_spark

    spark = get_spark(f"ab-{target}", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    if target == "q30":
        from etielle_spark.benchqueries import QUERIES

        fn, _ = QUERIES["q30_simhash"]
        med = _timed(
            lambda: fn(spark, SF_DIR)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    elif target == "streaming_ref":
        import bench

        med = _timed(lambda: bench.streaming_reference_workload(spark))
    elif target == "streaming_events":
        import bench

        med = _timed(lambda: bench.streaming_events_windows(spark))
    elif target in CURVE_QUERIES:
        from etielle_spark import release_operator_caches
        from etielle_spark.benchqueries import QUERIES

        assert os.path.exists(os.path.join(BIG_DIR, "_DONE")), "run bench.py first"
        fn, _ = QUERIES[CURVE_QUERIES[target]]

        def between():
            release_operator_caches()
            spark.catalog.clearCache()

        med = _timed(
            lambda: fn(spark, BIG_DIR)
            .write.format("noop")
            .mode("overwrite")
            .save(),
            between=between,
        )
    else:
        raise SystemExit(f"unknown measurement {target}")
    print(f"MED={med:.3f}")
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser(description="cold-JVM ABBA A/B of two checkouts")
    ap.add_argument("--a", required=True, help="checkout directory of side A")
    ap.add_argument("--b", required=True, help="checkout directory of side B")
    ap.add_argument("measurement", choices=MEASUREMENTS)
    ap.add_argument("pairs", nargs="?", type=int, default=3)
    args = ap.parse_args()
    sides = {"A": os.path.abspath(args.a), "B": os.path.abspath(args.b)}
    for d in sides.values():
        if not os.path.isdir(os.path.join(d, "etielle_spark")):
            raise SystemExit(f"{d} is not a checkout of this repo")
    # alternate A,B then B,A per pair: ABBA ABBA ...
    order: list[str] = []
    for i in range(args.pairs):
        order.extend(["A", "B"] if i % 2 == 0 else ["B", "A"])
    results: dict[str, list[float]] = {v: [] for v in sides}
    for v in order:
        env = dict(os.environ)
        env.setdefault("SPARK_GRAFT_SF_DIR", SF_DIR)
        env.setdefault("SPARK_GRAFT_CPUS", str(CPUS))
        env["PYTHONPATH"] = sides[v]
        t0 = time.perf_counter()
        proc = subprocess.run(
            [
                sys.executable,
                os.path.abspath(__file__),
                "--child",
                args.measurement,
                sides[v],
            ],
            capture_output=True,
            text=True,
            env=env,
            timeout=1800,
            cwd=sides[v],
        )
        med = None
        for line in proc.stdout.splitlines():
            if line.startswith("MED="):
                med = float(line.split("=", 1)[1])
        if med is None:
            print(f"child FAILED side={v} rc={proc.returncode}")
            print(proc.stderr[-2000:])
            sys.exit(1)
        results[v].append(med)
        print(
            f"sample side={v} med={med:.3f} "
            f"(subprocess wall {time.perf_counter() - t0:.1f}s)",
            flush=True,
        )
    for v, xs in results.items():
        print(
            f"RESULT measurement={args.measurement} side={v} dir={sides[v]} "
            f"med_of_meds={statistics.median(xs):.3f} "
            f"all={[round(x, 3) for x in xs]}"
        )


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        child(sys.argv[2], sys.argv[3])
    else:
        main()
