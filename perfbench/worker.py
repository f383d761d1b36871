"""One benchmark run of one workload, in a fresh Python process (and so
a fresh JVM).  Started by ``run.py``; see there for the command line.

Phases, in order:

1. set-up: import, ``get_spark`` and a first trivial job; ``setup_s`` is
   measured from the launcher's spawn of this process;
2. input generation and expected results (not timed);
3. the first repetition in the fresh session (``session.first_run_s``), then
   ``WARMUP_REPS`` untimed ones;
4. warm repetitions until ``--seconds`` have passed (``wall_s`` is their
   median).  With ``--trace 1`` untraced and traced repetitions
   alternate; the traced ones give the per-layer metrics (medians), and
   the difference of the two medians is the tracing overhead.

The outputs of the first and of the last repetition are checked against
the oracle, outside the timed region.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import time
import traceback
from pathlib import Path

# untimed repetitions between the cold first one and the window: a run
# keeps getting faster for about five warm repetitions (JIT of the
# per-job code paths in the JVM), and the window sits on the flatter part
WARMUP_REPS = 2


def cpu_marker_ms() -> float:
    """Best of five timings of a fixed single-threaded Python loop: a
    drift marker for the shared machine, printed with every set."""
    best = float("inf")
    for _ in range(5):
        t = time.perf_counter()
        x = 0
        for i in range(200_000):
            x += i * i % 7
        best = min(best, time.perf_counter() - t)
    return best * 1e3


def cores() -> int:
    return len(os.sched_getaffinity(0))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", type=int, default=None)
    ap.add_argument("--work", type=Path, required=True)
    ap.add_argument("--spans-out", type=Path, required=True)
    ap.add_argument("--t0", type=float, required=True)
    args = ap.parse_args(argv)

    from etielle_spark import get_spark

    ncpu = cores()
    spark = get_spark(f"perfbench-{args.workload}", cpus=ncpu)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    setup_s = time.time() - args.t0

    from .metrics import END_TO_END, PER_LAYER
    from .trace import NullTracer, StatusReader, Tracer, analyze
    from .workloads import WORKLOADS

    marker = cpu_marker_ms()
    wl = WORKLOADS[args.workload](spark, args.work, args.seed, args.size)
    t = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t
    print(
        f"# {wl.name} seed={args.seed} size={wl.size} rows={wl.rows} cores={ncpu} "
        f"cpu_marker_ms={marker:.2f} loadavg={os.getloadavg()[0]:.2f} prepare_s={prepare_s:.2f}",
        flush=True,
    )

    attempted = failed = 0
    check_s = 0.0
    checked: list[int] = []
    null = NullTracer()

    def rep(run, due) -> float:
        """One repetition: ``run()`` timed; then, if ``due()`` says this
        is the first or the last repetition, the oracle check of its
        output (the repetitions between write the same outputs with the
        same program).  Returns the timed seconds."""
        nonlocal attempted, failed, check_s
        attempted += 1
        t = time.perf_counter()
        bad = []
        try:
            run()
        except Exception:
            traceback.print_exc()
            bad = ["raised"]
        dt = time.perf_counter() - t
        if not bad and due():
            checked.append(attempted)
            try:
                bad = wl.check()
            except Exception:
                traceback.print_exc()
                bad = ["check raised"]
        wl.release()
        check_s += time.perf_counter() - t - dt
        if bad:
            failed += 1
            print(f"# repetition {attempted} FAILED: {'; '.join(bad[:5])}", flush=True)
        return dt

    def untraced_run():
        wl.run(null)

    def traced_run():
        tracer.run_id += 1
        tracer.stack = []
        with tracer.counting(), tracer.span("rep"):
            wl.run(tracer)

    first_run_s = rep(untraced_run, lambda: True)
    warmup = [rep(untraced_run, lambda: False) for _ in range(WARMUP_REPS)]
    untraced: list[float] = []
    traced: list[dict] = []
    t_end = time.perf_counter() + args.seconds
    if args.trace:
        tracer, reader = Tracer(spark), StatusReader(spark)

    # with tracing, traced and untraced repetitions alternate in ABBA
    # order (at least one ABBA round), so that both kinds see the same
    # warm-up on average; the last repetition is checked
    pair = 0

    def done() -> bool:
        return pair >= 2 * args.trace and time.perf_counter() >= t_end

    while True:
        kinds = ("untraced", "traced")[:: 1 if pair % 2 == 0 else -1] if args.trace else ("untraced",)
        pair += 1
        for kind in kinds:
            due = done if kind == kinds[-1] else (lambda: False)
            if kind == "untraced":
                untraced.append(rep(untraced_run, due))
                continue
            root = len(tracer.spans)
            rep(traced_run, due)
            s = tracer.spans[root]
            jobs, stages = reader.read(int(s.start * 1000), int(s.end * 1000) + 1)
            traced.append({**analyze(tracer, root, jobs, stages, ncpu), **wl.layer})
        if done():
            break

    wall_s = statistics.median(untraced)
    e2e = {
        "setup_s": setup_s,
        "first_run_s": first_run_s,
        "wall_s": wall_s,
        "rows_per_s": wl.rows / wall_s,
        "py_rss_peak_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
    }
    print(
        f"# warm-up repetitions: {' '.join(f'{x:.3f}' for x in warmup)}; "
        f"untraced repetitions: {len(untraced)}, wall_s each: "
        f"{' '.join(f'{x:.3f}' for x in untraced)}; repetitions checked: {checked} "
        f"(checks took {check_s:.2f} s)"
    )
    for k, v in e2e.items():
        print(f"  {k:<31} {v:>14.6g} {END_TO_END.get(k, 's')}")
    if args.trace:
        layer = {k: statistics.median(d.get(k, 0.0) for d in traced) for k in PER_LAYER}
        layer["session.start_s"] = setup_s
        layer["session.first_run_s"] = first_run_s
        layer["trace.overhead_s"] = layer["trace.wall_s"] - wall_s
        layer["box.cpu_marker_ms"] = marker
        print(f"# traced repetitions: {len(traced)} (per-layer values are their medians)")
        print(f"  {'metric':<31} {'value':>14} {'unit':<6} moves / matters on / flat on")
        for k, m in PER_LAYER.items():
            pred = f"{m.moves} / {m.matters_on} / {m.flat_on}" if m.moves else ""
            print(f"  {k:<31} {layer[k]:>14.6g} {m.unit:<6} {pred}")
        args.spans_out.parent.mkdir(parents=True, exist_ok=True)
        args.spans_out.write_text(json.dumps(tracer.dump()))
        metrics = {k: {"value": layer[k], "unit": m.unit} for k, m in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    spark.stop()
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}, separators=(",", ":")))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
