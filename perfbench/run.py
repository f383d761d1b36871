"""Benchmark of etielle_spark: seeded workloads through the public API
on ``local[<cores>]``.

    python3 perfbench/run.py --workload chunked_stream --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout.  ``--workload`` is one of
``chunked_stream`` and ``near_dup_curation`` (the two in
``BENCHMARK.json``, which says what each one loads), or
``json_to_db`` and ``nested_merge_parquet``.  Those two are for runs by
hand: one run costs a JVM start (about 11 s on a 4-core machine), a
cold first repetition (10-16 s) and two warm-up repetitions before the
timed window, so a full set of benchmark runs only has room for two
workloads.  ``--size``
overrides the workload's default input size.  With
``--trace 0`` the last output line is a JSON object with the end-to-end
metrics; with ``--trace 1`` it holds the per-layer metrics of separate
traced repetitions, and the spans are written to
``.perfbench_out/<workload>-seed<seed>-spans.json``.  Above the last
line the run prints a table of everything it measured.

Each run starts one worker process (``perfbench/worker.py``) with its
working files (inputs, Derby database, Spark local dirs, temp files)
under ``.perfbench_work/`` in the checkout.  The launcher removes that
directory and stops every process the worker left behind before it
exits.  The exit code is 0 only when every output was correct.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("json_to_db", "nested_merge_parquet", "chunked_stream", "near_dup_curation")
TIMEOUT_S = 170


def _stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, the worker's process group (its JVM and
    Python workers) and wait until the group is empty."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, default=None, help="input size (workload scale)")
    args = ap.parse_args()

    if not (ROOT / "etielle_spark" / "__init__.py").is_file():
        print(f"perfbench: no etielle_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")])),
        TMPDIR=str(work / "tmp"),
        SPARK_LOCAL_DIRS=str(work / "tmp"),
        # -XX:-UsePerfData: the JVM would write /tmp/hsperfdata_<user>
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work} -XX:-UsePerfData",
        PYTHONUNBUFFERED="1",
    )
    spans = ROOT / ".perfbench_out" / f"{args.workload}-seed{args.seed}-spans.json"
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(work), "--spans-out", str(spans),
    ]
    if args.size:
        cmd += ["--size", str(args.size)]
    cmd += ["--t0", repr(time.time())]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: worker exceeded {TIMEOUT_S} s", file=sys.stderr)
        code = 3
    finally:
        _stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass
    return code


if __name__ == "__main__":
    sys.exit(main())
