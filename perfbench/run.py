"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` every per-layer metric (0 for a
layer the workload does not exercise), preceded by the layer tables. A
traced run also writes its spans to ``.perfbench_out/``.

Process hygiene: the run is a child subreaper, keeps all scratch under one
per-run temp root inside the checkout, tears the Spark session and its
gateway JVM down on every exit path, and fails (exit 4, no result) if any
process it started is still alive at the end. A hard deadline turns a hang
into a clean failure (exit 3). Without the program next to it (no
``bella_domify_spark`` package in the checkout) it exits 2.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170
KILL_GRACE_S = 8


class Deadline(Exception):
    pass


def _watchdog(done: threading.Event) -> None:
    """Last resort if the main thread cannot unwind after the deadline."""
    if not done.wait(DEADLINE_S + KILL_GRACE_S):
        import procs

        print("perfbench: deadline cleanup stalled; killing the process tree",
              file=sys.stderr, flush=True)
        procs.kill_tree()
        os._exit(3)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "bella_domify_spark")):
        print(f"perfbench: no bella_domify_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)  # after perfbench/ itself
    import procs
    import sparkenv
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    procs.become_subreaper()
    tmp_root = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    cache_root = os.path.join(ROOT, ".perfbench_cache")
    os.makedirs(tmp_root)
    os.makedirs(cache_root, exist_ok=True)
    sparkenv.prepare_env(ROOT, tmp_root)

    done = threading.Event()
    threading.Thread(target=_watchdog, args=(done,), daemon=True).start()
    interrupted: list[str] = []

    def on_signal(signum, _frame):
        # py4j may wrap this exception in its own error when the signal
        # lands inside a JVM call, hence the separate record; a repeated
        # signal must not interrupt the cleanup the first one started
        if interrupted:
            return
        interrupted.append(signal.Signals(signum).name)
        raise Deadline(interrupted[-1])

    signal.signal(signal.SIGALRM, on_signal)
    signal.signal(signal.SIGTERM, on_signal)
    signal.alarm(DEADLINE_S)

    run = workloads.Run(args.workload, args.seed, args.seconds,
                        bool(args.trace), tmp_root, cache_root,
                        sparkenv.host_cores())
    ok, code = False, 1
    t0 = time.perf_counter()
    try:
        workloads.run_workload(run)
        ok = True
    except Exception:  # noqa: BLE001 — report, clean up, exit non-zero
        traceback.print_exc()
    finally:
        signal.alarm(0)
        leftovers = procs.settle()
        shutil.rmtree(tmp_root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp_root))
        except OSError:
            pass
        done.set()
    if interrupted:
        print(f"perfbench: stopped by {interrupted[0]} after "
              f"{time.perf_counter() - t0:.1f} s", file=sys.stderr)
        ok, code = False, 3
    if leftovers:
        print("perfbench: processes still alive at exit (killed):\n  "
              + "\n  ".join(leftovers), file=sys.stderr)
        return 4
    if not ok:
        return code

    if run.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        spans = os.path.join(out_dir,
                             f"spans-{run.workload}-s{run.seed}.jsonl")
        run.tracer.write(spans)
        run.report.append(f"spans: {len(run.tracer.spans)} written to "
                          f"{os.path.relpath(spans, ROOT)}")
        metrics = {name: {"value": run.layer.get(name, 0.0), "unit": unit}
                   for name, unit, _ in workloads.per_layer_names()}
    else:
        metrics = {name: {"value": run.e2e[name], "unit": unit}
                   for name, unit in workloads.END_TO_END.items()}
    for line in run.report:
        print(line)
    print(f"host probe {run.layer['host.probe_ms']:.2f} ms; CPU steal during "
          f"the timed loop {run.layer.get('host.steal_share', 0.0):.1%}; "
          "input generation "
          f"{run.layer.get('input.gen_s', 0.0):.2f} s (0 = cached); "
          f"{run.attempted} checks, {run.failed} failed")
    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
