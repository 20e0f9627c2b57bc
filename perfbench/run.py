"""Gateway-level benchmark of the engine: one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds its inputs from the seed,
measures for about S seconds, checks every result, and prints one JSON
line last: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer split of a separate traced run. Workloads and layers are
described in ``perfbench/LAYERS.md``.

Exit codes: 0 ok, 1 wrong result, 2 cannot run here (no engine package,
an engine setting present in the environment, a failed start).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

WORKLOADS = ("notebook_sf01", "pipeline_sf02")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    from common import BenchError, check_env, cpu_times, host_cpus, host_record, pinned_env

    cpu_start = cpu_times()

    if not (ROOT / "flink_sql_toolkit_spark" / "__init__.py").is_file():
        print(f"no engine package under {ROOT}: run from the root of a checkout", file=sys.stderr)
        return 2
    cpus = host_cpus()
    try:
        check_env(cpus)
    except BenchError as e:
        print(e, file=sys.stderr)
        return 2
    cache = ROOT / ".bench_cache"
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    env = pinned_env(ROOT, work, cpus)
    t0 = time.time()
    try:
        if args.workload == "notebook_sf01":
            import run_notebook as wl
        else:
            import run_pipeline as wl
        result = wl.run(ROOT, work, env, cache, args.seed, args.seconds, bool(args.trace))
    except AssertionError:
        # a wrong result: report it, but no time
        traceback.print_exc()
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    except BenchError as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 2
    except Exception:  # noqa: BLE001 — any other failure ends the run without a result
        traceback.print_exc()
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)
    detail = {"workload": args.workload, "seed": args.seed, "wall_s": time.time() - t0,
              "host": host_record(cpu_start), **result.get("detail", {})}
    print(json.dumps({"detail": detail}), file=sys.stderr)
    if result.get("layers"):
        print(json.dumps({"layers": result["layers"]}), file=sys.stderr)
    print(json.dumps({"correct": True, "attempted": result["attempted"], "failed": result["failed"],
                      "metrics": result["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
