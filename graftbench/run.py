"""The repository's benchmark. Drives the engine only through its public
functions and prints one JSON result line.

    python3 graftbench/run.py --workload {serve,analytics} --seed N \\
        --seconds S --trace {0,1} [--size {full,tiny}]

Run from the repository root (or anywhere: the engine is the
``bigdata_kafka_2_spark`` package next to this directory). ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` records spans around the
engine's public functions on every other timed operation, reports the
per-layer metrics, and writes the spans as JSON lines under
``.bench_build/graftbench/spans/``. The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``; logs go to stderr.
Exit code 2: there is no engine to run; 1: the run failed.

Workloads and metrics are described in ``graftbench/README.md``.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("serve", "analytics")


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs, for the benchmark's own smoke test")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    if not (ROOT / "bigdata_kafka_2_spark" / "__init__.py").is_file():
        print(f"graftbench: no engine package next to {ROOT / 'graftbench'}", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("graftbench: --seconds must be at least 1", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from graftbench.common import pin_environment

    pin_environment()
    from graftbench import build

    # set-up time runs from process start to ready, less any one-off build
    t_build = time.monotonic()
    build.ensure(args.workload, args.size, args.seed)
    t_start = T_PROCESS + (time.monotonic() - t_build)
    if args.workload == "serve":
        from graftbench import serve as workload
    else:
        from graftbench import analytics as workload
    try:
        result = workload.run(args.seed, args.seconds, bool(args.trace), args.size, t_start)
    except Exception:
        import traceback

        traceback.print_exc()
        return 1
    print(result.line(), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
