"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload filemaker_events --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run pins its environment
(``perfbench/env.py``), generates its inputs from ``--seed``
(``perfbench/gen.py``), sets up several times on fresh SparkContexts,
runs one warm-up unit, then times units back to back for ``--seconds``
and checks every unit's output. With ``--trace 0`` the last line holds
the end-to-end metrics; with ``--trace 1`` Spark's event log is on, the
layer spans are recorded, and the last line holds the per-layer
metrics. A fuller record of the run goes to
``perfbench/.work/artifacts/<workload>-s<seed>-t<trace>.json``.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import env  # noqa: E402


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    try:
        import kafka_to_nexus_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable here: {e}", file=sys.stderr)
        return 2
    from perfbench import harness

    if args.workload not in harness.WORKLOAD_NAMES:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {list(harness.WORKLOAD_NAMES)}", file=sys.stderr)
        return 2
    result, artifact = harness.run(args.workload, args.seed, args.seconds, bool(args.trace))
    out = env.WORK / "artifacts"
    out.mkdir(parents=True, exist_ok=True)
    (out / f"{args.workload}-s{args.seed}-t{args.trace}.json").write_text(
        json.dumps(artifact, indent=1, default=str)
    )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
