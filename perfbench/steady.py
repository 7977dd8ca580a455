"""Steadiness check: repeat the workloads and print each metric's spread.

    python3 perfbench/steady.py --seeds 1-10 [--workloads live_pvs] [--trace]

Runs ``perfbench/run.py`` once per seed and workload, alternating the
workload order from seed to seed so slow drift of the host falls on
every workload alike. For every end-to-end metric it prints the median,
the quartiles (``statistics.quantiles(values, n=4)``), the spread
(Q3 - Q1) / median and the metric's bound from ``BENCHMARK.json``; a
spread above a third of the bound is flagged. ``--trace`` also makes a
traced run per seed and prints the tracing overhead: the traced runs'
median of each end-to-end metric minus the untraced one. Every run's
last line is kept in ``perfbench/.work/steady.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall_s = time.perf_counter() - t0
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {out.returncode}:\n{out.stderr[-2000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    result["wall_s"] = wall_s
    if trace:  # the traced run's own end-to-end numbers, for the overhead
        artifact = HERE / ".work" / "artifacts" / f"{workload}-s{seed}-t1.json"
        result["end_to_end"] = json.loads(artifact.read_text())["end_to_end"]
    return result


def main(argv=None) -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in bench["workloads"]]
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    p.add_argument("--workloads", default=",".join(names))
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    p.add_argument("--trace", action="store_true")
    args = p.parse_args(argv)
    workloads = args.workloads.split(",")
    seeds = _seeds(args.seeds)

    log = HERE / ".work" / "steady.jsonl"
    log.parent.mkdir(parents=True, exist_ok=True)
    runs: dict[tuple[str, int], list[dict]] = {}
    for n, seed in enumerate(seeds):
        order = workloads if n % 2 == 0 else workloads[::-1]
        for w in order:
            for trace in (0, 1) if args.trace else (0,):
                r = _run(w, seed, args.seconds, trace)
                runs.setdefault((w, trace), []).append(r)
                with open(log, "a") as f:
                    f.write(json.dumps({"workload": w, "seed": seed, "trace": trace, **r}) + "\n")
                print(f"{w} seed {seed} trace {trace}: correct={r['correct']} "
                      f"failed={r['failed']}/{r['attempted']} wall={r['wall_s']:.1f}s",
                      file=sys.stderr)

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for w in workloads:
        print(f"\n{w} ({len(seeds)} seeds, {args.seconds} s runs)")
        print(f"  {'metric':<16} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>7} {'bound':>6}")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs[(w, 0)]]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            flag = "" if spread <= bound / 3 else "  > bound/3"
            ok &= spread <= bound
            print(f"  {name:<16} {med:>10.4f} {q1:>10.4f} {q3:>10.4f} {spread:>7.3f} {bound:>6.2f}{flag}")
        bad = [r for r in runs[(w, 0)] if not r["correct"]]
        ok &= not bad
        walls = [r["wall_s"] for r in runs[(w, 0)]]
        print(f"  incorrect runs: {len(bad)}; wall per run: median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        if args.trace:
            print("  tracing overhead (traced median - untraced median):")
            for name in bounds:
                traced = statistics.median(r["end_to_end"][name] for r in runs[(w, 1)])
                plain = statistics.median(r["metrics"][name]["value"] for r in runs[(w, 0)])
                print(f"    {name:<16} {traced - plain:+.4f} ({(traced - plain) / plain:+.1%})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
