"""Count the driver's py4j round trips per unit of a perfbench workload,
and name the engine call sites that make them.

    python3 tools/py4j_sites.py --workload filemaker_events --units 3 --top 15

Run from the repository root. The workload classes, input generator and
environment pinning are imported from ``perfbench`` (read-only); the run
directory is its own (``perfbench/.work/py4j_sites/<workload>-s<seed>``)
and is removed at exit. One untimed warm-up unit runs first, then
``--units`` counted units. Every ``ClientServerConnection.send_command``
call, on any thread, is one round trip; its site is the innermost stack
frame inside ``kafka_to_nexus_spark`` (``<outside engine>`` when none
is, with the frame that sent the command).

Prints round trips per unit, then the top call sites summed over the
counted units. The counting itself costs a stack walk per call, so the
run is slower than a perfbench run: read counts, not times.
"""

from __future__ import annotations

import argparse
import collections
import shutil
import subprocess
import sys
import threading
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import env  # noqa: E402

ENGINE = str(ROOT / "kafka_to_nexus_spark")


def _where(f) -> str:
    name = f.f_code.co_filename
    if name.startswith(str(ROOT)):
        name = name[len(str(ROOT)) + 1:]
    return f"{name}:{f.f_lineno} {f.f_code.co_name}"


def _site() -> str:
    """``file:line function`` of the innermost engine frame on the
    calling thread's stack; else ``<outside engine>`` and the frame that
    sent the command (py4j's own, for the deletes its finalizers send)."""
    f, sender = sys._getframe(2), None
    while f is not None:
        if f.f_code.co_filename.startswith(ENGINE):
            return _where(f)
        if sender is None and f.f_code.co_name != "send_command":
            sender = f
        f = f.f_back
    return "<outside engine> " + ("?" if sender is None else _where(sender))


class SiteCounter:
    """Patches ``send_command`` for its lifetime; ``take()`` returns and
    resets the sites counted since the last take."""

    def __init__(self) -> None:
        from py4j.clientserver import ClientServerConnection

        self._cls = ClientServerConnection
        self._send = ClientServerConnection.send_command
        self._lock = threading.Lock()
        self._sites: collections.Counter = collections.Counter()
        send, sites, lock = self._send, self._sites, self._lock

        def counted(conn, command):
            site = _site()
            with lock:
                sites[site] += 1
            return send(conn, command)

        ClientServerConnection.send_command = counted

    def take(self) -> collections.Counter:
        with self._lock:
            got = collections.Counter(self._sites)
            self._sites.clear()
        return got

    def close(self) -> None:
        self._cls.send_command = self._send


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--units", type=int, default=3)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--top", type=int, default=20)
    args = p.parse_args(argv)

    run_dir = env.WORK / "py4j_sites" / f"{args.workload}-s{args.seed}"
    shutil.rmtree(run_dir, ignore_errors=True)
    env.pin(run_dir)
    from perfbench import gen, harness
    from perfbench.trace import Tracer

    cls = harness._workloads()[args.workload]
    if args.units + 1 > cls.SLICES:
        p.error(f"{args.workload} has {cls.SLICES} slices: at most {cls.SLICES - 1} units")
    subprocess.run([sys.executable, "-m", "perfbench.gen", "--workload", args.workload,
                    "--seed", str(args.seed), "--slices", str(cls.SLICES)],
                   cwd=env.ROOT, check=True)
    inputs, expects = gen.load(env.WORK, args.workload, args.seed, cls.SLICES)

    from kafka_to_nexus_spark.session import get_spark

    spark = get_spark(app_name=f"py4j-sites-{args.workload}",
                      extra_conf=env.spark_conf(run_dir))
    wl = cls(run_dir, inputs, expects, Tracer(False))
    counter = None
    try:
        wl.setup(spark)
        wl.instrument()
        wl.unit(0)  # warm-up: first-use costs of the fresh context
        counter = SiteCounter()
        total: collections.Counter = collections.Counter()
        for i in range(1, args.units + 1):
            counter.take()
            wl.unit(i)
            got = counter.take()
            errors = wl.check(i)
            total += got
            print(f"unit {i}: {sum(got.values())} round trips"
                  + (f" (check failed: {errors[:2]})" if errors else ""))
        n = max(args.units, 1)
        print(f"\ntop {args.top} call sites, round trips per unit:")
        for site, count in total.most_common(args.top):
            print(f"{count / n:9.1f}  {site}")
    finally:
        if counter is not None:
            counter.close()
        wl.teardown()
        spark.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
