"""Wait for (then optionally kill) leftover Spark JVMs.

Round-close hygiene (VERDICT r7 defect #1 / next-round #2): the r7
driver bench started while a builder-side Spark JVM was still draining
and every timing in BENCH_r07.json read ~1.4x slow. This tool makes
"machine is JVM-clean" an explicit, scriptable postcondition:

  python tools/drain_jvms.py --wait 600 --kill   # round_close.sh
  python tools/drain_jvms.py                     # just report

``spark_jvms`` is also the scan bench.py runs before it starts its
own JVM.
"""

from __future__ import annotations

import argparse
import os
import signal
import sys
import time


def spark_jvms() -> list[int]:
    """PIDs of every /proc process whose cmdline mentions SparkSubmit /
    org.apache.spark. Called before the caller launches a JVM of its
    own, so anything found is foreign.

    A leftover JVM from an earlier run (killed mid-query, or a
    still-draining background bench) silently competes for every core
    and contaminates timings by 2-5x — measured at sf1: the same
    scan+agg query read 1.2 s on a quiet machine and 5.8-6.1 s with one
    orphan churning an interpreted HOF stage; GC/heap were exonerated
    by ``-Xlog:gc*`` (total pause time <1 s in a 25 s window).
    """
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().decode(errors="replace")
        except OSError:
            continue
        if "SparkSubmit" in cmd or "org.apache.spark" in cmd:
            pids.append(int(pid))
    return pids


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--wait", type=float, default=0,
                    help="seconds to wait for JVMs to exit on their own")
    ap.add_argument("--kill", action="store_true",
                    help="SIGKILL whatever survives the wait")
    args = ap.parse_args()

    pids = spark_jvms()
    if not pids:
        print("no Spark JVMs alive")
        return 0

    deadline = time.time() + args.wait
    if args.wait:
        print(f"waiting up to {args.wait:.0f}s for Spark JVM(s) {pids}")
        while pids and time.time() < deadline:
            time.sleep(5)
            pids = spark_jvms()

    if pids and args.kill:
        print(f"killing surviving Spark JVM(s) {pids}")
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        time.sleep(2)
        pids = spark_jvms()

    if pids:
        print(f"still alive: {pids}", file=sys.stderr)
        return 1
    print("machine JVM-clean")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
