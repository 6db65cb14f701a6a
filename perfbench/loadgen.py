"""Open-loop file generator for the trickle workload.

Runs as its own process, apart from the system under test, so its
schedule does not slow when the engine slows. File i of the pre-staged
directory is due at ``t0 + i / rate``. At that moment it gets a
modification time equal to its due time (strictly increasing, because
Spark's file source orders new files by mtime with no tie-break) and is
moved into the live directory by an atomic rename. The due and actual
landing times are written to a JSON file when all files have landed.

Usage: python3 loadgen.py STAGE_DIR LIVE_DIR T0 RATE OUT_JSON
"""

from __future__ import annotations

import json
import os
import sys
import time


def land(stage_dir: str, live_dir: str, t0: float, rate: float) -> dict:
    names = sorted(n for n in os.listdir(stage_dir) if n.endswith(".parquet"))
    due, landed = [], []
    for i, name in enumerate(names):
        t_due = t0 + i / rate
        wait = t_due - time.time()
        if wait > 0:
            time.sleep(wait)
        src = os.path.join(stage_dir, name)
        ns = int(t_due * 1e9)
        os.utime(src, ns=(ns, ns))
        os.replace(src, os.path.join(live_dir, name))
        landed.append(time.time())
        due.append(t_due)
    return {"files": names, "due": due, "landed": landed}


def main(argv: list[str]) -> int:
    if len(argv) != 5:
        print(__doc__, file=sys.stderr)
        return 2
    stage_dir, live_dir, t0, rate, out = argv
    rec = land(stage_dir, live_dir, float(t0), float(rate))
    tmp = out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
