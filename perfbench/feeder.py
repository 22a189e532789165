"""Open-loop load generator for the ``stream_open`` workload.

Runs as its own process. It moves pre-staged wire-frame files, in name
order, into the directory the streaming query watches: file ``i`` is due at
``start + i * interval`` and is renamed at that time whatever the engine is
doing, so a slow engine faces a growing queue instead of a slower
generator. A file that is late stays late; the schedule never shifts.

Each delivery is recorded as a span (name, due, start, end) in memory and
the list is written as JSON to ``--log`` when the schedule ends.

    python3 perfbench/feeder.py --staged DIR --watched DIR \
        --start EPOCH_S --interval S --log FILE
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def deliver(staged: str, watched: str, start: float, interval: float) -> list[dict]:
    spans = []
    for i, name in enumerate(sorted(os.listdir(staged))):
        due = start + i * interval
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        t0 = time.time()
        # same filesystem: the rename is atomic, the source never sees a
        # half-written file
        os.rename(os.path.join(staged, name), os.path.join(watched, name))
        spans.append({"name": "sources.deliver", "file": name, "due": due, "start": t0, "end": time.time()})
    return spans


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--staged", required=True)
    ap.add_argument("--watched", required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--log", required=True)
    a = ap.parse_args(argv)
    spans = deliver(a.staged, a.watched, a.start, a.interval)
    with open(a.log, "w") as fh:
        json.dump(spans, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
