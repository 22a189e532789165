#!/usr/bin/env python3
"""Compare two bench artifacts and flag real movers.

Usage: python3 tools/bench_diff.py [OLD.json] [NEW.json] [--threshold 0.2]

Defaults (round-8): NEW is BENCH_LOCAL.json (bench.py writes it on every
run — the driver's stdout-tail capture is no longer the only copy) and
OLD is the newest BENCH_r*.json, so a bare `python3 tools/bench_diff.py`
after `python3 bench.py` diffs the fresh run against the last round.

A query is flagged when it moved more than `threshold` (relative) AND
more than 0.5 s (absolute) — the absolute floor keeps the
planning/codegen noise at small SF from flagging (CLAUDE.md: residual
per-query time at sf0.1 is mostly job-floor overhead). Annotations keep
the comparison honest across semantics changes:

- ITERATIVE queries carry ±2 s run-to-run noise (SCALE.md); pre-round-5
  artifacts recorded single runs for them.
- CACHED queries (shared session caches — bench.py) record their FIRST
  in-session execution since round 8; round-7 artifacts recorded warm
  re-run medians for some of them under the old mover rule, so a
  one-round jump there is an accounting change, not a regression
  (compare the r8 "warm" dict against the r7 kept values for
  like-with-like).
- SERVE queries record the median of warm serves of a persisted artifact,
  not a cold run.

The three query classes are bench.py's own sets, imported, so the two
scripts cannot disagree about which query is which.
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import CACHED, ITERATIVE, SERVE  # noqa: E402

ABS_FLOOR_SEC = 0.5


def mover_notes(name: str) -> list[str]:
    """The query-class annotations printed next to a mover; a mover with
    none is a real one."""
    notes = []
    if name in ITERATIVE:
        notes.append("iterative: ±2s noise class")
    if name in CACHED:
        notes.append("cached: r8 records cold-first (see module doc)")
    if name in SERVE:
        notes.append("serve: median of warm serves (see module doc)")
    return notes


def _load(path: str) -> dict:
    doc = json.load(open(path))
    return doc.get("parsed") or doc


def main() -> None:
    argv = [a for a in sys.argv[1:] if not a.startswith("--")]
    flags = [a for a in sys.argv[1:] if a.startswith("--")]
    thr = 0.2
    for fl in flags:
        if fl.startswith("--threshold"):
            thr = float(fl.split("=", 1)[1]) if "=" in fl else thr

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    local = os.path.join(repo, "BENCH_LOCAL.json")
    if len(argv) >= 2:
        old_path, new_path = argv[0], argv[1]
    elif len(argv) == 1:
        old_path, new_path = argv[0], local
    else:
        # newest round artifact that actually parsed (BENCH_r07.json is
        # "parsed": null — the truncation bench.py's local artifact fixes)
        hist = [
            p
            for p in sorted(glob.glob(os.path.join(repo, "BENCH_r*.json")))
            if _load(p).get("queries")
        ]
        if not hist or not os.path.exists(local):
            print(__doc__)
            sys.exit(2)
        old_path, new_path = hist[-1], local
    print(f"old: {old_path}\nnew: {new_path}")
    old, new = _load(old_path), _load(new_path)

    oq, nq = old.get("queries", {}), new.get("queries", {})
    shared = sorted(set(oq) & set(nq))
    added = sorted(set(nq) - set(oq))
    removed = sorted(set(oq) - set(nq))

    flagged = []
    for name in shared:
        a, b = oq[name], nq[name]
        if abs(b - a) > ABS_FLOOR_SEC and abs(b - a) / max(a, 1e-9) > thr:
            flagged.append((name, a, b))
    flagged.sort(key=lambda t: -(t[2] - t[1]))

    tot_a = sum(oq[n] for n in shared)
    tot_b = sum(nq[n] for n in shared)
    print(f"shared queries: {len(shared)}  total {tot_a:.1f}s -> {tot_b:.1f}s "
          f"({(tot_b - tot_a) / max(tot_a, 1e-9) * 100:+.0f}%)")
    if added:
        print(f"added: {', '.join(f'{n} ({nq[n]:.1f}s)' for n in added)}")
    if removed:
        print(f"removed: {', '.join(removed)}")
    if not flagged:
        print(f"no shared query moved >{thr:.0%} and >{ABS_FLOOR_SEC}s")
        return
    print(f"\nmovers (> {thr:.0%} and > {ABS_FLOOR_SEC}s):")
    for name, a, b in flagged:
        notes = mover_notes(name)
        note = f"  [{'; '.join(notes)}]" if notes else ""
        print(f"  {name:28s} {a:7.2f}s -> {b:7.2f}s ({(b - a) / a * 100:+.0f}%){note}")
    if any(not mover_notes(n) for n, _, _ in flagged):
        sys.exit(1)  # real (non-annotated) mover -> non-zero for CI use


if __name__ == "__main__":
    main()
