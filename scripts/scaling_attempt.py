"""One quota-gated N-vs-4N scaling round, appended to
BENCH_scaling_attempts.jsonl.

This is the only code that runs scaling rounds. The host's CPU quota
opens a clean >= 3.5x window only every 5-30 min, so admitted rounds
accumulate across invocations. The protocol is pre-registered: a capacity
pre-probe, the lo/hi flagship runs in fresh JVMs (`bench.py --worker`),
a post-probe, and admission iff min(pre, post) >= bench.CAPACITY_MIN,
decided before the efficiency is seen. Each measured round is ONE JSON
line in the shared append-only ledger (bench.LEDGER /
bench._ledger_append); bench.py reports the median of its admitted rounds.

Usage:
    python scripts/scaling_attempt.py            # probe; run iff clean
    python scripts/scaling_attempt.py --force    # run even if throttled
                                                 # (recorded, not admitted)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


def run_round(force: bool = False) -> dict:
    lo, hi = bench.PAIR
    ratio = bench._cores_of(hi) / bench._cores_of(lo)
    pre = bench._quick_capacity_ratio(bench._cores_of(lo), bench._cores_of(hi))
    row: dict = {"capacity_pre": pre, "pair": bench.PAIR,
                 "scale_docs": bench.SCALE_DOCS}
    if pre < bench.CAPACITY_MIN and not force:
        row["gated"] = True
        return row
    # alternate run order across recorded (measured) rounds so quota drift
    # inflates half and deflates the other half, which the median cancels
    measured = sum(1 for r in bench._ledger_rows() if not r.get("gated"))
    order = (lo, hi) if measured % 2 == 0 else (hi, lo)
    row["run_order"] = list(order)
    for master in order:
        r = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py"),
             "--worker", master],
            capture_output=True, text=True, cwd=REPO)
        lines = [l for l in (r.stdout or "").splitlines()
                 if l.startswith("{")]
        row[master] = (json.loads(lines[-1]) if lines
                       else {"error": (r.stderr or "")[-400:]})
    row["capacity_post"] = bench._quick_capacity_ratio(
        bench._cores_of(lo), bench._cores_of(hi))
    row["capacity"] = min(pre, row["capacity_post"])
    if all("docs_per_sec" in row[m] for m in (lo, hi)):
        row["efficiency"] = round(
            (row[hi]["docs_per_sec"] / row[lo]["docs_per_sec"]) / ratio, 3)
        row["admitted"] = row["capacity"] >= bench.CAPACITY_MIN
    return row


def main() -> None:
    force = "--force" in sys.argv
    row = run_round(force=force)
    if not row.get("gated"):
        bench._ledger_append([row], source="scaling_attempt.py")
    adm = [r["efficiency"] for r in bench._ledger_admitted(bench.PAIR)]
    print(json.dumps({"round": row.get("efficiency"),
                      "admitted": row.get("admitted"),
                      "gated": row.get("gated", False),
                      "capacity": row.get("capacity", row.get("capacity_pre")),
                      "ledger_admitted": adm}))


if __name__ == "__main__":
    main()
