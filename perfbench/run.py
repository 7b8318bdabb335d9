"""dia-spark benchmark: one run of one workload.

    python3 perfbench/run.py --workload spans_raw --seed 1 --seconds 10 \\
        --trace 0

Run from the root of a checkout. Builds its inputs on first use (cached
under `.perfbench_cache/`), sets the program up three times and reports
the median set-up, then runs timed passes of the workload for `--seconds`
seconds on local[4] and checks every pass against the single-process
oracle. The last line of stdout is one JSON object; with `--trace 1` its
metrics are the per-layer numbers of `layers.py` instead of the end-to-end
ones. Workloads, metrics and the layer map are described in README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import statistics
import sys
import time

import corpus
from harness import Passes, PeakRss, metric, set_up, stop_jvm
from workloads import WORKLOADS

SETUPS = 3


def end_to_end(wl, inp, seconds: float) -> tuple[dict, Passes, str]:
    t0 = time.perf_counter()
    setups = []
    with PeakRss() as rss:
        spark = set_up(wl, inp)
        setups.append(time.perf_counter() - t0)
        for _ in range(SETUPS - 1):
            spark.stop()
            t0 = time.perf_counter()
            spark = set_up(wl, inp)
            setups.append(time.perf_counter() - t0)
        passes = Passes()
        passes.problems += wl.prepare(spark, inp)
        passes.run(spark, wl, inp, seconds)
        spark.stop()
    n_pages = inp.expected["n_pages"]
    metrics = {
        "wall_s": metric(passes.wall_s, "s"),
        "pages_per_s": metric(n_pages / passes.wall_s, "1/s"),
        "setup_s": metric(statistics.median(setups), "s"),
        "peak_rss_mb": metric(rss.mb, "MB"),
    }
    note = (f"setups_s={[round(s, 2) for s in setups]} "
            f"passes_s={[round(w, 3) for w in passes.walls]}")
    return metrics, passes, note


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # importing is part of the first set-up, so only look the modules up
    missing = [m for m in ("org_dharts_dia_tesseract_spark", "pyspark")
               if importlib.util.find_spec(m) is None]
    if missing:
        print(f"perfbench: cannot find {missing}", file=sys.stderr)
        return 2
    corpus.set_env()
    corpus.ensure_pools()
    wl = WORKLOADS[args.workload]()
    inp = wl.inputs(args.seed)

    if args.trace:
        import layers
        metrics, passes, note = layers.traced(wl, inp, args.seed, args.seconds)
    else:
        metrics, passes, note = end_to_end(wl, inp, args.seconds)
    stop_jvm()
    failed_frac = passes.failed / max(passes.attempted, 1)
    shown = " ".join(f"{k}={v['value']:.6g}{v['unit']}"
                     for k, v in metrics.items()
                     if not args.trace or k.startswith("trace."))
    print(f"perfbench {wl.name} seed={args.seed} pages={inp.expected['n_pages']}"
          f" {shown} failed_frac={failed_frac:.3g} {note}")
    for p in passes.problems[:10]:
        print(f"perfbench: check failed: {p}")
    print(json.dumps({
        "correct": not passes.problems and passes.failed == 0,
        "attempted": passes.attempted,
        "failed": passes.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
