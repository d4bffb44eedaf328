"""Steadiness check: run a workload on several seeds and report, per
metric, the median and the quartile spread (Q3 - Q1) / median.

    python3 perfbench/steady.py --workload query_batch --seeds 1-10 [--trace 0] [--save DIR]

Compares each spread with the metric's bound in BENCHMARK.json
(``setup_s`` is reported but, like the acceptance rule, not judged).
Runs are sequential; each is a fresh ``run.py`` process. A run whose
host speed drifted (see ``host_probe_ms`` in run.py) is flagged
CONTENDED; its figures are still counted, so a wide spread shows.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

from measure import quartile_spread

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--save", type=Path, help="directory to keep each run's stdout in")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
        ]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        if args.save:
            args.save.mkdir(parents=True, exist_ok=True)
            (args.save / f"{args.workload}-{args.trace}-{seed}.out").write_text(out.stdout)
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines else {}
        details = json.loads(lines[-2]) if len(lines) > 1 else {}
        print(f"seed {seed}: exit {out.returncode} correct {res.get('correct')} "
              f"run {sum(details.get('phase_s', {}).values()):.1f}s "
              f"host_drift {details.get('host_drift', float('nan')):.2f}"
              f"{' CONTENDED' if details.get('host_contended') else ''} "
              f"probes {[round(v, 1) for v in details.get('host_probe_ms', {}).values()]} "
              f"failures {details.get('failures')}", flush=True)
        print("  " + json.dumps({k: round(m["value"], 4) for k, m in res.get("metrics", {}).items()}),
              flush=True)
        for name, m in res.get("metrics", {}).items():
            values.setdefault(name, []).append(m["value"])
    ok = True
    for name, vals in values.items():
        spread = quartile_spread(vals) if len(vals) > 1 else float("nan")
        bound = bounds.get(name)
        judged = bound is not None and name != "setup_s"
        flag = "" if not judged else ("ok" if spread <= bound / 3 else "WIDE" if spread <= bound else "FAIL")
        ok &= flag != "FAIL"
        print(f"{name:26s} median {statistics.median(vals):14.4f} spread {spread:7.3f} "
              f"bound {bound} {flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
