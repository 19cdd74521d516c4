"""Steadiness of the lifecycle benchmark.

Spread mode (default) runs each workload once per seed and repetition,
and prints for every end-to-end metric its median, first and third
quartile, and spread, (q3 - q1) / median, against the bound in
BENCHMARK.json (a benchmark is accepted when each spread is within its bound;
`setup_s` is exempt from that rule but printed). It also prints the share
of failed operations per workload.

    python3 lifebench/steady.py --seeds 1,2 --reps 3
    python3 lifebench/steady.py --workloads kappa_stream --seeds 1,2,3,4,5

Trace mode runs each workload once with `--trace 1` and writes its
per-layer metrics as JSON:

    python3 lifebench/steady.py --trace --seeds 1 --out layers.json
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent


def run(spec: dict, workload: str, seed: int, trace: bool) -> dict:
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", "1" if trace else "0"]
    r = subprocess.run(cmd, cwd=REPO, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {r.returncode}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seeds", default="1,2")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", default="")
    a = ap.parse_args()
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    seeds = [int(s) for s in a.seeds.split(",")]

    if a.trace:
        layers = {w: run(spec, w, seeds[0], True) for w in workloads}
        text = json.dumps(layers, indent=1, sort_keys=True)
        if a.out:
            Path(a.out).write_text(text + "\n")
        print(text)
        return 0

    ok = True
    for w in workloads:
        results = []
        for _ in range(a.reps):
            for s in seeds:
                results.append(run(spec, w, s, False))
                m = results[-1]["metrics"]
                print(f"{w} seed {s}: " + " ".join(
                    f"{k}={v['value']:.4g}" for k, v in m.items()), file=sys.stderr, flush=True)
        shares = {r["failed"] / r["attempted"] for r in results}
        print(f"\n{w}: {len(results)} runs, correct={all(r['correct'] for r in results)}, "
              f"failed share {sorted(shares)}")
        print(f"  {'metric':14} {'median':>11} {'q1':>11} {'q3':>11} {'spread':>7} {'bound':>6}")
        for e in spec["end_to_end"]:
            vals = [r["metrics"][e["name"]]["value"] for r in results]
            q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
            spread = (q3 - q1) / med if med else float("inf")
            flag = "" if spread <= e["bound"] or e["name"] == "setup_s" else "  OVER"
            ok &= not flag
            print(f"  {e['name']:14} {med:11.4f} {q1:11.4f} {q3:11.4f} {spread:7.3f} "
                  f"{e['bound']:6.2f}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
