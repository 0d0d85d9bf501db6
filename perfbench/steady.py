"""Steadiness check: run workloads repeatedly and report each metric's spread.

    python3 perfbench/steady.py --runs 10 --seed0 100
    python3 perfbench/steady.py --runs 4 --with-trace      # + tracing overhead

Run k uses seed ``seed0 + k`` and alternates the workload order between runs.
Every run is a fresh ``run.py`` process. For each workload and end-to-end
metric it prints the median, the quartiles (``statistics.quantiles(n=4)``),
the spread (q3 - q1) / median, the bound from BENCHMARK.json and whether the
spread is below a third of it. ``--save`` writes the medians to a JSON file;
``--compare`` reads such a file from an earlier set and also prints how much
worse each median got, as a share of the earlier one, which must stay within
the bound. The exit status is 0 only if every check holds. With
``--with-trace`` every run is repeated with ``--trace 1`` and the tracing
overhead (traced median - untraced median of each end-to-end metric) and
the traced runs' per-layer medians are printed too.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.time() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(ROOT, ".perfbench", "out", f"{workload}-seed{seed}-trace{trace}-e2e.json")) as f:
        res["e2e"] = json.load(f)
    res["wall_s"] = wall
    return res


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=100)
    p.add_argument("--seconds", type=int, default=spec["run_seconds"])
    p.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    p.add_argument("--with-trace", action="store_true")
    p.add_argument("--save", help="write this set's untraced medians to this JSON file")
    p.add_argument("--compare", help="medians JSON of an earlier set: gate the drift of each median")
    a = p.parse_args(argv)

    traces = (0, 1) if a.with_trace else (0,)
    runs: dict[tuple[str, int], list[dict]] = {(w, t): [] for w in a.workloads for t in traces}
    for k in range(a.runs):
        order = a.workloads if k % 2 == 0 else a.workloads[::-1]
        for w in order:
            for t in (traces if k % 2 == 0 else traces[::-1]):
                r = run_once(w, a.seed0 + k, a.seconds, t)
                runs[(w, t)].append(r)
                print(f"run {k} {w} trace={t}: correct={r['correct']} attempted={r['attempted']} "
                      f"failed={r['failed']} wall={r['wall_s']:.1f}s "
                      + " ".join(f"{n}={v:.4g}" for n, v in r["e2e"].items()), flush=True)

    earlier = {}
    if a.compare:
        with open(a.compare) as f:
            earlier = json.load(f)
    medians: dict[str, dict[str, float]] = {}
    print()
    print(f"{'workload':14} {'metric':18} {'q1':>10} {'median':>10} {'q3':>10} {'spread':>7} {'bound':>6}  ok"
          + ("  worse than earlier" if earlier else ""))
    all_ok = True
    for w in a.workloads:
        rs = runs[(w, 0)]
        medians[w] = {}
        for m in spec["end_to_end"]:
            xs = [r["e2e"][m["name"]] for r in rs]
            q1, med, q3 = quartiles(xs)
            medians[w][m["name"]] = med
            spread = (q3 - q1) / med
            ok = spread < m["bound"] / 3
            line = f"{w:14} {m['name']:18} {q1:10.4g} {med:10.4g} {q3:10.4g} {spread:7.3f} {m['bound']:6.2f}  {'yes' if ok else 'NO '}"
            if m["name"] in earlier.get(w, {}):
                before = earlier[w][m["name"]]
                worse = (med - before) / before * (1 if m["better"] == "lower" else -1)
                ok &= worse <= m["bound"]
                line += f"  {worse:+.3f}{'' if worse <= m['bound'] else ' NO'}"
            all_ok &= ok
            print(line)
        shares = {r["failed"] / r["attempted"] for r in rs}
        walls = [r["wall_s"] for r in rs]
        print(f"{w:14} failed share {sorted(shares)}, all correct: {all(r['correct'] for r in rs)}, "
              f"run wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    if a.save:
        with open(a.save, "w") as f:
            json.dump(medians, f, indent=1)
    if a.with_trace:
        print()
        print("tracing overhead (traced median - untraced median):")
        for w in a.workloads:
            for m in spec["end_to_end"]:
                off = statistics.median(r["e2e"][m["name"]] for r in runs[(w, 0)])
                on = statistics.median(r["e2e"][m["name"]] for r in runs[(w, 1)])
                print(f"{w:14} {m['name']:18} {on - off:+10.4g} {m['unit']} ({(on - off) / off:+.1%})")
        print()
        print("per-layer medians of the traced runs:")
        for w in a.workloads:
            for m in spec["per_layer"]:
                v = statistics.median(r["metrics"][m["name"]]["value"] for r in runs[(w, 1)])
                if v:
                    print(f"{w:14} {m['name']:30} {v:10.4g} {m['unit']}")
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
