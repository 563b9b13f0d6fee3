"""Compare a base revision with the working tree on the perfbench workloads.

    python3 scripts/perf_pairs.py --base <rev> [--pairs 10] [--workloads batch,cep_live]
                                  [--seconds 1] [--first-seed 1] [--raw out.json]

Run from the root of a checkout. The base side is a temporary export of
`<rev>` (`git archive`, removed afterwards); the change side is the working
tree. Pair i runs `perfbench/run.py --seed <first-seed + i>` on both sides,
alternating which side goes first. For each workload and each end-to-end
metric of BENCHMARK.json it prints both sides' median and quartiles, the
pairs the change won (ties count for neither) and two verdicts:

  claim  GAIN when the change won at least 9/10 of all pairs run (a pair
         missing a side's result counts as lost), the medians differ by
         more than the base's interquartile range and the change failed
         no more operations than the base, else "no gain";
  bound  "ok" when the change's median is no worse than the base's by
         more than the metric's bound; "unresolved" when it is worse but
         the base's own spread is wider than the bound, unless every
         change run beats every base run; else "WORSE".

Nothing under perfbench/ is edited; each side builds its own copy.
"""
import argparse
import json
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def export(rev: str, dest: Path) -> None:
    archive = subprocess.run(["git", "-C", str(ROOT), "archive", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", str(dest)], input=archive, check=True)


def run(tree: Path, workload: str, seed: int, seconds: float) -> dict:
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=tree, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return {"error": f"exit {p.returncode}"}
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdicts(base, change, better, bound, pairs, more_fails):
    higher = better == "higher"
    won = sum(1 for b, c in zip(base, change) if (c > b if higher else c < b))
    b1, bm, b3 = quartiles(base)
    _, cm, _ = quartiles(change)
    gain = won >= 0.9 * pairs and abs(cm - bm) > (b3 - b1) and not more_fails and \
        (cm > bm if higher else cm < bm)
    worse_by = (bm - cm) / bm if higher else (cm - bm) / bm
    all_better = (min(change) > max(base)) if higher else (max(change) < min(base))
    if worse_by <= bound or all_better:
        bnd = "ok"
    elif (b3 - b1) / bm > bound:
        bnd = "unresolved"
    else:
        bnd = "WORSE"
    return won, ("GAIN" if gain else "no gain"), bnd


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, help="git revision of the base side")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", default="batch,cep_live")
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--raw", help="write every run's result JSON here")
    args = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = bench["end_to_end"]
    workloads = args.workloads.split(",")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanup below
    tmp = Path(tempfile.mkdtemp(prefix="perf_pairs-"))
    results = {w: {"base": [], "change": []} for w in workloads}
    try:
        export(args.base, tmp)
        sides = {"base": tmp, "change": ROOT}
        for i in range(args.pairs):
            seed = args.first_seed + i
            order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
            for w in workloads:
                for side in order:
                    r = run(sides[side], w, seed, args.seconds)
                    results[w][side].append(r)
                    vals = r.get("metrics", {})
                    print(f"[pair {i + 1}/{args.pairs}] {w} {side} seed={seed} " +
                          " ".join(f"{m['name']}={vals.get(m['name'], {}).get('value', 'NA')}"
                                   for m in metrics) +
                          f" failed={r.get('failed', r.get('error'))}", flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    if args.raw:
        Path(args.raw).write_text(json.dumps(results, indent=1))
    print(f"\n{'workload':10} {'metric':16} {'base q1/med/q3':>28} {'change q1/med/q3':>28}"
          f" {'won':>6} {'claim':>8} {'bound':>10}")
    for w in workloads:
        ok = [(b, c) for b, c in zip(results[w]["base"], results[w]["change"])
              if "metrics" in b and "metrics" in c]
        fails = {s: sum(r.get("failed", 0) for r in results[w][s] if "metrics" in r)
                 for s in ("base", "change")}
        for m in metrics:
            name = m["name"]
            base = [b["metrics"][name]["value"] for b, _ in ok]
            change = [c["metrics"][name]["value"] for _, c in ok]
            if not base:
                print(f"{w:10} {name:16} no complete pair")
                continue
            won, claim, bnd = verdicts(base, change, m["better"], m["bound"], args.pairs,
                                       fails["change"] > fails["base"])
            fmt = lambda xs: "/".join(f"{x:.1f}" for x in quartiles(xs))
            print(f"{w:10} {name:16} {fmt(base):>28} {fmt(change):>28}"
                  f" {won:>3}/{args.pairs:<2} {claim:>8} {bnd:>10}")
        print(f"{w:10} failed ops: base {fails['base']}, change {fails['change']};"
              f" complete pairs {len(ok)}/{args.pairs}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
