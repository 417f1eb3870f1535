#!/usr/bin/env python3
"""Alternating parent/change A/B of the end-to-end benchmark (perfbench/).

Usage, from the root of the repository:

    python3 tools/perfbench_ab.py --parent HEAD~1 --workload backfill_clean \\
        --pairs 10 --seed 401 [--trace 0] [--workdir DIR] [--json out.json]

The parent side is `git archive <parent>` extracted into a temporary
directory (or DIR, kept afterwards so a later call reuses its build); the
change side is this checkout's working tree. Pair i runs both sides on seed
S+i, `perfbench/run.py --workload W --seed S+i --seconds 12 --trace T`; even
pairs run the parent first, odd pairs the change. For every metric the runs
report, it prints each side's median and quartiles, the change's wins over
the parent (ties count for neither side) and two verdicts:

  gain    at least ten pairs ran, the change wins at least 9/10 of them AND
          its median beats the parent's by more than the parent's
          interquartile range;
  bound   for BENCHMARK.json's end-to-end metrics: the change's median is no
          worse than the parent's by more than the metric's bound.

Every run must print `correct: true` and `failed: 0`; the summary lists any
run that did not. A backfill run's `backfill: N runs of Main over M events,
wall s: ...` line is kept under "backfill" (run count and per-run walls), and
the summary prints each pair's peak_rss_mb next to both run counts: the heap
is not pre-touched, so peak RSS grows with the number of Main runs that fit
in the window. With --json, the file also keeps every pair's two result
objects (metrics included), each with the run's `input: k=v ...` line parsed
under "input". Standard library only.
"""
import argparse
import io
import json
import re
import statistics
import subprocess
import sys
import tarfile
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def extract(ref, dest):
    """The tree of `ref` as plain files under `dest` (no worktree, no .git)."""
    tar = subprocess.run(["git", "archive", "--format=tar", ref], cwd=ROOT,
                         check=True, capture_output=True).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as t:
        t.extractall(dest, filter="data")


def scalar(v):
    """`v` as an int, a float or a Scala `Map(k -> v, ...)` as a dict where it
    reads as one, else the string."""
    m = re.fullmatch(r"\w*Map\((.*)\)", v)
    if m:
        return {k: scalar(x) for k, x in re.findall(r"([\w.]+) -> ([^,]+)", m.group(1))}
    for kind in (int, float):
        try:
            return kind(v)
        except ValueError:
            pass
    return v


def input_props(lines):
    """The run's `input: k=v ...` line (the generated input's shape) as a dict.
    A value may hold spaces; each `key=` token starts the next pair."""
    prefix = "input: "
    for l in lines:
        if l.startswith(prefix):
            pairs = re.split(r"\s+(?=[\w.]+=)", l[len(prefix):].strip())
            return {k: scalar(v) for k, _, v in (kv.partition("=") for kv in pairs)}
    return None


def backfill_runs(lines):
    """The run's `backfill: N runs of Main over M events, wall s: a, b, ...`
    line as {"runs", "events", "walls_s"}; None for a stream run."""
    for l in lines:
        m = re.match(r"backfill: (\d+) runs of Main over (\d+) events, wall s: (.*)$", l)
        if m:
            return {"runs": int(m.group(1)), "events": int(m.group(2)),
                    "walls_s": [float(w) for w in m.group(3).split(",") if w.strip()]}
    return None


def run_once(tree, workload, seed, seconds, trace):
    """One benchmark run in `tree`: its result object, with the run's input
    properties under "input", or None if it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        return None
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        return None
    result["input"] = input_props(lines)
    result["backfill"] = backfill_runs(lines)
    return result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(results, spec):
    """One row per metric the runs report: medians, quartiles, wins, verdicts."""
    better = {m["name"]: m["better"] for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}
    bounds = {m["name"]: m["bound"] for m in spec.get("end_to_end", [])}
    pairs = [(p, c) for p, c in results if p and c]
    names = sorted({k for p, c in pairs for k in p["metrics"]} & {k for p, c in pairs for k in c["metrics"]})
    rows = []
    for name in names:
        ps = [p["metrics"][name]["value"] for p, c in pairs if name in p["metrics"] and name in c["metrics"]]
        cs = [c["metrics"][name]["value"] for p, c in pairs if name in p["metrics"] and name in c["metrics"]]
        sign = 1 if better.get(name, "lower") == "higher" else -1
        wins = sum(1 for a, b in zip(ps, cs) if sign * (b - a) > 0)
        pq, cq = quartiles(ps), quartiles(cs)
        delta = cq[1] - pq[1]
        iqr = pq[2] - pq[0]
        gain = len(ps) >= 10 and wins >= 0.9 * len(ps) and sign * delta > iqr
        row = {"metric": name, "unit": pairs[0][0]["metrics"][name]["unit"],
               "better": better.get(name, "lower"), "pairs": len(ps), "change_wins": wins,
               "parent": {"q1": pq[0], "median": pq[1], "q3": pq[2], "runs": ps},
               "change": {"q1": cq[0], "median": cq[1], "q3": cq[2], "runs": cs},
               "delta_median": delta, "parent_iqr": iqr, "gain": gain}
        if name in bounds:
            worse = -sign * delta / abs(pq[1]) if pq[1] else 0.0
            row["bound"] = bounds[name]
            row["within_bound"] = worse <= bounds[name]
        rows.append(row)
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True, help="git ref of the parent side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--workdir", help="extract the parent here and keep it (reuses its build)")
    ap.add_argument("--json", help="write every run and the summary to this file")
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    tmp = None
    if a.workdir:
        parent = Path(a.workdir).resolve()
        parent.mkdir(parents=True, exist_ok=True)
    else:
        tmp = tempfile.TemporaryDirectory(prefix="perfbench-ab-")
        parent = Path(tmp.name)
    try:
        extract(a.parent, parent)
        results, bad = [], []
        for i in range(a.pairs):
            seed = a.seed + i
            order = [("parent", parent), ("change", ROOT)]
            if i % 2:
                order.reverse()
            got = {}
            for side, tree in order:
                r = run_once(tree, a.workload, seed, a.seconds, a.trace)
                got[side] = r
                if r is None or not r.get("correct") or r.get("failed"):
                    bad.append(f"pair {i} seed {seed} {side}: "
                               + ("run failed" if r is None else f"correct={r.get('correct')} failed={r.get('failed')}"))
            results.append((got["parent"], got["change"]))
            print(f"pair {i + 1}/{a.pairs} seed {seed} done", file=sys.stderr, flush=True)
    finally:
        if tmp:
            tmp.cleanup()

    rows = summarize(results, spec)
    print(f"{a.workload}: {a.pairs} pairs, seeds {a.seed}..{a.seed + a.pairs - 1}, parent {a.parent}")
    print(f"{'metric':<40} {'parent p25 / p50 / p75':>32} {'change p25 / p50 / p75':>32} {'wins':>6}  verdict")
    for r in rows:
        p, c = r["parent"], r["change"]
        verdict = "gain" if r["gain"] else "no gain"
        if "within_bound" in r:
            verdict += ", within bound" if r["within_bound"] else ", BEYOND BOUND"
        side = lambda q: f"{q['q1']:.6g} / {q['median']:.6g} / {q['q3']:.6g}"
        print(f"{r['metric']:<40} {side(p):>32} {side(c):>32} {r['change_wins']:>3}/{r['pairs']:<2}  {verdict}")
    for i, (p, c) in enumerate(results):
        if p and c and p.get("backfill") and c.get("backfill"):
            rss = lambda r: r["metrics"].get("peak_rss_mb", {}).get("value", float("nan"))
            print(f"pair {i + 1} seed {a.seed + i}: peak_rss_mb parent {rss(p):.6g} "
                  f"({p['backfill']['runs']} runs), change {rss(c):.6g} ({c['backfill']['runs']} runs)")
    for b in bad:
        print(f"INVALID RUN: {b}")
    if a.json:
        Path(a.json).write_text(json.dumps(
            {"workload": a.workload, "parent": a.parent, "seeds": [a.seed, a.seed + a.pairs - 1],
             "seconds": a.seconds, "trace": a.trace, "invalid_runs": bad,
             "summary": rows,
             "runs": [{"seed": a.seed + i, "parent": p, "change": c}
                      for i, (p, c) in enumerate(results)]}, indent=1) + "\n")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
