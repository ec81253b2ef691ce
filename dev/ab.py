#!/usr/bin/env python3
"""A/B series of the perfbench benchmark: a parent revision against the
working tree, as one command. From the root of a checkout:

    python3 dev/ab.py --parent HEAD~1 --workload etl_bulk --pairs 10 --seed0 9101

It extracts the parent with `git archive <rev> | tar -x` into a work
directory (reused across calls, so each side builds once per source state),
then runs `perfbench/run.py` in alternating pairs, one JVM at a time: pair i
uses seed seed0 + i for both sides, and the side that runs first alternates
from pair to pair. Before each run it times a fixed single-thread loop, so a
reader can tell the box's drift from the change's effect (reported, never
gated).

Per metric it prints the parent's and the change's medians, the change's
wins (pairs where it is strictly better; ties count for neither), and each
side's interquartile range (exclusive quartiles) as a share of its median,
and gives a verdict by the verify skill's rule:

- claimed: the change wins at least nine tenths of all pairs run and its
  median beats the parent's by more than the parent's IQR;
- worse: the change's median is worse than the parent's by more than the
  metric's bound (BENCHMARK.json);
- unresolved: the parent's IQR is wider than the bound, unless every change
  run beats every parent run;
- unchanged: anything else.

A run that produced no result, or whose result is not correct, is listed
and kept in the JSON but left out of the statistics, with its whole pair;
the pair still counts as run.
Every raw result line goes to --out (JSON); `--report FILE` prints the
tables of a saved series again, and `--selftest` checks the verdict logic
on synthetic result lines.
"""
import argparse
import hashlib
import json
import math
import os
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_TIMEOUT = 900


def calibrate():
    """Milliseconds of a fixed single-thread hashing loop."""
    buf = b"x" * (1 << 16)
    t = time.perf_counter()
    for _ in range(2000):
        hashlib.sha256(buf).digest()
    return (time.perf_counter() - t) * 1000.0


def extract(rev, workdir):
    """The parent's tree, extracted once per commit; returns its root."""
    sha = subprocess.run(["git", "rev-parse", rev], cwd=ROOT, check=True,
                         capture_output=True, text=True).stdout.strip()
    dest = os.path.join(workdir, f"parent-{sha[:12]}")
    if not os.path.exists(os.path.join(dest, "BENCHMARK.json")):
        os.makedirs(dest, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {rev} failed")
    return sha, dest


def run_one(checkout, workload, seed, seconds, trace):
    """One perfbench run; the record keeps its exit code and last line."""
    calib = calibrate()
    t = time.time()
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    try:
        p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                           timeout=RUN_TIMEOUT)
        rc, out, err = p.returncode, p.stdout, p.stderr
    except subprocess.TimeoutExpired as e:
        rc, out, err = -1, e.stdout or "", f"timed out after {RUN_TIMEOUT} s"
        out = out.decode() if isinstance(out, bytes) else out
    rec = {"seed": seed, "rc": rc, "wall_s": round(time.time() - t, 1),
           "calib_ms": round(calib, 1), "result": None}
    last = [l for l in out.splitlines() if l.strip()][-1:] or [""]
    try:
        rec["result"] = json.loads(last[0])
    except ValueError:
        rec["error"] = (err or out)[-2000:]
    return rec


def usable(rec):
    r = rec.get("result")
    return bool(r) and r.get("correct") is True


def quartiles(xs):
    """Exclusive quartiles (Python's default `statistics.quantiles`)."""
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="exclusive")
    return q[0], q[2]


def verdict(parent, change, better, bound, runs):
    """Verdict and figures for one metric over paired runs (equal length,
    pair i is parent[i] vs change[i]); `runs` counts every pair run, the
    unusable ones too, since a claim needs wins in nine tenths of them."""
    n = len(parent)
    sign = -1.0 if better == "lower" else 1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    pm, cm = statistics.median(parent), statistics.median(change)
    q1, q3 = quartiles(sorted(parent))
    c1, c3 = quartiles(sorted(change))
    iqr = q3 - q1
    gain = sign * (cm - pm)          # > 0: the change is better
    rel = (cm - pm) / pm if pm else 0.0
    rel_iqr = iqr / abs(pm) if pm else 0.0
    all_beat = all(sign * (c - p) > 0 for c in change for p in parent)
    if n and wins >= math.ceil(0.9 * runs) and gain > iqr:
        v = "claimed"
    elif bound is not None and pm and -sign * rel > bound:
        v = "worse"
    elif bound is not None and rel_iqr > bound and not all_beat:
        v = "unresolved"
    else:
        v = "unchanged"
    return {"n": n, "runs": runs, "parent_median": pm, "change_median": cm, "change": rel,
            "wins": wins, "parent_iqr": iqr, "parent_iqr_rel": rel_iqr,
            "change_iqr_rel": (c3 - c1) / abs(cm) if cm else 0.0, "verdict": v}


def metric_specs(result_lines):
    """(name, better, bound) of each metric the results carry, in
    BENCHMARK.json's order; a per-layer metric has no bound."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    known = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    names = []
    for r in result_lines:
        for k in r["metrics"]:
            if k not in names:
                names.append(k)
    order = list(known)
    names.sort(key=lambda k: order.index(k) if k in order else len(order))
    return [(k, known.get(k, {}).get("better", "lower"), known.get(k, {}).get("bound"))
            for k in names]


def summarize(pairs):
    """Per-metric verdicts over the pairs whose two runs are both usable."""
    good = [p for p in pairs if usable(p["parent"]) and usable(p["change"])]
    if not good:
        return {}
    specs = metric_specs([p[s]["result"] for p in good for s in ("parent", "change")])
    out = {}
    for name, better, bound in specs:
        both = [p for p in good if name in p["parent"]["result"]["metrics"]
                and name in p["change"]["result"]["metrics"]]
        if not both:
            continue
        val = lambda p, s: p[s]["result"]["metrics"][name]["value"]  # noqa: E731
        out[name] = dict(verdict([val(p, "parent") for p in both],
                                 [val(p, "change") for p in both], better, bound, len(pairs)),
                         better=better, bound=bound)
    return out


def report(series):
    pairs = series["pairs"]
    change = series["change"]
    print(f"{series['workload']}: parent {series['parent'][:10]} vs change "
          f"{change[:10]}{change[40:]}, {len(pairs)} pairs, seeds "
          f"{pairs[0]['seed']}-{pairs[-1]['seed']}, --trace {series['trace']}, "
          f"--seconds {series['seconds']}")
    print()
    print("| pair | seed | first | parent rc | change rc | parent calib ms | change calib ms |")
    print("|---|---|---|---|---|---|---|")
    for i, p in enumerate(pairs):
        print(f"| {i} | {p['seed']} | {p['first']} | {p['parent']['rc']} | {p['change']['rc']} "
              f"| {p['parent']['calib_ms']} | {p['change']['calib_ms']} |")
    bad = [(i, s) for i, p in enumerate(pairs) for s in ("parent", "change") if not usable(p[s])]
    for i, s in bad:
        r = pairs[i][s]
        why = r.get("error") or f"correct={r['result'].get('correct')}, failed={r['result'].get('failed')}"
        print(f"pair {i} {s} run not usable (rc {r['rc']}): {why.strip()[-300:]}")
    print()
    summary = series.get("summary") or summarize(pairs)
    print("| metric | parent median | change median | change | wins | parent IQR / median "
          "| change IQR / median | bound | verdict |")
    print("|---|---|---|---|---|---|---|---|---|")
    for name, s in summary.items():
        print(f"| `{name}` | {s['parent_median']:.4g} | {s['change_median']:.4g} "
              f"| {s['change'] * 100:+.1f} % | {s['wins']}/{s['runs']} | {s['parent_iqr_rel']:.3f} "
              f"| {s['change_iqr_rel']:.3f} | {s['bound'] if s['bound'] is not None else '-'} "
              f"| {s['verdict']} |")


def selftest():
    def line(v, correct=True, name="op_s_p50"):
        return {"correct": correct, "attempted": 4, "failed": 0,
                "metrics": {name: {"value": v, "unit": "s"}}}

    def pairs_of(parent, change, name="op_s_p50"):
        return [{"seed": i, "first": "parent",
                 "parent": {"rc": 0, "calib_ms": 1.0, "result": line(p, name=name)},
                 "change": {"rc": 0, "calib_ms": 1.0, "result": line(c, name=name)}}
                for i, (p, c) in enumerate(zip(parent, change))]

    cases = 0

    def check(cond, what):
        nonlocal cases
        cases += 1
        if not cond:
            sys.exit(f"selftest FAILED: {what}")

    # exclusive quartiles of 1..10: 2.75 and 8.25
    check(quartiles(list(range(1, 11))) == (2.75, 8.25), "exclusive quartiles")
    parent = [2.0, 2.1, 1.9, 2.0, 2.2, 1.8, 2.0, 2.1, 1.9, 2.0]
    # 10/10 wins, median drop 0.6 > IQR 0.2: claimed
    s = summarize(pairs_of(parent, [x - 0.6 for x in parent]))["op_s_p50"]
    check(s["verdict"] == "claimed" and s["wins"] == 10, f"clear gain: {s}")
    check(abs(s["parent_iqr"] - 0.2) < 1e-9, f"parent IQR: {s}")
    # 8/10 wins: not claimed, and inside the bound: unchanged
    change = [x - 0.6 for x in parent[:8]] + [x + 0.1 for x in parent[8:]]
    check(summarize(pairs_of(parent, change))["op_s_p50"]["verdict"] == "unchanged", "8/10 wins")
    # 10/10 wins but a median gain inside the parent's IQR: unchanged
    check(summarize(pairs_of(parent, [x - 0.05 for x in parent]))["op_s_p50"]["verdict"]
          == "unchanged", "gain inside the IQR")
    # higher-is-better metric: wins count in its direction
    up = pairs_of([1000 * x for x in parent], [1000 * (x + 0.6) for x in parent], "items_per_s")
    s = summarize(up)["items_per_s"]
    check(s["verdict"] == "claimed" and s["wins"] == 10, f"higher is better: {s}")
    # a change 40 % slower: worse than the 0.25 bound
    check(summarize(pairs_of(parent, [x * 1.4 for x in parent]))["op_s_p50"]["verdict"]
          == "worse", "worse by more than the bound")
    # parent IQR 0.5 of its median (> bound 0.25), overlapping runs: unresolved
    wide = [1.0, 3.0, 1.2, 2.8, 1.5, 2.5, 1.1, 2.9, 2.0, 2.0]
    s = summarize(pairs_of(wide, [x - 0.1 if i % 2 else x + 0.1 for i, x in enumerate(wide)]))
    check(s["op_s_p50"]["verdict"] == "unresolved", f"wide parent IQR: {s}")
    # same wide parent, but every change run beats every parent run and
    # the gain is inside the IQR: unchanged, not unresolved
    s = summarize(pairs_of(wide, [0.95] * 10))["op_s_p50"]
    check(s["verdict"] == "unchanged", f"every change run beats every parent run: {s}")
    # a failed run drops its whole pair from the statistics, but still
    # counts as run: 8 wins of 10 pairs run is no claim
    ps = pairs_of(parent, [x - 0.6 for x in parent])
    ps[3]["change"] = {"rc": 1, "calib_ms": 1.0, "result": line(9.9, correct=False)}
    ps[4]["parent"] = {"rc": 4, "calib_ms": 1.0, "result": None, "error": "JVM exited"}
    s = summarize(ps)["op_s_p50"]
    check(s["n"] == 8 and s["wins"] == 8 and s["verdict"] == "unchanged", f"failed runs: {s}")
    check(summarize(ps[:3] + ps[5:])["op_s_p50"]["verdict"] == "claimed", "8 of 8 run")
    print(f"selftest OK ({cases} cases)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--workload", choices=("etl_bulk", "etl_jobs", "near_dup"))
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--workdir", default=os.path.join(tempfile.gettempdir(), "graft-ab"),
                    help="where the parent is extracted and built")
    ap.add_argument("--out", help="JSON file for the raw result lines "
                                  "(default: <workdir>/ab-<workload>-<seed0>.json)")
    ap.add_argument("--report", metavar="FILE", help="print the tables of a saved series")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    if a.report:
        with open(a.report) as f:
            return report(json.load(f))
    if not (a.parent and a.workload and a.seed0 is not None):
        ap.error("--parent, --workload and --seed0 are required")
    if not os.environ.get("SPARK_HOME"):
        sys.exit("SPARK_HOME is not set")
    sha, parent_root = extract(a.parent, a.workdir)
    head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                          text=True).stdout.strip()
    dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"], cwd=ROOT,
                           capture_output=True, text=True).stdout.strip()
    out = a.out or os.path.join(a.workdir, f"ab-{a.workload}-{a.seed0}.json")
    series = {"workload": a.workload, "parent": sha, "change": head + ("+dirty" if dirty else ""),
              "seconds": a.seconds, "trace": a.trace, "pairs": []}
    sides = {"parent": parent_root, "change": ROOT}
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_one(sides[side], a.workload, seed, a.seconds, a.trace)
            r = pair[side]["result"] or {}
            print(f"[ab] pair {i} seed {seed} {side}: rc {pair[side]['rc']}, "
                  f"{pair[side]['wall_s']} s, correct {r.get('correct')}", file=sys.stderr)
        series["pairs"].append(pair)
        series["summary"] = summarize(series["pairs"])
        with open(out, "w") as f:
            json.dump(series, f, indent=1)
    report(series)
    print(f"\nraw result lines: {out}")


if __name__ == "__main__":
    main()
