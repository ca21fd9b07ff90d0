#!/usr/bin/env python3
"""Interleaved A/B of the benchmark: a base revision against the working tree.

    python3 tools/ab.py --workload <name> [--pairs 10] [--seed 1] [--base HEAD]
                        [--drift <metric>] [--changes] [--trace]
    python3 tools/ab.py --loc [--base HEAD]

Exports the base revision with `git archive` into a temporary directory and
runs `perfbench/run.py --trace 0` of each side for `--pairs` pairs on
consecutive seeds (`--seed`, `--seed`+1, ...), alternating which side runs
first. Each side builds under its own `CARGO_TARGET_DIR` in that directory,
so nothing is written to the checkout; the directory is removed at the end.

For every end-to-end metric of BENCHMARK.json it prints the per-run values,
both medians, the change's wins, the base's quartiles and a verdict:
`worse than bound` when the change's median is worse than the base's by more
than the metric's bound, `unchanged` when every pair reads the same,
`resolved` when the medians differ by more than the base's interquartile
range, `unresolved` otherwise.

`--trace` runs both sides with `--trace 1` instead and prints the same
per-run values, medians, wins and base quartiles for every `per_layer` metric
of BENCHMARK.json that the runs report. Those metrics have no bound, so the
verdict is only `unchanged`, `resolved` or `unresolved`.

`--drift <metric>` names a metric the change does not touch. Its per-pair
change/base ratios and their median are the drift index: how far the host's
speed moved between the two runs of a pair, apart from the change.
`--changes` prints, last, one paragraph for CHANGES.md with every metric's
medians, wins, base IQR and verdict, and the drift index.

`--loc` runs no benchmark. It prints the code-line count CHANGES.md uses
(`cat $(git ls-files 'src/main/scala/*.scala') | grep -vcE
'^\s*($|//|\*|/\*)'`: lines that are not blank and do not start a comment)
for the base revision and the working tree, per package under
`src/main/scala/graft/` and in total.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_side(checkout, target, workload, seed, seconds, trace):
    """One benchmark run; its metrics as {name: value}, or None on failure."""
    env = dict(os.environ, CARGO_TARGET_DIR=str(target))
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1" if trace else "0"]
    res = subprocess.run(cmd, cwd=checkout, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True)
    lines = res.stdout.splitlines()
    if res.returncode != 0 or not lines or not lines[-1].startswith("{"):
        tail = "\n".join(res.stderr.splitlines()[-20:])
        print(f"# run failed: {checkout} seed {seed} exit {res.returncode}\n{tail}",
              file=sys.stderr)
        return None
    return {k: v["value"] for k, v in json.loads(lines[-1])["metrics"].items()}


COMMENT_OR_BLANK = re.compile(r"\s*($|//|\*|/\*)")
SCALA_MAIN = "src/main/scala/"


def code_lines(text):
    """Lines that are neither blank nor start a comment (the CHANGES.md count)."""
    return sum(1 for line in text.splitlines() if not COMMENT_OR_BLANK.match(line))


def package_of(path):
    """`algo` for src/main/scala/graft/algo/X.scala, `graft` for files directly in graft/."""
    parts = path[len(SCALA_MAIN):].split("/")
    return parts[1] if len(parts) > 2 and parts[0] == "graft" else parts[0]


def loc_by_package(base):
    """{package: code lines} of the revision `base`, or of the working tree when None."""
    git = ["git", "-C", str(ROOT)]
    if base is None:
        files = subprocess.run(git + ["ls-files", "--", SCALA_MAIN + "*.scala"], check=True,
                               stdout=subprocess.PIPE, text=True).stdout.split()
        read = lambda f: (ROOT / f).read_text() if (ROOT / f).exists() else ""
    else:
        files = subprocess.run(git + ["ls-tree", "-r", "--name-only", base, "--", SCALA_MAIN],
                               check=True, stdout=subprocess.PIPE, text=True).stdout.split()
        files = [f for f in files if f.endswith(".scala")]
        read = lambda f: subprocess.run(git + ["show", f"{base}:{f}"], check=True,
                                        stdout=subprocess.PIPE, text=True).stdout
    counts = {}
    for f in files:
        counts[package_of(f)] = counts.get(package_of(f), 0) + code_lines(read(f))
    return counts


def print_loc(base):
    b, c = loc_by_package(base), loc_by_package(None)
    print(f"code lines (CHANGES.md count), base {base} -> working tree")
    for pkg in sorted(set(b) | set(c)):
        x, y = b.get(pkg, 0), c.get(pkg, 0)
        print(f"  {pkg:<12} {x:>6} -> {y:>6} ({y - x:+d})")
    x, y = sum(b.values()), sum(c.values())
    print(f"  {'total':<12} {x:>6} -> {y:>6} ({y - x:+d})")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def verdict(metric, base, change):
    lower = metric["better"] == "lower"
    mb, mc = statistics.median(base), statistics.median(change)
    worse = (mc - mb) if lower else (mb - mc)
    if "bound" in metric and mb != 0 and worse / abs(mb) > metric["bound"]:
        return "worse than bound"
    q1, q3 = quartiles(base)
    if base == change:
        return "unchanged"
    if abs(mc - mb) > q3 - q1:
        return "resolved " + ("better" if worse < 0 else "worse")
    return "unresolved"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--base", default="HEAD")
    ap.add_argument("--drift", help="a metric the change does not touch (drift index)")
    ap.add_argument("--changes", action="store_true", help="print a CHANGES.md fragment")
    ap.add_argument("--trace", action="store_true",
                    help="run traced and compare the per-layer metrics (no bounds)")
    ap.add_argument("--loc", action="store_true",
                    help="print code-line counts of the base and the working tree, and exit")
    a = ap.parse_args()
    if a.loc:
        print_loc(a.base)
        return
    if not a.workload:
        ap.error("--workload is required unless --loc is given")
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]

    scratch = Path(tempfile.mkdtemp(prefix="ab-"))
    try:
        base_dir = scratch / "base"
        base_dir.mkdir()
        archive = subprocess.run(["git", "archive", a.base], cwd=ROOT, check=True,
                                 stdout=subprocess.PIPE).stdout
        subprocess.run(["tar", "-x", "-C", str(base_dir)], input=archive, check=True)
        sides = {"base": (base_dir, scratch / "base-build"),
                 "change": (ROOT, scratch / "change-build")}
        for checkout, target in sides.values():
            env = dict(os.environ, CARGO_TARGET_DIR=str(target))
            subprocess.run([sys.executable, "perfbench/build.py"], cwd=checkout, env=env,
                           check=True, stdout=subprocess.DEVNULL)

        runs = {"base": [], "change": []}
        for i in range(a.pairs):
            seed = a.seed + i
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                runs[side].append(run_side(*sides[side], a.workload, seed, seconds, a.trace))
            print(f"# pair {i + 1}/{a.pairs} seed {seed} done ({order[0]} first)",
                  file=sys.stderr)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    ok = [i for i in range(a.pairs) if runs["base"][i] and runs["change"][i]]
    seeds = f"seeds {a.seed}..{a.seed + a.pairs - 1}"
    print(f"workload {a.workload}, base {a.base}, {seeds}, {len(ok)}/{a.pairs} pairs complete")
    summaries = []
    for metric in bench["per_layer" if a.trace else "end_to_end"]:
        name = metric["name"]
        idx = [i for i in ok if name in runs["base"][i] and name in runs["change"][i]]
        if not idx:
            continue
        base = [runs["base"][i][name] for i in idx]
        change = [runs["change"][i][name] for i in idx]
        lower = metric["better"] == "lower"
        wins = sum(1 for b, c in zip(base, change) if (c < b if lower else c > b))
        q1, q3 = quartiles(base)
        mb, mc = statistics.median(base), statistics.median(change)
        rel = (mc - mb) / mb * 100 if mb else 0.0
        v = verdict(metric, base, change)
        summaries.append((name, mb, mc, rel, wins, len(idx), q3 - q1, v))
        bound = f", bound {metric['bound']}" if "bound" in metric else ""
        print(f"\n{name} ({metric['unit']}, {metric['better']} is better{bound})")
        print("  base:   " + " ".join(f"{x:.4g}" for x in base))
        print("  change: " + " ".join(f"{x:.4g}" for x in change))
        print(f"  median {mb:.4g} -> {mc:.4g} ({rel:+.1f}%), change wins {wins}/{len(idx)}, "
              f"base quartiles {q1:.4g}..{q3:.4g} (IQR {q3 - q1:.4g}): {v}")

    drift = None
    if a.drift:
        idx = [i for i in ok if runs["base"][i].get(a.drift) and a.drift in runs["change"][i]]
        ratios = [runs["change"][i][a.drift] / runs["base"][i][a.drift] for i in idx]
        if ratios:
            drift = statistics.median(ratios)
            print(f"\ndrift index ({a.drift}, change/base per pair): "
                  + " ".join(f"{r:.3f}" for r in ratios) + f"; median {drift:.3f}")
        else:
            print(f"\ndrift index: no pair reports {a.drift}")

    if a.changes:
        parts = [f"{n} {mb:.4g} -> {mc:.4g} ({rel:+.1f}%, {w}/{k} wins, base IQR {iqr:.3g}, {v})"
                 for n, mb, mc, rel, w, k, iqr, v in summaries]
        tail = f"; drift index ({a.drift}) median {drift:.3f}" if drift is not None else ""
        traced = " traced" if a.trace else ""
        print(f"\n{a.workload}{traced} A/B, {len(ok)}/{a.pairs} interleaved pairs, {seeds}, "
              f"base {a.base}, medians base -> change: " + "; ".join(parts) + tail + ".")


if __name__ == "__main__":
    main()
