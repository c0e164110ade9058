#!/usr/bin/env python3
"""Compare two checkouts of the engine with the same benchmark.

Usage:

    python3 perfbench/compare.py --parent ../parent --change . [--pairs 10] [--seed0 1000]

Each checkout is a repository root holding `perfbench/`; both must hold
the identical benchmark and the identical fixture generator, so both
sides read the same inputs. The command runs `--pairs` pairs of every
workload in BENCHMARK.json at its `run_seconds`, alternating which side
runs first, the same seed on both sides of a pair. For every end-to-end
metric it reports each side's median and quartiles, how many pairs the
change won, and a verdict:

  failed      the change's runs failed more operations than the parent's;
  gain        the change won at least 9 of 10 pairs (ties count for
              neither) and the medians differ by more than the parent's
              interquartile range, in the better direction;
  regressed   the change's median is worse than the parent's by more
              than the metric's bound;
  unresolved  a side's spread (IQR / median) exceeds the bound, and not
              every change run beats, or loses to, every parent run;
  unchanged   none of the above.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from run import GEN_SOURCES  # noqa: E402


def bench_digest(root):
    """Digest of the benchmark's own files, without build and run output."""
    h = hashlib.sha1()
    base = os.path.join(root, "perfbench")
    for d, dirs, files in os.walk(base):
        dirs[:] = sorted(x for x in dirs if not x.startswith(".") and
                         x not in ("target", "__pycache__") and
                         not (x == "project" and os.path.basename(d) == "project"))
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, base).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def gen_digest(root):
    """Digest of the fixture generator's sources."""
    h = hashlib.sha1()
    for rel in GEN_SOURCES:
        with open(os.path.join(root, rel), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run(root, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{root}: {workload} seed {seed} failed (exit {p.returncode})")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(parent, change, better, bound, failed):
    """Choosing-metrics section 8 applied to one metric; `failed` holds
    the parent's and the change's failed operations."""
    sign = 1 if better == "lower" else -1  # positive: change is better
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    spread = max((p3 - p1) / pm if pm else 0, (c3 - c1) / cm if cm else 0)
    gap = sign * (pm - cm)
    if failed[1] > failed[0]:
        v = "failed"
    elif wins >= 0.9 * len(parent) and gap > p3 - p1:
        v = "gain"
    elif spread > bound and not (max(change) < min(parent) or min(change) > max(parent)):
        v = "unresolved"
    elif -gap > bound * pm:
        v = "regressed"
    else:
        v = "unchanged"
    return v, wins, (p1, pm, p3), (c1, cm, c3), spread


def main():
    ap = argparse.ArgumentParser(description="alternating parent/change benchmark pairs")
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    args = ap.parse_args()
    roots = [os.path.abspath(args.parent), os.path.abspath(args.change)]
    if bench_digest(roots[0]) != bench_digest(roots[1]):
        raise SystemExit("the two checkouts hold different benchmarks; compare with identical perfbench/")
    if gen_digest(roots[0]) != gen_digest(roots[1]):
        raise SystemExit("the two checkouts generate different fixtures; compare with identical "
                         + ", ".join(GEN_SOURCES))
    with open(os.path.join(roots[1], "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    for w in (w["name"] for w in spec["workloads"]):
        vals = ({}, {})
        failed = [0, 0]
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = (0, 1) if i % 2 == 0 else (1, 0)
            for side in order:
                res = run(roots[side], w, seed, seconds)
                failed[side] += res["failed"]
                for k, v in res["metrics"].items():
                    vals[side].setdefault(k, []).append(v["value"])
            print(f"{w}: pair {i + 1}/{args.pairs} done", file=sys.stderr, flush=True)
        cells = []
        for m in spec["end_to_end"]:
            v, wins, p, c, spread = verdict(vals[0][m["name"]], vals[1][m["name"]],
                                            m["better"], m["bound"], failed)
            cells.append(f"{m['name']}: {v} (parent {p[1]:.4g} [{p[0]:.4g}, {p[2]:.4g}], "
                         f"change {c[1]:.4g} [{c[0]:.4g}, {c[2]:.4g}] {m['unit']}, "
                         f"wins {wins}/{args.pairs}, spread {spread:.3f} vs bound {m['bound']})")
        print(f"{w} | failures parent {failed[0]} change {failed[1]} | " + " | ".join(cells))


if __name__ == "__main__":
    main()
