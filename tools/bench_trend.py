#!/usr/bin/env python3
"""Build the per-query bench trend table (BASELINE.md appendix) from the
driver's BENCH_r{N}.json snapshots plus a local current-round run.

Usage: tools/bench_trend.py BENCH_r05.json BENCH_r06.json bench/r7.json
Committed bench artifacts (bench/r{N}.json, written by graft.Bench itself)
are full JSON lines and parse directly. The driver's BENCH_r{N}.json
snapshots store a front-truncated "tail" of the same line; per-query
entries are recovered by regex, so such a round may be missing its first
few queries (rendered as "-").
"""
import json
import os
import re
import subprocess
import sys

PAIR = re.compile(r'"([a-z0-9_]+)":([0-9]+\.[0-9]+)')


def load(path):
    with open(path) as f:
        text = f.read()
    out = {}
    try:
        doc = json.loads(text)
        if isinstance(doc, dict) and isinstance(doc.get("queries"), dict):
            return {k: float(v) for k, v in doc["queries"].items()}
        text = doc.get("tail", "") if isinstance(doc, dict) else ""
    except json.JSONDecodeError:
        pass
    for name, sec in PAIR.findall(text):
        # skip envelope fields that match the pattern
        if name in ("value", "sf"):
            continue
        out[name] = float(sec)
    return out


def load_ab(path):
    """The same-host A/B pair embedded by graft.Bench (tools/bench_ab.sh):
    the only round-over-round comparison that controls for host state."""
    try:
        with open(path) as f:
            doc = json.load(f)
        ab = doc.get("same_host_ab") if isinstance(doc, dict) else None
        return ab if isinstance(ab, dict) else None
    except (json.JSONDecodeError, OSError):
        return None


# what the bench executes: engine sources and the build that compiles them
ENGINE = [":/src/main", ":/build.sbt", ":/project"]


def git(cwd, *args):
    try:
        p = subprocess.run(["git", *args], cwd=cwd, capture_output=True,
                           text=True)
    except OSError:
        return None
    return p.stdout.strip() if p.returncode == 0 else None


def ab_staleness(path, ab):
    """Whether the A/B pair still measures the code of the artifact that
    carries it: "current", "stale" (engine or build code changed between the
    pair's cur_ref and the artifact's commit) or "unverified" (either ref
    does not resolve). The artifact's commit is the last commit that wrote
    it, or HEAD while it is uncommitted or modified."""
    path = os.path.abspath(path)
    cwd = os.path.dirname(path)
    art = None
    if git(cwd, "status", "--porcelain", "--", path) == "":
        art = git(cwd, "log", "-1", "--format=%H", "--", path) or None
    art = git(cwd, "rev-parse", "--verify", "-q", (art or "HEAD") + "^{commit}")
    cur = git(cwd, "rev-parse", "--verify", "-q",
              str(ab.get("cur_ref", "")) + "^{commit}")
    if not art or not cur:
        return "unverified"
    changed = git(cwd, "diff", "--name-only", cur, art, "--", *ENGINE)
    if changed is None:
        return "unverified"
    return "stale" if changed else "current"


def main():
    paths = sys.argv[1:]
    rounds = [(re.sub(r".*BENCH_|.*bench_|.*/|\.json|_local", "", p) or p,
               load(p)) for p in paths]
    names = sorted({n for _, qs in rounds for n in qs},
                   key=lambda n: -rounds[-1][1].get(n, 0.0))
    header = "| query | " + " | ".join(label for label, _ in rounds) + " |"
    print(header)
    print("|" + "---|" * (len(rounds) + 1))
    for n in names:
        cells = " | ".join(
            f"{qs[n]:.2f}" if n in qs else "-" for _, qs in rounds)
        print(f"| {n} | {cells} |")
    totals = " | ".join(f"{sum(qs.values()):.1f}" for _, qs in rounds)
    counts = " / ".join(str(len(qs)) for _, qs in rounds)
    print(f"| **total (visible)** | {totals} |")
    print(f"(queries visible per round: {counts})")
    for path in paths:
        ab = load_ab(path)
        if ab:
            state = ab_staleness(path, ab)
            trust = {
                "current": "trust this ratio over the raw cross-host columns",
                "stale": "STALE: engine or build code changed since "
                         f"{ab['cur_ref']}, so the ratio does not measure "
                         "this artifact's code",
                "unverified": "unverified: the pair's ref or the artifact's "
                              "commit does not resolve here",
            }[state]
            print(f"(same-host Δ in {path}: {ab['cur_ref']} = "
                  f"{ab['same_host_ratio']:.2f}× of {ab['prev_ref']} — "
                  f"best {ab['cur_best']:.1f}s vs {ab['prev_best']:.1f}s, "
                  f"interleaved on one host; {trust})")


if __name__ == "__main__":
    main()
