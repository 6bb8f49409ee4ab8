#!/usr/bin/env python3
"""Maintain tools/bench_anchors.json — the per-query best-ever wall
clocks (CLEAN runs only) that graft.Bench reads to emit its per-query
`inflation` self-annotation (r13 post-mortem: a contaminated record
should label itself row-by-row, not wait for a human to re-measure).

Usage: pipe or point at a bench stdout capture; the script finds the
per_query line, REFUSES contaminated input (the total line's
contended flag) and a run made at another sf or core count than the
anchors file's (walls scale with both), and min-merges into the
anchors file.

    python3 tools/anchors.py bench_run.out [--anchors tools/bench_anchors.json]
"""
import argparse
import json
import os
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("bench_out", help="file with graft.Bench stdout (or - for stdin)")
    ap.add_argument("--anchors", default="tools/bench_anchors.json")
    ap.add_argument("--force", action="store_true",
                    help="merge even if the run is flagged contended")
    args = ap.parse_args()

    text = sys.stdin.read() if args.bench_out == "-" else open(args.bench_out).read()
    per_query, total = None, None
    for line in text.splitlines():
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            obj = json.loads(line)
        except json.JSONDecodeError:
            continue
        if obj.get("metric") == "per_query":
            per_query = obj
        elif obj.get("metric") == "total":
            total = obj
    if per_query is None:
        sys.exit("no per_query line found")
    if total is not None and total.get("contended") and not args.force:
        sys.exit("run is flagged contended - refusing to anchor inflated walls "
                 "(--force to override)")

    sf = os.path.basename(per_query.get("sf", "").rstrip("/"))
    cpus = per_query.get("cpus")
    if not isinstance(cpus, int):
        sys.exit("per_query line records no cpus - refusing to anchor walls of an "
                 "unknown core count")
    anchors = {"sf": sf, "cpus": cpus, "anchors": {}}
    if os.path.exists(args.anchors):
        anchors = json.load(open(args.anchors))
        if anchors.get("sf") != sf:
            sys.exit(f"anchors file is for sf={anchors.get('sf')}, run is {sf}")
        if anchors.get("cpus") != cpus:
            sys.exit(f"anchors file is for cpus={anchors.get('cpus')}, run is {cpus}")
        if not isinstance(anchors.get("anchors"), dict):
            sys.exit(f"{args.anchors} has no 'anchors' object - refusing to clobber "
                     "a malformed file (fix or delete it)")

    merged, lowered, added = anchors["anchors"], 0, 0
    for name, wall in per_query.get("queries", {}).items():
        if name not in merged:
            merged[name] = round(float(wall), 3)
            added += 1
        elif float(wall) < merged[name]:
            merged[name] = round(float(wall), 3)
            lowered += 1
    anchors["anchors"] = dict(sorted(merged.items()))
    with open(args.anchors, "w") as f:
        json.dump(anchors, f, indent=1)
        f.write("\n")
    print(f"anchors: {len(merged)} total, {added} added, {lowered} lowered -> {args.anchors}")


if __name__ == "__main__":
    main()
