#!/usr/bin/env python3
"""Seeded SARIF 2.1.0 scan generator for the OCSF benchmark workload.

Follows the input shape of FIXTURES.md section 1: runs with a tool
driver (name, semanticVersion, rules with shortDescription and CWE
lists), invocations with startTimeUtc, optional automationDetails, and
results that carry `fingerprints`, `partialFingerprints`, or neither.
Results with neither fingerprint map are location-less, so the UID
generator takes its hash fallback; a few location-less results keep
their fingerprints.

The shares of these result kinds (UID_MIX), of levels, of unlisted
rules, of result-level CWEs and of scans without automationDetails are
assumptions, not measured from real scans. README.md shows how far the
converter and enricher costs move between an all-fingerprint and an
all-hash-fallback corpus (`--uid-mix`).

Layout written under OUT_DIR:

    preload/small/scan_NNNN.sarif  250-result scans of the bulk load
    preload/large/scan_NNNN.sarif  1000-result scans (close to a third of
                                   the bulk load's findings)
    arrivals/scan_NNNN.sarif       one ~250-result scan per new arrival
    malformed.ocsf.json            a truncated OCSF findings array
    manifest.json                  result counts and the arrival schedule

This module owns the arrival schedule: WARM_ARRIVALS untimed arrivals,
then `--timed` timed ones, each with its kind. Every 5th arrival
(`rescan`) re-drops an earlier scan (same file content, so the same
scan_run_id and finding UIDs: the staging upsert replaces those rows).
Slot MALFORMED_SLOT (`malformed`) holds the malformed file. Every other
arrival is a `new` scan.

Results per file stay at 1000 or fewer: at 2000 results per file the
converter runs out of a 7 GB heap (see README.md).

Usage: python3 sarifgen.py OUT_DIR SEED --timed N [--uid-mix MIX]
"""
import argparse
import hashlib
import json
import os
import random
import sys

SMALL_RESULTS = 250
LARGE_RESULTS = 1000
PRELOAD_SMALL_FILES = 9
PRELOAD_LARGE_FILES = 1
WARM_ARRIVALS = 1
RESCAN_EVERY = 5
MALFORMED_SLOT = 2
# Where a result's kind draw lands: below FP_END it has `fingerprints`,
# below PFP_END `partialFingerprints`, below HASH_END neither (hash-
# fallback UID), above it fingerprints without a location. Results
# below LOCATED_END carry a location.
FP_END, LOCATED_END, PFP_END, HASH_END = 0.55, 0.85, 0.85, 0.97
# --uid-mix: the range of the kind draw each corpus maps onto
UID_MIX = {"mixed": (0.0, 1.0), "fingerprint": (0.0, FP_END), "hash": (PFP_END, HASH_END)}

TOOLS = [("csmock", "3.5.0"), ("semgrep", "1.62.0"), ("codeql", "2.16.3"), ("snyk-code", "1.1280.0")]
LEVELS = ["error", "warning", "note", "none", None]
LEVEL_WEIGHTS = [3, 4, 2, 1, 1]
DIRS = ["src/app", "src/db", "src/net", "lib/util", "cmd/server", "internal/auth"]
EXTS = [".c", ".py", ".go", ".java", ".js"]


def hex_digest(*parts):
    return hashlib.sha256("/".join(str(p) for p in parts).encode()).hexdigest()


def make_rules(rng, tool):
    rules = []
    for i in range(20):
        rule = {"id": f"{tool.upper()}-{i:03d}"}
        if rng.random() < 0.8:
            rule["shortDescription"] = {"text": f"{tool} check {i}"}
        if rng.random() < 0.6:
            rule["properties"] = {"cwe": [f"CWE-{rng.randint(20, 999)}"]}
        rules.append(rule)
    return rules


def make_result(rng, seed, scan_id, i, rules, mix):
    if rng.random() < 0.95:
        rule_id = rng.choice(rules)["id"]
    else:
        rule_id = f"UNLISTED-{rng.randint(0, 9)}"
    res = {"ruleId": rule_id}
    level = rng.choices(LEVELS, LEVEL_WEIGHTS)[0]
    if level is not None:
        res["level"] = level
    # unique message text keeps hash-fallback UIDs distinct
    res["message"] = {"text": f"{rule_id} at {scan_id}#{i}"}
    if rng.random() < 0.3:
        res["properties"] = {"cwe": [f"CWE-{rng.randint(20, 999)}"]}
    lo, hi = UID_MIX[mix]
    kind = lo + rng.random() * (hi - lo)
    with_location = kind < LOCATED_END
    if with_location:
        start = rng.randint(1, 4000)
        region = {"startLine": start, "endLine": start + rng.randint(0, 6)}
        if rng.random() < 0.5:
            region["snippet"] = {"text": f"call_{rng.randint(0, 99999)}(x);"}
        path = f"{rng.choice(DIRS)}/file_{rng.randint(0, 400)}{rng.choice(EXTS)}"
        res["locations"] = [{"physicalLocation": {
            "artifactLocation": {"uri": path}, "region": region}}]
    fp = hex_digest(seed, scan_id, i)
    if kind < FP_END or kind >= HASH_END:
        res["fingerprints"] = {"csdiff/v0": fp[:32], "csdiff/v1": fp[32:]}
    elif kind < PFP_END:
        res["partialFingerprints"] = {"primaryLocationLineHash": fp[:40]}
    # else: no location and no fingerprints -> hash-fallback UID
    return res


def make_scan(rng, seed, scan_no, n_results, mix):
    tool, version = TOOLS[scan_no % len(TOOLS)]
    scan_id = f"scan-{seed}-{scan_no}"
    rules = make_rules(rng, tool)
    day = 1 + scan_no % 28
    run = {
        "tool": {"driver": {"name": tool, "semanticVersion": version, "rules": rules}},
        "invocations": [{
            "startTimeUtc": f"2024-03-{day:02d}T{scan_no % 24:02d}:{scan_no % 60:02d}:00Z",
            "endTimeUtc": f"2024-03-{day:02d}T{scan_no % 24:02d}:{scan_no % 60:02d}:30Z",
        }],
        "results": [make_result(rng, seed, scan_id, i, rules, mix) for i in range(n_results)],
    }
    # one scan in eight has no automationDetails: its scan_run_id is
    # derived from the tool name and invocation start time
    if scan_no % 8 != 7:
        run["automationDetails"] = {"id": scan_id}
    return {"version": "2.1.0", "runs": [run]}


def write_scan(out, rng, seed, mix, subdir, scan_no, n_results):
    rel = f"{subdir}/scan_{scan_no:04d}.sarif"
    path = os.path.join(out, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(make_scan(rng, seed, scan_no, n_results, mix), f, separators=(",", ":"))
    return {"path": rel, "findings": n_results}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("seed", type=int)
    ap.add_argument("--timed", type=int, required=True, help="timed arrivals")
    ap.add_argument("--uid-mix", choices=sorted(UID_MIX), default="mixed")
    args = ap.parse_args()
    out, seed, mix = args.out, args.seed, args.uid_mix
    rng = random.Random(seed)
    small = [write_scan(out, rng, seed, mix, "preload/small", n, SMALL_RESULTS)
             for n in range(PRELOAD_SMALL_FILES)]
    large = [write_scan(out, rng, seed, mix, "preload/large", PRELOAD_SMALL_FILES + n, LARGE_RESULTS)
             for n in range(PRELOAD_LARGE_FILES)]
    fresh, schedule = [], []
    for slot in range(WARM_ARRIVALS + args.timed):
        if slot == MALFORMED_SLOT:
            schedule.append({"kind": "malformed", "path": "malformed.ocsf.json", "findings": 0})
        elif slot % RESCAN_EVERY == RESCAN_EVERY - 1 and fresh:
            schedule.append(dict(rng.choice(fresh), kind="rescan"))
        else:
            # ~250 results: the arrival size varies a little, as real scans do
            entry = write_scan(out, rng, seed, mix, "arrivals", 100 + slot,
                               SMALL_RESULTS + rng.randint(-20, 20))
            fresh.append(entry)
            schedule.append(dict(entry, kind="new"))
    # A findings array cut off mid-document: the monitor's JSON reader
    # cannot parse it and must route it to the corrupt-record path.
    with open(os.path.join(out, "malformed.ocsf.json"), "w") as f:
        f.write('[\n{"class_uid":2007,"finding_info":{"uid":"boann:sast:x:hash:')
    manifest = {"seed": seed, "uid_mix": mix, "preload": {"small": small, "large": large},
                "warm": WARM_ARRIVALS, "arrivals": schedule}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)


if __name__ == "__main__":
    main()
