#!/usr/bin/env python3
"""Local differential harness mimicking the driver's correctness gate.

Usage: python3 tools/check.py [sfDir] [outDir] [--skip-verify] [names...]

1. sbt "runMain graft.Verify <sfDir> <outDir>"  (unless --skip-verify)
2. For each query: load Spark parquet result + run the oracle SQL in
   DuckDB over the same tables; sort columns by name, sort rows, compare
   values (timestamps as epoch-ms, exact floats).

Each query is compared in a process of its own, with its own DuckDB
connection, under a watchdog: a comparison that runs longer than
TIMEOUT_S or whose resident memory passes RSS_CAP is killed and counts
as a FAIL with the reason, so one oracle can neither stall the run nor
hide the others.
"""
import json
import math
import multiprocessing
import os
import shutil
import subprocess
import sys
import tempfile
import time
from datetime import datetime, date
from decimal import Decimal
from pathlib import Path

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# Watchdog limits per comparison, above DuckDB's own 6 GB memory_limit
# (see connect): wall time in seconds and resident memory in bytes.
TIMEOUT_S = 600
RSS_CAP = 7 * 2**30


def norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime):
        return int(v.timestamp() * 1000) if v.tzinfo is None else int(v.timestamp() * 1000)
    if isinstance(v, date):
        return str(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return [cols[i] for i in order], out


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    skip_verify = "--skip-verify" in sys.argv
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    out_dir = args[1] if len(args) > 1 else "/tmp/verify_out"
    only = set(args[2:])

    if not skip_verify:
        r = subprocess.run(
            ["sbt", "--error", f'runMain graft.Verify {sf_dir} {out_dir}'],
            cwd=Path(__file__).resolve().parents[1], capture_output=True, text=True)
        sys.stdout.write(r.stdout[-4000:])
        sys.stderr.write(r.stderr[-4000:])
        if r.returncode != 0:
            print("VERIFY FAILED rc", r.returncode)
            return 1
    return compare(sf_dir, out_dir, only)


def connect(sf_dir, spill_dir):
    # A fixed memory cap with a spill directory: DuckDB's default cap
    # (80% of the host's RAM) let a recursive-CTE oracle take the whole
    # machine; under the cap, large intermediates spill to disk. 4 GB
    # is too little for ddp_corpus_prepare_emb's oracle (two recursive
    # closures). evt_burst_detect's recursive CTE still grows past the
    # cap: the cap does not bound that oracle, the watchdog does.
    con = duckdb.connect(config={"memory_limit": "6GB", "temp_directory": spill_dir})
    for t in TABLES:
        sel = "*"
        if t == "events":
            # scale-up corpora (make_scaleup.py) store ts as raw int64
            # nanos; mirror graft.Tables.events' truncation to micros
            (ts_type,) = [
                r[1] for r in con.execute(
                    f"DESCRIBE SELECT ts FROM read_parquet('{sf_dir}/{t}.parquet')").fetchall()
            ]
            if ts_type == "BIGINT":
                sel = "* REPLACE (make_timestamp(ts // 1000) AS ts)"
        con.execute(f"CREATE VIEW {t} AS SELECT {sel} FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def compare_one(sf_dir, out_dir, name, sql, spill_dir):
    """One gate's verdict: ("PASS"|"FAIL"|"SKIP", line)."""
    con = connect(sf_dir, spill_dir)
    try:
        try:
            rel = con.execute(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            got_cols = [dd[0] for dd in rel.description]
            got = rel.fetchall()
        except Exception as e:
            return "FAIL", f"FAIL {name}: cannot read spark result: {e}"
        if sql is None:
            return "SKIP", f"SKIP {name}: no oracle ({len(got)} rows)"
        try:
            # Single execution via arrow: rows AND schema from one
            # materialization. Driver's hash is type-sensitive: a
            # DuckDB HUGEINT/DECIMAL column (e.g. SUM(BIGINT),
            # count_if) surfaces as decimal128 in the driver's
            # arrow-level compare and hash-mismatches Spark's int64
            # even when values agree; fetchall() would hide that
            # (HUGEINT -> plain int), so the guard reads arrow types.
            tbl = con.execute(sql).fetch_arrow_table()
            arrow_schema = tbl.schema
            exp_cols = tbl.column_names
            exp = [tuple(d[c] for c in exp_cols) for d in tbl.to_pylist()]
        except Exception as e:
            return "FAIL", f"FAIL {name}: oracle error: {e}"
        dec_cols = [f.name for f in arrow_schema
                    if str(f.type).startswith("decimal")]
        if dec_cols:
            return "FAIL", (f"FAIL {name}: oracle returns decimal-typed column(s) {dec_cols} — "
                            "add CAST(... AS BIGINT/DOUBLE) in oracle SQL")
        gc, g = canon(got_cols, got)
        ec, e = canon(exp_cols, exp)
        if gc != ec:
            return "FAIL", f"FAIL {name}: columns differ spark={gc} duck={ec}"
        if len(g) != len(e):
            return "FAIL", f"FAIL {name}: rowcount spark={len(g)} duck={len(e)}"
        bad = [(a, b) for a, b in zip(g, e) if a != b]
        if bad:
            return "FAIL", f"FAIL {name}: {len(bad)}/{len(g)} rows differ; first: spark={bad[0][0]} duck={bad[0][1]}"
        if len(g) == 0:
            return "PASS", f"WARN {name}: PASS but 0 rows (weak test)"
        return "PASS", f"PASS {name} ({len(g)} rows)"
    finally:
        con.close()


def child(conn, sf_dir, out_dir, name, sql, spill_dir):
    try:
        conn.send(compare_one(sf_dir, out_dir, name, sql, spill_dir))
    except Exception as e:
        conn.send(("FAIL", f"FAIL {name}: comparison error: {e}"))
    finally:
        conn.close()


def rss_bytes(pid):
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def watched(sf_dir, out_dir, name, sql):
    """compare_one in a child process, killed past the wall-time or RSS cap.
    The spill directory belongs to this process, so a killed child's
    spill files are removed too."""
    spill_dir = tempfile.mkdtemp(prefix="check_duckdb_spill_")
    ctx = multiprocessing.get_context("fork")
    recv, send = ctx.Pipe(duplex=False)
    p = ctx.Process(target=child, args=(send, sf_dir, out_dir, name, sql, spill_dir))
    p.start()
    send.close()
    deadline = time.monotonic() + TIMEOUT_S
    reason = None
    while not recv.poll(0.2):
        if not p.is_alive():
            break
        if time.monotonic() > deadline:
            reason = f"did not finish within {TIMEOUT_S} s"
        elif rss_bytes(p.pid) > RSS_CAP:
            reason = f"resident memory passed {RSS_CAP / 2**30:.0f} GB"
        if reason:
            p.kill()
            break
    verdict = None
    if reason is None:
        try:
            verdict = recv.recv()
        except EOFError:
            pass
    p.join()
    recv.close()
    shutil.rmtree(spill_dir, ignore_errors=True)
    if reason:
        return "FAIL", f"FAIL {name}: watchdog killed the comparison: {reason}"
    if verdict is None:
        return "FAIL", f"FAIL {name}: comparison process died (exit code {p.exitcode})"
    return verdict


def compare(sf_dir, out_dir, only):
    oracle = json.loads(Path(out_dir, "oracle_sql.json").read_text())
    counts = {"PASS": 0, "FAIL": 0, "SKIP": 0}
    dump_dirs = sorted(p.name for p in Path(out_dir).iterdir() if p.is_dir())
    for name in dump_dirs:
        if only and name not in only:
            continue
        verdict, line = watched(sf_dir, out_dir, name, oracle.get(name))
        print(line, flush=True)
        counts[verdict] += 1
    # A named gate with no dump was never compared: a typo, or a stale
    # dump under --skip-verify. It fails rather than passing unseen.
    for name in sorted(only - set(dump_dirs)):
        print(f"FAIL {name}: not dumped", flush=True)
        counts["FAIL"] += 1
    n_pass, n_fail, n_skip = counts["PASS"], counts["FAIL"], counts["SKIP"]
    print(f"== {n_pass} pass, {n_fail} fail, {n_skip} no-oracle ==")
    # Loud-fail on a silently-empty/thin record (the round-15 incident:
    # CORRECTNESS_r15.json recorded "{}" while the suite actually passed).
    # Without an explicit name filter, every oracle-bearing gate must have
    # been compared — anything less means the dump or the compare loop
    # silently dropped work, which must be a hard failure, not a quiet 0.
    if not only and not os.environ.get("SPARK_GRAFT_ONLY"):
        if len(oracle) == 0:
            print("HARD FAIL: oracle_sql.json is empty — no gates compared")
            return 2
        compared = n_pass + n_fail
        if compared < len(oracle):
            print(f"HARD FAIL: compared {compared} gates but oracle registers "
                  f"{len(oracle)} — thin record (missing dumps?)")
            return 2
        if len(dump_dirs) < len(oracle):
            print(f"HARD FAIL: only {len(dump_dirs)} dump dirs for "
                  f"{len(oracle)} oracle entries")
            return 2
    return 0 if n_fail == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
