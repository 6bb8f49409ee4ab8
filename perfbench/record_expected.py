#!/usr/bin/env python3
"""Re-record perfbench/expected/operator_suite.tsv.

Not part of a benchmark run. Use it when the operator_suite slice or a
query's result legitimately changes:

    python3 perfbench/record_expected.py [seed...]

For each seed it runs the suite in recording mode, which writes every
query's row count and content hash and dumps every result as parquet
with the oracle SQL. Each dump is then compared with DuckDB running the
oracle SQL over the same tables, through tools/check.py's normalisation
(columns sorted by name, rows sorted, timestamps as epoch ms, exact
floats). The file is written only if every query with an oracle
matches, and every recording run gives the same counts and hashes.
"""
import importlib.util
import json
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
DATA = BENCH / "data" / "sf0.01"
OUT = BENCH / "expected" / "operator_suite.tsv"


def load_check():
    spec = importlib.util.spec_from_file_location("check", ROOT / "tools" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(check, dump):
    import duckdb
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
    oracle = json.loads((dump / "oracle_sql.json").read_text())
    verdicts = {}
    for d in sorted(p for p in dump.iterdir() if p.is_dir()):
        rel = con.execute(f"SELECT * FROM read_parquet('{d}/*.parquet')")
        got = check.canon([c[0] for c in rel.description], rel.fetchall())
        if d.name not in oracle:
            verdicts[d.name] = "no-oracle"
            continue
        tbl = con.execute(oracle[d.name]).fetch_arrow_table()
        exp = check.canon(tbl.column_names,
                          [tuple(r[c] for c in tbl.column_names) for r in tbl.to_pylist()])
        verdicts[d.name] = "pass" if got == exp else "FAIL"
    return verdicts


def main():
    seeds = [int(s) for s in sys.argv[1:]] or [1, 2]
    check = load_check()
    outdir = ROOT / ".bench_build" / "record"
    recorded = None
    for seed in seeds:
        shutil.rmtree(outdir, ignore_errors=True)
        outdir.mkdir(parents=True)
        r = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", "operator_suite",
                            "--seed", str(seed), "--seconds", "1", "--trace", "0",
                            "--record", str(outdir)], stdout=subprocess.DEVNULL)
        if r.returncode != 0:
            sys.exit(f"recording run failed (seed {seed})")
        verdicts = compare(check, outdir / "dump")
        for name, v in sorted(verdicts.items()):
            print(f"seed {seed}: {v:9s} {name}")
        if "FAIL" in verdicts.values():
            sys.exit("a query disagrees with its DuckDB oracle: nothing recorded")
        lines = (outdir / "operator_suite.tsv").read_text().splitlines()
        if recorded is not None and lines != recorded:
            sys.exit("counts or hashes differ between runs: nothing recorded")
        recorded = lines
    no_oracle = sorted(n for n, v in verdicts.items() if v == "no-oracle")
    header = ["# query\trows\tcontent hash (see Harness.hashColumn)",
              "# every query matched its DuckDB oracle through tools/check.py's normalisation"]
    if no_oracle:
        header.append("# no oracle (hash recorded from the run): " + ", ".join(no_oracle))
    OUT.write_text("\n".join(header + recorded) + "\n")
    shutil.rmtree(outdir, ignore_errors=True)
    print(f"wrote {OUT.relative_to(ROOT)}: {len(recorded)} queries")


if __name__ == "__main__":
    main()
