#!/usr/bin/env python3
"""Regenerates perfbench/oracle_hashes.json, the expected output of every
query_mix card on the benchmark's corpus.

    python3 perfbench/oracle.py

Runs query_mix once with the card outputs written as parquet, then
evaluates each card's oracle SQL with DuckDB over the same corpus files and
compares the two results under the normalisation of tools/compare.py
(cardhash.py). For each card it stores the DuckDB result's hash and row
count and the engine output's digest (Digest.scala), which every benchmark
run checks. A card without an oracle SQL would be stored with its row count
only; all 48 have one. Exits non-zero, writing nothing, when the engine's
output differs from DuckDB's for any card, or when the engine's digests
differ between executions. Needs the Python duckdb package; the benchmark
itself only reads the stored file.
"""
import json
import shutil
import sys
import tempfile
from pathlib import Path

import duckdb

import run
import cardhash


def main():
    cp = run.classpath()
    work_root = run.BUILD / "work"
    work_root.mkdir(parents=True, exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=run.WORK_PREFIX, dir=work_root))
    try:
        out = work / "outputs"
        r = run.launch(cp, "query_mix", 1, 0, 0, work, outputs=out)
        if r["failed"]:
            sys.exit("query_mix failed: " + "; ".join(r["failures"]))
        oracle_sql = json.loads((out / "oracle_sql.json").read_text())
        corpus = run.BUILD / f"corpus-sf{run.SF}"
        con = duckdb.connect()
        for p in sorted(corpus.glob("*.parquet")):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM "
                        f"read_parquet('{p}/*.parquet')")
        cards, bad = {}, []
        # every card ran at least once; the timed ones several times
        for card, digests in sorted(r["values"]["digests"].items()):
            if len(set(digests)) != 1:
                bad.append(f"{card}: digests differ between executions {digests}")
            digest, rows = cardhash.parquet_hash(out / card)
            entry = {"digest": digests[0], "rows": rows}
            if card in oracle_sql:
                want, want_rows = cardhash.frame_hash(
                    con.execute(oracle_sql[card]).fetchdf())
                if (want, want_rows) != (digest, rows):
                    bad.append(f"{card}: engine {rows} rows, DuckDB {want_rows} rows")
                entry["duckdb_sha256"] = want
            cards[card] = entry
        if bad:
            sys.exit("engine output differs from DuckDB:\n" + "\n".join(bad))
        run.ORACLE_FILE.write_text(json.dumps(
            {"sf": run.SF, "duckdb": duckdb.__version__, "cards": cards},
            indent=1, sort_keys=True) + "\n")
        print(f"{len(cards)} cards, {sum('duckdb_sha256' in c for c in cards.values())} "
              f"with a DuckDB oracle -> {run.ORACLE_FILE}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
