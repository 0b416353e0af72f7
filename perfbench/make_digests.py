#!/usr/bin/env python3
"""Derive the llm_pipeline queries' expected result digests from their
DuckDB oracle SQL and store them in perfbench/expected_digests.json.

    python3 perfbench/make_digests.py [sfDir]

Run from the repository root. The digest is taken over tools/check.py's
canonical form (columns sorted by name, rows sorted, floats rounded to
9 decimals), the same form run.py computes from the Spark output.
"""
import json
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

sf = sys.argv[1] if len(sys.argv) > 1 else run.SF_DIR
cp = run.build()
work = run.BUILD / "digests"
work.mkdir(parents=True, exist_ok=True)
code, log = run.jvm(cp, "perfbench.OracleDump", [str(work / "oracle.json")], work, 600)
if code != 0:
    sys.exit(log)
oracle = json.loads((work / "oracle.json").read_text())
con = duckdb.connect()
con.execute("SET preserve_insertion_order=false")
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
path = run.BENCH / "expected_digests.json"
stored = json.loads(path.read_text()) if path.exists() else {}
entry = {}
for name, sql in sorted(oracle.items()):
    cols, rows = run.canon(con.sql(sql))
    entry[name] = {"digest": run.digest(cols, rows), "rows": len(rows)}
    print(f"{name}: {len(rows)} rows {entry[name]['digest'][:12]}")
stored[Path(sf).name] = entry
path.write_text(json.dumps(stored, indent=1, sort_keys=True) + "\n")
