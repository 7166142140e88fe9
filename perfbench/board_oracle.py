"""DuckDB oracle check of the query board's row results.

Each row's result (parquet written by the benchmark JVM) must equal the
row's oracle SQL (`SparkEntry.oracleSql`) run by DuckDB over the same
tables, compared with the canonicalisation of `scripts/check_oracle.py`:
columns and rows sorted, integer and float widths folded, exact values.
"""
import glob
import json
import os
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
from check_oracle import TABLES, canonical_dtypes, normalize  # noqa: E402


def compare(tables_dir, results_dir, oracle_json):
    """List of mismatch messages (empty when every row matches)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    oracle = json.loads(Path(oracle_json).read_text())
    errors = []
    for name in sorted(os.listdir(results_dir)):
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        if name not in oracle:
            errors.append(f"{name}: no oracle SQL")
            continue
        try:
            exp = con.execute(oracle[name]).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            errors.append(f"{name}: oracle SQL error: {e}")
            continue
        g, e = normalize(got), normalize(exp)
        if list(g.columns) != list(e.columns):
            errors.append(f"{name}: columns {list(g.columns)} != {list(e.columns)}")
        elif len(g) != len(e):
            errors.append(f"{name}: {len(g)} rows != {len(e)}")
        elif canonical_dtypes(g) != canonical_dtypes(e):
            errors.append(f"{name}: dtypes {list(g.dtypes)} != {list(e.dtypes)}")
        else:
            try:
                pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
            except AssertionError as ex:
                errors.append(f"{name}: {str(ex).splitlines()[0][:200]}")
    return errors
