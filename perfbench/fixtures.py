"""Fixture tables for the query_mix workload, and their expected results.

The registered queries read the ten parquet tables of the library's
fixture set (catalog.TABLES).  query_mix reads the sf0.01 tables: the
`sf0.01` directory next to the catalog's default one
(catalog.DEFAULT_SF_DIR).  Each query's DuckDB oracle runs once per
checkout and data version, in a child process, so the measured process
never loads DuckDB.  The expected row count, columns, dtypes and
order-insensitive value hash are cached under perfbench/.data.

    python3 perfbench/fixtures.py --sf-dir DIR --out FILE QUERY_ID...
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
SCALE = "sf0.01"


def sf_dir() -> str:
    """The fixture directory query_mix reads."""
    from pei_nwdaf_data_ingestion_spark import catalog

    path = os.path.join(os.path.dirname(catalog.DEFAULT_SF_DIR), SCALE)
    missing = [t for t in catalog.TABLES
               if not os.path.exists(os.path.join(path, f"{t}.parquet"))]
    if missing:
        raise FileNotFoundError(f"fixture tables {missing} not found in {path}")
    return path


def value_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive value hash: columns by name, floats as %.9g,
    records sorted (the convention of tools/driver_sim.py)."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    recs = []
    for row in pdf.itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, (list, np.ndarray)):
                v = list(v)
            if isinstance(v, float):
                v = f"{v:.9g}"
            vals.append(str(v))
        recs.append("\x1f".join(vals))
    recs.sort()
    return hashlib.sha256("\x1e".join(recs).encode()).hexdigest()[:16]


def describe(pdf: pd.DataFrame) -> dict:
    return {"rows": len(pdf), "columns": sorted(pdf.columns),
            "dtypes": {c: str(pdf[c].dtype) for c in sorted(pdf.columns)},
            "hash": value_hash(pdf)}


def oracle_results(path: str, oracles: dict) -> dict:
    import duckdb

    from pei_nwdaf_data_ingestion_spark import catalog

    con = duckdb.connect()
    try:
        for t in catalog.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(path, t + '.parquet')}')")
        return {name: describe(con.execute(sql).df()) for name, sql in oracles.items()}
    finally:
        con.close()


def _data_version(path: str, query_ids) -> str:
    """Changes when a table file or the query list changes."""
    from pei_nwdaf_data_ingestion_spark import catalog

    h = hashlib.sha256(json.dumps(sorted(query_ids)).encode())
    for t in catalog.TABLES:
        st = os.stat(os.path.join(path, f"{t}.parquet"))
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def expected(path: str, query_ids) -> dict:
    """Expected result of each query id on the tables in `path`, from the
    cache or from a child process that runs the DuckDB oracles."""
    out = os.path.join(HERE, ".data", f"expected-{_data_version(path, query_ids)}.json")
    if not os.path.exists(out):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        subprocess.run([sys.executable, os.path.abspath(__file__), "--sf-dir", path,
                        "--out", out, *query_ids], check=True, timeout=600)
    with open(out) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="expected query_mix results")
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("query_ids", nargs="+")
    args = ap.parse_args(argv)
    sys.path.insert(0, os.path.dirname(HERE))
    from pei_nwdaf_data_ingestion_spark import registry

    registry.load_all()
    results = oracle_results(args.sf_dir, {q: registry.ORACLES[q] for q in args.query_ids})
    tmp = args.out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
    os.replace(tmp, args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
