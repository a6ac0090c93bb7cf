"""Driver simulation: vanilla SparkSession, sf0.01, every oracled query
hash-compared against DuckDB (order-insensitive, dtype-exact).  At the
scale tools/rows_only_digests.json was pinned at (its `_sf_dir`), every
oracle-less id's result_digest and row count must equal its pin.

Usage: python tools/driver_sim.py [query-id ...]
Ids on the command line run only those queries through the same compare
(the targeted probe); no ids runs the whole gate."""
import os, sys, time, hashlib, json
import duckdb
import pandas as pd
import numpy as np
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as e
from pei_nwdaf_data_ingestion_spark.session import CODEGEN_CACHE_ENTRIES

SF = os.environ.get("DRIVER_SIM_SF_DIR", "/root/testdata/sf0.01")
with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "rows_only_digests.json")) as _fh:
    _pins = json.load(_fh)
# the pins hold only at the scale they were recorded at
PINS = _pins if _pins["_sf_dir"] == SF else {}
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# DRIVER_SIM_CORES / DRIVER_SIM_PARTITIONS override the layout: running
# the whole gate under a different core count + shuffle width (e.g. 3/3)
# is the partitioning-invariance probe - any result that depends on task
# layout, partition count or per-partition fold order fails the rerun.
_CORES = os.environ.get("DRIVER_SIM_CORES", "8")
_PARTS = os.environ.get("DRIVER_SIM_PARTITIONS", "8")
_builder = (
    SparkSession.builder.master(f"local[{_CORES}]")
    .config("spark.sql.shuffle.partitions", _PARTS)
    .config("spark.sql.session.timeZone", "America/New_York")  # non-UTC probe
    .config("spark.driver.memory", "8g")
    # the library's generated-class cache size (session.py): at Spark's
    # default of 100, ids sharing a pipeline shape recompile it (one pass
    # over the registry compiled 4,912 classes at 100, 3,764 at the size)
    .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
)
# DRIVER_SIM_CONF="k=v,k=v" layers arbitrary session confs on top - e.g.
# spark.sql.adaptive.enabled=false is the AQE-off invariance probe (results
# must not depend on runtime re-planning / coalescing decisions)
for _kv in filter(None, os.environ.get("DRIVER_SIM_CONF", "").split(",")):
    _k, _, _v = _kv.partition("=")
    _builder = _builder.config(_k.strip(), _v.strip())
spark = _builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

ddb = duckdb.connect()
for t in TABLES:
    ddb.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

# smoke: entry()
df = e.entry(spark)
rows = df.collect()
print(f"entry(): {len(rows)} rows, schema={[f.name for f in df.schema.fields]}")
assert len(rows) > 0

def vhash(pdf: pd.DataFrame) -> str:
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

qs, os_ = e.queries(), e.oracle_sql()
names = sys.argv[1:] or sorted(qs)
fail = []
for name in names:
    t0 = time.time()
    if name not in qs:
        fail.append((name, "unknown query id"))
        print(f"FAIL {name}: unknown query id")
        continue
    try:
        sdf = qs[name](spark, SF).toPandas()
    except Exception as ex:
        fail.append((name, f"SPARK ERROR {ex}"))
        print(f"FAIL {name}: spark error {ex}")
        continue
    if name not in os_:
        pin = PINS.get(name)
        if pin is None:
            print(f"ok(rows-only) {name}: {len(sdf)} rows  {time.time()-t0:.1f}s")
            continue
        got = {
            "result_digest": sdf["result_digest"].iloc[0] if len(sdf) else None,
            "rows": len(sdf),
        }
        if got != pin:
            fail.append((name, f"pin mismatch {got} vs {pin}"))
            print(f"FAIL {name}: pin mismatch {got} vs {pin}")
        else:
            print(f"ok(pinned) {name}: {len(sdf)} rows  {time.time()-t0:.1f}s")
        continue
    try:
        odf = ddb.execute(os_[name]).df()
    except Exception as ex:
        fail.append((name, f"ORACLE ERROR {ex}"))
        print(f"FAIL {name}: oracle error {ex}")
        continue
    problems = []
    if len(sdf) != len(odf):
        problems.append(f"rowcount {len(sdf)} vs {len(odf)}")
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
    else:
        sd = {c: str(sdf[c].dtype) for c in sdf.columns}
        od = {c: str(odf[c].dtype) for c in odf.columns}
        dt = {c: (sd[c], od[c]) for c in sd if sd[c] != od[c]}
        if dt:
            problems.append(f"dtypes {dt}")
        if vhash(sdf) != vhash(odf):
            problems.append("value-hash mismatch")
    if problems:
        fail.append((name, "; ".join(problems)))
        print(f"FAIL {name}: {'; '.join(problems)}")
    else:
        print(f"ok {name}: {len(sdf)} rows  {time.time()-t0:.1f}s")

print(f"\n{'='*60}\n{len(fail)} failures / {len(names)} queries")
for n, p in fail:
    print(f"  {n}: {p}")
sys.exit(1 if fail else 0)
