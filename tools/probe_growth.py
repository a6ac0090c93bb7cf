#!/usr/bin/env python
"""Best-of-5 idle-box growth re-measure for named query ids (the watch-
clearing discipline from VERDICT r11 item 3 / r12 items 1-2): warm both
scales under bench conditions (cache on, shuffle=8, AQE per bench.AQE_ON),
time each id best-of-5 at sf0.1 and at the sf1 decade, and print the
floor-adjusted exponent of bench.growth.

Usage: python tools/probe_growth.py [--fold] <query-id>...

--fold writes each id's best-of-5 idle measurement into
tools/growth_ledger.json at the CURRENT _seq with an
"idle_remeasure": true marker - the principled correction channel for
readings the bench took on a degraded box: the ledger's purpose is
accurate exponents, and a documented idle best-of-5 beats a
contaminated best-of-2.  Non-fold runs only print.
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ["SPARK_GRAFT_CACHE"] = "1"

import bench  # noqa: E402  (repo root on path)
from pei_nwdaf_data_ingestion_spark import registry  # noqa: E402
from pei_nwdaf_data_ingestion_spark.session import get_spark  # noqa: E402

registry.load_all()
args = sys.argv[1:]
FOLD = "--fold" in args
names = [a for a in args if a != "--fold"]
if not names:
    sys.exit("usage: probe_growth.py [--fold] <query-id>...")

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
HI = os.environ.get("SPARK_GRAFT_SF_HI_DIR") or os.path.join(
    bench.REPO_DIR, "testdata_sf1", "sf1"
)
# the exponent denominator comes from the ACTUAL scale pair (ADVICE r13:
# a hardcoded log(10) silently mis-scales the exponent whenever the env
# vars point at a non-decade pair)
ratio = bench.scale_ratio(BASE, HI)
if ratio is None:
    sys.exit(f"probe_growth: bad scale pair {BASE!r} -> {HI!r}")
if FOLD and not bench.folds_ledger(BASE, HI):
    sys.exit(f"probe_growth: --fold needs the ledger's sf0.1 -> sf1 pair, got {BASE!r} -> {HI!r}")

spark = get_spark(app_name="probe_growth", shuffle_partitions=8)
for d in (BASE, HI):
    bench.warm_tables(spark, d)
bench.time_query(spark, "agg_global", BASE, runs=1)

floor = bench.time_calibration(spark)
print(f"calibration floor: {floor:.4f} s")

results = {}
for name in names:
    t_lo = bench.time_query(spark, name, BASE, runs=5)
    t_hi = bench.time_query(spark, name, HI, runs=5)
    if not (isinstance(t_lo, float) and isinstance(t_hi, float)):
        print(f"{name}: t_lo={t_lo} t_hi={t_hi}")
        continue
    g = bench.growth(t_lo, t_hi, ratio, floor)
    results[name] = (t_lo, t_hi, g)
    print(f"{name}: t_lo={t_lo:.4f}s t_hi={t_hi:.4f}s exponent={g:.3f}")

if FOLD:
    with open(bench.LEDGER_PATH) as fh:
        ledger = json.load(fh)
    for name, (t_lo, t_hi, g) in results.items():
        ledger[name] = {
            "seq": int(ledger.get("_seq", 0)),
            "exponent": g,
            "t_base": t_lo,
            "t_hi": t_hi,
            "idle_remeasure": True,
        }
    with open(bench.LEDGER_PATH, "w") as fh:
        json.dump(ledger, fh, indent=1, sort_keys=True)
    print(f"folded {len(results)} idle re-measures into {bench.LEDGER_PATH}")
