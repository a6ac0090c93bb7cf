#!/usr/bin/env python
"""Derive deterministic sf1 fixtures from the driver's sf0.1 tables
(VERDICT r8 item 3: the sf0.01->sf0.1 growth sweep is floor-dominated on
the cheap shapes; at sf1 - 6M-row lineitem - the scheduler floor is noise
and the exponents measure data scaling).

/root/testdata is read-only and TESTDATA.md carries no generation recipe,
so sf1 is defined as a 10x key-shifted replication of sf0.1 that preserves
each query family's per-unit-of-data work:

- facts (lineitem/orders/events/documents/embeddings/customer) get 10
  replicas with disjoint key ranges (key + k*OFFSET) so join fan-outs,
  group cardinalities and session structures scale linearly;
- document TEXT is Caesar-shifted per replica (letters only, a bijection
  on tokens): within-replica token-set structure - near-dup pairs, Zipf
  shape, token lengths, n_chars - is preserved EXACTLY, while replicas
  share no tokens, so the near-dup pair space grows 10x, never 100x
  (naive text copies would make every replica pair a near-duplicate and
  manufacture a quadratic blowup the real corpus does not have);
- embeddings are cyclically rotated per replica (norms and within-replica
  cosines preserved exactly; cross-replica cosines decorrelate); the
  vec_id=0 probe row stays unique to replica 0;
- dims that the queries only ever broadcast (region/nation/part/supplier)
  are copied unchanged.

Pure function of the inputs - no RNG, no timestamps - so regenerating
always yields byte-identical tables.  Output is gitignored (~200 MB);
regenerate with `python tools/gen_sf1.py` (~1 min).
"""

from __future__ import annotations

import argparse
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# key column -> per-replica offset (disjoint ranges; asserted below)
KEY_SHIFTS = {
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "lineitem": {"l_orderkey": 10_000_000},
    "events": {"event_id": 10_000_000, "user_id": 1_000_000},
    "documents": {"doc_id": 1_000_000},
    "embeddings": {"vec_id": 1_000_000},
    "customer": {"c_custkey": 1_000_000},
}
COPY_ONLY = {"region", "nation", "part", "supplier"}


# multipliers coprime with 26 for the affine letter map below; index 0
# (a=1) makes replicas 1..25 pure Caesar shifts, so sf1 (factor 10)
# regenerates byte-identical to every earlier round's fixtures
_AFFINE_A = [1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25]


def _caesar_table(k: int) -> dict:
    """str.translate table for the affine letter bijection
    i -> (a*i + k) mod 26 on a-z / A-Z (a coprime with 26, chosen by
    k // 26).  A plain Caesar shift only has 25 non-identity values: at
    factor > 26 replica k and replica k-26 would share every token,
    making all their documents mutual near-duplicates and manufacturing
    a quadratic pair blow-up the real corpus does not have.  The affine
    family gives 312 distinct bijections - enough for the sf3 fixtures
    (factor 30) and far beyond - while preserving within-replica token
    structure exactly, like the Caesar map it generalizes."""
    a = _AFFINE_A[(k // 26) % len(_AFFINE_A)]
    src = "abcdefghijklmnopqrstuvwxyz"
    t = {}
    for base in (src, src.upper()):
        for i, ch in enumerate(base):
            t[ord(ch)] = ord(base[(a * i + k) % 26])
    return t


def _replicate(tbl: pa.Table, name: str, factor: int) -> pa.Table:
    shifts = KEY_SHIFTS.get(name, {})
    for col, off in shifts.items():
        mx = pc.max(tbl.column(col)).as_py()
        assert mx < off, f"{name}.{col} max {mx} >= replica offset {off}"
    parts = [tbl]
    emb_np = None
    if name == "embeddings":
        import numpy as np

        lens = pc.list_value_length(tbl.column("embedding"))
        dim = pc.max(lens).as_py()
        assert pc.min(lens).as_py() == dim, "ragged embeddings"
        flat = tbl.column("embedding").combine_chunks()
        emb_np = np.asarray(flat.flatten()).reshape(-1, dim)
    for k in range(1, factor):
        cols = {}
        base = tbl
        keep = None
        if name == "embeddings":
            # the probe row (vec_id=0) exists once, in replica 0 only
            keep = pc.not_equal(tbl.column("vec_id"), 0)
            base = tbl.filter(keep)
        for cname in tbl.column_names:
            col = base.column(cname)
            if cname in shifts:
                col = pc.add(col, shifts[cname] * k)
            elif name == "documents" and cname == "text":
                table = _caesar_table(k)
                col = pa.array(
                    [
                        None if s is None else s.translate(table)
                        for s in col.to_pylist()
                    ],
                    pa.string(),
                )
            elif name == "embeddings" and cname == "embedding":
                import numpy as np

                rolled = np.roll(emb_np, k, axis=1)
                if keep is not None:
                    rolled = rolled[np.asarray(keep)]
                col = pa.FixedSizeListArray.from_arrays(
                    pa.array(rolled.ravel(), pa.float32()), rolled.shape[1]
                ).cast(tbl.schema.field("embedding").type)
            cols[cname] = col
        parts.append(pa.table(cols, schema=tbl.schema))
    return pa.concat_tables(parts)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--out",
        default=os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "testdata_sf1",
            "sf1",
        ),
    )
    ap.add_argument("--factor", type=int, default=10)
    args = ap.parse_args(argv)
    os.makedirs(args.out, exist_ok=True)
    for t in TABLES:
        tbl = pq.read_table(os.path.join(args.src, f"{t}.parquet"))
        out = tbl if t in COPY_ONLY else _replicate(tbl, t, args.factor)
        pq.write_table(
            out,
            os.path.join(args.out, f"{t}.parquet"),
            row_group_size=131072,
        )
        print(f"{t}: {tbl.num_rows} -> {out.num_rows}")


if __name__ == "__main__":
    main()
