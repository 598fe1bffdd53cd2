"""Derive an sf1-scale dataset from sf0.1 by 10x replication with key
shifts (VERDICT r03 #7). Each replica shifts every foreign/primary key by
replica * KEYSPACE so intra-replica join structure is preserved; documents
get a per-replica token appended (so cross-replica near-dup structure is
not 10x exact clones) and embeddings get a per-replica array rotation
(norm-preserving, lands replicas in distinct LSH buckets).

Usage: python tools/make_scale_probe.py [out_dir]   (default .scale_probe/sf1)
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
DEFAULT_OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale_probe", "sf1"
)
REPLICAS = 10
# key spaces (≥ max key at sf0.1, round numbers for debuggability)
K = {
    "orderkey": 1_000_000,
    "partkey": 100_000,
    "suppkey": 10_000,
    "custkey": 100_000,
    "nationkey": 0,  # dims are NOT replicated; FK stays in [0, 25)
    "regionkey": 0,
    "event_id": 1_000_000,
    "user_id": 100_000,
    "doc_id": 100_000,
    "vec_id": 100_000,
}
SHIFT_COLS = {
    "lineitem": {"l_orderkey": "orderkey", "l_partkey": "partkey", "l_suppkey": "suppkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "customer": {"c_custkey": "custkey"},
    "part": {"p_partkey": "partkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "events": {"event_id": "event_id", "user_id": "user_id"},
    "documents": {"doc_id": "doc_id"},
    "embeddings": {"vec_id": "vec_id"},
}


def main(argv: list[str]) -> int:
    # an option-like argument (e.g. --help) is a mistake, not an output path
    if len(argv) > 1 or any(a.startswith("-") for a in argv):
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    out_dir = argv[0] if argv else DEFAULT_OUT
    os.makedirs(out_dir, exist_ok=True)
    for dim in ("region", "nation"):
        pq.write_table(pq.read_table(f"{SRC}/{dim}.parquet"), f"{out_dir}/{dim}.parquet")
    for tname, shifts in SHIFT_COLS.items():
        base = pq.read_table(f"{SRC}/{tname}.parquet")
        reps = []
        for i in range(REPLICAS):
            t = base
            for col, space in shifts.items():
                if K[space]:
                    idx = t.schema.get_field_index(col)
                    t = t.set_column(idx, col, pc.add(t.column(col), i * K[space]))
            if tname == "documents" and i > 0:
                idx = t.schema.get_field_index("text")
                t = t.set_column(
                    idx, "text",
                    pc.binary_join_element_wise(t.column("text"), f" replica{i}", ""),
                )
            if tname == "embeddings" and i > 0:
                emb = base.column("embedding").combine_chunks()
                dim_n = len(emb[0])
                flat = np.asarray(emb.flatten(), dtype=np.float32).reshape(-1, dim_n)
                rolled = np.roll(flat, i, axis=1)
                arr = pa.FixedSizeListArray.from_arrays(
                    pa.array(rolled.ravel(), type=pa.float32()), dim_n
                ).cast(pa.list_(pa.float32()))
                t = t.set_column(t.schema.get_field_index("embedding"), "embedding", arr)
            reps.append(t)
        out = pa.concat_tables(reps).combine_chunks()
        pq.write_table(out, f"{out_dir}/{tname}.parquet", row_group_size=200_000)
        print(tname, out.num_rows)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
