#!/usr/bin/env python3
"""Write the ledger workload's fixtures: the first half of the engine's sf0.1
`documents` and `embeddings` tables, by id.

    python3 perfbench/data/make_sample.py <sf0.1 fixture dir>

The two tables are the only ones the ledger's queries read. The sample is
committed next to this script, so a run reads the same rows whatever its
seed; the seed only orders the queries. Half the rows keeps a timed pass
near ten seconds on four cores while leaving each table's shape (text
lengths, language and source shares, near-duplicate documents, label
spread) that of sf0.1.
"""
import sys
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = {"documents": ("doc_id", 2500), "embeddings": ("vec_id", 1000)}


def main():
    src = Path(sys.argv[1])
    out = Path(__file__).resolve().parent
    for name, (key, n) in TABLES.items():
        t = pq.read_table(src / f"{name}.parquet")
        t = t.filter(pc.less(t[key], n)).sort_by(key)
        pq.write_table(t, out / f"{name}.parquet")
        print(f"{name}: {t.num_rows} of {pq.read_metadata(src / f'{name}.parquet').num_rows} rows")


if __name__ == "__main__":
    main()
