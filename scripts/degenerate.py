#!/usr/bin/env python3
"""Build a degenerate copy of a scale-factor directory.

    python3 scripts/degenerate.py <srcDir> <outDir> <table> [<column> <value>]

Every other `<name>.parquet` of <srcDir> is symlinked into <outDir>. The
chosen `<table>.parquet` is written empty (same schema), or, given a column
and a value, filtered to the rows where `column = value` (the value is cast
to the column's type). Prints the table's row count. `graft.Verify` and
`scripts/selfcheck.py` read <outDir> like any sf directory.
"""
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def main(argv):
    if len(argv) not in (4, 6):
        sys.exit(__doc__.strip().splitlines()[2].strip())
    src, out, table = Path(argv[1]), Path(argv[2]), argv[3]
    target = src / f"{table}.parquet"
    if not target.exists():
        sys.exit(f"no table {target}")
    out.mkdir(parents=True, exist_ok=True)
    for p in src.glob("*.parquet"):
        link = out / p.name
        if link.is_symlink() or link.exists():
            link.unlink()
        if p != target:
            link.symlink_to(p.resolve())
    t = pq.read_table(target)
    if len(argv) == 4:
        t = t.slice(0, 0)
    else:
        column = t[argv[4]]
        value = pa.scalar(argv[5]).cast(column.type)
        t = t.filter(pc.equal(column, value))
    pq.write_table(t, out / f"{table}.parquet")
    print(f"{table}: {t.num_rows} rows")


if __name__ == "__main__":
    main(sys.argv)
