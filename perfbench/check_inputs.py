"""Compare the benchmark's generated inputs with a directory of the
repository's test data (one ``<table>.parquet`` file per table).

    python3 perfbench/check_inputs.py DATA_DIR [--seed 1]

The scale factor comes from DATA_DIR's lineitem row count (6M x sf). For
every table the check compares the parquet footers of the test data with
those of the generated table, written as a run writes it: the row count,
the row-group count and each column's physical and logical type (so a
timestamp's unit too). It also prints each column's null count, min/max and
distinct count on both sides, how many documents rows have
``n_chars != len(text)``, and whether ``events.ts`` rises with ``event_id``.
Exit code 1 if a count or a type differs.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen


def footer(path: str) -> dict:
    f = pq.ParquetFile(path)
    cols = {
        f.schema.column(i).path: (
            f.schema.column(i).physical_type, str(f.schema.column(i).logical_type)
        )
        for i in range(len(f.schema))
    }
    return {"rows": f.metadata.num_rows, "row_groups": f.metadata.num_row_groups,
            "columns": cols}


def profile(col) -> str:
    try:
        mm = pc.min_max(col).as_py()
        span = f"[{mm['min']}, {mm['max']}]"
    except Exception:  # lists have no order
        span = "-"
    try:
        distinct = pc.count_distinct(col).as_py()
    except Exception:
        distinct = "-"
    return f"nulls={col.null_count} range={span[:80]} distinct={distinct}"


def n_chars_disagree(tbl) -> int:
    lens = pc.utf8_length(tbl["text"]).cast("int64")
    return pc.sum(pc.not_equal(lens, tbl["n_chars"])).as_py() or 0


def ts_rises(tbl) -> bool:
    ts = tbl.sort_by("event_id")["ts"].cast("int64").to_numpy()
    return bool(np.all(np.diff(ts) >= 0))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("data_dir")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    sf = pq.ParquetFile(os.path.join(args.data_dir, "lineitem.parquet")).metadata.num_rows / 6e6
    gen = datagen.generate(args.seed, sf)
    bad = 0
    scratch = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as tmp:
        datagen.write_landing(gen, tmp)
        for t in datagen.TABLES:
            real_path = os.path.join(args.data_dir, f"{t}.parquet")
            real, ours = footer(real_path), footer(os.path.join(tmp, f"{t}.parquet"))
            print(f"{t}: rows {real['rows']} / {ours['rows']}, "
                  f"row groups {real['row_groups']} / {ours['row_groups']}")
            for key in ("rows", "row_groups", "columns"):
                if real[key] != ours[key]:
                    bad += 1
                    print(f"  MISMATCH {key}: test data {real[key]} / generated {ours[key]}")
            real_tbl = pq.read_table(real_path)
            for c in real_tbl.column_names:
                types = [v for k, v in real["columns"].items() if k.split(".")[0] == c]
                print(f"  {c} {' / '.join(f'{p} {lt}' for p, lt in types)}")
                print(f"    test data  {profile(real_tbl[c])}")
                if c in gen[t].column_names:
                    print(f"    generated  {profile(gen[t][c])}")
            if t == "documents":
                print(f"  n_chars != len(text): test data {n_chars_disagree(real_tbl)} rows, "
                      f"generated {n_chars_disagree(gen[t])} rows")
            if t == "events":
                print(f"  ts rises with event_id: test data {ts_rises(real_tbl)}, "
                      f"generated {ts_rises(gen[t])}")
    print("inputs match the test data's footers" if not bad else f"{bad} mismatches")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
