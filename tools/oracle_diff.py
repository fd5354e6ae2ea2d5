#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps query by query under DuckDB.

Usage: python3 tools/oracle_diff.py <sfDir> <old oracle_sql.json> <new oracle_sql.json>

For every query named in either file it prints one line:

  TEXT-SAME  the SQL text is identical (not run)
  SAME       the text differs, but both run to the same result
  DIFF       the results differ, one side fails, or one side has no oracle

Results are compared on column names, column types and rows, in order, as
`tools/check_correctness.py` reads them: its `table_rows`, which sorts the
columns by name and canonicalizes every value with its `canon`. Exits 1 on
any DIFF. Use it to show that an oracle refactor changes no result.
"""
import json
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent))
from check_correctness import table_rows  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def run(con, sql):
    """(columns, types, rows) of `sql`, or the error text."""
    try:
        return table_rows(con, sql)
    except Exception as e:  # a failing side is a DIFF, not a crash
        return f"error: {e}"


def compare(con, old, new):
    """(verdict, detail) for one query's two SQL texts (either may be None)."""
    if old == new:
        return "TEXT-SAME", ""
    if old is None or new is None:
        return "DIFF", "oracle only in the " + ("new" if old is None else "old") + " file"
    a, b = run(con, old), run(con, new)
    if isinstance(a, str) or isinstance(b, str):
        return "DIFF", f"old {a if isinstance(a, str) else 'ok'}; new {b if isinstance(b, str) else 'ok'}"
    (acols, atypes, arows), (bcols, btypes, brows) = a, b
    if acols != bcols:
        return "DIFF", f"columns {acols} vs {bcols}"
    if atypes != btypes:
        return "DIFF", f"types {atypes} vs {btypes}"
    if len(arows) != len(brows):
        return "DIFF", f"{len(arows)} rows vs {len(brows)}"
    bad = [i for i, (x, y) in enumerate(zip(arows, brows)) if x != y]
    if bad:
        return "DIFF", f"{len(bad)}/{len(arows)} rows differ; first at {bad[0]}"
    return "SAME", f"{len(arows)} rows"


def main():
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    sf_dir, old_path, new_path = sys.argv[1:]
    old = json.loads(Path(old_path).read_text())
    new = json.loads(Path(new_path).read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    counts = {"TEXT-SAME": 0, "SAME": 0, "DIFF": 0}
    for name in sorted(set(old) | set(new)):
        verdict, detail = compare(con, old.get(name), new.get(name))
        counts[verdict] += 1
        print(f"{verdict:9} {name}" + (f": {detail}" if detail else ""))
    print("\n" + ", ".join(f"{n} {v}" for v, n in counts.items()))
    sys.exit(1 if counts["DIFF"] else 0)


if __name__ == "__main__":
    main()
