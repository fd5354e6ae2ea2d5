#!/usr/bin/env python3
"""Write an adversarial variant of a fixture directory.

Usage: python3 tools/fixture_variant.py <variant> <sfDir> <outDir>

Copies every table of <sfDir> into <outDir> and rewrites the tables the
variant targets. Each rewritten table keeps the source's parquet schema
(column names, types, nullability and metadata); the script checks that
before it returns. <outDir> must not be <sfDir> or lie inside it, so a
fixture directory is never written to.

Variants:

  ragged   documents only. By doc_id mod 6 a text becomes the empty string
           (0 words), its first 1, 2 or 7 words, or whitespace only (one
           to three spaces, a tab, or spaces around a tab); one doc in six
           keeps its text.
           n_chars follows the new text.

Then run the declared queries on it and compare with the oracle:

  sbt "runMain graft.Verify <outDir> <dumpDir>"
  python3 tools/check_correctness.py <outDir> <dumpDir>
"""
import shutil
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

WHITESPACE = [" ", "   ", "\t", "  \t ", "  "]


def ragged_text(doc_id, text):
    words = text.split(" ")
    cut = doc_id % 6
    if cut == 0:
        return ""
    if cut in (1, 2):
        return " ".join(words[:cut])
    if cut == 3:
        return " ".join(words[:7])
    if cut == 4:
        return WHITESPACE[(doc_id // 6) % len(WHITESPACE)]
    return text


def ragged(docs):
    ids = docs.column("doc_id").to_pylist()
    texts = [None if t is None else ragged_text(i, t)
             for i, t in zip(ids, docs.column("text").to_pylist())]
    return rebuild(docs, {
        "text": pa.array(texts, pa.string()),
        "n_chars": pa.array([None if t is None else len(t) for t in texts], pa.int64())})


def rebuild(table, replaced):
    """`table` with the named columns replaced, under its own schema."""
    arrays = [replaced.get(f.name, table.column(f.name)) for f in table.schema]
    return pa.Table.from_arrays(arrays, schema=table.schema)


# variant -> (the table it rewrites, the rewrite)
VARIANTS = {"ragged": ("documents", ragged)}


def main():
    if len(sys.argv) != 4 or sys.argv[1] not in VARIANTS:
        sys.exit(__doc__)
    variant, src, out = sys.argv[1], Path(sys.argv[2]).resolve(), Path(sys.argv[3]).resolve()
    if out == src or src in out.parents:
        sys.exit(f"refusing to write into the source fixture directory {src}")
    out.mkdir(parents=True, exist_ok=True)
    target, rewrite = VARIANTS[variant]
    tables = sorted(src.glob("*.parquet"))
    for path in tables:
        if path.stem == target:
            pq.write_table(rewrite(pq.read_table(path)), out / path.name)
            got, want = pq.read_schema(out / path.name), pq.read_schema(path)
            if not got.equals(want, check_metadata=True):
                sys.exit(f"{target}: schema changed\n{want}\nvs\n{got}")
        else:
            shutil.copyfile(path, out / path.name)
    print(f"{variant}: wrote {len(tables)} tables to {out} (rewrote {target})")


if __name__ == "__main__":
    main()
