"""Deterministic input generation for the benchmark.

Everything a run reads is written here, under the run's own scratch
directory, so a run never depends on files outside its checkout:

* ``base_tables``: the TPC-H-like parquet tables, copied from
  ``perfbench/data``. Those files are the package's seed-42 test data
  at sf0.01 and sf0.001, byte for byte; the workload seed never
  changes them.
* ``csv_database``: a reference-style ``metadata.txt`` + headerless CSV
  database (quoted and unquoted cells, negatives, a duplicate-heavy
  table, non-integer cells), seeded by the workload seed. The parsed
  value of every cell is returned alongside, for the oracle.
* ``crawl_drop``: a seeded crawl drop for streaming admission — one
  parquet file per micro-batch with a part of exact duplicates (fresh
  ids) of indexed or earlier content.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _write(path: str, cols: dict, schema: pa.Schema) -> None:
    pq.write_table(pa.table(cols, schema=schema), path)


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 100, size=n)
    return [" ".join(rng.choice(VOCAB, size=k)) for k in lens]


def base_tables(out_dir: str, sf: str) -> dict[str, str]:
    """Copy the fixed tables of scale ``sf`` ("sf0.01" or "sf0.001")
    into ``out_dir``; return {table: path}."""
    src = os.path.join(DATA, sf)
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name in sorted(os.listdir(src)):
        if name.endswith(".parquet"):
            paths[name[: -len(".parquet")]] = shutil.copy(
                os.path.join(src, name), os.path.join(out_dir, name))
    return paths


def csv_database(out_dir: str, seed: int) -> dict[str, dict]:
    """Write a reference-style CSV database; return
    {table: {"columns": [...], "rows": [[int|None, ...], ...]}} — the
    value each cell must parse to."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    t1_b = rng.choice(np.arange(100, 1000), 10, replace=False)
    t1 = [[int(rng.integers(-999, 1000)), int(b), int(rng.integers(0, 10000))]
          for b in t1_b]
    t2 = [[int(b), int(rng.integers(-500, 5000))]
          for b in rng.permutation(t1_b)]
    t3 = [list(t1[i % 10]) for i in rng.permutation(320)]
    t4 = [[int(rng.integers(-50, 50)), int(rng.integers(0, 20))]
          for _ in range(60)]
    bad = {}
    for r in rng.choice(60, 8, replace=False):
        c = int(rng.integers(0, 2))
        bad[(int(r), c)] = str(rng.choice(["abc", "NULL", "x1", "-"]))
        t4[int(r)][c] = None
    db = {
        "table1": {"columns": ["A", "B", "C"], "rows": t1, "quoted": True},
        "table2": {"columns": ["B", "D"], "rows": t2, "quoted": False},
        "table3": {"columns": ["A", "B", "C"], "rows": t3, "quoted": False},
        "table4": {"columns": ["A", "E"], "rows": t4, "quoted": True},
    }
    with open(os.path.join(out_dir, "metadata.txt"), "w") as fh:
        for name, t in db.items():
            fh.write("<begin_table>\n" + name + "\n")
            fh.write("".join(c + "\n" for c in t["columns"]))
            fh.write("<end_table>\n")
    for name, t in db.items():
        lines = []
        for r, row in enumerate(t["rows"]):
            cells = []
            for c, v in enumerate(row):
                cell = bad.get((r, c)) if name == "table4" else None
                cell = cell if cell is not None else str(v)
                cells.append(f'"{cell}"' if t["quoted"] else cell)
            lines.append(",".join(cells))
        with open(os.path.join(out_dir, f"{name}.csv"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    return db


def crawl_drop(
    out_dir: str, seed: int, n_files: int, docs_per_file: int,
    n_indexed: int, dup_share: float = 0.3,
) -> tuple[str, str, list[list[tuple[int, str]]], list[tuple[int, str]]]:
    """Write the pre-indexed corpus and the drop folder.

    Returns (indexed_path, drop_dir, files, indexed) where ``files[f]``
    holds the (doc_id, text) rows of drop file ``f`` in arrival order.
    File ``f`` owns the id range [base + f*docs_per_file, ...), so the
    snapshot's files stay range-clustered on doc_id. A ``dup_share`` of
    each file re-presents indexed or earlier content under a fresh id,
    sometimes with changed case or spacing (the same content key)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    indexed = list(enumerate(_texts(rng, n_indexed)))
    indexed_path = os.path.join(out_dir, "indexed.parquet")
    _drop_file(indexed_path, indexed)
    drop = os.path.join(out_dir, "drop")
    os.makedirs(drop, exist_ok=True)
    seen = [t for _, t in indexed]
    files = []
    base = 1_000_000
    t0 = 1_600_000_000
    for f in range(n_files):
        fresh = _texts(rng, docs_per_file)
        rows = []
        for k in range(docs_per_file):
            if rng.random() < dup_share:
                text = seen[int(rng.integers(0, len(seen)))]
                r = rng.random()
                if r < 0.2:
                    text = text.upper()
                elif r < 0.4:
                    text = text.replace(" ", "  ", 3) + " "
            else:
                text = fresh[k]
            rows.append((base + f * docs_per_file + k, text))
        seen.extend(t for _, t in rows)
        path = os.path.join(drop, f"b{f:03d}.parquet")
        _drop_file(path, rows)
        # ascending mtimes: the file source orders the micro-batches
        os.utime(path, (t0 + 60 * f, t0 + 60 * f))
        files.append(rows)
    return indexed_path, drop, files, indexed


def _drop_file(path: str, rows: list[tuple[int, str]]) -> None:
    _write(path, {"doc_id": np.array([r[0] for r in rows], dtype=np.int64),
                  "text": [r[1] for r in rows]},
           pa.schema([("doc_id", pa.int64()), ("text", pa.string())]))
