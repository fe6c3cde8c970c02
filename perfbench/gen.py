"""Seeded input generator for the benchmark.

Everything the benchmark feeds the program is made here with numpy and
pyarrow, outside the program, from the run's seed alone, together with
what the workloads check every result against: the expected keys of a
CSV query, and a key model (row count, key sum and value sum of any key
range) of the versioned table.

The CSV has the shape of the paper's "medium" file: a leading ``key``
column holding the 1-based line number, then 27 columns named
``col1``..``col27`` — 2 strings (``col1``, ``col2``), 3 doubles
(``col3``..``col5``) and 22 ints (``col6``..``col27``). ``col20 > 0``
selects about 0.53 % of the rows, as in the paper's filter query.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

STRING_COLS = ["col1", "col2"]
DOUBLE_COLS = ["col3", "col4", "col5"]
INT_COLS = [f"col{i}" for i in range(6, 28)]
CSV_COLS = ["key", *STRING_COLS, *DOUBLE_COLS, *INT_COLS]
#: share of rows with ``col20 > 0`` (the paper's medium-file filter)
COL20_POSITIVE = 0.0053
#: distinct values of ``col1``; an equality predicate on one selects ~0.5 %
COL1_LEVELS = 200


@dataclass
class CsvInput:
    path: str
    nrows: int
    nbytes: int
    columns: dict  # name -> numpy array, kept to answer predicates


def write_csv(path: str, nrows: int, seed: int) -> CsvInput:
    """Write the medium-shaped CSV of ``nrows`` rows drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    cols: dict[str, np.ndarray] = {"key": np.arange(1, nrows + 1, dtype=np.int64)}
    cols["col1"] = rng.integers(0, COL1_LEVELS, nrows)
    cols["col2"] = rng.integers(0, 1 << 30, nrows)
    for c in DOUBLE_COLS:
        # k / 1e6 prints as its shortest decimal and parses back exactly
        cols[c] = rng.integers(0, 1_000_000, nrows) / 1e6
    for c in INT_COLS:
        cols[c] = rng.integers(-1000, 1000, nrows)
    pos = rng.random(nrows) < COL20_POSITIVE
    cols["col20"] = np.where(pos, rng.integers(1, 1000, nrows),
                             -rng.integers(0, 1000, nrows))
    arrays = {
        "key": pa.array(cols["key"]),
        "col1": pa.array(np.char.add("s", cols["col1"].astype("U3"))),
        "col2": pa.array(np.char.add("t", cols["col2"].astype("U10"))),
    }
    for c in DOUBLE_COLS + INT_COLS:
        arrays[c] = pa.array(cols[c])
    table = pa.table([arrays[c] for c in CSV_COLS], names=CSV_COLS)
    pacsv.write_csv(table, path,
                    pacsv.WriteOptions(quoting_style="none", batch_size=65536))
    # the string columns are answered in their printed form
    cols["col1"] = np.asarray(arrays["col1"].to_numpy(zero_copy_only=False))
    return CsvInput(path, nrows, os.path.getsize(path), cols)


#: (column, op, value) scan predicates, one per domain; each selects
#: roughly 0.5 % of the rows
SCAN_PREDICATES = {
    "int": [("col20", ">", 0), ("col7", ">", 989), ("col25", "<", -990)],
    "double": [("col3", ">", 0.9949999), ("col5", "<", 0.0050001)],
    "string": [("col1", "==", "s17"), ("col1", "==", "s123")],
}

_NP_OPS = {
    ">": np.greater, "<": np.less, ">=": np.greater_equal,
    "<=": np.less_equal, "==": np.equal, "!=": np.not_equal,
}


def expected_keys(inp: CsvInput, pred) -> np.ndarray:
    col, op, value = pred
    return inp.columns["key"][_NP_OPS[op](inp.columns[col], value)]


# --------------------------------------------------------------------- #
# versioned table
# --------------------------------------------------------------------- #

VERSIONED_SCHEMA = pa.schema([
    ("key", pa.int64()), ("val", pa.int64()),
    ("score", pa.float64()), ("tag", pa.string()),
])


class KeyModel:
    """What the versioned table must hold: live keys are exactly
    ``1 .. next_key - 1`` and ``val[key]`` is each key's current value.
    Batches are drawn here, written to Parquet for the program to read,
    and applied to the model once the program has committed them."""

    def __init__(self, seed: int, workdir: str):
        self.rng = np.random.default_rng(seed)
        self.workdir = workdir
        self.val = np.zeros(1, dtype=np.int64)  # index 0 unused
        self.next_key = 1
        self.arrow_row_bytes = 0.0  # Arrow bytes per row of the batches
        self._n = 0

    def _batch(self, keys: np.ndarray) -> tuple[str, np.ndarray]:
        vals = self.rng.integers(0, 1 << 40, keys.size)
        table = pa.table({
            "key": pa.array(keys, pa.int64()),
            "val": pa.array(vals, pa.int64()),
            "score": pa.array(vals % 1_000_003 / 7.0),
            "tag": pa.array(np.char.add("g", (vals % 97).astype("U2"))),
        }, schema=VERSIONED_SCHEMA)
        self._n += 1
        if not self.arrow_row_bytes:
            self.arrow_row_bytes = table.nbytes / table.num_rows
        path = os.path.join(self.workdir, f"batch_{self._n:05d}.parquet")
        pq.write_table(table, path)
        return path, vals

    def new_rows(self, n: int):
        """A batch of ``n`` keys never seen before (append/snapshot)."""
        keys = np.arange(self.next_key, self.next_key + n, dtype=np.int64)
        path, vals = self._batch(keys)
        return path, (keys, vals)

    def upsert_rows(self, n: int, new_share: float = 0.1, spread: int = 4):
        """A merge batch: late updates to recent data — ``n`` minus the
        new share drawn from the newest ``spread * n`` live keys — plus
        some new keys."""
        n_new = int(n * new_share)
        live = self.next_key - 1
        window = min(live, spread * n)
        old = live - window + 1 + self.rng.choice(window, size=n - n_new,
                                                  replace=False)
        new = np.arange(self.next_key, self.next_key + n_new, dtype=np.int64)
        keys = np.sort(np.concatenate([old, new])).astype(np.int64)
        path, vals = self._batch(keys)
        return path, (keys, vals)

    def apply(self, change) -> None:
        """Record a committed batch in the model."""
        keys, vals = change
        top = int(keys.max()) + 1
        if top > self.val.size:
            self.val = np.concatenate(
                [self.val, np.zeros(top - self.val.size, dtype=np.int64)])
        self.val[keys] = vals
        self.next_key = max(self.next_key, top)

    def draw_range(self, width: int, stratum: int, strata: int = 5):
        """A key range ``[lo, hi)`` inside the live keys, starting in
        the given fifth (``stratum``) of the key space, so that a run's
        reads cover old and new data in fixed shares."""
        live = self.next_key - 1
        span = max(live - width, 1)
        lo = 1 + int((stratum % strata + self.rng.random()) * span / strata)
        return lo, min(lo + width, live + 1)

    def expected(self, lo: int, hi: int) -> tuple[int, int, int]:
        """(count, key sum, val sum) of the live rows with lo <= key < hi."""
        hi = min(hi, self.next_key)
        if hi <= lo:
            return 0, 0, 0
        keys = np.arange(lo, hi, dtype=np.int64)
        return int(keys.size), int(keys.sum()), int(self.val[lo:hi].sum())

    def expected_table(self) -> tuple[int, int, int]:
        return self.expected(1, self.next_key)
