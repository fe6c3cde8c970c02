"""The benchmark's three workloads, each driving the public
``lazy_frame_spark`` API the way a user does.

A workload makes its inputs once (``prepare``, untimed), then sets up
(``setup``: a fresh open or a fresh table plus one untimed warm-up of
every op type) and serves a closed loop of ops drawn from the seed
(``draw`` untimed, ``run`` timed, ``check`` untimed). Ops come in
blocks whose op-type shares and input sizes are fixed, so only
positions and values vary with the seed.

Every library call goes through a module attribute or a class
attribute (``versioned.append_versioned``, ``LazyFrame.open``), so the
traced run can wrap it in place.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

import gen
import lazy_frame_spark.frame as lf_frame
from lazy_frame_spark.sources import versioned

#: (kind, count) per block of ops
CSV_BLOCK = [("int", 3), ("double", 2), ("string", 1)]
POSITIONAL_BLOCK = [("rows", 9), ("which", 3), ("row_range", 6),
                    ("head", 1), ("tail", 1)]
VERSIONED_BLOCK = [("append", 8), ("merge", 4), ("read", 7), ("compact", 1)]

#: sizes cycled through per op kind (positions stay random)
ROWS_SIZES = [1, 10, 100, 500, 1000]
RANGE_WIDTHS = [1, 100, 1000, 5000, 10000]
HEAD_SIZES = [1, 10, 100, 1000]
READ_WIDTHS = [100, 1000, 5000, 20000]


class OpStream:
    """Op kinds in fixed-share blocks, each kind spread evenly through
    the block so that any stretch of ops holds close to the block's
    shares; the seeded generator draws the ops' positions and values.
    Also counts each kind's turns, to cycle through the size ladders."""

    def __init__(self, block, rng: np.random.Generator):
        size = sum(n for _k, n in block)
        slots = sorted(((j + 0.5) * size / n, i, k)
                       for i, (k, n) in enumerate(block) for j in range(n))
        self.block = [k for _pos, _i, k in slots]
        self.rng = rng
        self.n = 0
        self.turn: dict[str, int] = {}

    def next(self) -> tuple[str, int]:
        kind = self.block[self.n % len(self.block)]
        self.n += 1
        i = self.turn.get(kind, 0)
        self.turn[kind] = i + 1
        return kind, i


class Workload:
    """Defaults shared by the workloads."""

    clients = 1

    def describe(self) -> dict:
        """Input sizes recorded beside the metrics."""
        return {}

    def final_check(self) -> bool:
        """The program's state after the timed loop is the expected one."""
        return True

    def trace_before(self, args):
        """Traced runs only: state to compare after the op (untimed)."""
        return None

    def trace_after(self, args, before) -> None:
        """Traced runs only: record figures of the op just run."""

    def trace_figures(self) -> dict:
        """Traced runs only: figures measured around the ops."""
        return {}

    def close(self) -> None:
        pass


def _keys_match(pdf_keys, expected) -> bool:
    """The result's keys are exactly the expected ones (in any order)."""
    return np.array_equal(np.sort(np.asarray(pdf_keys, dtype=np.int64)),
                          np.sort(np.asarray(expected, dtype=np.int64)))


class CsvFilterScan(Workload):
    """One-shot ``open → filter → select → to_pandas`` per op."""

    name = "csv_filter_scan"
    read_kinds = ("int", "double", "string")

    def __init__(self, workdir: str, seed: int, nrows: int):
        self.workdir, self.seed, self.nrows = workdir, seed, nrows
        self.inp: gen.CsvInput | None = None

    def prepare(self) -> None:
        self.inp = gen.write_csv(os.path.join(self.workdir, "scan.csv"),
                                 self.nrows, self.seed)

    def streams(self, phase: int) -> list[OpStream]:
        return [OpStream(CSV_BLOCK, np.random.default_rng([self.seed, 1, phase]))]

    def setup(self, spark) -> None:
        self.spark = spark
        for domain, preds in gen.SCAN_PREDICATES.items():
            args = (domain, preds[0])
            if not self.check(args, self.run(args))[0]:
                raise RuntimeError(f"warm-up scan {args} returned a wrong result")

    def draw(self, stream: OpStream, kind: str, i: int):
        preds = gen.SCAN_PREDICATES[kind]
        return kind, preds[i % len(preds)]

    def run(self, args):
        col, op, value = args[1]
        other = "col4" if col != "col4" else "col5"
        lf = lf_frame.LazyFrame.open(self.spark, self.inp.path)
        return lf.filter(col, op, value).select(["key", col, other]).to_pandas()

    def check(self, args, pdf) -> tuple[bool, int]:
        ok = _keys_match(pdf["key"], gen.expected_keys(self.inp, args[1]))
        return ok, self.inp.nrows  # rows scanned

    def describe(self) -> dict:
        return {"csv_rows": self.inp.nrows, "csv_bytes": self.inp.nbytes}


class PositionalLookup(Workload):
    """Positional algebra over one default-options open, served from
    the row-id cache by several client threads."""

    name = "positional_lookup"
    read_kinds = ("rows", "which", "row_range", "head", "tail")

    def __init__(self, workdir: str, seed: int, nrows: int, clients: int):
        self.workdir, self.seed, self.nrows = workdir, seed, nrows
        self.clients = clients
        self.inp: gen.CsvInput | None = None
        self.lf = None

    def prepare(self) -> None:
        self.inp = gen.write_csv(os.path.join(self.workdir, "positional.csv"),
                                 self.nrows, self.seed + 7919)

    def streams(self, phase: int) -> list[OpStream]:
        return [OpStream(POSITIONAL_BLOCK,
                         np.random.default_rng([self.seed, 2, phase, c]))
                for c in range(self.clients)]

    def setup(self, spark) -> None:
        self.close()
        self.spark = spark
        self.lf = lf_frame.LazyFrame.open(spark, self.inp.path)
        rng = np.random.default_rng([self.seed, 0])
        stream = OpStream(POSITIONAL_BLOCK, rng)
        # the first positional call builds the row-id cache
        for kind, _n in [("rows", 1)] + POSITIONAL_BLOCK:
            args = self.draw(stream, kind, 3)
            if not self.check(args, self.run(args))[0]:
                raise RuntimeError(f"warm-up {kind} returned a wrong result")

    def draw(self, stream: OpStream, kind: str, i: int):
        rng, n = stream.rng, self.nrows
        if kind == "rows":
            k = min(ROWS_SIZES[i % len(ROWS_SIZES)], n)
            return kind, np.sort(rng.choice(n, k, replace=False) + 1)
        if kind == "which":
            preds = [p for ps in gen.SCAN_PREDICATES.values() for p in ps]
            return kind, preds[i % len(preds)]
        if kind == "row_range":
            # the window starts in each fifth of the rows in turn
            w = min(RANGE_WIDTHS[i % len(RANGE_WIDTHS)], n)
            lo = 1 + int((i % 5 + rng.random()) * (n - w + 1) / 5)
            return kind, (lo, lo + w - 1)
        return kind, min(HEAD_SIZES[i % len(HEAD_SIZES)], n)

    def run(self, args):
        kind, a = args
        lf = self.lf
        if kind == "rows":
            return lf.rows(a.tolist()).to_pandas()
        if kind == "which":
            return lf.which(*a).toPandas()
        if kind == "row_range":
            return lf.row_range(*a).to_pandas()
        return getattr(lf, kind)(a).to_pandas()

    def expected(self, args) -> np.ndarray:
        kind, a = args
        if kind == "rows":
            return a
        if kind == "which":
            return gen.expected_keys(self.inp, a)
        if kind == "row_range":
            return np.arange(a[0], a[1] + 1)
        if kind == "head":
            return np.arange(1, a + 1)
        return np.arange(self.nrows - a + 1, self.nrows + 1)

    def check(self, args, pdf) -> tuple[bool, int]:
        keys = pdf["row_id"] if args[0] == "which" else pdf["key"]
        return _keys_match(keys, self.expected(args)), len(pdf)

    def describe(self) -> dict:
        return {"csv_rows": self.inp.nrows, "csv_bytes": self.inp.nbytes}

    def close(self) -> None:
        if self.lf is not None:
            self.lf.close()
            self.lf = None


class VersionedIngest(Workload):
    """Appends, merges and compactions committed beside skipping reads,
    against a key model kept by the benchmark."""

    name = "versioned_ingest"
    read_kinds = ("read",)

    def __init__(self, workdir: str, seed: int, base_rows: int,
                 append_rows: int, merge_rows: int):
        self.workdir, self.seed = workdir, seed
        self.base_rows = base_rows
        self.append_rows, self.merge_rows = append_rows, merge_rows
        self.table = None
        self._n_tables = 0
        # figures measured around the ops of a traced run
        self._acc = {"commits": 0, "files": 0, "bytes": 0, "user_bytes": 0,
                     "reads": 0, "ratio": 0.0}

    def prepare(self) -> None:
        self.batches = os.path.join(self.workdir, "batches")
        os.makedirs(self.batches, exist_ok=True)

    def streams(self, phase: int) -> list[OpStream]:
        return [OpStream(VERSIONED_BLOCK, np.random.default_rng([self.seed, 3, phase]))]

    def setup(self, spark) -> None:
        self.spark = spark
        if self.table is not None:
            shutil.rmtree(self.table, ignore_errors=True)
        self._n_tables += 1
        self.table = os.path.join(self.workdir, f"table_{self._n_tables}")
        # every set-up starts from the same snapshot and warm-up batches
        self.model = gen.KeyModel(self.seed, self.batches)
        path, change = self.model.new_rows(self.base_rows)
        versioned.write_versioned(spark.read.parquet(path), self.table)
        self.model.apply(change)
        stream = OpStream(VERSIONED_BLOCK, self.model.rng)
        for kind, _n in VERSIONED_BLOCK:
            args = self.draw(stream, kind, 0)
            ok, _ = self.check(args, self.run(args))
            if not ok:
                raise RuntimeError(f"warm-up {kind} returned a wrong result")

    def draw(self, stream: OpStream, kind: str, i: int):
        m = self.model
        if kind == "append":
            return kind, m.new_rows(self.append_rows)
        if kind == "merge":
            return kind, m.upsert_rows(self.merge_rows)
        if kind == "read":
            lo, hi = m.draw_range(READ_WIDTHS[i % len(READ_WIDTHS)], stratum=i)
            return kind, (lo, hi)
        return kind, None

    def run(self, args):
        kind, a = args
        spark, table = self.spark, self.table
        if kind == "append":
            return versioned.append_versioned(spark.read.parquet(a[0]), table)
        if kind == "merge":
            return versioned.merge_versioned(spark, table,
                                             spark.read.parquet(a[0]), on="key")
        if kind == "read":
            lo, hi = a
            return versioned.read_versioned(
                spark, table, where=[("key", ">=", lo), ("key", "<", hi)]
            ).toPandas()
        return versioned.compact_versioned(spark, table)

    def check(self, args, result) -> tuple[bool, int]:
        """Reads are checked against the model; a commit is applied to
        the model (its effect is checked by later reads and the final
        table check). Returns (ok, rows committed)."""
        kind, a = args
        if kind in ("append", "merge"):
            self.model.apply(a[1])
            return True, int(a[1][0].size)
        if kind == "read":
            got = (len(result), int(result["key"].sum()),
                   int(result["val"].sum()))
            return got == self.model.expected(*a), 0
        return True, 0

    def final_check(self) -> bool:
        """The whole table against the model, after the timed loop."""
        from pyspark.sql import functions as F

        row = versioned.read_versioned(self.spark, self.table).agg(
            F.count("*"), F.sum("key"), F.sum("val")).collect()[0]
        return tuple(int(v or 0) for v in row) == self.model.expected_table()

    def _files(self, top: str) -> dict[str, int]:
        """path -> size of every file under ``top``."""
        out = {}
        for d, _dirs, files in os.walk(top):
            for f in files:
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
        return out

    def _data_files(self) -> dict[str, int]:
        return {p: n for p, n in self._files(os.path.join(self.table, "data")).items()
                if p.endswith(".parquet")}

    def trace_before(self, args):
        return self._data_files() if args[0] != "read" else None

    def trace_after(self, args, before) -> None:
        acc = self._acc
        kind, a = args
        if kind == "read":
            lo, hi = a
            df = versioned.read_versioned(
                self.spark, self.table, where=[("key", ">=", lo), ("key", "<", hi)])
            live = versioned.table_detail(self.table)["n_files"]
            acc["reads"] += 1
            acc["ratio"] += len(df.inputFiles()) / max(live, 1)
            return
        new = {p: n for p, n in self._data_files().items() if p not in before}
        acc["commits"] += 1
        acc["files"] += len(new)
        if kind != "compact":
            acc["bytes"] += sum(new.values())
            acc["user_bytes"] += a[1][0].size * self.model.arrow_row_bytes

    def trace_figures(self) -> dict:
        acc = self._acc
        stored = sum(self._files(self.table).values())
        live_rows = self.model.next_key - 1
        return {
            "files_written_per_commit": acc["files"] / max(acc["commits"], 1),
            "bytes_written_per_user_byte": acc["bytes"] / max(acc["user_bytes"], 1),
            "live_files": versioned.table_detail(self.table)["n_files"],
            "bytes_stored_per_user_byte": stored / (live_rows * self.model.arrow_row_bytes),
            "files_scanned_ratio": acc["ratio"] / max(acc["reads"], 1),
        }

    def describe(self) -> dict:
        return {"table_rows": self.model.next_key - 1,
                "table_bytes": sum(self._data_files().values()),
                "table_versions": versioned.latest_version(self.table)}
