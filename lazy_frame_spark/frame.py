"""LazyFrame — the engine's core abstraction.

A thin facade over ``pyspark.sql.DataFrame`` implementing the reference's
lazy dataframe algebra (``R/lazy.frame.R``, ``src/lazy.frame.c``) with
Spark-native execution:

==============================  =============================================
reference                        here
==============================  =============================================
lazy.frame promise env           ``LazyFrame`` wrapping a lazy DataFrame plan
newline byte index               ``__row_id__`` column (lazy_frame_spark.rowid)
``x[j, k]`` RANGE/LINES          ``row_range`` / ``rows`` (pushdown filters)
``x[, k] op scalar`` WHICH       ``filter`` / ``which`` (typed_compare)
``head``/``tail``                ``head`` / ``tail`` (TakeOrderedAndProject)
``column_attr``                  ``ColumnAttrs`` applied at ``to_pandas``
``[<-`` write denial             ``__setitem__`` raises (read-only contract)
``str``/``print``                ``describe_str`` / ``show``
``summary`` (unimplemented!)     ``summary`` — implemented via df.summary()
==============================  =============================================

Scale notes (100 TB design):
- No driver-side per-row state anywhere; row ids are data (LongType).
- Positional ops compile to ``__row_id__`` range/set predicates, which
  Parquet row-group statistics prune at scan time — the distributed
  analogue of the reference's O(1) byte-offset seek.
- ``which()`` returns a DataFrame of ids, not a collected vector; the
  reference's own "return a giant index vector to the driver" pattern is
  the anti-scale path and is opt-in only (``collect=True``).
- Per-op driver work of a read, counted in py4j calls, is constant in
  width and in id count: positional predicates travel as ONE SQL string
  (``IN (...)`` / ``BETWEEN``), and ``to_df`` drops the internal columns
  instead of re-selecting every user column (each pyspark ``Column``
  operator costs ~15 py4j round trips through its call-site capture;
  ``select`` sends its names as SQL strings, one call each).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from lazy_frame_spark.functions.compare import OPS, typed_compare
from lazy_frame_spark.metadata import ColumnAttrs
from lazy_frame_spark.rowid import (
    ROW_ID,
    enumerate_rows,
    parquet_footer_bounds,
)

READ_ONLY_MSG = "File frames are read-only."  # R/lazy.frame.R:123


def _default_buckets(df: DataFrame) -> int:
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))


def _sql_name(name: str) -> str:
    """SQL identifier for an exact column name — backtick-quoted so dotted
    names (e.g. the reference's canonical ``Sepal.Length``) resolve
    literally."""
    return "`" + name.replace("`", "``") + "`"


class LazyFrame:
    """A read-only, lazily evaluated, positionally addressable frame."""

    def __init__(
        self,
        df: DataFrame,
        attrs: ColumnAttrs | None = None,
        order_by: Sequence[str] | None = None,
        cache: bool = True,
    ):
        self._df = df
        self._attrs = attrs or ColumnAttrs()
        self._order_by = list(order_by) if order_by else None
        self._cache = cache
        self._cache_handle: DataFrame | None = None
        # a CSV open's sampled-schema check (sources.csv.SampleCheck),
        # shared with the frames derived before it ran, and the op chain
        # from the open to this frame (() on the open itself)
        self._check = None
        self._ops: tuple = ()

    # ------------------------------------------------------------------ #
    # construction
    # ------------------------------------------------------------------ #

    @classmethod
    def open(
        cls,
        spark: SparkSession,
        path: str,
        format: str | None = None,
        order_by: Sequence[str] | None = None,
        cache: bool = True,
        **options: Any,
    ) -> "LazyFrame":
        """Open a file as a LazyFrame without reading data (S1 parity,
        ``R/lazy.frame.R:37-87``). Format inferred from the extension when
        not given. CSV goes through the engine's schema-infer-once reader
        (sources.csv) supporting sep/header-autodetect/skip/gzip.

        CSV schema inference defaults to VERIFIED sample-infer (also on
        the ``skip=N`` path): types from a ~1000-line head peek, checked
        at the first materialization, with ONE full-inference reopen if
        the sample lied (``sources.csv.SampleCheck``). Escapes:
        ``infer_schema=True`` (always full pass), ``"sample"``
        (unverified, reference-style), ``False`` (all strings), or an
        explicit ``schema=``.

        ``cache=False`` skips persisting the enumerated frame: the right
        mode for ONE-shot positional queries (open → slice → done), where
        building an in-memory cache nobody re-reads only costs executor
        storage. Repeated positional access should keep the default, or
        better, ``register()`` the frame once.
        """
        fmt = format or _infer_format(path)
        check = None
        if fmt == "csv":
            from lazy_frame_spark.sources.csv import SampleCheck, open_csv

            opts = dict(options)
            opts.setdefault("infer_schema", "verified")
            full = dict(opts, infer_schema=True)
            df, check = SampleCheck.split(
                open_csv(spark, path, **opts),
                lambda: open_csv(spark, path, **full))
        elif fmt == "parquet":
            df = spark.read.options(**{k: str(v) for k, v in options.items()}).parquet(path)
        elif fmt == "json":
            df = spark.read.options(**{k: str(v) for k, v in options.items()}).json(path)
        elif fmt == "orc":
            df = spark.read.options(**{k: str(v) for k, v in options.items()}).orc(path)
        elif fmt == "versioned":
            # time travel through the facade: the reference's reopen
            # (R/lazy.frame.R:97-107 re-derives the same table state)
            # generalizes to "reopen AS OF version k" on a manifest-
            # committed table (sources/versioned.py)
            from lazy_frame_spark.sources.versioned import read_versioned

            version = options.pop("version", None)
            if version is not None:
                version = int(version)  # '3' (a stringified option) ok
            if options:
                raise ValueError(
                    "format='versioned' reads a committed manifest; "
                    f"reader options {sorted(options)} do not apply "
                    "(only version=)"
                )
            df = read_versioned(spark, path, version=version)
        else:
            raise ValueError(f"unsupported format {fmt!r}")
        lf = cls(df, order_by=order_by, cache=cache)
        lf._check = check
        return lf

    @classmethod
    def from_df(
        cls,
        df: DataFrame,
        order_by: Sequence[str] | None = None,
        cache: bool = True,
    ) -> "LazyFrame":
        return cls(df, order_by=order_by, cache=cache)

    # ------------------------------------------------------------------ #
    # row ids (lazy attach — open() must stay a no-I/O promise)
    # ------------------------------------------------------------------ #

    def _with_ids(self) -> DataFrame:
        # the open's own enumerate build carries the pending check (its
        # one chance to run fused); any other frame runs it standalone
        check = self._check
        fuse = (check is not None and check.pending and not self._ops
                and self._cache and ROW_ID not in self._df.columns)
        if not fuse:
            self._ensure_verified()
            if ROW_ID in self._df.columns:
                # skip>0 CSV opens arrive with ids already attached (the
                # text-read path rebases them)
                return self._df
        # enumerate + persist: the reference pays its newline-index scan
        # once at open (src/lazy.frame.c:252-298) and every positional
        # query reuses it — same one-time cost here, held to ONE source
        # scan: bucket bounds come from parquet footer stats when the
        # frame is a parquet scan (metadata only, no job), and the cache
        # is built by the same job that reads the per-bucket counts. At
        # cluster scale, prefer register() (ids persisted to Parquet,
        # with row-group pruning on __row_id__) over in-memory caching.
        src = check.channel if fuse else self._df
        bounds = None
        if self._order_by:
            bounds = parquet_footer_bounds(
                src, self._order_by[0], _default_buckets(src)
            )
        df, handle = enumerate_rows(
            src, order_by=self._order_by, bounds=bounds, cache=self._cache
        )
        if fuse:
            df = check.run(df, handle)
            self._settle()
            if df is None:  # the sample lied: enumerate the reopen
                return self._with_ids()
        self._cache_handle = handle
        self._df = df
        return df

    def _ensure_verified(self) -> None:
        """Run this frame's pending sample-schema check standalone (the
        materialization boundary of every non-positional read), then
        settle."""
        check = self._check
        if check is not None and check.pending:
            if self._cache:
                check.run()
            else:
                check.skip()
        self._settle()

    def _settle(self) -> None:
        """Adopt the outcome of a check that has run (here or through
        any frame sharing it): if the sample lied, replay this frame's
        op chain on the full-inference reopen. Plan surgery only."""
        check = self._check
        if check is None or check.pending:
            return
        if check.state == "swapped":
            df = check.reopened
            for op in self._ops:
                df = op(df)
            self._df = df
        self._check, self._ops = None, ()

    def _derive(self, op, attrs: ColumnAttrs) -> "LazyFrame":
        """Build a derived LazyFrame as pure plan construction — zero
        Spark jobs. ``op`` is a replayable ``DataFrame -> DataFrame``
        closure (name/expression-based only — Column expressions are
        unresolved in Spark, so the same closure applies cleanly to the
        full-inference reopen whose column TYPES may differ). A pending
        check is shared with the child, which records its op chain."""
        self._settle()  # never derive from a stale pre-swap plan
        child = LazyFrame(op(self._df), attrs, self._order_by,
                          cache=self._cache)
        if self._check is not None:
            child._check, child._ops = self._check, (*self._ops, op)
        return child

    def close(self) -> None:
        """Release any persisted state (M7 finalizer parity,
        R/lazy.frame.R:12-15)."""
        try:
            (self._cache_handle or self._df).unpersist()
        except Exception:
            pass
        self._cache_handle = None

    # ------------------------------------------------------------------ #
    # shape & names (M2/M3 parity)
    # ------------------------------------------------------------------ #

    #: internal columns excluded from the user-visible surface: positional
    #: ids, and the row-names column (the reference transparently skips the
    #: row-name file column in column numbering, src/lazy.frame.c:528-530)
    _INTERNAL = (ROW_ID, "__row_name__")

    @property
    def columns(self) -> list[str]:
        return [c for c in self._df.columns if c not in self._INTERNAL]

    def names(self) -> list[str]:
        return self.columns

    def rename(self, names: Sequence[str] | dict[str, str]) -> "LazyFrame":
        """``names<-`` parity (``R/lazy.frame.R:217-226``)."""
        cols = self.columns
        if isinstance(names, dict):
            mapping = dict(names)
        else:
            names = list(names)
            if len(names) != len(cols):
                raise ValueError(f"expected {len(cols)} names, got {len(names)}")
            mapping = dict(zip(cols, names))

        def op(df: DataFrame) -> DataFrame:
            for old, new in mapping.items():
                df = df.withColumnRenamed(old, new)
            return df

        return self._derive(op, self._attrs.renamed(mapping))

    def nrow(self) -> int:
        # a derived chain's count depends on the schema (a sample-missed
        # value parses to NULL → compare-false), so it checks first; the
        # open's own count is check-invariant and stays job-minimal
        if self._ops:
            self._ensure_verified()
        self._settle()
        return self._df.count()

    def ncol(self) -> int:
        return len(self.columns)

    def dim(self) -> tuple[int, int]:
        return (self.nrow(), self.ncol())

    def dimnames(self) -> tuple[None, list[str]]:
        """dimnames parity: (NULL row names, column names)
        (R/lazy.frame.R:84,227-232). A row-names column, when configured,
        is the ordinary ``__row_name__`` column."""
        return (None, self.columns)

    # ------------------------------------------------------------------ #
    # projection (P3 parity)
    # ------------------------------------------------------------------ #

    def select(self, cols: str | int | Sequence[str | int]) -> "LazyFrame":
        """Project by name or 1-based positive index; out-of-range indices
        are silently dropped (``R/lazy.frame.R:145-147``). Pure plan
        construction — no Spark job (deferred-verify lineage settles at
        materialization)."""
        names = self._resolve_cols(cols)

        def op(df: DataFrame) -> DataFrame:
            keep = [c for c in df.columns if c == ROW_ID] + names
            return df.selectExpr(*map(_sql_name, keep))

        return self._derive(op, self._attrs.restrict(names))

    def _resolve_cols(self, cols: str | int | Sequence[str | int]) -> list[str]:
        if isinstance(cols, (str, int)):
            cols = [cols]
        all_cols = self.columns
        out: list[str] = []
        for c in cols:
            if isinstance(c, bool):
                raise TypeError("boolean column selectors are not supported")
            if isinstance(c, int):
                if c < 1:
                    raise IndexError(
                        "only positive 1-based column indices are supported"
                    )
                if c <= len(all_cols):  # OOB silently dropped (parity)
                    out.append(all_cols[c - 1])
            elif isinstance(c, str):
                if c in all_cols:  # unknown names silently dropped (parity)
                    out.append(c)
            else:
                raise TypeError(f"bad column selector {c!r}")
        return out

    # ------------------------------------------------------------------ #
    # positional selection (P1/P2 parity)
    # ------------------------------------------------------------------ #

    def row_range(self, lo: int, hi: int) -> "LazyFrame":
        """Rows ``lo..hi`` inclusive, 1-based (RANGE, src/lazy.frame.c:189-216).

        Compiles to a ``__row_id__ BETWEEN`` predicate — Parquet row-group
        stats prune non-matching groups, the distributed analogue of the
        reference's single seek+read between newline offsets.
        """
        df = self._with_ids()
        return LazyFrame(
            df.filter(f"{ROW_ID} BETWEEN {int(lo)} AND {int(hi)}"),
            self._attrs.copy(),
            self._order_by,
        )

    def rows(self, indices: Iterable[int]) -> "LazyFrame":
        """Arbitrary row set, 1-based (LINES, src/lazy.frame.c:219-245).

        Set semantics in ``__row_id__`` order — the reference's dominant
        behavior (its contiguity shortcut already ignores request order,
        ``R/lazy.frame.R:152``, documented in SURVEY.md §2.1). Small sets
        become one SQL ``IN`` predicate (pushed to the scan; the ids are
        ``int()``-validated, so the string is digits only); large sets
        become a broadcast semi-join against an Arrow-built id DataFrame
        so the predicate never bloats the plan.
        """
        ids = sorted({int(i) for i in indices})
        if any(i < 1 for i in ids):
            raise IndexError("row indices are 1-based and must be positive")
        df = self._with_ids()
        if not ids:
            out = df.filter("false")
        elif len(ids) == ids[-1] - ids[0] + 1:  # contiguous → range pruning
            out = df.filter(f"{ROW_ID} BETWEEN {ids[0]} AND {ids[-1]}")
        elif len(ids) <= 10_000:
            out = df.filter(f"{ROW_ID} IN ({','.join(map(str, ids))})")
        else:
            import numpy as np
            import pandas as pd

            lookup = df.sparkSession.createDataFrame(
                pd.DataFrame({ROW_ID: np.array(ids, dtype=np.int64)}),
                schema=f"{ROW_ID} long",
            )
            out = df.join(F.broadcast(lookup), on=ROW_ID, how="left_semi")
        return LazyFrame(out, self._attrs.copy(), self._order_by)

    def sample_rows(self, n: int, seed: int = 42) -> "LazyFrame":
        """Random point extraction — the vignette's designed-for use case
        ``x[sample(nrow(x), n), ]`` (inst/doc/lazy.frame.Rnw:98-101,
        157-174), without collecting ids to the driver: rank every row by
        a seeded hash of its positional id and keep the top n. Always
        returns EXACTLY min(n, nrow) rows (a Bernoulli draw could come up
        short), is deterministic per seed, and plans as
        TakeOrderedAndProject — only n rows per partition move."""
        df = self._with_ids()
        picked = df.orderBy(F.xxhash64(F.col(ROW_ID), F.lit(int(seed)))).limit(int(n))
        return LazyFrame(picked, self._attrs.copy(), self._order_by)

    def head(self, n: int = 6) -> "LazyFrame":
        """First n rows in positional order (L1, ``R/lazy.frame.R:234-239``)."""
        df = self._with_ids()
        return LazyFrame(
            df.orderBy(ROW_ID).limit(int(n)), self._attrs.copy(), self._order_by
        )

    def tail(self, n: int = 6) -> "LazyFrame":
        """Last n rows in positional order (L2, ``R/lazy.frame.R:241-244``)."""
        df = self._with_ids()
        last = df.orderBy(ROW_ID, ascending=False).limit(int(n)).orderBy(ROW_ID)
        return LazyFrame(last, self._attrs.copy(), self._order_by)

    # ------------------------------------------------------------------ #
    # predicates (F1/F2/F3 parity)
    # ------------------------------------------------------------------ #

    def col(self, col: str | int) -> Column:
        """First-class column expression — replaces the reference's mutable
        ``which``-staging (``R/lazy.frame.R:132-140``): ``col()`` is already
        an unevaluated expression, no handle mutation needed."""
        names = self._resolve_cols(col)
        if len(names) != 1:
            raise KeyError(f"no such column: {col!r}")
        return F.col(_sql_name(names[0]))

    def filter(self, col: str | int | Column, op: str | None = None, value: Any = None) -> "LazyFrame":
        """``x[x[,k] op v, ]`` in one Catalyst plan (F3). Either a Column
        predicate, or (col, op, scalar) in the reference's RHS-typed
        domain (F2). Pure plan construction — no Spark job; the RHS-typed
        predicate is schema-independent (try_cast picks the domain from
        the LITERAL), so it replays identically on a full-inference swap."""
        if isinstance(col, Column):
            pred = col
        else:
            if op is None:
                raise ValueError("filter(col, op, value) requires op and value")
            pred = typed_compare(self.col(col), op, value)
        return self._derive(lambda df: df.filter(pred), self._attrs.copy())

    def which(
        self, col: str | int | Column, op: str | None = None, value: Any = None,
        collect: bool = False,
    ):
        """Matching 1-based row indices (WHICH, ``src/lazy.frame.c:507-773``;
        1-based via ``R/lazy.frame.R:203``). Returns a DataFrame of ids in
        ascending order; ``collect=True`` opts into a driver-side list —
        the reference's own anti-scale pattern, off by default."""
        self._with_ids()
        filtered = self.filter(col, op, value)
        ids = filtered._df.select(ROW_ID).orderBy(ROW_ID)
        if collect:
            return [r[ROW_ID] for r in ids.collect()]
        return ids.withColumnRenamed(ROW_ID, "row_id")

    # ------------------------------------------------------------------ #
    # R-flavored indexing sugar
    # ------------------------------------------------------------------ #

    def __getitem__(self, key):
        if isinstance(key, str):
            return self.col(key)
        if isinstance(key, Column):
            return self.filter(key)
        if isinstance(key, tuple) and len(key) == 2:
            j, k = key
            out = self
            if j is not None:
                if isinstance(j, Column):
                    out = out.filter(j)
                elif isinstance(j, slice):
                    lo = 1 if j.start is None else j.start
                    hi = out.nrow() if j.stop is None else j.stop
                    out = out.row_range(lo, hi)
                elif isinstance(j, int):
                    out = out.rows([j])
                else:
                    out = out.rows(j)
            if k is not None:
                out = out.select(k)
            return out
        if isinstance(key, (list, range)):
            return self.rows(key)
        raise TypeError(f"unsupported index {key!r}")

    def __setitem__(self, key, value):  # M6 parity (R/lazy.frame.R:121-124)
        raise TypeError(READ_ONLY_MSG)

    # ------------------------------------------------------------------ #
    # column metadata (M1 parity)
    # ------------------------------------------------------------------ #

    def column_attr(self, col: str | int, which: str | None = None):
        names = self._resolve_cols(col)
        if len(names) != 1:
            raise KeyError(f"no such column: {col!r}")
        return self._attrs.get(names[0], which)

    def set_column_attr(self, col: str | int, which: str, value: Any) -> "LazyFrame":
        names = self._resolve_cols(col)
        if len(names) != 1:
            raise KeyError(f"no such column: {col!r}")
        self._attrs.set(names[0], which, value)
        return self

    def decode_factors(self) -> "LazyFrame":
        """Spark-side factor decode: every column carrying a ``levels``
        attribute maps its 1-based integer codes to level strings IN
        THE PLAN (``element_at`` over a literal level array — pure
        codegen, works at any scale), instead of waiting for the pandas
        materialization boundary. The distributed analogue of the
        reference applying factor levels on extraction
        (``R/lazy.frame.R:167-178``, ``man/column_attr.Rd:43-63``);
        out-of-range codes decode to NULL, matching R's behavior for
        invalid factor codes. The decoded columns drop their levels
        attr (they ARE the levels now)."""
        from pyspark.sql.types import NumericType

        # decode is TYPE-dependent (the NumericType gate below reads the
        # current schema), so unlike filter/select it cannot be replayed
        # on a full-inference reopen — check first instead of deriving
        self._ensure_verified()
        df = self._df
        attrs = self._attrs.copy()
        for c, a in list(attrs.items()):
            levels = a.get("levels")
            if levels and c in df.columns:
                # value-typed (string) categoricals are handled at the
                # pandas boundary by metadata.ColumnAttrs; the 1-based
                # integer-code decode only applies to numeric columns —
                # casting a string-valued factor to int would null every
                # row, so skip exactly where the boundary's dtype branch
                # would
                if not isinstance(df.schema[c].dataType, NumericType):
                    continue
                arr = F.array(*[F.lit(str(lv)) for lv in levels])
                code = F.col(_sql_name(c)).cast("int")
                df = df.withColumn(
                    c,
                    F.when(
                        (code >= 1) & (code <= len(levels)),
                        F.element_at(arr, code),
                    ),
                )
                attrs.delete(c, "levels")
        return LazyFrame(df, attrs, self._order_by)

    # ------------------------------------------------------------------ #
    # materialization & introspection
    # ------------------------------------------------------------------ #

    def to_df(self, with_row_id: bool = False) -> DataFrame:
        """The underlying (lazy) DataFrame, data columns only by default."""
        self._ensure_verified()
        if with_row_id:
            return self._with_ids()
        return self._drop(*self._INTERNAL)

    def _drop(self, *internal: str) -> DataFrame:
        """``self._df`` without the given internal columns: ONE ``drop``
        of those present (user column order kept), not a re-select of
        every user column."""
        present = [c for c in internal if c in self._df.columns]
        return self._df.drop(*present) if present else self._df

    def to_pandas(self):
        """Materialize via Arrow; re-apply column attributes here — the
        materialization boundary, exactly where the reference re-applies
        them (R/lazy.frame.R:167-178). A configured row-names column
        becomes the pandas index (R row.names semantics)."""
        # the __row_name__ branch reads self._df directly: check here
        self._ensure_verified()
        if "__row_name__" in self._df.columns:
            pdf = self._drop(ROW_ID).toPandas().set_index("__row_name__")
            pdf.index.name = None
        else:
            pdf = self.to_df().toPandas()
        return self._attrs.apply_to_pandas(pdf)

    def collect(self):
        return self.to_df().collect()

    def show(self, n: int = 6, truncate: bool = True) -> None:
        """print parity (R/lazy.frame.R:252-261)."""
        total = self.nrow()
        self.to_df().show(n, truncate=truncate)
        if total > n:
            print(f"({total - n} more rows not displayed)")

    def describe_str(self) -> str:
        """str parity (R/lazy.frame.R:246-250)."""
        fields = ", ".join(f"{f.name}:{f.dataType.simpleString()}" for f in self.schema)
        return f"LazyFrame [{self.nrow()} x {self.ncol()}] ({fields})"

    def summary(self) -> DataFrame:
        """The reference warns 'Not yet supported' (R/lazy.frame.R:115-119);
        here it is a distributed aggregate for free. (Dotted column names
        are aliased around Spark's StatFunctions quoting bug and restored
        in the output.)"""
        cols = self.columns
        safe = [c.replace(".", "__dot__") for c in cols]
        out = self.to_df().toDF(*safe).summary()
        return out.toDF("summary", *cols)

    @property
    def schema(self):
        """Column names and types. Reading it runs a pending CSV sample
        check (``to_df``), so the types reported are the settled ones:
        a column the head sample saw as int may come back double or
        string if the sample lied."""
        return self.to_df().schema

    def explain(self, mode: str = "formatted") -> None:
        self._settle()
        self._df.explain(mode=mode)

    def register(self, path: str, order_by: Sequence[str] | None = None) -> "LazyFrame":
        """Persist with materialized row ids to Parquet — makes positional
        numbering repeatable across sessions (the reference's same-file ⇒
        same-numbering contract) and gets row-group pruning on
        ``__row_id__`` predicates for free.

        Column attributes are embedded as ``StructField.metadata`` (Spark
        stores it in the parquet footer and restores it on read), so the
        attribute store survives sessions — stronger than the reference,
        whose attrs live only in the in-memory handle
        (``R/lazy.frame.R:17-35``)."""
        tmp = LazyFrame(self._df, self._attrs, order_by or self._order_by)
        # shares the check, which runs (fused on an open) even for a
        # cache=False open: the stored types are the settled ones
        tmp._check, tmp._ops = self._check, self._ops
        df = tmp._with_ids()
        for col, attrs in self._attrs.items():
            if attrs and col in df.columns:
                df = df.withMetadata(col, {"lazy_frame_attrs": attrs})
        df.write.mode("overwrite").parquet(path)
        tmp.close()  # the registered parquet supersedes the in-memory cache
        back = df.sparkSession.read.parquet(path)
        return LazyFrame(back, _stored_attrs(back, self._attrs.copy()),
                         self._order_by)

    @classmethod
    def open_registered(cls, spark: SparkSession, path: str) -> "LazyFrame":
        """Re-open a registered frame: persisted ids + stored column attrs."""
        df = spark.read.parquet(path)
        return cls(df, _stored_attrs(df, ColumnAttrs()))


def _stored_attrs(df: DataFrame, attrs: ColumnAttrs) -> ColumnAttrs:
    """``attrs`` updated with the column attributes ``register()`` stored
    in the parquet footer of ``df``."""
    for f in df.schema.fields:
        for k, v in (f.metadata.get("lazy_frame_attrs") or {}).items():
            attrs.set(f.name, k, v)
    return attrs


def _infer_format(path: str) -> str:
    p = path.lower()
    if p.endswith(".gz"):
        p = p[: -len(".gz")]
    for ext, fmt in ((".csv", "csv"), (".tsv", "csv"), (".txt", "csv"),
                     (".parquet", "parquet"), (".json", "json"), (".orc", "orc")):
        if p.endswith(ext):
            return fmt
    return "parquet" if "." not in p.rsplit("/", 1)[-1] else "csv"
