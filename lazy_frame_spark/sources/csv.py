"""Delimited-text source — S1 parity (``R/lazy.frame.R:37-87``) rebuilt
Spark-native.

The reference opens a file, scans it once to index newlines, samples ≤5
lines through ``read.table`` to learn column count/names, and auto-detects
a header row (``R/lazy.frame.R:67-84``). Crucially it re-infers column
*types* per extracted subset — a semantic hazard (same column, different
types across subsets) that SURVEY.md §1.2 directs us NOT to replicate:
here the schema is inferred **once** at open and bound to the plan.

Two read paths:

``skip == 0``
    plain ``spark.read.csv`` with Spark's splittable text reader —
    header/quote/escape/compression handled natively, inferSchema for the
    infer-once pass, CSV column pruning + pushdown stay available.

``skip > 0``
    Spark CSV has no skip-lines option. Spark-first reconstruction: read
    as ``text``, attach file-order row ids (lazy_frame_spark.rowid), drop
    the first ``skip`` (+header) lines with a row-id predicate, then parse
    each line JVM-side with ``from_csv`` against the once-inferred schema.
    Fully distributed, no Python in the row path. Verified mode appends
    the same PERMISSIVE corrupt-record channel the skip=0 reader gets
    (``from_csv`` honors ``columnNameOfCorruptRecord``), so a type the
    head sample missed flags instead of silently NULLing; the
    ``infer_schema=True`` escape runs Spark's OWN full CSV inference
    over the post-skip body lines (one dedicated pass — the fallback
    price, identical to what the skip=0 full-infer mode pays).

Header auto-detection mirrors the reference's sample heuristic
(``R/lazy.frame.R:76-79``): sample the first ≤5 data lines; a first row
that is non-numeric in a position where the following rows are numeric is
a header.
"""

from __future__ import annotations

import csv as _csv
import io
import warnings
from collections.abc import Callable
from contextlib import suppress
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lazy_frame_spark.rowid import ROW_ID, with_row_ids

SAMPLE_LINES = 5  # the reference samples at most 5 rows (R/lazy.frame.R:67-70)

#: verified-infer mode: head-sample size (driver-side peek, no cluster job)
VERIFY_SAMPLE_LINES = 1000
#: verified-infer mode: the PERMISSIVE corrupt-record channel appended to
#: the sampled schema (counted and dropped by ``SampleCheck``)
CORRUPT_COL = "__lfs_corrupt__"

#: decimal-separator → Java locale whose DecimalFormat uses it (Spark
#: parses DecimalType through the locale-aware format; Double.parseDouble
#: is hardwired to '.')
_DECIMAL_LOCALES = {",": "de-DE"}


def _decimalize(
    schema: T.StructType, decimal: str
) -> tuple[T.StructType, list[tuple[str, T.DataType]]]:
    """Under a comma-decimal locale, double/float fields must READ as
    DecimalType(38,18) (the one CSV type Spark parses locale-aware) and
    cast back afterward; returns (read schema, cast-back list). A '.'
    decimal returns the schema unchanged. Scale 18 keeps a full
    double's significant digits for |x| >= 1 (doubles carry ~17); the
    residual quantization (documented in open_csv) is values needing
    more than 18 fractional digits, which round at 1e-18."""
    if decimal == ".":
        return schema, []
    fields, casts = [], []
    for f in schema.fields:
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            fields.append(T.StructField(f.name, T.DecimalType(38, 18), True))
            casts.append((f.name, f.dataType))
        else:
            fields.append(f)
    return T.StructType(fields), casts


def _with_corrupt_channel(schema: T.StructType) -> T.StructType:
    """``schema`` plus the verified-infer corrupt channel field."""
    if CORRUPT_COL in schema.fieldNames():
        raise ValueError(
            f"column name {CORRUPT_COL!r} collides with the "
            "verified-infer corrupt channel — rename it or pass "
            "infer_schema=True"
        )
    return T.StructType(
        [*schema.fields, T.StructField(CORRUPT_COL, T.StringType(), True)])


class SampleCheck:
    """The pending check of one verified-infer open's sampled schema.

    ``LazyFrame.open`` reads a CSV by default with the schema of a
    ~1000-line driver-side head peek (no inference job) and the
    PERMISSIVE corrupt channel, so a value of a type the sample missed
    lands its raw line in ``CORRUPT_COL`` instead of silently parsing
    to NULL. The check counts that channel ONCE per open, at the first
    materialization:

    - fused into the open's own row-id build: the job that persists
      the positional cache also returns the count, so an honest sample
      costs no extra pass;
    - otherwise (to_pandas/collect/to_df, a derived frame's nrow or
      positional read, a skip>0 open whose ids come attached)
      standalone over the channel frame.

    filter/select/rename stay zero-job plan builders (the reference's
    promise semantics, man/lazy.frame.Rd:5-9): every frame derived
    before the check ran shares this object and records its op chain.
    If the sample lied, the check records ONE full-inference reopen —
    what the old always-full-infer default paid up front — and each
    frame replays its own chain on it (the ops are name/expression
    based, so they apply to the reopen whose types differ). The open's
    own row count needs no check: PERMISSIVE keeps every row under
    either schema.

    The count references every user column so the CSV parser cannot
    prune (a malformed value in any field flags the channel), and is
    two SQL strings, so its py4j cost does not grow with the width.

    ``cache=False`` opens skip it (``skip``): they are one-shot, and a
    dedicated full-width parse would double their cost. They keep the
    sample's PERMISSIVE NULLs (still 1000 lines against the reference's
    never-verified 5) and warn once. ``register()`` runs the check
    whatever the open's cache mode.
    """

    def __init__(self, channel: DataFrame, reopen: Callable[[], DataFrame]):
        self.channel: DataFrame | None = channel  # the open, channel included
        self._reopen = reopen
        self.state = "pending"  # → "clean" | "swapped" | "unverified"
        self.reopened: DataFrame | None = None

    @classmethod
    def split(
        cls, df: DataFrame, reopen: Callable[[], DataFrame]
    ) -> tuple[DataFrame, SampleCheck | None]:
        """``(user frame, check)`` for a frame ``open_csv`` returned; a
        frame without the channel has nothing to check."""
        if CORRUPT_COL not in df.columns:
            return df, None
        return df.drop(CORRUPT_COL), cls(df, reopen)

    @property
    def pending(self) -> bool:
        return self.state == "pending"

    def run(
        self, enumerated: DataFrame | None = None,
        handle: DataFrame | None = None,
    ) -> DataFrame | None:
        """Count the rows the sample failed to parse, over ``enumerated``
        (the fused row-id build, persisted as ``handle``) or else the
        channel frame. Returns ``enumerated`` without the channel if the
        sample held; None otherwise."""
        counted = self.channel if enumerated is None else enumerated
        refs = ", ".join(
            "count(`" + c.replace("`", "``") + "`)" for c in counted.columns
            if c not in (CORRUPT_COL, ROW_ID))
        bad = counted.selectExpr(
            f"sum(CAST({CORRUPT_COL} IS NOT NULL AS BIGINT)) AS __bad__",
            f"array({refs}) AS __refs__",
        ).collect()[0]["__bad__"]
        self.channel = None
        if not bad:
            self.state = "clean"
            return None if enumerated is None else enumerated.drop(CORRUPT_COL)
        if handle is not None:
            with suppress(Exception):
                handle.unpersist()
        self.reopened = self._reopen()
        self.state = "swapped"
        return None

    def skip(self) -> None:
        """Leave the sampled schema unchecked, and say so once."""
        warnings.warn(
            "cache=False open keeps the head-sampled CSV schema UNVERIFIED: "
            "values of a type the ~1000-line sample missed parse to NULL. "
            "Use cache=True / register() (verified, with automatic "
            "full-inference fallback), infer_schema=True, or an explicit "
            "schema= if the file's types may surprise.",
            UserWarning,
            stacklevel=5,
        )
        self.channel = None
        self.state = "unverified"


def open_csv(
    spark: SparkSession,
    path: str,
    sep: str = ",",
    header: bool | str = "auto",
    skip: int = 0,
    schema: T.StructType | str | None = None,
    quote: str = '"',
    escape: str = '"',
    null_value: str = "",
    row_names: int | None = None,
    infer_schema: bool | str = True,
    comment: str | None = None,
    encoding: str | None = None,
    multiline: bool = False,
    decimal: str = ".",
) -> DataFrame:
    """Open a delimited text file (plain or gzip) as a lazy DataFrame.

    ``comment``: single char — lines starting with it are skipped anywhere
    in the file (Spark-native, splittable; prefer over ``skip=`` when the
    preamble is comment-prefixed). ``encoding``: charset name (e.g.
    'ISO-8859-1'). ``infer_schema``: True (full pass), "sample" (≤5-line
    head, reference-style), "verified" (≤1000-line head sample PLUS a
    PERMISSIVE corrupt-record channel ``CORRUPT_COL`` appended to the
    schema — plumbing for LazyFrame.open's default path, whose
    ``SampleCheck`` counts and drops the channel; direct callers must
    drop/verify it themselves), or False (all strings). ``multiline``:
    allow
    quoted fields to span newlines — SCALE WARNING: a multiLine CSV is not
    line-splittable, so Spark reads each FILE as one task; at 100 TB keep
    multiline inputs as many moderate files, or convert to parquet at
    ingest. Incompatible with ``skip`` (the skip path parses per-line).

    ``decimal=','``: locale decimal separator (the reference honors the
    OS locale's ``localeconv`` decimal point, ``src/lazy.frame.c:516``).
    Spark parses comma decimals only through DecimalType's locale-aware
    DecimalFormat — Double.parseDouble is hardwired to '.' — so the
    engine reads comma-decimal columns as DecimalType(38,18) under a
    comma-decimal locale and casts them back to double in the same
    plan; sample/verified inference normalizes the separator before
    type detection. Works with sample/verified inference and explicit
    schemas (double/float fields are transparently rerouted through
    decimal); Spark's own full inference (``infer_schema=True``) is not
    locale-aware and will type comma-decimal columns as string. Digit
    grouping separators and exponent notation are not supported —
    plain ``1234,5`` values only (``1e-05`` parses NULL under the
    locale DecimalFormat), |x| < 10^20, and at most 18 fractional
    digits of precision (a value like ``0,1234567890123456789`` is
    quantized at 1e-18 before the cast back to double — the one
    divergence from the reference's locale-aware strtod, which keeps
    full double precision at any magnitude).
    """
    if multiline and skip:
        raise ValueError("multiline=True cannot be combined with skip>0")
    if decimal not in (".", ","):
        raise ValueError(f"decimal must be '.' or ',', got {decimal!r}")
    if decimal == sep:
        raise ValueError(
            "sep and decimal must differ (a comma-decimal file uses a "
            "';' or tab field separator — pass sep=';')"
        )
    # ONE head peek serves header detection AND (in verified mode) the
    # 1000-line schema sample — a second sampling job would double the
    # open's fixed cost for nothing
    n_head = (VERIFY_SAMPLE_LINES if infer_schema == "verified"
              and schema is None else SAMPLE_LINES + 1)
    sample = _sample_lines(spark, path, skip, n_head, comment=comment,
                           encoding=encoding)
    if not sample:
        raise ValueError(f"empty input: {path}")
    parsed = _parse_lines(sample, sep, quote)
    if decimal == ",":
        # normalized COPY for type/header detection only — the read
        # itself parses the raw file through the decimal locale
        parsed = [[f.replace(",", ".") if f else f for f in row]
                  for row in parsed]
    has_header = (_detect_header(parsed[:SAMPLE_LINES + 1])
                  if header == "auto" else bool(header))

    names: list[str] | None = None
    if has_header and parsed:
        names = _make_names(parsed[0])

    casts: list[tuple[str, T.DataType]] = []
    if skip == 0:
        reader = (
            spark.read.option("sep", sep)
            .option("header", str(has_header).lower())
            .option("quote", quote)
            .option("escape", escape)
            .option("nullValue", null_value)
            .option("mode", "PERMISSIVE")
        )
        if comment is not None:
            reader = reader.option("comment", comment)
        if encoding is not None:
            reader = reader.option("encoding", encoding)
        if multiline:
            reader = reader.option("multiLine", "true")
        if decimal == ",":
            reader = reader.option("locale", _DECIMAL_LOCALES[decimal])
        if schema is not None:
            if isinstance(schema, str):
                schema = T.StructType.fromDDL(schema)
            schema, casts = _decimalize(schema, decimal)
            df = reader.schema(schema).csv(path)
        elif infer_schema == "verified":
            # sample-infer from a ~1000-line driver-side head peek (no
            # full-scan job); any row the sampled schema cannot parse
            # lands its raw line in the corrupt channel instead of
            # silently nulling fields, for SampleCheck to count
            data_rows = parsed[1:] if has_header else parsed
            sampled = _infer_schema_from_sample(data_rows, names)
            sampled, casts = _decimalize(sampled, decimal)
            df = (
                reader.option("columnNameOfCorruptRecord", CORRUPT_COL)
                .schema(_with_corrupt_channel(sampled)).csv(path)
            )
        elif infer_schema == "sample":
            # reference-style inference from the ≤5-line head sample
            # (R/lazy.frame.R:67-84): open touches only the first split —
            # a full inferSchema pass over a 100 TB input is a whole extra
            # scan. Trade-off (same as the reference's): a type that only
            # reveals itself later in the file is mis-inferred; pass an
            # explicit schema when that matters.
            data_rows = parsed[1:] if has_header else parsed
            sampled = _infer_schema_from_sample(data_rows, names)
            sampled, casts = _decimalize(sampled, decimal)
            df = reader.schema(sampled).csv(path)
        elif infer_schema:
            if decimal == ",":
                # Spark's path-based inference is not locale-aware:
                # infer over the separator-normalized line strings
                # (JVM-side, one pass), then read the raw file through
                # the locale with comma columns routed via decimal —
                # full inference stays honest under decimal=',' (the
                # verified fallback lands here too)
                inferred = _full_schema_from_lines(
                    spark, _read_text_lines(spark, path, encoding), sep,
                    quote, escape, null_value, names, decimal=decimal,
                    header=has_header, comment=comment,
                )
                inferred, casts = _decimalize(inferred, decimal)
                df = reader.schema(inferred).csv(path)
            else:
                df = reader.option("inferSchema", "true").csv(path)
        else:
            df = reader.csv(path)
        if not has_header and names is None and infer_schema != "verified":
            # (the verified branch already names its columns V1..Vn in
            # the sampled schema — renaming here would clobber the
            # corrupt channel's name)
            df = df.toDF(*[f"V{i + 1}" for i in range(len(df.columns))])
    else:
        df, casts = _open_with_skip(
            spark, path, sep, has_header, skip, schema, quote, escape,
            null_value, parsed, names, infer_schema=infer_schema,
            decimal=decimal, encoding=encoding,
        )

    for cname, dtype in casts:
        # comma-decimal columns came through DecimalType(38,18) — cast
        # back to the type the sample/explicit schema declared, in the
        # same plan (a projection, no extra pass)
        df = df.withColumn(cname, F.col(cname).cast(dtype))
    if row_names is not None:
        cols = [c for c in df.columns if c != CORRUPT_COL]
        if not (1 <= row_names <= len(cols)):
            raise IndexError(f"row_names column {row_names} out of range")
        df = df.withColumnRenamed(cols[row_names - 1], "__row_name__")
    return df


#: charsets the plain text source already decodes correctly (it is
#: hardwired to UTF-8; ASCII is a strict subset)
_UTF8_ALIASES = frozenset({"utf8", "ascii", "usascii"})


def _read_text_lines(
    spark: SparkSession, path: str, encoding: str | None = None
) -> DataFrame:
    """``spark.read.text``, but charset-aware: the text source decodes
    UTF-8 only (its ``encoding`` option is silently ignored), so
    non-UTF-8 files route through the CSV reader in raw-line mode —
    one string column, delimiting on an improbable NUL, quoting
    disabled, null sentinel unmatchable — which IS charset-aware.
    Caveats of the charset route (documented, minor): ASCII-compatible
    charsets only (line splitting is byte-wise), and the CSV line
    parser drops blank lines (the UTF-8 route keeps them as empty
    strings) — a non-UTF-8 file where blank-line positions matter
    should be re-encoded or read with ``skip=0`` + explicit schema."""
    if (encoding is None
            or encoding.replace("-", "").replace("_", "").lower()
            in _UTF8_ALIASES):
        return spark.read.text(path)
    return (
        spark.read.schema(
            T.StructType([T.StructField("value", T.StringType(), True)]))
        .option("encoding", encoding)
        .option("sep", "\x00")
        .option("quote", "")
        .option("nullValue", "\x00NUL\x00")
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def _open_with_skip(
    spark: SparkSession,
    path: str,
    sep: str,
    has_header: bool,
    skip: int,
    schema: T.StructType | str | None,
    quote: str,
    escape: str,
    null_value: str,
    parsed_sample: list[list[str]],
    names: list[str] | None,
    infer_schema: bool | str = "sample",
    decimal: str = ".",
    encoding: str | None = None,
) -> tuple[DataFrame, list[tuple[str, T.DataType]]]:
    data_rows = parsed_sample[1:] if has_header else parsed_sample
    text = with_row_ids(_read_text_lines(spark, path, encoding))
    drop = skip + (1 if has_header else 0)
    body = text.filter(F.col(ROW_ID) > drop)
    verified = False
    casts: list[tuple[str, T.DataType]] = []
    if schema is None:
        if infer_schema is True:
            # FULL inference: Spark's own CSV inference run over the
            # post-skip body lines — one dedicated distributed pass,
            # the same price the skip=0 full-infer mode pays. This is
            # the automatic fallback target when verified mode finds a
            # row the head sample's schema cannot parse.
            # `body` was read charset-aware above, so inference sees
            # correctly-decoded lines whatever the file encoding
            schema = _full_schema_from_lines(spark, body, sep, quote,
                                             escape, null_value, names,
                                             decimal=decimal)
            schema, casts = _decimalize(schema, decimal)
        elif infer_schema is False:
            ncol = (len(names) if names is not None
                    else max((len(r) for r in data_rows), default=0))
            cols = names or [f"V{i + 1}" for i in range(ncol)]
            schema = T.StructType(
                [T.StructField(c, T.StringType(), True) for c in cols])
        else:
            schema = _infer_schema_from_sample(data_rows, names)
            schema, casts = _decimalize(schema, decimal)
            if infer_schema == "verified":
                schema = _with_corrupt_channel(schema)
                verified = True
    else:
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        schema, casts = _decimalize(schema, decimal)

    opts = {"sep": sep, "quote": quote, "escape": escape, "nullValue": null_value,
            "mode": "PERMISSIVE"}
    if decimal == ",":
        opts["locale"] = _DECIMAL_LOCALES[decimal]
    if verified:
        # same contract as the skip=0 reader: a row the sampled schema
        # cannot parse lands its raw line in CORRUPT_COL instead of
        # silently NULLing fields (SampleCheck counts it; its fallback
        # is the full-inference path above)
        opts["columnNameOfCorruptRecord"] = CORRUPT_COL
    parsed = body.select(
        F.col(ROW_ID),
        F.from_csv(F.col("value"), schema.simpleString(), opts).alias("__rec__"),
    )
    out = parsed.select(ROW_ID, "__rec__.*")
    # re-base ids so logical row 1 is the first data row (internalskip parity,
    # R/lazy.frame.R:65,153)
    return out.withColumn(ROW_ID, F.col(ROW_ID) - F.lit(drop)), casts


def _full_schema_from_lines(
    spark: SparkSession,
    body: DataFrame,
    sep: str,
    quote: str,
    escape: str,
    null_value: str,
    names: list[str] | None,
    decimal: str = ".",
    header: bool = False,
    comment: str | None = None,
) -> T.StructType:
    """Full CSV type inference over a column of line strings (the
    post-skip rows, or a whole text read), entirely JVM-side: the
    ``value`` column bridges as a Dataset[String] (py4j — NO
    Python-worker round-trip; the ``.rdd.map`` alternative would
    deserialize every row through the Python pipe) into
    ``DataFrameReader.csv``, so types come from the SAME inference code
    path every skip=0 full-infer open uses, applied to exactly the rows
    the caller keeps. One distributed pass; only the schema (KBs)
    reaches the driver. ``decimal=','`` normalizes separators first
    (regexp on the line, inference only — the real read parses the raw
    file through the locale; with sep != decimal enforced upstream the
    replace cannot touch field boundaries)."""
    src = body.select(F.col("value"))
    if decimal == ",":
        src = src.select(F.regexp_replace("value", ",", ".").alias("value"))
    jds = getattr(src._jdf, "as")(
        spark._jvm.org.apache.spark.sql.Encoders.STRING())
    jreader = (
        spark._jsparkSession.read()
        .option("sep", sep)
        .option("quote", quote)
        .option("escape", escape)
        .option("nullValue", null_value)
        .option("header", "true" if header else "false")
        .option("inferSchema", "true")
        .option("mode", "PERMISSIVE")
    )
    if comment is not None:
        jreader = jreader.option("comment", comment)
    inferred = T._parse_datatype_json_string(jreader.csv(jds).schema().json())
    cols = (names if names is not None and len(names) == len(inferred.fields)
            else [f"V{i + 1}" for i in range(len(inferred.fields))])
    return T.StructType(
        [T.StructField(cols[i], f.dataType, True)
         for i, f in enumerate(inferred.fields)]
    )


def _local_head_lines(
    path: str, n: int, encoding: str | None = None
) -> list[str] | None:
    """Head peek for LOCAL paths without any Spark job: resolve the
    file (or the sorted data files of a directory, matching Hadoop's
    listing order), stream the first ``n`` lines with plain Python —
    gzip-transparent. Returns None for non-local schemes or on any IO
    surprise, and the caller falls back to the textFile job."""
    import glob
    import gzip as _gz
    import os

    if "://" in path and not path.startswith("file:"):
        return None
    p = path[7:] if path.startswith("file://") else path
    p = p[5:] if p.startswith("file:") else p
    try:
        if os.path.isdir(p):
            files = sorted(
                f for f in glob.glob(os.path.join(p, "*"))
                if os.path.isfile(f)
                and not os.path.basename(f).startswith(("_", "."))
            )
        else:
            files = sorted(glob.glob(p)) if any(c in p for c in "*?[") else [p]
        if not files:
            return None
        out: list[str] = []
        for f in files:
            opener = _gz.open if f.endswith(".gz") else open
            with opener(f, "rt", encoding=encoding or "utf-8",
                        errors="replace") as fh:
                for line in fh:
                    out.append(line.rstrip("\n").rstrip("\r"))
                    if len(out) >= n:
                        return out
        return out
    except OSError:
        return None


def _sample_lines(
    spark: SparkSession,
    path: str,
    skip: int,
    n: int,
    comment: str | None = None,
    encoding: str | None = None,
) -> list[str]:
    """First ``n`` lines after ``skip`` — a driver-side peek at the head of
    the file (the reference extracts rows 1..5 to a temp file); reads only
    the first split, never the whole file. Local paths are read directly
    by the driver (no job at all, honoring ``encoding``); remote schemes
    pay one tiny take() (textFile decodes UTF-8 — non-UTF-8 REMOTE files
    should pass an explicit schema)."""
    taken = _local_head_lines(path, skip + n + 32, encoding=encoding)
    if taken is None:
        taken = spark.sparkContext.textFile(path).take(skip + n + 32)
    if comment is not None:
        taken = [ln for ln in taken if not ln.startswith(comment)]
    return taken[skip : skip + n]


def _parse_lines(lines: list[str], sep: str, quote: str) -> list[list[str]]:
    out = []
    for ln in lines:
        r = _csv.reader(io.StringIO(ln), delimiter=sep, quotechar=quote)
        row = next(r, [])
        out.append(row)
    return out


def _is_numeric(s: str) -> bool:
    if s is None or s == "":
        return False
    try:
        float(s)
        return True
    except ValueError:
        return False


def _detect_header(parsed: list[list[str]]) -> bool:
    """First row non-numeric where subsequent rows are numeric → header."""
    if len(parsed) < 2:
        return False
    first, rest = parsed[0], parsed[1:]
    ncol = max(len(r) for r in parsed)
    for i in range(ncol):
        head_val = first[i] if i < len(first) else ""
        col_vals = [r[i] for r in rest if i < len(r) and r[i] != ""]
        if col_vals and all(_is_numeric(v) for v in col_vals) and not _is_numeric(head_val):
            return True
    return False


def _make_names(raw: list[str]) -> list[str]:
    """Sanitize header names (make.names parity, R/lazy.frame.R:221)."""
    out, seen = [], set()
    for i, name in enumerate(raw):
        n = name.strip() or f"V{i + 1}"
        n = "".join(ch if (ch.isalnum() or ch in "._") else "." for ch in n)
        if n[0].isdigit():
            n = "X" + n
        base, k = n, 1
        while n in seen:
            n = f"{base}.{k}"
            k += 1
        seen.add(n)
        out.append(n)
    return out


def _infer_field_type(values: list[str]) -> T.DataType:
    """Infer one column's type from sample values — infer-once, bound to
    the plan (deliberate divergence from per-subset inference,
    SURVEY.md §1.2)."""
    vals = [v for v in values if v not in ("", None)]
    if not vals:
        return T.StringType()
    if all(v.lower() in ("true", "false") for v in vals):
        return T.BooleanType()

    def is_int(v: str) -> bool:
        try:
            int(v)
            return True
        except ValueError:
            return False

    if all(is_int(v) for v in vals):
        return T.LongType()
    if all(_is_numeric(v) for v in vals):
        return T.DoubleType()
    return T.StringType()


def _infer_schema_from_sample(
    rows: list[list[str]], names: list[str] | None
) -> T.StructType:
    # with a header, the HEADER defines the width — a ragged sample row
    # wider than it must not widen the schema (its extra fields land in
    # the corrupt channel under verified mode; indexing names[i] past
    # the header crashed here before)
    if names is not None:
        ncol = len(names)
    else:
        ncol = max(len(r) for r in rows) if rows else 0
        names = [f"V{i + 1}" for i in range(ncol)]
    fields = []
    for i in range(ncol):
        col_vals = [r[i] for r in rows if i < len(r)]
        fields.append(T.StructField(names[i], _infer_field_type(col_vals), True))
    return T.StructType(fields)
