"""CSV source semantics (SURVEY.md §2.1 fine print + FIXTURES.md F4):
header auto-detect, skip, gzip, quoting, malformed numerics."""

import gzip

import pytest

from lazy_frame_spark import LazyFrame
from lazy_frame_spark.sources.csv import open_csv

CONTENT = """id,qty,price,label
1,10,1.5,alpha
2,-3,1e3,beta
3,,3.14,"a,b"
4,7,abc,"x""y"
5,2,,gamma
"""


@pytest.fixture(scope="module")
def plain_csv(tmp_path_factory):
    p = tmp_path_factory.mktemp("csv") / "edge.csv"
    p.write_text(CONTENT)
    return str(p)


@pytest.fixture(scope="module")
def gz_csv(tmp_path_factory):
    p = tmp_path_factory.mktemp("csv") / "edge.csv.gz"
    with gzip.open(p, "wt") as f:
        f.write(CONTENT)
    return str(p)


@pytest.fixture(scope="module")
def noheader_csv(tmp_path_factory):
    p = tmp_path_factory.mktemp("csv") / "nohdr.csv"
    p.write_text("1,2.5,x\n2,3.5,y\n3,4.5,z\n")
    return str(p)


@pytest.fixture(scope="module")
def skip_csv(tmp_path_factory):
    p = tmp_path_factory.mktemp("csv") / "skip.csv"
    p.write_text("# junk line 1\n# junk line 2\nid,val\n1,10.5\n2,20.5\n3,30.5\n")
    return str(p)


def test_header_autodetect_on(spark, plain_csv):
    df = open_csv(spark, plain_csv)  # header="auto"
    assert df.columns == ["id", "qty", "price", "label"]
    assert df.count() == 5


def test_header_autodetect_off(spark, noheader_csv):
    df = open_csv(spark, noheader_csv)
    assert df.columns == ["V1", "V2", "V3"]
    assert df.count() == 3


def test_gzip_transparent(spark, gz_csv, plain_csv):
    a = open_csv(spark, gz_csv).toPandas().sort_values("id").reset_index(drop=True)
    b = open_csv(spark, plain_csv).toPandas().sort_values("id").reset_index(drop=True)
    assert a.equals(b)


def test_quoted_fields(spark, plain_csv):
    pdf = open_csv(spark, plain_csv).toPandas().sort_values("id")
    assert pdf["label"].tolist() == ["alpha", "beta", "a,b", 'x"y', "gamma"]


def test_empty_fields_dont_shift_columns(spark, plain_csv):
    # the reference's strtok collapses empty fields (src/lazy.frame.c:300-313)
    # — a bug we fix (SURVEY.md §2.1)
    pdf = open_csv(spark, plain_csv).toPandas().sort_values("id").set_index("id")
    # price infers as string (the 'abc' row) — value must still be in the
    # right column despite row 3's empty qty field
    assert float(pdf.loc[3, "price"]) == 3.14


def test_malformed_numeric_compare_false(spark, plain_csv):
    # price 'abc' (row 4) → NULL under try_cast → compare-false
    lf = LazyFrame.from_df(open_csv(spark, plain_csv), order_by=["id"])
    assert lf.which("price", ">", 0.0, collect=True) == [1, 2, 3]


def test_skip_lines(spark, skip_csv):
    df = open_csv(spark, skip_csv, skip=2)
    assert df.columns == ["__row_id__", "id", "val"]
    pdf = df.toPandas().sort_values("id")
    assert pdf["id"].tolist() == [1, 2, 3]
    assert pdf["val"].tolist() == [10.5, 20.5, 30.5]
    assert pdf["__row_id__"].tolist() == [1, 2, 3]


def test_skip_schema_inferred_once(spark, skip_csv):
    # sample mode: the engine's own head-sample inference (infer-once,
    # bound to the plan) — longs stay longs
    df = open_csv(spark, skip_csv, skip=2, infer_schema="sample")
    types = dict((f.name, f.dataType.simpleString()) for f in df.schema)
    assert types["id"] == "bigint"
    assert types["val"] == "double"
    # infer_schema=True on the skip path now means what it says: ONE
    # full pass of Spark's own CSV inference over the post-skip body
    # (the fallback target when verified mode catches a lying sample)
    full = open_csv(spark, skip_csv, skip=2, infer_schema=True)
    ftypes = dict((f.name, f.dataType.simpleString()) for f in full.schema)
    assert ftypes["id"] in ("int", "bigint")
    assert ftypes["val"] == "double"
    pdf = full.toPandas().sort_values("id")
    assert pdf["val"].tolist() == [10.5, 20.5, 30.5]
    # infer_schema=False: all strings, like the skip=0 reader
    raw = open_csv(spark, skip_csv, skip=2, infer_schema=False)
    assert all(f.dataType.simpleString() == "string"
               for f in raw.schema if f.name != "__row_id__")


def test_skip_verified_catches_lying_sample(spark, tmp_path_factory):
    """The skip>0 open gets the SAME verified-schema guarantee as
    skip=0 (round-8 verdict follow-up 3): a type that first appears
    past the 1000-line head sample lands in the corrupt channel, the
    first touch counts it, and LazyFrame falls back to ONE
    full-inference pass — values survive instead of silently NULLing."""
    from lazy_frame_spark import LazyFrame
    from lazy_frame_spark.sources.csv import VERIFY_SAMPLE_LINES

    p = tmp_path_factory.mktemp("csv") / "lying_skip.csv"
    n = VERIFY_SAMPLE_LINES + 200
    lines = ["# preamble 1", "# preamble 2", "id,val"]
    lines += [f"{i},{i}" for i in range(1, n + 1)]
    lines[3 + VERIFY_SAMPLE_LINES + 50] = f"{VERIFY_SAMPLE_LINES + 51},3.5"
    p.write_text("\n".join(lines) + "\n")

    lf = LazyFrame.open(spark, str(p), skip=2)
    assert lf.dim() == (n, 2)
    # first POSITIONAL touch runs the verify pass + full-infer fallback
    # (same contract as skip=0: verification rides the enumerate step)
    assert lf.head(1).collect()[0]["id"] == 1
    types = {f.name: f.dataType.simpleString() for f in lf.to_df().schema}
    assert types["val"] == "double"  # full inference saw the late float
    got = lf.filter("val", "==", 3.5).to_df().collect()
    assert len(got) == 1 and got[0]["id"] == VERIFY_SAMPLE_LINES + 51

    # honest sample: no fallback, sampled types stick
    q = tmp_path_factory.mktemp("csv") / "honest_skip.csv"
    q.write_text("# x\nid,val\n" + "\n".join(
        f"{i},{i / 2}" for i in range(1, 50)) + "\n")
    lf2 = LazyFrame.open(spark, str(q), skip=1)
    assert lf2.dim() == (49, 2)
    assert lf2.head(1).collect()[0]["id"] == 1  # verify pass: clean
    t2 = {f.name: f.dataType.simpleString() for f in lf2.to_df().schema}
    assert t2["id"] == "bigint" and t2["val"] == "double"


def test_decimal_comma_locale(spark, tmp_path_factory):
    """decimal=',' (src/lazy.frame.c:516-517 localeconv parity): comma
    decimals parse to the exact doubles on every path — sample
    inference (separator-normalized detection), explicit schema
    (double fields rerouted through locale-aware DecimalType), and the
    skip>0 from_csv path. '.' stays the default; bad separators raise."""
    d = tmp_path_factory.mktemp("csv")
    p = d / "dec.csv"
    p.write_text("id;qty;name\n1;3,5;a\n2;10,25;b\n3;7,0;c\n")

    df = open_csv(spark, str(p), sep=";", decimal=",",
                  infer_schema="sample")
    types = {f.name: f.dataType.simpleString() for f in df.schema}
    assert types == {"id": "bigint", "qty": "double", "name": "string"}
    assert sorted(r["qty"] for r in df.collect()) == [3.5, 7.0, 10.25]

    ex = open_csv(spark, str(p), sep=";", decimal=",",
                  schema="id bigint, qty double, name string")
    assert dict((f.name, f.dataType.simpleString()) for f in ex.schema)[
        "qty"] == "double"
    assert sorted(r["qty"] for r in ex.collect()) == [3.5, 7.0, 10.25]

    s = d / "dec_skip.csv"
    s.write_text("# junk\nid;qty\n1;3,5\n2;10,25\n")
    sk = open_csv(spark, str(s), sep=";", skip=1, decimal=",",
                  infer_schema="sample")
    assert sorted(r["qty"] for r in sk.collect()) == [3.5, 10.25]

    # full inference (the verified-fallback target) must stay honest
    # under decimal=',' on BOTH paths: separator-normalized JVM
    # inference, then the locale read with comma columns decimalized
    for kw in ({}, {"skip": 1}):
        src = str(s) if kw else str(p)
        fi = open_csv(spark, src, sep=";", decimal=",",
                      infer_schema=True, **kw)
        ft = {f.name: f.dataType.simpleString() for f in fi.schema}
        assert ft["qty"] == "double", ft
        assert sorted(r["qty"] for r in fi.collect()) == (
            [3.5, 10.25] if kw else [3.5, 7.0, 10.25])

    with pytest.raises(ValueError):
        open_csv(spark, str(p), sep=";", decimal="'")
    with pytest.raises(ValueError):
        open_csv(spark, str(p), decimal=",")  # sep == decimal


def test_nonpositional_first_touch_verifies(spark, tmp_path_factory):
    """The verified-by-default contract must hold on EVERY read path:
    a filter().to_df() chain that never touches positional machinery
    still runs the corrupt-channel count first, so a type past the
    head sample triggers the full-inference fallback instead of
    silently comparing against NULL (round-9 review finding)."""
    from lazy_frame_spark import LazyFrame
    from lazy_frame_spark.sources.csv import VERIFY_SAMPLE_LINES

    p = tmp_path_factory.mktemp("csv") / "lying_flat.csv"
    n = VERIFY_SAMPLE_LINES + 100
    lines = ["id,val"] + [f"{i},{i}" for i in range(1, n + 1)]
    lines[VERIFY_SAMPLE_LINES + 20] = f"{VERIFY_SAMPLE_LINES + 20},3.5"
    p.write_text("\n".join(lines) + "\n")

    lf = LazyFrame.open(spark, str(p))
    got = lf.filter("val", "==", 3.5).to_df().collect()  # no positional op
    assert len(got) == 1 and got[0]["id"] == VERIFY_SAMPLE_LINES + 20


def test_cache_false_open_warns_unverified(spark, tmp_path_factory):
    """cache=False one-shot opens keep the sampled schema unverified by
    design — but must SAY so once instead of silently changing data
    (round-8 ADVICE)."""
    import warnings

    from lazy_frame_spark import LazyFrame

    p = tmp_path_factory.mktemp("csv") / "oneshot.csv"
    p.write_text("id,val\n" + "\n".join(f"{i},{i}" for i in range(1, 30)) + "\n")
    lf = LazyFrame.open(spark, str(p), cache=False)
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        lf.head(2).collect()
    assert any("UNVERIFIED" in str(w.message) for w in rec)


def test_tsv_sep(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("csv") / "t.tsv"
    p.write_text("a\t1\nb\t2\n")
    df = open_csv(spark, str(p), sep="\t")
    assert df.count() == 2 and len(df.columns) == 2


def test_explicit_header_false_keeps_first_row(spark, plain_csv):
    df = open_csv(spark, plain_csv, header=False)
    assert df.count() == 6


def test_sample_inference_skips_full_scan(spark, plain_csv):
    df = open_csv(spark, plain_csv, infer_schema="sample")
    types = {f.name: f.dataType.simpleString() for f in df.schema}
    assert types["id"] == "bigint"
    # price looks numeric in the 5-row sample head ('1.5','1e3','3.14','abc','')
    # — 'abc' IS within the sample here so it stays string
    assert types["price"] == "string"
    assert df.count() == 5


def test_multiline_quoted_newlines(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("csv") / "ml.csv"
    p.write_text('id,note\n1,"first line\nsecond line"\n2,plain\n')
    df = open_csv(spark, str(p), multiline=True, header=True)
    pdf = df.toPandas().sort_values("id")
    assert pdf["note"].tolist() == ["first line\nsecond line", "plain"]


def test_multiline_rejects_skip(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("csv") / "mlskip.csv"
    p.write_text("x\n1\n")
    with pytest.raises(ValueError, match="multiline"):
        open_csv(spark, str(p), multiline=True, skip=2)


def test_custom_escape_char(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("csv") / "esc.csv"
    p.write_text('id,txt\n1,"say \\"hi\\""\n2,plain\n')
    df = open_csv(spark, str(p), escape="\\", header=True)
    pdf = df.toPandas().sort_values("id")
    assert pdf["txt"].tolist() == ['say "hi"', "plain"]


def test_latin1_encoding(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("csv") / "latin1.csv"
    p.write_bytes("id,name\n1,café\n2,naïve\n".encode("iso-8859-1"))
    df = open_csv(spark, str(p), encoding="ISO-8859-1", header=True)
    pdf = df.toPandas().sort_values("id")
    assert pdf["name"].tolist() == ["café", "naïve"]


def test_csv_scan_prunes_columns(spark, plain_csv):
    """A 2-column projection must reach the CSV scan as a 2-column
    ReadSchema — not a full-width read."""
    df = open_csv(spark, plain_csv).select("id", "label")
    plan = df._jdf.queryExecution().executedPlan().toString()
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, plan
    assert "id" in read_schema[0] and "label" in read_schema[0]
    assert "price" not in read_schema[0] and "qty" not in read_schema[0]


def test_comment_lines_skipped(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("csv") / "comm.csv"
    p.write_text("# generated file\n# by a tool\nid,val\n1,10.5\n# mid-file note\n2,20.5\n")
    df = open_csv(spark, str(p), comment="#")
    pdf = df.toPandas().sort_values("id")
    assert df.columns == ["id", "val"]
    assert pdf["id"].tolist() == [1, 2]


@pytest.fixture(scope="module")
def late_float_csv(tmp_path_factory):
    """An int-looking column that turns float at row 1500 — PAST the
    1000-line verified-infer head sample, so the sample lies."""
    p = tmp_path_factory.mktemp("csv") / "late.csv"
    rows = [f"{i},s{i}" for i in range(2000)]
    rows[1500] = "999.25,late"
    p.write_text("a,b\n" + "\n".join(rows) + "\n")
    return str(p)


def test_verified_infer_clean_fast_path(spark, tmp_path):
    """LazyFrame.open's default: schema from the driver-side head peek
    (no inference job), corrupt channel invisible to the user, and the
    enumerate build verifies it — clean files keep the sampled types."""
    p = tmp_path / "clean.csv"
    p.write_text("a,b,c\n" + "".join(f"{i},{i * 1.5},s{i}\n"
                                     for i in range(1500)))
    lf = LazyFrame.open(spark, str(p), format="csv")
    check = lf._check
    assert lf.columns == ["a", "b", "c"]          # channel never surfaces
    df = lf._with_ids()
    assert "__lfs_corrupt__" not in df.columns
    assert df.count() == 1500
    types = {f.name: f.dataType.simpleString() for f in df.schema}
    assert types["a"] == "bigint" and types["b"] == "double"
    assert check.state == "clean"                 # verification settled
    lf.close()


def test_verified_infer_falls_back_when_sample_lies(spark, late_float_csv):
    """A type that only reveals itself past the head sample flags the
    corrupt channel during the enumerate build; the open falls back to
    ONE full-inference pass — the late row survives with its real value
    instead of silently nulling (what unverified sample-infer does)."""
    lf = LazyFrame.open(spark, late_float_csv, format="csv")
    df = lf._with_ids()
    types = {f.name: f.dataType.simpleString() for f in df.schema}
    assert types["a"] == "double"                 # widened by full infer
    assert df.filter("a = 999.25").count() == 1   # late row intact
    assert df.count() == 2000
    lf.close()


def test_verified_infer_uncached_keeps_sampled_schema(spark, late_float_csv):
    """cache=False is the minimum-touch one-shot mode: ids come from the
    line-count scan and NO verification pass is added (it would double
    the one-shot cost), so the sampled schema keeps PERMISSIVE null
    semantics — the documented trade, same shape as the reference's
    never-verified 5-line sample."""
    lf = LazyFrame.open(spark, late_float_csv, format="csv", cache=False)
    df = lf._with_ids()
    types = {f.name: f.dataType.simpleString() for f in df.schema}
    assert types["a"] == "bigint"                 # sampled type retained
    assert df.count() == 2000
    assert df.filter("a IS NULL").count() == 1    # the late row nulled
    lf.close()


def test_open_csv_verified_exposes_corrupt_channel(spark, plain_csv):
    """Direct open_csv(infer_schema='verified') is plumbing: the corrupt
    channel column IS returned (callers verify/drop it themselves) and
    flags rows the sampled schema cannot parse."""
    import pyspark.sql.functions as F

    df = open_csv(spark, plain_csv, infer_schema="verified")
    assert df.columns[-1] == "__lfs_corrupt__"
    # aggregate referencing real columns too — Spark forbids plans whose
    # scan would read ONLY the corrupt channel (and a corrupt-only read
    # couldn't verify the other fields anyway)
    row = df.agg(
        F.sum(F.col("__lfs_corrupt__").isNotNull().cast("long")).alias("bad"),
        *[F.count(c).alias(f"c_{c}") for c in df.columns[:-1]],
    ).collect()[0]
    assert int(row["bad"] or 0) == 0  # 5-row file: the sample saw it all


def test_verified_infer_ragged_head_row(spark, tmp_path):
    """A sample row WIDER than the header must not widen the schema (or
    crash the open, as indexing names past the header once did): the
    header defines the width, the ragged row lands in the corrupt
    channel, and the cached open falls back to full inference — which
    tolerates it the way the old default did."""
    p = tmp_path / "ragged.csv"
    rows = [f"{i},x{i}" for i in range(50)]
    rows[7] = "7,x7,EXTRA"                       # wider than the header
    p.write_text("a,b\n" + "\n".join(rows) + "\n")
    lf = LazyFrame.open(spark, str(p), format="csv")
    df = lf._with_ids()
    assert [c for c in df.columns if c != "__row_id__"] == ["a", "b"]
    assert df.count() == 50
    assert df.filter("a = 7").count() == 1       # ragged row survived
    lf.close()


def test_to_pandas_row_names_first_touch_verifies(spark, tmp_path_factory):
    """to_pandas() on a row_names= open reads self._df directly (the
    __row_name__ branch bypasses to_df), so it must run the verify hook
    itself: a type past the head sample, first touched via to_pandas,
    must come back full-inferred rather than silently NULL (round-9
    ADVICE)."""
    from lazy_frame_spark import LazyFrame
    from lazy_frame_spark.sources.csv import VERIFY_SAMPLE_LINES

    p = tmp_path_factory.mktemp("csv") / "lying_rownames.csv"
    n = VERIFY_SAMPLE_LINES + 100
    lines = ["name,val"] + [f"r{i},{i}" for i in range(1, n + 1)]
    liar = VERIFY_SAMPLE_LINES + 20
    lines[liar] = f"r{liar},3.5"
    p.write_text("\n".join(lines) + "\n")

    lf = LazyFrame.open(spark, str(p), row_names=1)
    pdf = lf.to_pandas()  # FIRST data access of any kind
    assert pdf.loc[f"r{liar}", "val"] == 3.5  # not NaN: fallback ran
    lf.close()


def test_latin1_encoding_with_skip(spark, tmp_path_factory):
    """skip>0 routes the body through a line read; with a non-UTF-8
    encoding that read must decode through the charset (the plain text
    source is hardwired to UTF-8 and would hand back mojibake)."""
    p = tmp_path_factory.mktemp("csv") / "latin1_skip.csv"
    p.write_bytes(
        "# préambule\nid,name\n1,café\n2,naïve\n".encode("iso-8859-1"))
    df = open_csv(spark, str(p), encoding="ISO-8859-1", header=True, skip=1)
    pdf = df.drop("__row_id__").toPandas().sort_values("id")
    assert pdf["name"].tolist() == ["café", "naïve"]


def test_decimal_comma_deep_fraction(spark, tmp_path_factory):
    """decimal=',' reads through DecimalType(38,18): a value with more
    than 10 fractional digits (the old scale) must survive the decimal
    round-trip exactly (round-9 ADVICE: 0,12345678901 used to quantize
    at 1e-10)."""
    p = tmp_path_factory.mktemp("csv") / "deep_frac.csv"
    p.write_text("id;x\n1;0,12345678901\n2;7,000000000001\n")
    pdf = (open_csv(spark, str(p), sep=";", header=True, decimal=",")
           .toPandas().sort_values("id"))
    assert pdf["x"].tolist() == [0.12345678901, 7.000000000001]


def test_transformations_job_free_until_materialization(spark, tmp_path_factory):
    """Pure promise semantics (man/lazy.frame.Rd:5-9): on a default
    verified open, filter()/select()/rename() are plan builders — ZERO
    Spark jobs — and the corrupt-count verify runs at the
    materialization boundary, still before any data is returned
    (round-9 verdict task 3)."""
    from lazy_frame_spark import LazyFrame
    from lazy_frame_spark.sources.csv import VERIFY_SAMPLE_LINES

    p = tmp_path_factory.mktemp("csv") / "defer.csv"
    n = VERIFY_SAMPLE_LINES + 200
    p.write_text("id,val\n" + "\n".join(f"{i},{i * 2}" for i in range(1, n + 1)) + "\n")

    lf = LazyFrame.open(spark, str(p))
    check = lf._check
    assert check.state == "pending"  # verify pending after open

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    chained = lf.filter("val", ">", 100).select(["id"]).rename({"id": "ident"})
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "transformations launched a Spark job"
    assert check.state == "pending"           # still pending
    assert chained._check is check            # lineage shared with chain

    got = chained.to_pandas()                 # materialization verifies
    assert check.state == "clean"             # consumed exactly here
    assert got["ident"].min() == 51 and len(got) == n - 50
    lf.close()


def test_deferred_verify_replays_chain_on_lying_sample(spark, tmp_path_factory):
    """A filter→select chain built BEFORE the verify pass must replay on
    the full-inference reopen when the sample lied: the float-at-row-N
    value matches the float predicate instead of silently nulling, and a
    sibling chain derived from the pre-swap root settles to the swapped
    plan too (no stale plans survive)."""
    from lazy_frame_spark import LazyFrame
    from lazy_frame_spark.sources.csv import VERIFY_SAMPLE_LINES

    p = tmp_path_factory.mktemp("csv") / "defer_liar.csv"
    n = VERIFY_SAMPLE_LINES + 100
    lines = ["id,val"] + [f"{i},{i}" for i in range(1, n + 1)]
    liar = VERIFY_SAMPLE_LINES + 20
    lines[liar] = f"{liar},3.5"
    p.write_text("\n".join(lines) + "\n")

    lf = LazyFrame.open(spark, str(p))
    hit = lf.filter("val", "==", 3.5).select(["id"])   # pre-verify chain
    sibling = lf.filter("val", "==", 3.5)              # second pre-verify chain
    rows = hit.to_pandas()                             # triggers verify + swap
    assert rows["id"].tolist() == [liar]
    assert lf._check.state == "swapped"                # sample lied, swapped
    assert lf.schema["val"].dataType.simpleString() == "double"
    # the sibling was built against the pre-swap plan: materialization
    # must settle it onto the swapped root, not count NULL-compares
    assert sibling.nrow() == 1
    # chains derived AFTER the swap see the full-inferred schema directly
    assert lf.filter("val", "==", 3.5).nrow() == 1
    lf.close()


@pytest.mark.parametrize("cache", [True, False])
def test_register_runs_the_sample_check(spark, late_float_csv, tmp_path,
                                        cache):
    """register() stores the settled schema, whatever the open's cache
    mode: the column the head sample saw as bigint is written as double,
    and the late value survives instead of landing as NULL."""
    lf = LazyFrame.open(spark, late_float_csv, cache=cache)
    reg = lf.register(str(tmp_path / "r"))
    assert dict(reg.to_df().dtypes)["a"] == "double"
    assert reg.rows([1501]).to_pandas()["a"].tolist() == [999.25]
    assert dict(lf.to_df().dtypes)["a"] == "double"  # the open adopts it
    reg.close()


def _new_jobs(spark, fn):
    """Spark jobs ``fn`` launched (the listener bus is drained on both
    sides, so the status tracker has seen every job)."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    tracker = spark.sparkContext.statusTracker()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(None) or [])
    fn()
    bus.waitUntilEmpty()
    return len(set(tracker.getJobIdsForGroup(None) or []) - before)


@pytest.mark.parametrize("lies, jobs", [(False, 6), (True, 8)])
def test_first_rows_fuses_the_sample_check(spark, tmp_path, monkeypatch,
                                           lies, jobs):
    """The first rows() after a default open runs the sample check inside
    the row-id build: on a clean file it launches as many jobs as the
    build alone did before the check moved into its own object (6), and
    a lying sample falls back to ONE full-inference reopen (8 jobs)."""
    from lazy_frame_spark.sources import csv as csv_source

    opens = []
    real = csv_source.open_csv

    def counting(*args, **kwargs):
        opens.append(kwargs.get("infer_schema"))
        return real(*args, **kwargs)

    monkeypatch.setattr(csv_source, "open_csv", counting)
    rows = [f"{i},s{i}" for i in range(2000)]
    if lies:
        rows[1500] = "999.25,late"
    p = tmp_path / "first_rows.csv"
    p.write_text("a,b\n" + "\n".join(rows) + "\n")

    lf = LazyFrame.open(spark, str(p))
    assert _new_jobs(spark, lambda: lf.rows([3, 1501])) == jobs
    assert opens == (["verified", True] if lies else ["verified"])
    got = lf.rows([1501]).to_pandas()["a"].tolist()
    assert got == ([999.25] if lies else [1500])
    lf.close()
