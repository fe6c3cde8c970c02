"""Reference-derived golden tests (SURVEY.md §5.1) on the iris-shaped
fixture: the man/lazy.frame.Rd:82-100 examples and vignette listings."""

import pytest

from lazy_frame_spark import LazyFrame


@pytest.fixture(scope="module")
def lf(spark, iris_csv):
    return LazyFrame.open(spark, iris_csv, header=True)


def test_dim(lf):
    assert lf.dim() == (150, 5)  # man/lazy.frame.Rd golden


def test_names(lf):
    assert lf.names() == [
        "Sepal.Length", "Sepal.Width", "Petal.Length", "Petal.Width", "Species",
    ]


def test_point_extraction(lf):
    # x[c(5,15,25),] — man/lazy.frame.Rd:91
    pdf = lf.rows([5, 15, 25]).to_pandas()
    assert len(pdf) == 3
    # row 15 is one of the planted low rows? no — 14 is; check id mapping via filter
    sub = lf.rows([14]).to_pandas()
    assert sub["Sepal.Length"].iloc[0] == 4.3


def test_numeric_filter_golden(lf):
    # x[x[,1] < 4.5, ] ⇒ rows 9, 14, 39, 43 (vignette Listing 3)
    assert lf.which(1, "<", 4.5, collect=True) == [9, 14, 39, 43]
    sub = lf.filter("Sepal.Length", "<", 4.5)
    assert sub.dim() == (4, 5)


def test_string_filter_golden(lf):
    # v = x[x[,5] == "versicolor", ]; dim(v) == (50, 5)
    v = lf.filter("Species", "==", "versicolor")
    assert v.dim() == (50, 5)


def test_filter_column_expression(lf):
    # R-flavored sugar: lf[lf["Sepal.Length"] < 4.5, ["Species"]]
    out = lf[lf["Sepal.Length"] < 4.5, ["Species"]]
    assert out.dim() == (4, 1)
    assert out.names() == ["Species"]


def test_projection_by_index_and_name(lf):
    assert lf.select([1, 3]).names() == ["Sepal.Length", "Petal.Length"]
    assert lf.select(["Petal.Length", "Petal.Width"]).names() == [
        "Petal.Length", "Petal.Width",
    ]


def test_oob_column_silently_dropped(lf):
    # R/lazy.frame.R:145-147 parity
    assert lf.select([1, 99]).names() == ["Sepal.Length"]
    assert lf.select(["Species", "NotACol"]).names() == ["Species"]


def test_negative_column_index_rejected(lf):
    with pytest.raises(IndexError):
        lf.select([-1])


def test_row_range(lf):
    sub = lf.row_range(10, 20)
    assert sub.nrow() == 11
    ids = [r["row_id"] for r in sub.which("Sepal.Length", ">", 0.0).collect()]
    assert ids == list(range(10, 21))


def test_head_tail(lf):
    assert lf.head().nrow() == 6
    assert lf.tail(3).nrow() == 3
    # tail returns the LAST rows in positional order
    t = lf.tail(2).to_df(with_row_id=True).toPandas()
    assert sorted(t["__row_id__"].tolist()) == [149, 150]


def test_read_only(lf):
    with pytest.raises(TypeError, match="read-only"):
        lf["Species"] = "x"


def test_int_rhs_truncates_like_atoi(lf):
    # int RHS → bigint domain: 4.3/4.4 truncate to 4 (atoi parity,
    # src/lazy.frame.c:543-565)
    assert lf.which(1, "==", 4, collect=True) == [9, 14, 39, 43]


def test_column_attr_factor_levels(lf):
    # man/column_attr.Rd:43-63 round trip
    lf2 = lf
    lf2.set_column_attr("Species", "levels", ["setosa", "versicolor", "virginica"])
    assert lf2.column_attr("Species", "levels") == ["setosa", "versicolor", "virginica"]
    pdf = lf2.rows([1, 51, 101]).to_pandas()
    assert str(pdf["Species"].dtype) == "category"
    assert list(pdf["Species"]) == ["setosa", "versicolor", "virginica"]


def test_summary_implemented(lf):
    # the reference warns 'Not yet supported' (R/lazy.frame.R:115-119)
    s = lf.summary().toPandas()
    assert "count" in s["summary"].tolist()


def test_which_dataframe_shape(lf):
    ids = lf.which("Species", "==", "virginica")
    assert ids.columns == ["row_id"]
    assert ids.count() == 50


def test_register_persists_attrs_and_ids(spark, iris_csv, tmp_path):
    from lazy_frame_spark import LazyFrame

    lf = LazyFrame.open(spark, iris_csv, header=True)
    lf.set_column_attr("Species", "levels", ["setosa", "versicolor", "virginica"])
    reg = lf.register(str(tmp_path / "iris_reg"))
    # attrs survive the write
    assert reg.column_attr("Species", "levels") == ["setosa", "versicolor", "virginica"]
    # a FRESH open of the registered path restores attrs from parquet metadata
    back = LazyFrame.open_registered(spark, str(tmp_path / "iris_reg"))
    assert back.column_attr("Species", "levels") == ["setosa", "versicolor", "virginica"]
    # positional numbering is the persisted one
    assert back.rows([14]).to_pandas()["Sepal.Length"].iloc[0] == 4.3
    pdf = back.rows([1, 51, 101]).to_pandas()
    assert str(pdf["Species"].dtype) == "category"


def test_sample_rows(lf):
    # vignette idiom: x[sample(nrow(x), 5), ]
    s = lf.sample_rows(5, seed=1)
    assert s.nrow() == 5
    assert s.names() == lf.names()
    # deterministic for a fixed seed
    a = sorted(lf.sample_rows(5, seed=2).to_pandas()["Sepal.Length"])
    b = sorted(lf.sample_rows(5, seed=2).to_pandas()["Sepal.Length"])
    assert a == b
    # n >= nrow returns everything
    assert lf.sample_rows(10_000).nrow() == 150


def test_decode_factors_matches_pandas_boundary(spark):
    """Spark-side decode_factors and the to_pandas materialization
    boundary must decode identical values from the same stored levels
    (1-based codes; out-of-range -> NULL/NaN)."""
    from lazy_frame_spark import LazyFrame

    df = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3), (4, 4), (5, None)], "id long, code int"
    )
    lf = LazyFrame.from_df(df, cache=False)
    lf.set_column_attr("code", "levels", ["a", "b", "c"])

    decoded = {r["id"]: r["code"] for r in lf.decode_factors().collect()}
    assert decoded == {1: "a", 2: "b", 3: "c", 4: None, 5: None}
    # levels attr consumed by the decode
    assert lf.decode_factors().column_attr("code", "levels") is None
    # the pandas boundary decodes in-range codes to the same categories
    pdf = lf.to_pandas().set_index("id")
    assert list(pdf.loc[[1, 2, 3], "code"]) == ["a", "b", "c"]


def test_decode_factors_skips_value_typed_string_factor(spark):
    """A STRING column carrying a levels attr is a value-typed
    categorical (the pandas boundary's dtype branch): decode_factors
    must leave it untouched instead of casting it to int and nulling
    every row."""
    from lazy_frame_spark import LazyFrame

    df = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 2), (3, "c", 3)],
        "id long, tag string, code int",
    )
    lf = LazyFrame.from_df(df, cache=False)
    lf.set_column_attr("tag", "levels", ["a", "b", "c"])
    lf.set_column_attr("code", "levels", ["x", "y", "z"])

    rows = {r["id"]: (r["tag"], r["code"]) for r in lf.decode_factors().collect()}
    # string factor preserved verbatim; integer factor decoded
    assert rows == {1: ("a", "x"), 2: ("b", "y"), 3: ("c", "z")}
    # the skipped column KEEPS its levels attr for the pandas boundary
    assert lf.decode_factors().column_attr("tag", "levels") == ["a", "b", "c"]
    assert lf.decode_factors().column_attr("code", "levels") is None


def test_decode_factors_dotted_name(spark):
    """A numeric factor column with a dotted name (the reference's
    canonical ``Sepal.Length``) decodes instead of failing to resolve."""
    from lazy_frame_spark import LazyFrame

    df = spark.createDataFrame([(1, 1), (2, 2), (3, 3)],
                               "id long, `Sepal.Length` int")
    lf = LazyFrame.from_df(df, cache=False)
    lf.set_column_attr("Sepal.Length", "levels", ["a", "b", "c"])
    got = lf.decode_factors().to_df().orderBy("id").collect()
    assert [r["Sepal.Length"] for r in got] == ["a", "b", "c"]
