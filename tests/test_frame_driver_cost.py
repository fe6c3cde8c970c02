"""Driver-side cost of LazyFrame reads.

Positional reads send a number of py4j commands that does not grow with
the frame's width or with the number of requested ids: predicates travel
as one SQL string and ``to_df`` drops the internal columns instead of
re-selecting every user column. The SQL-string predicates must keep the
optimized plan, the cached-batch pruning on ``__row_id__`` and the
results of the Column-built ``isin``/``between`` they replace.
"""

import gc
import threading
from operator import itemgetter

import pytest
from py4j import protocol
from pyspark.sql import functions as F

from lazy_frame_spark import LazyFrame
from lazy_frame_spark.rowid import ROW_ID

#: slack for "the same cost": a few conf lookups may differ between ops
SMALL = 5
NARROW_ROWS = 21_000


def _write_csv(path, ncols, nrows):
    with open(path, "w") as f:
        f.write(",".join(["key"] + [f"c{i}" for i in range(1, ncols)]) + "\n")
        for r in range(1, nrows + 1):
            f.write(",".join([str(r)] + [str(r * i % 97)
                                         for i in range(1, ncols)]) + "\n")
    return str(path)


@pytest.fixture(scope="module")
def narrow(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("cost")
    lf = LazyFrame.open(spark, _write_csv(d / "narrow.csv", 3, NARROW_ROWS))
    yield lf
    lf.close()


@pytest.fixture(scope="module")
def wide(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("cost")
    lf = LazyFrame.open(spark, _write_csv(d / "wide.csv", 60, 300))
    yield lf
    lf.close()


@pytest.fixture
def py4j_calls(spark, monkeypatch):
    """``count(fn)`` → py4j commands the calling thread sent while
    running ``fn``. Object-release commands are left out: py4j's
    finalizer worker flushes them from another thread at GC-dependent
    times."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    sent = [0]

    def counting(command, *args, **kwargs):
        if threading.get_ident() == me and not command.startswith(release):
            sent[0] += 1
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)

    def count(fn):
        fn()  # warm: first-use conf and class lookups are not per-op cost
        gc.collect()
        gc.disable()
        sent[0] = 0
        try:
            fn()
        finally:
            gc.enable()
        return sent[0]

    return count


READS = {
    "row_range": lambda lf: lf.row_range(5, 50).to_pandas(),
    "rows": lambda lf: lf.rows([3, 17, 40, 41, 99]).to_pandas(),
    "rows_contiguous": lambda lf: lf.rows(range(10, 30)).to_pandas(),
    "head": lambda lf: lf.head(5).to_pandas(),
    "tail": lambda lf: lf.tail(5).to_pandas(),
    "to_pandas": lambda lf: lf.to_pandas(),
}


@pytest.mark.parametrize("read", sorted(READS))
def test_read_py4j_cost_constant_in_width(narrow, wide, py4j_calls, read):
    n3 = py4j_calls(lambda: READS[read](narrow))
    n60 = py4j_calls(lambda: READS[read](wide))
    assert abs(n60 - n3) <= SMALL, (read, n3, n60)


def test_rows_py4j_cost_constant_in_id_count(narrow, py4j_calls):
    n10 = py4j_calls(lambda: narrow.rows(range(1, 200, 20)).to_pandas())
    n1000 = py4j_calls(lambda: narrow.rows(range(1, 2000, 2)).to_pandas())
    assert n1000 <= n10 + SMALL, (n10, n1000)


def _scan_predicates(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [line.split("], [", 1)[1] for line in plan.splitlines()
             if "InMemoryTableScan [" in line]
    assert scans, plan
    return scans


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


SCATTERED = list(range(1, 400, 37))[:8]
MANY = list(range(1, 1500, 3))

# (new build, the Column-built predicate it replaces)
PRUNED = {
    "rows_small": (lambda lf: lf.rows(SCATTERED),
                   lambda rid: rid.isin(SCATTERED)),
    "rows_inset": (lambda lf: lf.rows(MANY), lambda rid: rid.isin(MANY)),
    "rows_contiguous": (lambda lf: lf.rows(range(40, 90)),
                        lambda rid: rid.between(40, 89)),
    "row_range": (lambda lf: lf.row_range(40, 89),
                  lambda rid: rid.between(40, 89)),
}


@pytest.mark.parametrize("case", sorted(PRUNED))
def test_sql_predicates_keep_batch_pruning(narrow, case):
    build, old_pred = PRUNED[case]
    new = build(narrow).to_df(with_row_id=True)
    old = narrow.to_df(with_row_id=True).filter(old_pred(F.col(ROW_ID)))
    assert _optimized(new) == _optimized(old)
    assert all(ROW_ID in p for p in _scan_predicates(new))
    key = itemgetter(ROW_ID)
    assert sorted(new.collect(), key=key) == sorted(old.collect(), key=key)


def test_rows_over_10k_ids_semi_join(narrow):
    ids = list(range(NARROW_ROWS, 0, -2))[:10_001]  # scattered, unsorted
    out = narrow.rows(ids)
    plan = out._df._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan
    pdf = out.to_pandas()
    assert sorted(pdf["key"].tolist()) == sorted(ids)


@pytest.fixture
def odd_names_csv(tmp_path):
    """Row names first, then a dotted name, a backticked name and a plain
    one; ``Sepal.Length`` turns float past the verify head sample."""
    from lazy_frame_spark.sources.csv import VERIFY_SAMPLE_LINES

    n = VERIFY_SAMPLE_LINES + 100
    lines = ["name,Sepal.Length,we`ird,c"]
    lines += [f"r{i},{i},{i * 2},{i % 7}" for i in range(1, n + 1)]
    liar = VERIFY_SAMPLE_LINES + 20
    lines[liar] = f"r{liar},3.5,{liar * 2},{liar % 7}"
    p = tmp_path / "odd.csv"
    p.write_text("\n".join(lines) + "\n")
    return str(p), liar


USER_COLS = ["Sepal.Length", "we`ird", "c"]


def test_to_df_drops_internal_columns_only(spark, odd_names_csv):
    path, liar = odd_names_csv
    lf = LazyFrame.open(spark, path, row_names=1)
    check = lf._check
    with_ids = lf.to_df(with_row_id=True)    # fused verify runs here
    assert check.state == "swapped"          # the sample lied: full infer
    assert with_ids.columns == ["__row_name__", *USER_COLS, ROW_ID]
    assert lf.to_df().columns == USER_COLS
    pdf = lf.to_pandas()
    assert list(pdf.columns) == USER_COLS
    assert pdf.loc[f"r{liar}", "Sepal.Length"] == 3.5
    sub = lf.rows([liar]).to_pandas()
    assert list(sub.columns) == USER_COLS
    assert sub.index.tolist() == [f"r{liar}"]
    picked = lf.select(["we`ird", "Sepal.Length"])
    assert picked.to_df().columns == ["we`ird", "Sepal.Length"]
    assert picked.rows([2]).to_pandas()["we`ird"].tolist() == [4]
    lf.close()


def test_standalone_verify_falls_back_with_odd_names(spark, odd_names_csv):
    """First touch through to_pandas (no enumerate build to fuse into)
    runs the standalone corrupt count over the backtick-escaped names."""
    path, liar = odd_names_csv
    lf = LazyFrame.open(spark, path, row_names=1)
    check = lf._check
    pdf = lf.to_pandas()
    assert check.state == "swapped"
    assert pdf.loc[f"r{liar}", "Sepal.Length"] == 3.5
    assert list(pdf.columns) == USER_COLS
    lf.close()
