"""Driver-held rows enter Spark as Arrow local relations
(``session.local_frame``): same rows and types as the Python-list
``createDataFrame`` they replace, planned as ``LocalTableScan`` so no
Python worker pool starts, and the only ``createDataFrame`` call left in
the package is the helper's own."""

import ast
import datetime as dt
import os
import time

import pytest

from miaplpy_spark.session import local_frame

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "miaplpy_spark")

_TS = [dt.datetime(2024, 1, 1, 0, 0), dt.datetime(2024, 3, 11, 2, 30),
       dt.datetime(2024, 7, 4, 23, 59, 59, 123456)]

CASES = {
    "int": ([(1,), (-7,), (None,)], "partition_key int"),
    "bigint": ([(2**40,), (-1,), (None,)], "node bigint"),
    "string": ([('{"n_perm": 64}',), ("",), (None,)], "p string"),
    "double": ([(0.1,), (-2.5e300,), (None,)], "bperp_diff double"),
    "timestamp": ([(t,) for t in _TS] + [(None,)], "day1 timestamp"),
    "checkpoint": ([("1h", 3, 17, 120, "abc", None),
                    ("1d", 0, 17, 8, "def", _TS[1])],
                   "tier string, partition_key int, snapshot_id long, "
                   "rows_processed long, lineage string, "
                   "updated_at timestamp"),
    "delaunay": ([(_TS[0], _TS[1], 69, 1.25)],
                 "day1 timestamp, day2 timestamp, dt_days bigint, "
                 "bperp_diff double"),
    "zero_rows": ([], "tier string, partition_key int, snapshot_id long, "
                      "rows_processed long, lineage string, "
                      "updated_at timestamp"),
}


def _assert_local(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


@pytest.fixture()
def non_utc_tz():
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/Los_Angeles"
    time.tzset()
    yield
    if old is None:
        os.environ.pop("TZ")
    else:
        os.environ["TZ"] = old
    time.tzset()


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_list_path(spark, case, non_utc_tz):
    rows, ddl = CASES[case]
    new, old = local_frame(spark, rows, ddl), spark.createDataFrame(rows, ddl)
    assert new.schema == old.schema
    assert new.collect() == old.collect()
    # equal instants, not only equal local renderings
    ts = [f.name for f in new.schema if f.dataType.typeName() == "timestamp"]
    if ts:
        def micros(df):
            return df.selectExpr(*[f"unix_micros({c})" for c in ts]).collect()
        assert micros(new) == micros(old)
    _assert_local(new)


def test_log_completion_frame_is_local(spark):
    from miaplpy_spark.operators.checkpoint import CheckpointLog

    class Capture:
        def append(self, df, name):
            self.df, self.name = df, name

    store = Capture()
    CheckpointLog(store).log_completion(spark, "1h", "lin", [(0, 5), (3, 9)])
    assert store.name == "checkpoints"
    # written as a required parquet column, like every earlier append
    assert not store.df.schema["updated_at"].nullable
    assert sorted((r.partition_key, r.rows_processed)
                  for r in store.df.collect()) == [(0, 5), (3, 9)]
    _assert_local(store.df)


def test_driver_components_output_is_local(spark):
    from miaplpy_spark.functions.dedup import _driver_components

    e = local_frame(spark, [(2, 1), (3, 2), (9, 8)], "c bigint, p bigint")
    out = _driver_components(e)
    assert sorted(map(tuple, out.collect())) == [
        (1, 1), (2, 1), (3, 1), (8, 8), (9, 8)]
    _assert_local(out)


def test_delaunay_pair_frame_is_local(spark, workdir):
    from miaplpy_spark.functions.relational import delaunay_network

    day0 = dt.datetime(2024, 1, 1, 12)
    ev = [(day0 + dt.timedelta(days=d), float(d % 5)) for d in range(20)]
    (local_frame(spark, ev, "ts timestamp, value double")
     .write.parquet(f"{workdir}/events.parquet"))
    pairs = delaunay_network(spark, workdir)
    assert pairs.count() > 0
    _assert_local(pairs)


class _CreateDataFrameUses(ast.NodeVisitor):
    """Innermost enclosing function of every ``.createDataFrame``."""

    def __init__(self):
        self.stack, self.found = [], []

    def visit_FunctionDef(self, node):
        self.stack.append(node.name)
        self.generic_visit(node)
        self.stack.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Attribute(self, node):
        if node.attr == "createDataFrame":
            self.found.append(self.stack[-1] if self.stack else None)
        self.generic_visit(node)


def test_create_dataframe_only_in_local_frame():
    """No list-based createDataFrame path may come back: every call
    site goes through the helper."""
    found = set()
    for root, _, files in os.walk(PKG):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                v = _CreateDataFrameUses()
                v.visit(ast.parse(open(path).read(), path))
                found |= {(os.path.relpath(path, PKG), f) for f in v.found}
    assert found == {("session.py", "local_frame")}, found
