"""The batch-carry protocol (rollup.stream_groups) every grouped kernel
streams through: a (doc, window) group split across Arrow batches must
give exactly the output of one pass over the whole partition."""

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
import pytest

from miaplpy_spark.config import EngineConfig
from miaplpy_spark.operators.fused import rollup_cascade_fused
from miaplpy_spark.operators.rollup import (
    _extract,
    _group_starts,
    _strings,
    attach_doc_dim,
    make_rollup_1d_kernel,
    rollup_1d,
    rollup_1h,
    stream_groups,
    with_doc_keys,
)
from miaplpy_spark.oracle_fixtures import fixture_obs

# (doc_key, doc_key2, window) of sorted rows: doc 7's window 0 is one
# 6-row group, and docs 9/10 share doc_key 9 (a planted collision that
# only doc_key2 separates)
ROWS = [(1, 1, 0), (1, 1, 0), (1, 1, 1), (7, 7, 0), (7, 7, 0), (7, 7, 0),
        (7, 7, 0), (7, 7, 0), (7, 7, 0), (7, 7, 2), (9, 9, 0), (9, 9, 0),
        (9, 10, 0), (9, 10, 0), (9, 10, 0), (12, 12, 5)]


def _table(wide: bool, with_strings: bool) -> pa.Table:
    k1, k2, win = (np.array(c, dtype=np.int64) for c in zip(*ROWS))
    cols = {"doc_key": k1, "win": win, "val": np.arange(len(ROWS)) * 1.5}
    if wide:
        cols["doc_key2"] = k2
    if with_strings:
        cols["doc_id"] = [f"doc{k}" for k in (k2 if wide else k1)]
        cols["source"] = [f"src{w}" for w in win]
    return pa.table(cols)


def _process(num, lookup):
    """Per-group (doc_key, window, rows, sum, doc_id, source) of groups
    with at least 2 rows; None when a call holds no such group."""
    starts = _group_starts(num["doc_key"], num["win"], num.get("doc_key2"))
    n = np.diff(np.append(starts, num["doc_key"].shape[0]))
    sums = np.add.reduceat(num["val"], starts)
    strs = _strings(lookup, starts)
    out = [(int(num["doc_key"][s]), int(num["win"][s]), int(c), float(v),
            strs.get("doc_id", [None] * len(starts))[g],
            strs.get("source", [None] * len(starts))[g])
           for g, (s, c, v) in enumerate(zip(starts, n, sums)) if c >= 2]
    return out or None


def _stream(batches, wide, with_strings):
    num_cols = ["doc_key", "win", "val"] + (["doc_key2"] if wide else [])
    out = []
    for part in stream_groups(
            iter(batches),
            lambda b: _extract(b, num_cols, {}, with_strings),
            lambda num: num["win"], _process):
        out += part
    return out


def _splits(table: pa.Table):
    """Batch streams over the same rows: a cut at every row position
    (with an empty batch at the cut), single-row batches with empty
    batches between them, and pairs."""
    n = table.num_rows
    empty = table.slice(0, 0).to_batches() or [
        pa.RecordBatch.from_pylist([], schema=table.schema)]
    for cut in range(n + 1):
        yield (table.slice(0, cut).to_batches() + empty
               + table.slice(cut).to_batches())
    yield [b for i in range(n)
           for b in table.slice(i, 1).to_batches() + empty]
    yield [b for i in range(0, n, 2) for b in table.slice(i, 2).to_batches()]


@pytest.mark.parametrize("wide,with_strings",
                         [(False, True), (True, True), (True, False)])
def test_stream_groups_matches_one_pass(wide, with_strings):
    table = _table(wide, with_strings)
    batch = table.combine_chunks().to_batches()[0]
    num, strs = _extract(batch, ["doc_key", "win", "val"]
                         + (["doc_key2"] if wide else []), {}, with_strings)
    want = _process(num, None if strs is None else [(len(ROWS), strs)])
    # the collision splits only in wide mode
    assert sum(r[0] == 9 for r in want) == (2 if wide else 1)
    for batches in _splits(table):
        assert _stream(batches, wide, with_strings) == want


def test_stream_groups_skips_empty_batches():
    empty = pa.RecordBatch.from_pylist([], schema=_table(False, True).schema)
    for batches in ([], [empty], [empty, empty]):
        assert _stream(batches, False, True) == []


def test_1d_kernel_rejects_imprecise_double_lane():
    """1d stats cross the worker channel as float64 lanes: a packed
    integer >= 2^53 may have been rounded, so unpacking must fail."""
    cfg = EngineConfig(n_buckets=1, n_samples=4)
    T, S = cfg.slots_per_hour, cfg.n_samples

    def batch(sum_tok):
        lanes = [0.0, 10.0, 0.0, float(sum_tok), 1.0, 5.0, 3.0, 0.5]
        return pa.RecordBatch.from_pydict({
            "doc_id": ["d0"], "source": ["web"],
            "doc_key": pa.array([1], pa.int64()),
            "hour_idx": pa.array([0], pa.int32()),
            "linked_phase": pa.array([[0.0] * T], pa.list_(pa.float32())),
            "squeezed": pa.array([[1.0] * S + [0.0] * S],
                                 pa.list_(pa.float32())),
            "zstat": pa.array([lanes], pa.list_(pa.float64())),
        })

    kernel = make_rollup_1d_kernel(cfg)
    ok, = kernel(iter([batch(2 ** 53 - 2)]))
    assert ok.column("sum_tok").to_pylist() == [2 ** 53 - 2]
    with pytest.raises(ValueError, match="2\\^53"):
        list(kernel(iter([batch(2 ** 53 + 2)])))


# ------------------------------------------------------------ Spark

CFG = EngineConfig(n_buckets=2, n_samples=8)


def _rows(df):
    return sorted(df.collect(), key=str)


def test_tier_carry_across_arrow_batches(spark):
    """With 7-row Arrow batches every (doc, hour) and (doc, day) group
    spans batch boundaries (a day is ~230 raw rows, 24 hourly rows);
    each tier kernel must still emit exactly the default-batch rows."""
    obs = fixture_obs(spark, n_docs=3, n_slots=480, n_samples=8,
                      n_buckets=2)
    keyed = with_doc_keys(obs, CFG)
    dim = keyed.select("doc_key", "doc_id", "source").distinct()
    core_1h = rollup_1h(keyed.drop("doc_id", "source"), CFG)
    h = rollup_1h(obs, CFG)
    fused = rollup_cascade_fused(obs, CFG)
    frames = {
        "1h": h, "1d": rollup_1d(h, CFG),
        "core_1h": attach_doc_dim(core_1h, dim),
        "core_1d": attach_doc_dim(rollup_1d(core_1h, CFG), dim),
        "fused_1h": fused.where(F.col("tier") == "1h"),
        "fused_1d": fused.where(F.col("tier") == "1d"),
    }
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    baseline = {k: _rows(df) for k, df in frames.items()}
    try:
        spark.conf.set(key, "7")
        tiny = {k: _rows(df) for k, df in frames.items()}
    finally:
        spark.conf.set(key, old)
    assert len(baseline["1h"]) == 3 * 48 and len(baseline["fused_1d"]) == 6
    for k in frames:
        assert tiny[k] == baseline[k], k
