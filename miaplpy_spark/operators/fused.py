"""Fused raw -> (1h + 1d) cascade: both tiers from ONE Arrow pass.

The tiered cascade ships every 1h row across the JVM<->Python boundary
twice (out of the 1h kernel, into the 1d kernel). The fused kernel
composes the same two window functions in one process instead:
``hourly_windows`` builds the per-(doc, hour) windows, and
``daily_windows`` derives the per-(doc, day) windows from those
in-process hourly arrays (the shared sub-window of *Factor Windows*,
ICDE'22). Both tiers leave through a single superset-schema stream with
a ``tier`` discriminator column; callers split with two filters (after
a persist, for dual writes).

The carry is held at DAY boundaries (``stream_groups`` with a day
window), so every ``process`` call sees complete days. Wide 128-bit
doc keys (``EngineConfig.wide_doc_key``) group and carry on
(doc_key, doc_key2) exactly like the tiered kernels.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..config import EngineConfig
from .rollup import (
    _extract,
    _pa_schema,
    _record_batch,
    _strings,
    _widen_key,
    daily_windows,
    hourly_windows,
    stream_groups,
    with_doc_keys,
)

FUSED_SCHEMA = (
    "tier string, doc_id string, doc_key long, source string, bucket int, "
    "hour_idx int, day_idx int, n_obs int, n_filled int, sum_tok long, "
    "min_tok int, max_tok int, mean_ntok double, linked_phase array<float>, "
    "squeezed array<float>, quality float, n_hours int, "
    "mean_quality_1h double, quality_1d float, datum_shift array<float>, "
    "adjusted_phase array<float>"
)


def make_fused_kernel(cfg: EngineConfig, tok_col: str = "zphi"):
    H, S, spd = cfg.hours_per_day, cfg.n_samples, cfg.slots_per_day
    wide = getattr(cfg, "wide_doc_key", False)
    out_schema = _pa_schema(_widen_key(FUSED_SCHEMA, wide))
    num_cols = ["doc_key", "slot", "bucket", "n_tok", "sum_tok",
                "min_tok", "max_tok"] + (["doc_key2"] if wide else [])
    list_cols = {tok_col: (S, np.int16 if tok_col == "ztok" else np.float32)}

    def process(num: dict, lookup) -> tuple[pa.RecordBatch, pa.RecordBatch]:
        h = hourly_windows(num, cfg)
        d = daily_windows(h, cfg)
        G, Gd = h["starts"].shape[0], d["starts"].shape[0]
        return (
            _record_batch(out_schema, {
                **h, **_strings(lookup, h["starts"]), "tier": ["1h"] * G,
                "day_idx": h["hour_idx"] // H}, G),
            _record_batch(out_schema, {
                **d, **_strings(lookup, h["starts"][d["starts"]]),
                "tier": ["1d"] * Gd}, Gd),
        )

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for tiers in stream_groups(
                batches, lambda b: _extract(b, num_cols, list_cols),
                lambda num: num["slot"] // spd, process):
            yield from tiers

    return kernel


def rollup_cascade_fused(obs: DataFrame, cfg: EngineConfig = EngineConfig(),
                         num_partitions: int | None = None) -> DataFrame:
    """One exchange, one Python pass, both tiers. Split downstream:
    ``fused.filter("tier = '1h'")`` / ``filter("tier = '1d'")`` (persist
    first when writing both)."""
    p = num_partitions or cfg.n_buckets
    wide = getattr(cfg, "wide_doc_key", False)
    obs = with_doc_keys(obs, cfg)
    tok_col = "ztok" if "ztok" in obs.columns else "zphi"
    key_cols = ["doc_key"] + (["doc_key2"] if wide else [])
    obs = obs.select("doc_id", "source", *key_cols, "slot", "bucket",
                     "n_tok", "sum_tok", "min_tok", "max_tok", tok_col)
    out = (obs.repartition(p, "bucket")
              .sortWithinPartitions(*key_cols, "slot")
              .mapInArrow(make_fused_kernel(cfg, tok_col),
                          _widen_key(FUSED_SCHEMA, wide)))
    return out.withColumn(
        "hour_ts",
        F.when(F.col("tier") == "1h", F.timestamp_seconds(
            F.lit(cfg.epoch0) + F.col("hour_idx").cast("long") * cfg.hour_seconds))
    ).withColumn(
        "day_ts",
        F.timestamp_seconds(F.lit(cfg.epoch0)
                            + F.col("day_idx").cast("long") * cfg.day_seconds))
