#!/usr/bin/env python
"""Row counts and content digests of every tier kernel's output on
fixed fixture inputs, printed as one JSON line:

    python scripts/tier_digests.py
    {"rollup_1h": {"rows": 1152, "digest": ...}, ...}

The digest is ``perfbench.workloads.fingerprint`` (an order-independent
xor of per-row xxhash64 over every column), so two checkouts print the
same line exactly when their tier outputs are bit-identical. A case the
checkout cannot run records ``{"error": "..."}`` instead."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F

from miaplpy_spark.config import EngineConfig, ScaleSpec
from miaplpy_spark.datagen import generate_sequences, prepare_observations
from miaplpy_spark.operators.fused import rollup_cascade_fused
from miaplpy_spark.operators.network_inversion import invert_network
from miaplpy_spark.operators.rollup import (attach_doc_dim, rollup_1d,
                                            rollup_1h, with_doc_keys)
from miaplpy_spark.oracle_fixtures import fixture_hourly, fixture_obs
from miaplpy_spark.session import get_spark
from perfbench.workloads import fingerprint

CFG = EngineConfig(n_buckets=4, n_samples=8)
SHP = EngineConfig(n_buckets=4, n_samples=8, shp_filter=True,
                   shp_test="KS", shp_alpha=0.2)
WIDE = EngineConfig(n_buckets=4, n_samples=8, wide_doc_key=True)
# the fixture's token samples are translates of one another, so the SHP
# gate keeps every slot there; the generated sequences make it bite
SHP_SPEC = ScaleSpec(n_docs=5, n_slots=600, tok_lo=8, tok_hi=16,
                     tok_heavy_lo=24, tok_heavy_hi=32)


def _tiers(prefix, obs, cfg):
    h = rollup_1h(obs, cfg)
    return {f"{prefix}_1h": lambda: h,
            f"{prefix}_1d": lambda: rollup_1d(h, cfg)}


def _string_free(obs, cfg):
    keyed = with_doc_keys(obs, cfg)
    dim = keyed.select("doc_key", "doc_id", "source").distinct()
    h = rollup_1h(keyed.drop("doc_id", "source"), cfg)
    return {"core_1h": lambda: attach_doc_dim(h, dim),
            "core_1d": lambda: attach_doc_dim(rollup_1d(h, cfg), dim)}


def _fused(prefix, obs, cfg):
    def tier(t):
        return lambda: rollup_cascade_fused(obs, cfg).where(F.col("tier") == t)
    return {f"{prefix}_1h": tier("1h"), f"{prefix}_1d": tier("1d")}


def main():
    spark = get_spark(app_name="tier_digests", master="local[4]",
                      shuffle_partitions=4)
    obs = fixture_obs(spark, n_docs=12, n_slots=960, n_samples=8,
                      n_buckets=4)
    shp_obs = prepare_observations(
        generate_sequences(spark, SHP_SPEC, SHP), SHP)
    hourly = fixture_hourly(spark, n_docs=12, n_hours=48, n_buckets=4)
    cases = {
        **_tiers("rollup", obs, CFG),
        **_string_free(obs, CFG),
        **_tiers("shp", shp_obs, SHP),
        **_tiers("wide", obs, WIDE),
        **_fused("fused", obs, CFG),
        **_fused("fused_wide", obs, WIDE),
        **{f"invert_{m}": (lambda m=m: invert_network(hourly, CFG,
                                                      method=m))
           for m in ("L2", "WLS", "L1")},
    }
    out = {}
    for name, build in cases.items():
        try:
            out[name] = fingerprint(build())
        except Exception as e:          # a case this checkout lacks
            out[name] = {"error": f"{type(e).__name__}: {e}"}
    print(json.dumps(out, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
