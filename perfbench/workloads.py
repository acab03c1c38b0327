"""The benchmark's workloads.

Each workload generates its inputs once, writes them to parquet and
fingerprints them; its timed iteration then receives only those files
and drives the engine through public functions. Every iteration's
outputs are compared with reference values recorded in
``reference.json`` for the same input variant.

- ``lifecycle`` runs the batch tier lifecycle from a fresh warehouse:
  the rollup kernels (``operators.rollup`` mapInArrow,
  ``kernels.phase_linking``, ``kernels.gapfill``) for about half the
  job, beside the network inversion, MERGE writes, checkpoint
  metadata, materialization and the cold-tier codecs.
- ``curate`` runs corpus curation (``functions.text``,
  ``functions.dedup``, ``functions.curate``); the rollup kernels do
  no work in it.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import pyspark.sql.functions as F

from miaplpy_spark.config import EngineConfig, ScaleSpec
from miaplpy_spark.datagen import (generate_documents, generate_sequences,
                                   prepare_observations)
from miaplpy_spark.functions.curate import curate_corpus, exact_dup_losers
from miaplpy_spark.functions.dedup import (connected_components,
                                           minhash_lsh_pairs)
from miaplpy_spark.functions.text import text_quality
from miaplpy_spark.operators.cascade import (inversion_lineage,
                                             restamp_inversion_checkpoints,
                                             run_cascade, run_inversion_step)
from miaplpy_spark.operators.compress import (apply_retention_1h,
                                              read_1h_tiered)
from miaplpy_spark.sources.catalog import TierStore

N_BUCKETS = 8
SLOTS = 480          # 48 hours = 2 days per doc

# input sizes; "tiny" is for the benchmark's own tests
SIZES = {
    "bench": {"lifecycle": 128, "curate": 3000},
    "tiny": {"lifecycle": 8, "curate": 400},
}

# the per-call layers, in the order the workloads run them
CALLS = ("cascade.run_cascade",
         "network_inversion.run_inversion_step",
         "compress.apply_retention_1h", "compress.read_1h_tiered",
         "cascade.rerun", "curate.curate_corpus")

CATALOG_TABLES = ("rollup_1h", "rollup_1d", "rollup_1h_cold",
                  "timeseries", "checkpoints")

PROBES = ("text.text_quality", "curate.exact_dup_losers",
          "dedup.minhash_lsh_pairs", "dedup.connected_components")


def fingerprint(df) -> dict:
    """Row count and an order-independent content digest."""
    cols = sorted(df.columns)
    row = df.agg(F.count(F.lit(1)).alias("rows"),
                 F.bit_xor(F.xxhash64(*cols)).alias("digest")).collect()[0]
    return {"rows": int(row["rows"]), "digest": int(row["digest"] or 0)}


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def compare(out: dict, ref: dict) -> list[str]:
    """Mismatches between an iteration's outputs and the reference;
    every output is an integer and must match exactly."""
    return [f"{k}: got {out.get(k)!r}, want {want!r}"
            for k, want in ref.items() if out.get(k) != want]


@dataclass
class Workload:
    spark: object
    cfg: EngineConfig
    n: int                       # docs of the generated input
    input_dir: str = ""

    name = ""

    def make_inputs(self, out_dir: str) -> None:
        raise NotImplementedError

    def input_tables(self) -> dict:
        """name -> DataFrame over the written inputs."""
        raise NotImplementedError

    def iteration(self, tr, work_dir: str) -> dict:
        raise NotImplementedError

    def check(self, out: dict, ref: dict) -> list[str]:
        return compare(out, ref)

    def stored_bytes(self, work_dir: str) -> int:
        """Bytes on disk of the tables one iteration reads or writes."""
        return dir_bytes(self.input_dir)

    def layer_metrics(self, out: dict, work_dir: str) -> dict:
        """Per-layer values read from an iteration's outputs."""
        return {}

    def cleanup(self, work_dir: str) -> None:
        """Remove what one iteration wrote (outside the timed region)."""

    def stored_outputs(self, work_dir: str) -> dict:
        """Outputs read back from storage after an iteration."""
        return {}

    def probes(self, tr) -> dict:
        """Standalone per-function probes, run once per traced run
        (``tr`` must be tracing)."""
        return {}

    def input_rows(self, fps: dict) -> int:
        raise NotImplementedError


class Lifecycle(Workload):
    """The lifecycle step list through its library calls, from a fresh
    warehouse each iteration: cascade, L2 inversion, retention with
    checkpoint re-stamping, a tiered read, and a resume rerun that
    must skip every bucket."""

    name = "lifecycle"
    input_id = "perfbench:lifecycle"

    def make_inputs(self, out_dir: str) -> None:
        spec = ScaleSpec(n_docs=self.n, n_slots=SLOTS)
        prepare_observations(
            generate_sequences(self.spark, spec, self.cfg, with_tokens=False),
            self.cfg).write.parquet(out_dir + "/obs")

    def input_tables(self) -> dict:
        return {"obs": self.spark.read.parquet(self.input_dir + "/obs")}

    def input_rows(self, fps: dict) -> int:
        return fps["obs"]["rows"]

    @staticmethod
    def warehouse(work_dir: str) -> str:
        return os.path.join(work_dir, "warehouse")

    def iteration(self, tr, work_dir: str) -> dict:
        spark, cfg, iid = self.spark, self.cfg, self.input_id
        store = TierStore(self.warehouse(work_dir))
        # the newest day stays hot, every older day ages to cold
        boundary = (SLOTS - 1) // cfg.slots_per_day

        def cascade():
            return run_cascade(spark, self.input_tables()["obs"], store, cfg,
                               input_id=iid)

        def invert():
            return run_inversion_step(spark, store, cfg, method="L2",
                                      input_id=iid)

        def retention():
            pre = inversion_lineage(spark, store, cfg, method="L2",
                                    input_id=iid)
            r = apply_retention_1h(spark, store, boundary, cfg)
            r["restamped"] = (restamp_inversion_checkpoints(
                spark, store, cfg, pre, method="L2", input_id=iid)
                if r["n_blobs"] else 0)
            return r

        def rerun():
            return cascade(), invert()

        m_c = tr.call("cascade.run_cascade", cascade)
        m_i = tr.call("network_inversion.run_inversion_step", invert)
        m_r = tr.call("compress.apply_retention_1h", retention)
        tiered = tr.call("compress.read_1h_tiered",
                         lambda: read_1h_tiered(spark, store, cfg).count())
        r_c, r_i = tr.call("cascade.rerun", rerun)
        return {
            "rows_1h_written": m_c["raw->1h"]["rows_written"],
            "rows_1d_written": m_c["1h->1d"]["rows_written"],
            "rows_ts_written": m_i["rows_written"],
            "n_aged": m_r["n_aged"], "n_blobs": m_r["n_blobs"],
            "raw_bytes": m_r["raw_bytes"], "blob_bytes": m_r["blob_bytes"],
            "restamped": m_r["restamped"],
            "tiered_rows": tiered,
            "rerun_buckets_processed": (
                r_c["raw->1h"]["buckets_processed"]
                + r_c["1h->1d"]["buckets_processed"]
                + r_i["buckets_processed"]),
        }

    def stored_outputs(self, work_dir: str) -> dict:
        store = TierStore(self.warehouse(work_dir))
        return {f"{t}_rows": store.read(self.spark, t).count()
                for t in ("rollup_1h", "rollup_1d", "rollup_1h_cold",
                          "timeseries")}

    def check(self, out: dict, ref: dict) -> list[str]:
        bad = compare(out, ref)
        # the tiered read sees every hour once: hot rows + cold points
        hot = out["rollup_1h_rows"]
        if out["tiered_rows"] != hot + out["n_aged"]:
            bad.append(f"tiered_rows {out['tiered_rows']} != hot {hot} "
                       f"+ aged {out['n_aged']}")
        if out["rerun_buckets_processed"] != 0:
            bad.append("resume rerun processed "
                       f"{out['rerun_buckets_processed']} buckets")
        return bad

    def stored_bytes(self, work_dir: str) -> int:
        return dir_bytes(self.input_dir) + dir_bytes(self.warehouse(work_dir))

    def layer_metrics(self, out: dict, work_dir: str) -> dict:
        wh = self.warehouse(work_dir)
        m = {f"catalog.{t}_mb": dir_bytes(os.path.join(wh, t)) / 1e6
             for t in CATALOG_TABLES}
        m["compress.blob_ratio"] = out["blob_bytes"] / max(out["raw_bytes"], 1)
        m["cascade.rerun_buckets_processed"] = out["rerun_buckets_processed"]
        return m

    def cleanup(self, work_dir: str) -> None:
        shutil.rmtree(self.warehouse(work_dir), ignore_errors=True)


class Curate(Workload):
    """``curate_corpus`` over a generated corpus with planted exact,
    near-duplicate, looping, short and stopword-soup documents."""

    name = "curate"

    def make_inputs(self, out_dir: str) -> None:
        generate_documents(self.spark, self.n, self.cfg).write.parquet(
            out_dir + "/documents.parquet")

    def input_tables(self) -> dict:
        return {"documents": self.spark.read.parquet(
            self.input_dir + "/documents.parquet")}

    def input_rows(self, fps: dict) -> int:
        return fps["documents"]["rows"]

    def iteration(self, tr, work_dir: str) -> dict:
        def job():
            out = curate_corpus(self.spark, self.input_dir, cfg=self.cfg)
            reasons = ("exact_dup", "near_dup", "too_short", "repetitive",
                       "low_quality", "kept")
            return out.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.bit_xor(F.xxhash64("doc_id", "keep", "reason"))
                 .alias("decision_digest"),
                *[F.sum((F.col("reason") == r).cast("long")).alias(f"n_{r}")
                  for r in reasons],
            ).collect()[0].asDict()

        return tr.call("curate.curate_corpus", job)

    def probes(self, tr) -> dict:
        spark, sf = self.spark, self.input_dir
        out = {}

        def timed(name, df_fn):
            tr.call(name, lambda: df_fn().count())
            span = tr.spans[-1]
            out[name + "_s"] = span["end"] - span["start"]

        timed("text.text_quality", lambda: text_quality(spark, sf))
        timed("curate.exact_dup_losers", lambda: exact_dup_losers(spark, sf))
        timed("dedup.minhash_lsh_pairs", lambda: minhash_lsh_pairs(spark, sf))
        # the components probe times the component loop alone, over a
        # pair graph computed before it
        pairs = minhash_lsh_pairs(spark, sf).cache()
        pairs.count()
        timed("dedup.connected_components",
              lambda: connected_components(pairs, algorithm="auto"))
        pairs.unpersist()
        return out


WORKLOADS = {w.name: w for w in (Lifecycle, Curate)}
