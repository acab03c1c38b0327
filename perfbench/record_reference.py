#!/usr/bin/env python3
"""Record ``reference.json``: for every scale, workload and input
variant, the input fingerprints and the outputs of one iteration.

    python3 perfbench/record_reference.py [--scale bench|tiny]
        [--workload NAME] [--variants N]

Run it only when a change is meant to alter the workloads' inputs or
outputs, and say so in the change: the benchmark's output checks
compare every run against these values.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.run import (N_VARIANTS, REFERENCE, ROOT,  # noqa: E402
                           prepare_inputs, run_iteration, session)


def record(scale: str, workload: str, variants: int) -> dict:
    from miaplpy_spark.config import EngineConfig
    from perfbench.procstat import RssSampler
    from perfbench.spans import Tracer
    from perfbench.workloads import N_BUCKETS, SIZES, WORKLOADS

    work = ROOT / ".bench_work" / f"record-{scale}-{workload}"
    shutil.rmtree(work, ignore_errors=True)
    out = {}
    try:
        with session(work) as spark, RssSampler() as rss:
            plain = Tracer(spark, False)
            for v in range(variants):
                cfg = EngineConfig(n_buckets=N_BUCKETS, seed=v)
                w = WORKLOADS[workload](spark, cfg, SIZES[scale][workload])
                fps = prepare_inputs(w, work / "inputs")
                rec, outputs = run_iteration(w, plain, work, None, rss)
                if outputs is None:
                    raise RuntimeError(f"{workload} variant {v}: "
                                       f"{rec['errors']}")
                out[str(v)] = {"inputs": fps, "outputs": outputs}
                print(f"{scale} {workload} {v}: {outputs}", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


def main() -> int:
    from perfbench.workloads import SIZES, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--scale", choices=sorted(SIZES))
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--variants", type=int, default=N_VARIANTS,
                    help="record variants 0..N-1 (the tests need only 0)")
    args = ap.parse_args()
    ref = json.loads(REFERENCE.read_text()) if REFERENCE.exists() else {}
    for scale in [args.scale] if args.scale else sorted(SIZES):
        for name in [args.workload] if args.workload else sorted(WORKLOADS):
            ref.setdefault(scale, {})[name] = record(scale, name,
                                                     args.variants)
            REFERENCE.write_text(json.dumps(ref, indent=1, sort_keys=True)
                                 + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
