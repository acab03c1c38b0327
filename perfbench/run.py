#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload lifecycle --seed 3 \\
        --seconds 1 --trace 0

Load model: a closed loop with one client. Each timed iteration is one
complete batch job in the engine session, started only after the
previous one has finished, on ``local[nproc]``. Set-up starts the
session, generates the inputs from the seed, writes them to parquet
and checks their fingerprints against ``reference.json``. Iterations
then run back to back until ``--seconds`` have passed; the first
always runs, and it is the session's first job, so it pays the JVM and
Python-worker warm-up that a batch submission pays. Set-up and job
times are reported with the host's CPU steal taken out (``unstolen``);
the raw wall times stay in the run record.

With ``--trace 0`` the last line of standard output is the result with
every end-to-end metric. With ``--trace 1`` every iteration is traced,
the result holds every per-layer metric, and the spans are written to
``.bench_out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent
REFERENCE = HERE / "reference.json"

N_VARIANTS = 16        # --seed selects one of these recorded input variants
DRIVER_MEM = "2g"

END_TO_END = {"setup_s": "s", "job_s": "s", "rows_per_s": "rows/s",
              "cpu_s": "s", "peak_rss_mb": "MB",
              "stored_bytes_per_row": "B/row"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit."""
    from perfbench.spans import CALL_METRICS
    from perfbench.workloads import CALLS, CATALOG_TABLES, PROBES

    units = {f"{c}.{s}": u for c in CALLS for s, u in CALL_METRICS.items()}
    units.update({f"catalog.{t}_mb": "MB" for t in CATALOG_TABLES})
    units.update({"compress.blob_ratio": "fraction",
                  "cascade.rerun_buckets_processed": "count",
                  "proc.jvm_cpu_s": "s", "proc.py_worker_cpu_s": "s",
                  "iteration.wall_s": "s", "iteration.self_s": "s",
                  "trace.span_coverage": "fraction"})
    units.update({f"{p}_s": "s" for p in PROBES})
    return units


@contextmanager
def session(work: Path):
    """The engine session on local[nproc], with every scratch path
    inside ``work``. On exit Spark, the JVM and every process it forked
    are stopped, and the environment is restored."""
    for d in ("local", "jtmp", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    saved = {k: os.environ.get(k)
             for k in ("PYTHONPATH", "TMPDIR", "SPARK_DRIVER_MEM")}
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), saved["PYTHONPATH"]) if p)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    tempfile.tempdir = None     # re-read TMPDIR
    spark = None
    try:
        spark = _start(work)
        yield spark
    finally:
        if spark is not None:
            _stop(spark)
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        tempfile.tempdir = None


def _start(work: Path):
    from miaplpy_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": str(work / "local"),
            # a fixed-size heap: G1 resizing under host contention
            # would otherwise move the JVM's RSS from run to run
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={work / 'jtmp'} "
                "-XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the tracer reads every SQL execution of a run back
            "spark.sql.ui.retainedExecutions": "100000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark, end the JVM and every process it forked, and wait
    for each to be gone."""
    from pyspark import SparkContext

    from perfbench.procstat import tree

    me = os.getpid()
    started = {pid: comm for pid, (comm, _) in tree(me).items() if pid != me}
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()      # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    # anything the JVM forked and left behind
    deadline = time.monotonic() + 30
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid, comm in started.items():
            if _alive(pid, comm):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        while time.monotonic() < deadline and any(
                _alive(p, c) for p, c in started.items()):
            time.sleep(0.1)
        deadline = time.monotonic() + 10


def _alive(pid: int, comm: str) -> bool:
    from perfbench.procstat import _stat

    st = _stat(pid)
    if st is None or st[0] != comm:
        return False
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rpartition(")")[2].split()[0] != "Z"
    except FileNotFoundError:
        return False


def prepare_inputs(w, in_dir: Path) -> dict:
    """Generate and write the workload's inputs; return their
    fingerprints."""
    from perfbench.workloads import fingerprint

    shutil.rmtree(in_dir, ignore_errors=True)
    w.make_inputs(str(in_dir))
    w.input_dir = str(in_dir)
    return {k: fingerprint(df) for k, df in sorted(w.input_tables().items())}


def run_iteration(w, tr, work: Path, ref: dict | None, rss) -> tuple[dict, dict]:
    """One closed-loop iteration: the timed calls, then the untimed
    output check. Returns (record, outputs)."""
    from perfbench import procstat

    rss.reset()
    cpu0, ticks0 = procstat.cpu_split(), procstat.host_ticks()
    load = procstat.loadavg_1m()
    t0 = time.perf_counter()
    err = None
    with tr.span("iteration"):
        try:
            out = w.iteration(tr, str(work))
        except Exception as e:  # an engine failure is a failed iteration
            out, err = None, f"{type(e).__name__}: {e}"
    wall = time.perf_counter() - t0
    cpu1, ticks1 = procstat.cpu_split(), procstat.host_ticks()
    rec = {
        "traced": tr.enabled, "wall_s": wall,
        "job_s": unstolen(wall, ticks0, ticks1),
        "cpu_s": cpu1["total"] - cpu0["total"],
        "jvm_cpu_s": cpu1["jvm"] - cpu0["jvm"],
        "py_worker_cpu_s": cpu1["py_worker"] - cpu0["py_worker"],
        "peak_rss_mb": rss.peak() / 1e6,
        "host_steal_pct": procstat.steal_pct(ticks0, ticks1),
        "steal_share": procstat.steal_share(ticks0, ticks1),
        "loadavg_1m": load,
    }
    errors = [err] if out is None else []
    if out is not None:
        try:
            out.update(w.stored_outputs(str(work)))
            if ref is not None:
                errors = w.check(out, ref["outputs"])
            rec["stored_bytes"] = w.stored_bytes(str(work))
            rec["layers"] = w.layer_metrics(out, str(work))
        except Exception as e:  # a missing or unreadable output
            errors = [f"check: {type(e).__name__}: {e}"]
    w.cleanup(str(work))
    rec["ok"], rec["errors"] = not errors, errors
    return rec, out


def unstolen(wall: float, ticks0: tuple, ticks1: tuple) -> float:
    """Wall time less the share of it the hypervisor gave to other
    guests: ``wall * (1 - steal / (busy + steal))`` over the same
    interval."""
    from perfbench import procstat

    return wall * (1.0 - procstat.steal_share(ticks0, ticks1))


def _median(xs, default=0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


def run(workload: str, seed: int, seconds: float, trace: bool,
        scale: str = "bench", reference: dict | None = None) -> tuple[dict, dict]:
    """Run one benchmark run; return (result line, detail record)."""
    from miaplpy_spark.config import EngineConfig
    from perfbench import procstat
    from perfbench.spans import Tracer
    from perfbench.workloads import N_BUCKETS, SIZES, WORKLOADS

    if reference is None:
        reference = json.loads(REFERENCE.read_text())
    variant = seed % N_VARIANTS
    ref = reference[scale][workload][str(variant)]
    work = ROOT / ".bench_work" / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        t0, ticks0 = time.perf_counter(), procstat.host_ticks()
        with session(work) as spark:
            session_s = time.perf_counter() - t0
            cores = spark.sparkContext.defaultParallelism
            cfg = EngineConfig(n_buckets=N_BUCKETS, seed=variant)
            w = WORKLOADS[workload](spark, cfg, SIZES[scale][workload])
            t1 = time.perf_counter()
            fps = prepare_inputs(w, work / "inputs")
            inputs_s = time.perf_counter() - t1
            setup_s = unstolen(time.perf_counter() - t0, ticks0,
                               procstat.host_ticks())
            if fps != ref["inputs"]:
                raise RuntimeError(f"input fingerprints {fps} differ from "
                                   f"the recorded {ref['inputs']}")
            rows = w.input_rows(fps)

            tr = Tracer(spark, trace)
            records = []
            with procstat.RssSampler() as rss:
                t_loop = time.perf_counter()
                while not records or time.perf_counter() - t_loop < seconds:
                    records.append(run_iteration(w, tr, work, ref, rss)[0])
                probes = w.probes(tr) if trace else {}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(not r["ok"] for r in records)
    ok = [r for r in records if r["ok"]] or records
    job_s = _median(r["job_s"] for r in ok)
    if trace:
        metrics = layer_metrics(tr.spans, records, probes)
        units = per_layer_units()
    else:
        metrics = {
            "setup_s": setup_s,
            "job_s": job_s,
            "rows_per_s": rows / job_s,
            "cpu_s": _median(r["cpu_s"] for r in ok),
            "peak_rss_mb": _median(r["peak_rss_mb"] for r in ok),
            "stored_bytes_per_row":
                _median(r.get("stored_bytes", 0) for r in ok) / rows,
        }
        units = END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }
    detail = {
        "workload": workload, "seed": seed, "variant": variant,
        "scale": scale, "cores": cores, "trace": trace,
        "error_rate": failed / len(records),
        "samples": len(ok), "input_rows": rows,
        "setup": {"session_s": session_s, "inputs_s": inputs_s},
        "iterations": [{k: v for k, v in r.items() if k != "layers"}
                       for r in records],
    }
    if trace:
        out_dir = ROOT / ".bench_out"
        out_dir.mkdir(exist_ok=True)
        path = out_dir / f"trace-{workload}-{seed}-{tr.run_id}.json"
        tr.dump(str(path))
        detail["spans_file"] = str(path.relative_to(ROOT))
    return result, detail


def layer_metrics(spans: list[dict], records: list[dict], probes: dict) -> dict:
    """Per-layer metrics of a traced run, as medians over its
    iterations; 0 for calls and tables the workload does not touch."""
    from perfbench.spans import CALL_METRICS, self_times
    from perfbench.workloads import CALLS

    m = dict.fromkeys(per_layer_units(), 0.0)
    for call in CALLS:
        mine = [s for s in spans if s["name"] == call]
        m[f"{call}.wall_s"] = _median(s["end"] - s["start"] for s in mine)
        # a call that raised has a span but no accounting
        counted = [s["metrics"] for s in mine if "metrics" in s]
        for suffix in CALL_METRICS:
            if suffix != "wall_s":
                m[f"{call}.{suffix}"] = _median(c[suffix] for c in counted)
    selfs = self_times(spans)
    iters = [s for s in spans if s["name"] == "iteration"]
    m["iteration.wall_s"] = _median(s["end"] - s["start"] for s in iters)
    m["iteration.self_s"] = _median(selfs[s["span_id"]] for s in iters)
    m["trace.span_coverage"] = (sum(m[f"{c}.wall_s"] for c in CALLS)
                                / m["iteration.wall_s"])
    m["proc.jvm_cpu_s"] = _median(r["jvm_cpu_s"] for r in records)
    m["proc.py_worker_cpu_s"] = _median(r["py_worker_cpu_s"] for r in records)
    layered = [r["layers"] for r in records if "layers" in r]
    for key in (layered[0] if layered else {}):
        m[key] = _median(r[key] for r in layered)
    m.update(probes)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["lifecycle", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["bench", "tiny"], default="bench",
                    help="input size; tiny is for the benchmark's tests")
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import miaplpy_spark  # noqa: F401  the engine under test
    except ImportError as e:
        print(f"perfbench: engine package not found in {ROOT}: {e}",
              file=sys.stderr)
        return 2
    result, detail = run(args.workload, args.seed, args.seconds,
                         bool(args.trace), args.scale)
    print(json.dumps({"perfbench": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
