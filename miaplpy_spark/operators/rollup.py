"""Windowed rollup kernels: raw -> 1h and 1h -> 1d tiers.

Execution shape (the engine's core design decision):

    obs.withColumn("doc_key", xxhash64(doc_id))
       .repartition(n_buckets, "bucket")
       .sortWithinPartitions("doc_key", "slot")
       .mapInArrow(kernel, TIER_SCHEMA)

Three deliberate choices, each measured in this sandbox:

1. NOT ``groupBy(doc, window).applyInPandas`` — that invokes Python
   once per (doc, window) group (~10 rows each), re-creating the
   reference's per-pixel-loop bottleneck (lib/utils.pyx:1110-1187)
   that capped its scaling efficiency at 0.55-0.63. Each Arrow batch
   here carries thousands of complete windows through ONE batched
   eigendecomposition.
2. ``mapInArrow``, not ``mapInPandas`` — pandas conversion of list
   columns materializes one numpy object per row (measured ~10 s flat
   overhead on 9M rows, and it does not parallelize well); the Arrow
   kernel reshapes the list column's flat value buffer zero-copy.
3. sort key is ``doc_key`` (xxhash64 of doc_id), not the string —
   long sorts are ~3x cheaper through the shuffle sorter. Collision
   odds at sandbox scale ~1e-11; a 10^12-doc deployment sets
   ``EngineConfig.wide_doc_key`` to group/sort/join on a 128-bit
   (doc_key, doc_key2) pair — two xxhash64 salts, wired through both
   tier kernels, the fused cascade, attach_doc_dim, and the inversion
   (tests/test_wide_doc_key.py proves narrow-equality and planted-
   collision separation).

One window-kernel core serves every grouped kernel. ``stream_groups``
owns the batch-carry protocol: it holds the trailing, possibly
incomplete (doc, window) group of each Arrow batch and puts it in front
of the next, so each kernel hands it only a boundary (hour for 1h, day
for 1d and fused, doc for the inversion) and a ``process`` body.
``hourly_windows`` (raw rows -> per-(doc, hour) windows) and
``daily_windows`` (hourly windows -> per-(doc, day) windows) are the
pure-NumPy window math: the tiered kernels call one each, and the fused
kernel (operators/fused.py) derives its days from its in-process hours
with the same two calls.

Window semantics: each 1h window (= 10 raw slots = one mini-stack,
defaults/miaplpyApp_auto.cfg:19) is phase-linked independently and
emits its squeezed carry (squeeze_images, lib/utils.pyx:470-487); the
1d tier re-links the 24 carries and applies the datum adjustment
(datum_connect, lib/utils.pyx:732-796). Independent windows + datum is
the reference's own 'mini_stacks' composition and is what makes the
cascade embarrassingly parallel; the strict prepend-the-carry
sequential mode (lib/utils.pyx:641-660) is available in
kernels.phase_linking.sequential_phase_linking for exact-equivalence
tests.

Gap handling: aggregates cover PRESENT rows only; the eigen ensemble
is gap-filled by vectorized linear interpolation (north_rule; the
filled count is exposed as ``n_filled``).

Complex payloads are packed ``array<float>`` columns (re[0..k) ‖
im[0..k)) — one array header per row instead of two through the
shuffle (measured ~1.7x cheaper).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..config import DOC_KEY2_SALT, EngineConfig
from ..kernels import phase_linking as pl
from ..kernels import shp as shp_kernels
from ..kernels.gapfill import fill_dense_batch

ROLLUP_1H_SCHEMA = (
    "doc_id string, doc_key long, source string, bucket int, "
    "hour_idx int, n_obs int, n_filled int, sum_tok long, min_tok int, "
    "max_tok int, mean_ntok double, linked_phase array<float>, "
    "squeezed array<float>, quality float"
)

ROLLUP_1D_SCHEMA = (
    "doc_id string, doc_key long, source string, bucket int, "
    "day_idx int, n_hours int, n_obs int, n_filled int, sum_tok long, "
    "min_tok int, max_tok int, mean_ntok double, mean_quality_1h double, "
    "quality_1d float, datum_shift array<float>, "
    "adjusted_phase array<float>, squeezed array<float>"
)


def _strip_strings(ddl: str) -> str:
    """Core (string-free) variant of a tier DDL: the kernels emit
    doc_key only; doc_id/source come back via attach_doc_dim."""
    return ", ".join(p for p in ddl.split(", ")
                     if not p.startswith(("doc_id ", "source ")))


ROLLUP_1H_CORE_SCHEMA = _strip_strings(ROLLUP_1H_SCHEMA)
ROLLUP_1D_CORE_SCHEMA = _strip_strings(ROLLUP_1D_SCHEMA)

# xxhash64 over (salt, doc_id) is an independent hash family member,
# so P(joint collision) ~ 2^-128 — negligible at 10^12 docs
_KEY2_SALT = DOC_KEY2_SALT


def _widen_key(ddl: str, wide: bool) -> str:
    """Insert doc_key2 after doc_key in a tier DDL when wide mode on."""
    if not wide:
        return ddl
    return ddl.replace("doc_key long", "doc_key long, doc_key2 long", 1)


def with_doc_keys(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Attach the hashed doc key column(s) the kernels sort/group on:
    doc_key = xxhash64(doc_id), plus doc_key2 = xxhash64(salt, doc_id)
    in wide mode. String-free inputs must already carry them."""
    if "doc_key" not in df.columns:
        if "doc_id" not in df.columns:
            raise ValueError("string-free input must carry doc_key")
        df = df.withColumn("doc_key", F.xxhash64("doc_id"))
    if getattr(cfg, "wide_doc_key", False) and "doc_key2" not in df.columns:
        if "doc_id" not in df.columns:
            raise ValueError("wide_doc_key string-free input must carry "
                             "doc_key2")
        df = df.withColumn(
            "doc_key2", F.xxhash64(F.lit(_KEY2_SALT), F.col("doc_id")))
    return df

_PA_TYPES = {
    "string": pa.string(), "long": pa.int64(), "int": pa.int32(),
    "smallint": pa.int16(), "double": pa.float64(), "float": pa.float32(),
    "array<float>": pa.list_(pa.float32()),
    "array<smallint>": pa.list_(pa.int16()),
    "array<int>": pa.list_(pa.int32()),
}


def _pa_schema(ddl: str) -> pa.Schema:
    fields = []
    for part in ddl.split(", "):
        name, typ = part.split(" ", 1)
        fields.append(pa.field(name, _PA_TYPES[typ]))
    return pa.schema(fields)


TOK_I16_OFFSET = 32768  # must match datagen.TOK_I16_OFFSET
TWO_PI = 6.283185307179586


def _list_col(mat: np.ndarray) -> pa.Array:
    """(G, K) float32 -> Arrow list<float32> without per-row objects."""
    G, K = mat.shape
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, (G + 1) * K, K, dtype=np.int32)),
        pa.array(np.ascontiguousarray(mat, dtype=np.float32).reshape(-1)),
    )


def _flat_lists(col: pa.ChunkedArray | pa.Array, width: int, n: int,
                dtype=np.float32) -> np.ndarray:
    """Fixed-width list column -> (n, width) view of the flat value
    buffer (zero copy when possible)."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return np.ascontiguousarray(flat, dtype=dtype).reshape(n, width)


def _ensemble_phases(num: dict, vocab_size: int) -> np.ndarray:
    """(n, S) float32 phases from whichever transport the row carries:
    raw int16 token samples (``ztok``: phi = tok·2π/V with the same
    double ops the float path used JVM-side — bit-equal results at half
    the worker-channel bytes) or float32 phases (``zphi``)."""
    if "ztok" in num:
        tok = num["ztok"].astype(np.float64) + TOK_I16_OFFSET
        return (tok * TWO_PI / vocab_size).astype(np.float32)
    return num["zphi"]


def _group_change(key: np.ndarray, win: np.ndarray,
                  key2: np.ndarray | None = None) -> np.ndarray:
    """Boolean new-group markers over sorted rows. ``key2`` is the
    optional second 64-bit key of wide (128-bit) doc-key mode
    (EngineConfig.wide_doc_key): a 10^12-doc corpus expects ~3e4
    birthday collisions in a single 64-bit space, so group identity
    there is (doc_key, doc_key2) — two xxhash64 salts."""
    chg = np.empty(key.shape[0], dtype=bool)
    chg[0] = True
    chg[1:] = (key[1:] != key[:-1]) | (win[1:] != win[:-1])
    if key2 is not None:
        chg[1:] |= key2[1:] != key2[:-1]
    return chg


def _group_starts(key: np.ndarray, win: np.ndarray,
                  key2: np.ndarray | None = None) -> np.ndarray:
    return np.flatnonzero(_group_change(key, win, key2))


def _link_batch(Z: np.ndarray, method: str, lag: int = 0,
                ps_test: bool = False):
    """(G, T, S) ensemble -> (vec (G,T), quality (G,), squeezed (G,S)).

    Batched correlation + regularization + EMI-with-EVD-fallback; the
    squeeze is one einsum over the whole batch.

    ``ps_test=True`` mirrors the reference's per-pixel dispatch in the
    patch loop (lib/utils.pyx:1110-1187 invoking test_PS_cy,
    lib/utils.pyx:420-459): groups whose top eigenvalue carries >95% of
    the spectrum norm with amplitude dispersion <0.42 are persistent
    scatterers — they bypass the eigen linking and keep their raw phase
    (vec = ones, quality = 1). The split is the same clean/dirty
    common-case pattern used for regularization: the expensive EMI/EVD
    runs only on the non-PS subset.
    """
    coh = pl.est_corr_batch(Z)
    if method == "SBW":
        n = coh.shape[-1]
        i = np.arange(n)
        band = np.abs(i[:, None] - i[None, :]) < lag
        coh = np.where(band[None], coh, 0).astype(np.complex64)

    G, T = coh.shape[0], coh.shape[1]
    if ps_test:
        is_ps, _, _ = pl.test_ps_batch(coh, np.abs(Z))
    else:
        is_ps = np.zeros(G, dtype=bool)

    vec = np.empty((G, T), dtype=np.complex64)
    quality = np.empty(G, dtype=np.float32)
    vec[is_ps] = 1.0
    quality[is_ps] = 1.0

    link = np.flatnonzero(~is_ps)
    cohL = coh[link] if is_ps.any() else coh
    vecL = np.empty((cohL.shape[0], T), dtype=np.complex64)
    if method in ("EMI", "sequential_EMI", "PTA", "sequential_PTA", "SBW"):
        status, abscoh = pl.regularize_matrix_batch(np.abs(cohL).astype(np.float32))
        ok = status == 0
        if ok.any():
            if method in ("PTA", "sequential_PTA"):
                try:
                    vecL[ok] = pl.pta_phase_batch(cohL[ok], abscoh[ok])
                except np.linalg.LinAlgError:
                    for b in np.flatnonzero(ok):
                        try:
                            vecL[b] = pl.emi_phase(cohL[b], abscoh[b])
                        except np.linalg.LinAlgError:
                            vecL[b] = pl.evd_phase(cohL[b])
            else:
                # per-matrix inversion status keeps the fallback
                # BATCHED: a matrix can pass the float32 Cholesky
                # probe yet be singular to float64 inv (e.g.
                # duplicate rows from edge-extended gap-fill), and
                # the old whole-batch except clause downgraded every
                # group of the batch to scalar EMI/EVD calls — ~40%
                # of kernel CPU at bench scale, since real batches
                # almost always contain one such matrix. Now only the
                # genuinely singular few take the scalar chain (the
                # reference's fallback, lib/utils.pyx:538-551).
                okidx = np.flatnonzero(ok)
                try:
                    vec_ok, good = pl.emi_phase_batch_status(
                        cohL[ok], abscoh[ok])
                    vecL[okidx[good]] = vec_ok[good]
                except np.linalg.LinAlgError:
                    # eigh non-convergence raises for the whole stack,
                    # naming no member: all of them take the chain
                    good = np.zeros(okidx.size, dtype=bool)
                for b in okidx[~good]:
                    try:
                        vecL[b] = pl.emi_phase(cohL[b], abscoh[b])
                    except np.linalg.LinAlgError:
                        vecL[b] = pl.evd_phase(cohL[b])
        if (~ok).any():
            vecL[~ok] = pl.evd_phase_batch(cohL[~ok])
    else:
        vecL = pl.evd_phase_batch(cohL)

    qualityL = pl.gam_pta_batch(np.angle(cohL), vecL)
    if ps_test:
        # quality == 1.0 is the PS marker ("raw phase kept",
        # test_PS_cy lib/utils.pyx:420-459); a perfectly-fit NON-PS
        # group is downgraded to the reference's 0.95 cap so the
        # sentinel stays unambiguous
        qualityL = np.where(qualityL >= 1.0, np.float32(0.95), qualityL)
    vec[link] = vecL
    quality[link] = qualityL

    vm = np.exp(1j * np.angle(vec)).astype(np.complex64)
    # (G,1,T) @ (G,T,S) batched GEMV — same einsum, BLAS-dispatched
    squeezed = (vm.conj()[:, None, :] @ Z)[:, 0, :] / np.sqrt(T)
    return vec, quality, squeezed.astype(np.complex64)


def _extract(batch: pa.RecordBatch, num_cols: list[str],
             list_cols: dict[str, tuple], with_strings: bool = True
             ) -> tuple[dict, dict | None]:
    n = batch.num_rows
    num = {}
    for c in num_cols:
        num[c] = batch.column(c).to_numpy(zero_copy_only=False)
    for c, (width, dtype) in list_cols.items():
        num[c] = _flat_lists(batch.column(c), width, n, dtype)
    if not with_strings:
        return num, None
    strs = {c: batch.column(c) for c in ("doc_id", "source")}
    return num, strs


def _concat(carry: tuple | None, num: dict, strs: dict | None
            ) -> tuple[dict, list | None]:
    """Put carried rows in front of the current batch. Returns the
    merged numeric dict and a string lookup: an ordered list of
    (segment_length, strs_dict) used to materialize doc_id/source at
    arbitrary indices (carry segments hold Python lists, batch
    segments hold Arrow arrays). Lookup is None in string-free mode."""
    n = len(next(iter(num.values())))
    lookup = None if strs is None else [(n, strs)]
    if carry is None:
        return num, lookup
    carry_num, carry_lookup = carry
    merged = {k: np.concatenate([carry_num[k], num[k]]) for k in num}
    return merged, None if lookup is None else carry_lookup + lookup


def _take_strs(lookup, idx: np.ndarray, col: str) -> list:
    """Materialize string values at ``idx`` across lookup segments."""
    out = []
    for i in idx:
        i = int(i)
        for seg_len, strs in lookup:
            if i < seg_len:
                v = strs[col][i]
                out.append(v.as_py() if hasattr(v, "as_py") else v)
                break
            i -= seg_len
    return out


def _strings(lookup, idx: np.ndarray) -> dict:
    """doc_id/source at ``idx`` as Python lists ({} when string-free).
    Strings are only ever materialized for group-start rows and carried
    rows, never for the bulk."""
    if lookup is None:
        return {}
    return {c: _take_strs(lookup, idx, c) for c in ("doc_id", "source")}


def stream_groups(batches, extract, boundary, process) -> Iterator:
    """The batch-carry protocol every grouped kernel streams through.

    Rows arrive sorted by (doc_key[, doc_key2], window), so a group can
    span Arrow batches: the trailing, possibly incomplete group of each
    batch is held back and put in front of the next one, and the carry
    is flushed at the end. Every ``process`` call therefore sees
    complete groups only, and per-worker memory is O(one Arrow batch +
    one group), never O(partition).

    ``extract(batch) -> (num, strs)`` reads the numeric columns and the
    Arrow string columns (None when string-free); ``boundary(num)`` is
    the per-row window id (hour, day, or the doc key itself);
    ``process(num, lookup)`` returns one output, and None is dropped."""
    carry = None
    for batch in batches:
        if batch.num_rows == 0:
            continue
        num, lookup = _concat(carry, *extract(batch))
        n = num["doc_key"].shape[0]
        last = _group_starts(num["doc_key"], boundary(num),
                             num.get("doc_key2"))[-1]
        tail = {k: v[last:] for k, v in num.items()}
        carry = (tail, None if lookup is None else
                 [(n - last, _strings(lookup, np.arange(last, n)))])
        if last == 0:
            continue
        out = process({k: v[:last] for k, v in num.items()}, lookup)
        if out is not None:
            yield out
    if carry is not None:
        out = process(*carry)
        if out is not None:
            yield out


def _record_batch(schema: pa.Schema, cols: dict, n: int) -> pa.RecordBatch:
    """One output batch of ``n`` rows: each schema field from ``cols``
    (a NumPy vector already in the field's dtype, a (n, k) float32
    matrix for list fields, or a Python string list); fields missing
    from ``cols`` are all-null."""
    arrays = []
    for f in schema:
        v = cols.get(f.name)
        if v is None:
            arrays.append(pa.nulls(n, f.type))
        elif pa.types.is_list(f.type):
            arrays.append(_list_col(v))
        else:
            arrays.append(pa.array(v, f.type))
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def _acc_bucket_counts(acc, buckets: np.ndarray) -> None:
    """Fold this output batch's per-bucket row counts into a dict
    accumulator (rows-processed metrics without a post-write re-scan;
    task retries can double-count — metrics only, never correctness;
    the Iceberg deployment reads snapshot summaries instead)."""
    if acc is None:
        return
    vals, cnts = np.unique(buckets, return_counts=True)
    acc.add({int(b): int(c) for b, c in zip(vals, cnts)})


def _shp_present(phi_dense: np.ndarray, present: np.ndarray,
                 test: str, alpha: float) -> np.ndarray:
    """SHP membership inside the window (N1, get_shp_row_col_c
    lib/utils.pyx:903-998 grafted to the token axis): each slot's
    token-sample distribution (phase = affine in token id) is tested
    against the window's center-most present slot; failing slots are
    excluded from the eigen ensemble (they fall back to interpolation,
    like gaps). Groups left with <2 member slots keep all present
    slots (the reference's min-SHP fallback). Fully vectorized."""
    G, T, S = phi_dense.shape
    t = np.arange(T)
    cost = np.abs(t[None, :] - (T - 1) / 2.0) + 1e6 * (~present)
    ref_t = np.argmin(cost, axis=1)                     # (G,)
    srt = np.sort(phi_dense, axis=2)
    g = np.arange(G)
    ref = np.ascontiguousarray(
        np.broadcast_to(srt[g, ref_t][:, None, :], (G, T, S))
    ).reshape(G * T, S)
    keep = shp_kernels.shp_keep_pairs(
        test, ref, srt.reshape(G * T, S), alpha).reshape(G, T)
    keep[g, ref_t] = True
    keep &= present
    too_few = keep.sum(axis=1) < 2
    keep[too_few] = present[too_few]
    return keep


# Per-slot scalar stats cross the worker channel PACKED into one
# array column (zstat lanes, in this order): the JVM->Python Arrow
# conversion pays a near-fixed cost PER SCALAR COLUMN PER ROW
# (~0.5 s per column over the 9.1M-row bench table) while a list
# column's width is nearly free (8-col ingress 5.4 s vs 3-col-with-
# list 3.3 s, measured with a count-only kernel) — so five scalar
# columns ride one list. Values are exact in the lane type (int64 at
# 1h; float64 at 1d, exact for every integer below 2^53 and for every
# float32), so kernels unpack bit-identical arrays and outputs are
# unchanged; unpacking a double lane checks the 2^53 bound.
class _Lanes(NamedTuple):
    type: str            # Spark lane type: "long" or "double"
    names: tuple


_ZSTAT_1H = _Lanes("long", ("bucket", "n_tok", "sum_tok", "min_tok",
                            "max_tok"))
_ZSTAT_1D = _Lanes("double", ("bucket", "n_obs", "n_filled", "sum_tok",
                              "min_tok", "max_tok", "mean_ntok",
                              "quality"))


def _pack_zstat(lanes: _Lanes) -> F.Column:
    return F.array(*[F.col(c).cast(lanes.type)
                     for c in lanes.names]).alias("zstat")


def _unpack_zstat(num: dict, lanes: _Lanes) -> None:
    zs = num.pop("zstat")
    # the long -> double cast rounds monotonically, so a packed integer
    # lost precision exactly when its lane value is >= 2^53
    if lanes.type == "double" and (np.abs(zs) >= 2.0 ** 53).any():
        raise ValueError("zstat double lane holds a value >= 2^53; "
                         "packed integer stats would lose precision")
    for i, name in enumerate(lanes.names):
        num[name] = zs[:, i]


def _fill_complex(dense: np.ndarray, present: np.ndarray) -> np.ndarray:
    """Gap-fill a complex64 (G, W, K) window stack. float32 fill +
    preallocated complex64 assembly: the f64 round-trip and the
    complex128 intermediate of (re + 1j*im) were ~25% of the fill cost
    at zero accuracy benefit (interp weights stay f64 inside
    fill_dense_batch)."""
    out = np.empty(dense.shape, dtype=np.complex64)
    out.real = fill_dense_batch(dense.real, present)
    out.imag = fill_dense_batch(dense.imag, present)
    return out


def hourly_windows(num: dict, cfg: EngineConfig) -> dict:
    """Raw rows sorted by (doc_key[, doc_key2], slot) -> per-(doc, hour)
    windows: phasor build, SHP gate, gap-fill and ``_link_batch`` over
    every window of the batch at once, plus the token stats.

    Returns the 1h-tier columns keyed by their ROLLUP_1H_SCHEMA names,
    in their output dtypes (``squeezed`` packed re‖im float32), and
    ``starts``: each window's first input row."""
    T, S = cfg.slots_per_hour, cfg.n_samples
    doc_key, slot = num["doc_key"], num["slot"]
    n = doc_key.shape[0]
    hour = slot // T
    sih = slot % T
    chg = _group_change(doc_key, hour, num.get("doc_key2"))
    starts = np.flatnonzero(chg)
    G = starts.shape[0]
    gid = np.cumsum(chg) - 1

    # reconstitute unit phasors from the compact transport — float32
    # cos/sin into a preallocated complex64 (np.exp(1j*x) would
    # silently run in complex128)
    phi = _ensemble_phases(num, cfg.vocab_size)
    z = np.empty(phi.shape, dtype=np.complex64)
    np.cos(phi, out=z.real)
    np.sin(phi, out=z.imag)

    dense = np.zeros((G, T, S), dtype=np.complex64)
    present = np.zeros((G, T), dtype=bool)
    dense[gid, sih] = z
    present[gid, sih] = True
    ens_present = present
    if cfg.shp_filter:
        phi_dense = np.zeros((G, T, S), dtype=np.float32)
        phi_dense[gid, sih] = phi
        ens_present = _shp_present(phi_dense, present, cfg.shp_test,
                                   cfg.shp_alpha)
    vec, quality, squeezed = _link_batch(
        _fill_complex(dense, ens_present), cfg.method, cfg.sbw_lag,
        ps_test=cfg.ps_test)

    n_obs = (np.append(starts[1:], n) - starts).astype(np.int32)
    out = {
        "starts": starts,
        "doc_key": doc_key[starts],
        "bucket": num["bucket"][starts].astype(np.int32),
        "hour_idx": hour[starts].astype(np.int32),
        "n_obs": n_obs,
        "n_filled": (T - n_obs).astype(np.int32),
        "sum_tok": np.add.reduceat(num["sum_tok"], starts).astype(np.int64),
        "min_tok": np.minimum.reduceat(num["min_tok"], starts).astype(np.int32),
        "max_tok": np.maximum.reduceat(num["max_tok"], starts).astype(np.int32),
        "mean_ntok": (np.add.reduceat(num["n_tok"].astype(np.float64), starts)
                      / n_obs),
        "linked_phase": np.angle(vec).astype(np.float32),
        "squeezed": np.concatenate([squeezed.real, squeezed.imag], axis=1),
        "quality": quality.astype(np.float32),
    }
    if "doc_key2" in num:
        out["doc_key2"] = num["doc_key2"][starts]
    return out


def daily_windows(hourly: dict, cfg: EngineConfig) -> dict:
    """Hourly windows sorted by (doc_key[, doc_key2], hour_idx) ->
    per-(doc, day) windows: the datum pass re-links the day's squeezed
    carries (datum_connect A11), the hourly linked phases are shifted by
    the datum, and the stats combine over each day's hours.

    ``hourly`` holds the 1h-tier columns by name — the tier's Arrow
    input (zstat stats as float64 lanes) or ``hourly_windows`` output
    (integer stats); both give the same values. Returns the 1d-tier
    columns keyed by their ROLLUP_1D_SCHEMA names, in their output
    dtypes, and ``starts``: each day's first hourly row."""
    H, S, T = cfg.hours_per_day, cfg.n_samples, cfg.slots_per_hour
    doc_key, hour_idx = hourly["doc_key"], hourly["hour_idx"]
    n = doc_key.shape[0]
    day = hour_idx // H
    hid = hour_idx % H
    chg = _group_change(doc_key, day, hourly.get("doc_key2"))
    starts = np.flatnonzero(chg)
    G = starts.shape[0]
    gid = np.cumsum(chg) - 1

    sq_in = hourly["squeezed"]
    dense = np.zeros((G, H, S), dtype=np.complex64)
    present = np.zeros((G, H), dtype=bool)
    dense[gid, hid] = sq_in[:, :S] + 1j * sq_in[:, S:]
    present[gid, hid] = True

    # datum pass: re-link the squeezed carries (datum_connect A11)
    vec, quality_1d, day_squeezed = _link_batch(
        _fill_complex(dense, present), cfg.method)
    datum = np.angle(vec).astype(np.float32)  # (G, H)

    lp_dense = np.zeros((G, H, T), dtype=np.float32)
    lp_dense[gid, hid] = hourly["linked_phase"]
    adj = np.angle(np.exp(1j * (lp_dense + datum[:, :, None]))).astype(np.float32)

    n_hours = (np.append(starts[1:], n) - starts).astype(np.int32)
    n_obs = np.add.reduceat(hourly["n_obs"], starts).astype(np.int32)
    out = {
        "starts": starts,
        "doc_key": doc_key[starts],
        "bucket": hourly["bucket"][starts].astype(np.int32),
        "day_idx": day[starts].astype(np.int32),
        "n_hours": n_hours,
        "n_obs": n_obs,
        "n_filled": np.add.reduceat(hourly["n_filled"], starts).astype(np.int32),
        "sum_tok": np.add.reduceat(hourly["sum_tok"], starts).astype(np.int64),
        "min_tok": np.minimum.reduceat(hourly["min_tok"], starts).astype(np.int32),
        "max_tok": np.maximum.reduceat(hourly["max_tok"], starts).astype(np.int32),
        "mean_ntok": (np.add.reduceat(hourly["mean_ntok"] * hourly["n_obs"],
                                      starts) / np.maximum(n_obs, 1)),
        "mean_quality_1h": (np.add.reduceat(
            hourly["quality"].astype(np.float64), starts) / n_hours),
        "quality_1d": quality_1d.astype(np.float32),
        "datum_shift": datum,
        "adjusted_phase": adj.reshape(G, H * T),
        "squeezed": np.concatenate([day_squeezed.real, day_squeezed.imag],
                                   axis=1),
    }
    if "doc_key2" in hourly:
        out["doc_key2"] = hourly["doc_key2"][starts]
    return out


def make_rollup_1h_kernel(cfg: EngineConfig, counts_acc=None,
                          tok_col: str = "zphi", with_strings: bool = True):
    T, S = cfg.slots_per_hour, cfg.n_samples
    wide = getattr(cfg, "wide_doc_key", False)
    out_schema = _pa_schema(_widen_key(
        ROLLUP_1H_SCHEMA if with_strings else ROLLUP_1H_CORE_SCHEMA, wide))
    num_cols = ["doc_key", "slot"] + (["doc_key2"] if wide else [])
    list_cols = {tok_col: (S, np.int16 if tok_col == "ztok" else np.float32),
                 "zstat": (len(_ZSTAT_1H.names), np.int64)}

    def extract(batch):
        num, strs = _extract(batch, num_cols, list_cols, with_strings)
        _unpack_zstat(num, _ZSTAT_1H)
        return num, strs

    def process(num: dict, lookup) -> pa.RecordBatch:
        h = hourly_windows(num, cfg)
        _acc_bucket_counts(counts_acc, h["bucket"])
        return _record_batch(out_schema,
                             {**h, **_strings(lookup, h["starts"])},
                             h["starts"].shape[0])

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return stream_groups(batches, extract, lambda num: num["slot"] // T,
                             process)

    return kernel


def attach_doc_dim(df_core: DataFrame, doc_dim: DataFrame,
                   hint_broadcast: bool = True) -> DataFrame:
    """Join doc_id/source back onto a string-free tier output. The
    tier output has G rows (orders of magnitude below raw), so this is
    a cheap post-kernel hash join that never touches the raw->Python
    stream; broadcast by default (a 10^12-doc deployment disables the
    hint and bucket-joins the dimension co-located instead).

    LEFT join: a tier row whose doc_key is missing from the supplied
    dimension surfaces with null doc_id/source instead of silently
    vanishing (an inner join would also desynchronize the checkpoint
    rows_written metric, which counts pre-join kernel output)."""
    if ("doc_key2" in df_core.columns
            and "doc_key2" not in doc_dim.columns):
        # a narrow dim under a wide tier would quietly degrade the
        # join to doc_key alone — the collision fan-out wide mode
        # exists to prevent. Fail loudly; widen the dim with
        # with_doc_keys(dim, cfg) instead.
        raise ValueError("tier output is wide (doc_key2) but doc_dim "
                         "is narrow; build the dimension with "
                         "with_doc_keys so join keys match")
    keys = ["doc_key"] + (["doc_key2"]
                          if "doc_key2" in df_core.columns else [])
    dim = doc_dim.select(*keys, "doc_id", "source")
    if hint_broadcast:
        dim = F.broadcast(dim)
    rest = [c for c in df_core.columns if c not in keys]
    return (df_core.join(dim, keys, "left")
            .select("doc_id", *keys, "source", *rest))


def rollup_1h(obs: DataFrame, cfg: EngineConfig = EngineConfig(),
              num_partitions: int | None = None,
              assume_partitioned: bool = False,
              counts_acc=None) -> DataFrame:
    """raw observations -> 1h tier. One shuffle (by bucket), then the
    kernel runs map-side; output stays partitioned by bucket for the
    1d tier and the MERGE write (partitioning reuse, no second
    shuffle). hour_ts is attached JVM-side after the kernel.

    The kernel ingress is explicitly projected: only the columns it
    consumes cross the shuffle and the Python worker channel (``ts``
    etc. are pruned here — mapInArrow ships whole rows, so Catalyst
    cannot prune through it). If ``obs`` carries no doc_id/source
    (string-free mode), the kernel emits the CORE schema (doc_key
    only) — use attach_doc_dim to restore the strings on the G-row
    output instead of streaming them per raw row.

    ``assume_partitioned=True`` elides even the first exchange for
    inputs written by sources.sequences.write_sequences under its
    bucketed-read contract (one sorted unsplit file per bucket)."""
    p = num_partitions or cfg.n_buckets
    wide = getattr(cfg, "wide_doc_key", False)
    with_strings = "doc_id" in obs.columns
    obs = with_doc_keys(obs, cfg)
    tok_col = "ztok" if "ztok" in obs.columns else "zphi"
    key_cols = ["doc_key"] + (["doc_key2"] if wide else [])
    cols = ((["doc_id", "source"] if with_strings else [])
            + key_cols + ["slot", "bucket", "n_tok", "sum_tok",
                          "min_tok", "max_tok", tok_col])
    obs = obs.select(*cols)
    part = obs if assume_partitioned else (
        obs.repartition(p, "bucket")
           .sortWithinPartitions(*key_cols, "slot"))
    # pack the scalar stats AFTER the bucket exchange (the shuffle
    # still keys on the plain bucket column); the packing projection
    # is narrow, so partitioning and sort order are preserved and the
    # worker channel sees 4 columns instead of 8
    part = part.select(
        *((["doc_id", "source"] if with_strings else []) + key_cols
          + ["slot", tok_col]), _pack_zstat(_ZSTAT_1H))
    out = part.mapInArrow(
        make_rollup_1h_kernel(cfg, counts_acc, tok_col, with_strings),
        _widen_key(ROLLUP_1H_SCHEMA if with_strings
                   else ROLLUP_1H_CORE_SCHEMA, wide))
    return out.withColumn(
        "hour_ts",
        F.timestamp_seconds(F.lit(cfg.epoch0)
                            + F.col("hour_idx").cast("long") * cfg.hour_seconds))


def make_rollup_1d_kernel(cfg: EngineConfig, counts_acc=None,
                          with_strings: bool = True):
    H, S, T = cfg.hours_per_day, cfg.n_samples, cfg.slots_per_hour
    wide = getattr(cfg, "wide_doc_key", False)
    out_schema = _pa_schema(_widen_key(
        ROLLUP_1D_SCHEMA if with_strings else ROLLUP_1D_CORE_SCHEMA, wide))
    num_cols = ["doc_key", "hour_idx"] + (["doc_key2"] if wide else [])
    list_cols = {"linked_phase": (T, np.float32),
                 "squeezed": (2 * S, np.float32),
                 "zstat": (len(_ZSTAT_1D.names), np.float64)}

    def extract(batch):
        num, strs = _extract(batch, num_cols, list_cols, with_strings)
        _unpack_zstat(num, _ZSTAT_1D)
        return num, strs

    def process(num: dict, lookup) -> pa.RecordBatch:
        d = daily_windows(num, cfg)
        _acc_bucket_counts(counts_acc, d["bucket"])
        return _record_batch(out_schema,
                             {**d, **_strings(lookup, d["starts"])},
                             d["starts"].shape[0])

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return stream_groups(batches, extract,
                             lambda num: num["hour_idx"] // H, process)

    return kernel


def rollup_1d(df_1h: DataFrame, cfg: EngineConfig = EngineConfig(),
              num_partitions: int | None = None,
              assume_partitioned: bool = False,
              counts_acc=None) -> DataFrame:
    """1h tier -> 1d tier.

    ``assume_partitioned=True`` is the in-pipeline fast path: a
    DataFrame coming straight out of ``rollup_1h`` is ALREADY
    bucket-partitioned and (doc_key, hour)-ordered within partitions
    (mapInArrow is narrow — it preserves both), so the second exchange
    + sort is elided entirely (partitioning reuse, SURVEY.md P2).
    Reading the 1h tier back from storage loses the ordering guarantee
    across files — use the default shuffle path there.

    A string-free 1h input (CORE schema) stays string-free: both tier
    kernels then never see a doc_id/source byte — attach_doc_dim joins
    the strings onto the G-row outputs."""
    p = num_partitions or cfg.n_buckets
    wide = getattr(cfg, "wide_doc_key", False)
    with_strings = "doc_id" in df_1h.columns
    df_1h = with_doc_keys(df_1h, cfg)
    key_cols = ["doc_key"] + (["doc_key2"] if wide else [])
    cols = ((["doc_id", "source"] if with_strings else [])
            + key_cols + ["bucket", "hour_idx", "n_obs", "n_filled",
                          "sum_tok", "min_tok", "max_tok", "mean_ntok",
                          "linked_phase", "squeezed", "quality"])
    part = df_1h.select(*cols)
    if not assume_partitioned:
        part = (part.repartition(p, "bucket")
                    .sortWithinPartitions(*key_cols, "hour_idx"))
    # pack scalar stats after the exchange — same narrow projection
    # trade as rollup_1h (5 columns through the worker channel
    # instead of 12)
    part = part.select(
        *((["doc_id", "source"] if with_strings else []) + key_cols
          + ["hour_idx", "linked_phase", "squeezed"]),
        _pack_zstat(_ZSTAT_1D))
    out = part.mapInArrow(
        make_rollup_1d_kernel(cfg, counts_acc, with_strings),
        _widen_key(ROLLUP_1D_SCHEMA if with_strings
                   else ROLLUP_1D_CORE_SCHEMA, wide))
    return out.withColumn(
        "day_ts",
        F.timestamp_seconds(F.lit(cfg.epoch0)
                            + F.col("day_idx").cast("long") * cfg.day_seconds))
