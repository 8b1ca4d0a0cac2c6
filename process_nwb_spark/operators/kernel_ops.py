"""Spark operators wrapping the NumPy spectral kernels.

All operate on the *packed* layout (one row per channel, full time axis in
an ARRAY<DOUBLE>) via `mapInArrow` / `applyInArrow`: the array column
crosses into Python as one flat float64 buffer + offsets and leaves the
same way, with no pandas object boxing on either side. After the single
pack() shuffle, any chain of per-channel kernels runs pipelined inside one
stage, one Arrow round-trip per operator (or one total with
`fused_ops_arrow`).

Scale note (100 TB): parallelism = n_series x n_channels tasks; a channel's
array must fit in one task (~1e8 float64 samples = 800 MB upper bound).
Longer recordings are handled upstream by splitting series into bounded
segments with pad overlap — the same pad/trim machinery these kernels
already use (see SURVEY.md §7 "whole-axis FFT vs partitioned data").
"""
from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..dsp import kernels as K

PACKED_SCHEMA = "series_id STRING, channel INT, values ARRAY<DOUBLE>"


def scale_packed(df: DataFrame, scaling: float) -> DataFrame:
    """Projection x scaling, JVM-side (no Python). Parity: resample.py:186-189."""
    from pyspark.sql import functions as F

    return df.withColumn(
        "values", F.transform("values", lambda v: v * F.lit(float(scaling))))


def _list_col_to_numpy(col):
    """ARRAY<DOUBLE> Arrow column -> (flat float64 ndarray, int64 bounds).

    flatten() respects the array's own offset/slicing; with no null rows
    (signal arrays are never null) it is exactly the in-order concatenation
    of the list elements, so bounds[i]:bounds[i+1] slices row i's values."""
    import pyarrow.compute as pc

    if hasattr(col, "combine_chunks"):  # ChunkedArray (from a pa.Table)
        col = col.combine_chunks()
    flat = col.flatten().to_numpy(zero_copy_only=False)
    lens = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    bounds = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=bounds[1:])
    return flat, bounds


def _pack_list_array(arrays):
    """list of float64 ndarrays -> Arrow list<double> array (2 memcpys).

    Callers must bound the flattened length below 2^31 (Arrow list offsets
    are int32 — the same per-array ceiling Spark's ArrayData has); use
    _bounded_row_groups to split larger outputs across record
    batches/table chunks. Guarded loudly here because an int32 cumsum
    would otherwise WRAP silently into corrupt offsets."""
    import pyarrow as pa

    lens = np.fromiter((len(a) for a in arrays), dtype=np.int64,
                       count=len(arrays))
    total = int(lens.sum())
    if total >= 2 ** 31:
        raise ValueError(
            f"_pack_list_array: {total} flattened elements overflow int32 "
            f"Arrow list offsets; emit in bounded row groups "
            f"(_bounded_row_groups)")
    offsets = np.zeros(len(arrays) + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    flat = (arrays[0] if len(arrays) == 1
            else np.concatenate(arrays) if arrays
            else np.empty(0, dtype=np.float64))
    return pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(flat, type=pa.float64()))


def _bounded_row_groups(arrays, cap=2 ** 30):
    """Yield (lo, hi) row slices whose flattened lengths stay under `cap`,
    so each group's list offsets fit int32 with headroom. A single row
    longer than the cap still gets its own group (Spark itself cannot
    represent an ARRAY past 2^31 elements — that fails loudly above)."""
    lo, n = 0, len(arrays)
    while lo < n:
        hi, tot = lo, 0
        while hi < n and (hi == lo or tot + len(arrays[hi]) < cap):
            tot += len(arrays[hi])
            hi += 1
        yield lo, hi
        lo = hi


def _packed_batches(series_id, channels, arrays):
    """Packed rows -> bounded PACKED_SCHEMA record batches. `series_id`
    and `channels` are Arrow arrays aligned with the float64 `arrays`."""
    import pyarrow as pa

    for lo, hi in _bounded_row_groups(arrays):
        yield pa.RecordBatch.from_arrays(
            [series_id.slice(lo, hi - lo), channels.slice(lo, hi - lo),
             _pack_list_array(arrays[lo:hi])],
            ["series_id", "channel", "values"])


def _stack_series(table):
    """One series' packed group -> (series_id, channels, X): the series'
    channels sorted by channel id and stacked as the columns of an
    (n_time, n_channels) float64 block — the gather shared by every
    per-series kernel (packed CAR, fused CAR->wavelet)."""
    ch = table.column("channel").to_numpy(zero_copy_only=False)
    order = np.argsort(ch)
    flat, bounds = _list_col_to_numpy(table.column("values"))
    X = np.stack([flat[bounds[i]:bounds[i + 1]] for i in order], axis=1)
    return table.column("series_id")[0].as_py(), ch[order], X


def _map_values_arrow(df: DataFrame, fn) -> DataFrame:
    """Apply `fn(np.ndarray (n_time,)) -> np.ndarray` to each packed row,
    a narrow mapInArrow pass over flat float64 views of the arrays."""

    def run(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            flat, bounds = _list_col_to_numpy(batch.column(2))
            outs = [np.ascontiguousarray(
                        np.asarray(fn(flat[bounds[i]:bounds[i + 1]]),
                                   dtype=np.float64))
                    for i in range(batch.num_rows)]
            # bounded groups: an upsampling fn can grow a batch's flattened
            # output past the int32 list-offset ceiling
            yield from _packed_batches(batch.column(0), batch.column(1),
                                       outs)

    return df.select("series_id", "channel", "values").mapInArrow(
        run, PACKED_SCHEMA)


def resample_op(df: DataFrame, new_freq: float, old_freq: float,
                npad="fast", precision: str = "single") -> DataFrame:
    """FFT rational resample of every channel. Parity: resample.py:105-153."""
    return _map_values_arrow(
        df, lambda x: K.resample(x, new_freq, old_freq, npad=npad,
                                 precision=precision))


def notch_op(df: DataFrame, rate: float, noise_hz: float = 60.0,
             npad="fast", precision: str = "single") -> DataFrame:
    """60 Hz + harmonics notch. Parity: linenoise_notch.py:55-92."""
    return _map_values_arrow(
        df, lambda x: K.apply_linenoise_notch(x, rate, noise_hz=noise_hz,
                                              npad=npad, precision=precision))


def fused_ops_arrow(df: DataFrame, *fns) -> DataFrame:
    """Chain ndarray->ndarray kernels in ONE Python crossing (the Spark
    analog of the reference's fused notch+CAR stage pipelines.py:114-173 —
    here used for resample+notch, which are adjacent per-channel stages)."""

    def chained(x):
        for f in fns:
            x = f(x)
        return x

    return _map_values_arrow(df, chained)


WAVELET_SCHEMA = ("series_id STRING, channel INT, band INT, cf DOUBLE, "
                  "sd DOUBLE, amp ARRAY<DOUBLE>, phase ARRAY<DOUBLE>")


def _wavelet_band_kernel(rate: float, filters: str, hg_only: bool,
                         abs_only: bool, post_resample_rate: float | None,
                         npad, precision: str):
    """Check the wavelet arguments eagerly, at plan time, and return
    `build(series_id, channels, X)`, which wavelet-decomposes each column
    of the (n_time, n_channels) block X and yields WAVELET_SCHEMA record
    batches, one row per (channel, band), in bounded row groups: the one
    spelling of the wavelet / abs / optional post-resample / optional
    phase sequence, shared by wavelet_op and car_wavelet_arrow.

    Checking here rather than inside the executor kernel fails before the
    distributed job is launched. Phase must not be resampled, as in the
    reference (wavelet_transform.py:423-424)."""
    if not abs_only and post_resample_rate is not None:
        raise ValueError("Wavelet phase should not be resampled.")
    import pyarrow as pa

    from ..dsp.filterbank import band_params, check_nyquist

    cfs, sds = band_params(filters, hg_only)
    check_nyquist(np.asarray(cfs), rate)
    cfs_l, sds_l = [float(c) for c in cfs], [float(s) for s in sds]
    names = ["series_id", "channel", "band", "cf", "sd", "amp", "phase"]

    def build(series_id, channels, X):
        out_ch, bands, amps, phases = [], [], [], []
        for i, ch in enumerate(channels):
            Xh, _, _, _ = K.wavelet_transform(
                X[:, i:i + 1], rate, filters=filters, hg_only=hg_only,
                npad=npad, precision=precision)
            for b in range(Xh.shape[-1]):
                amp = np.abs(Xh[:, 0, b])
                if post_resample_rate is not None:
                    amp = K.resample(amp, post_resample_rate, rate,
                                     precision=precision)
                out_ch.append(int(ch))
                bands.append(b)
                amps.append(np.ascontiguousarray(amp, dtype=np.float64))
                if not abs_only:
                    phases.append(np.angle(Xh[:, 0, b]).astype(np.float64))
        # bounded groups: a long series x many bands can exceed the int32
        # list-offset ceiling even when every array is individually fine.
        # phase, when present, is never resampled, so it is amp's length
        for lo, hi in _bounded_row_groups(amps):
            n = hi - lo
            yield pa.RecordBatch.from_arrays([
                pa.array([series_id] * n, type=pa.string()),
                pa.array(out_ch[lo:hi], type=pa.int32()),
                pa.array(bands[lo:hi], type=pa.int32()),
                pa.array([cfs_l[b] for b in bands[lo:hi]],
                         type=pa.float64()),
                pa.array([sds_l[b] for b in bands[lo:hi]],
                         type=pa.float64()),
                _pack_list_array(amps[lo:hi]),
                (pa.nulls(n, type=pa.list_(pa.float64())) if abs_only
                 else _pack_list_array(phases[lo:hi])),
            ], names)

    return build


def wavelet_op(df: DataFrame, rate: float, filters: str = "rat",
               hg_only: bool = True, abs_only: bool = True,
               post_resample_rate: float | None = None, npad="fast",
               precision: str = "single") -> DataFrame:
    """Morlet wavelet decomposition: one input row (channel) fans out to
    n_bands output rows carrying amplitude (and optionally phase) arrays.

    The channel's forward FFT (X_fft_h) is computed once and shared across
    its bands — the Spark placement of the reference's per-channel cache
    (wavelet_transform.py:198-207). Optional post-resample of amplitudes
    mirrors store_wavelet_transform (wavelet_transform.py:403-409); phase
    + resample is rejected as in the reference (wavelet_transform.py:423-424).
    Parity: wavelet_transform.py:238-322, 325-444.
    """
    build = _wavelet_band_kernel(rate, filters, hg_only, abs_only,
                                 post_resample_rate, npad, precision)

    def run(batches):
        for batch in batches:
            flat, bounds = _list_col_to_numpy(batch.column(2))
            sids = batch.column(0).to_pylist()
            chans = batch.column(1).to_pylist()
            for i in range(batch.num_rows):
                x = flat[bounds[i]:bounds[i + 1]]
                yield from build(sids[i], [chans[i]], x[:, np.newaxis])

    return df.select("series_id", "channel", "values").mapInArrow(
        run, WAVELET_SCHEMA)


def car_wavelet_arrow(df: DataFrame, rate: float, mean_frac: float = 0.95,
                      filters: str = "rat", hg_only: bool = True,
                      abs_only: bool = True,
                      post_resample_rate: float | None = None, npad="fast",
                      precision: str = "single") -> DataFrame:
    """Fused CAR -> wavelet in ONE Python crossing (applyInArrow): the CAR
    gather already holds a whole series' channel block in one task, and
    the wavelet is per-channel — a strict subset of that grouping — so
    running it inside the same kernel saves a full Arrow round-trip of the
    CAR'd signal plus one stage. Same K.* calls in the same order as
    subtract_car_packed followed by wavelet_op.
    Parity: the reference's own fused store_linenoise_notch_CAR stage
    (pipelines.py:114-173) applied one stage later."""
    import pyarrow as pa

    build = _wavelet_band_kernel(rate, filters, hg_only, abs_only,
                                 post_resample_rate, npad, precision)

    def fn(table: "pa.Table") -> "pa.Table":
        sid, channels, X = _stack_series(table)
        Xc = np.asarray(K.subtract_car(X, mean_frac=mean_frac,
                                       precision=precision),
                        dtype=np.float64)
        return pa.Table.from_batches(list(build(sid, channels, Xc)))

    return df.groupBy("series_id").applyInArrow(fn, WAVELET_SCHEMA)
