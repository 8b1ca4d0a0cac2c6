"""Workload `ecog_folder`: the paper's folder job. A folder of synthetic
ECoG recordings, landed once as long parquet, goes through
`preprocess(...)` -> `high_gamma_trace(...)` and the trace is written to
parquet. One operation is one such job; every job's output is checked
against a dense NumPy replay of the same recordings (`dsp.kernels`).
"""
from __future__ import annotations

import contextlib
import os
import time
import traceback

import numpy as np

import common

NAME = "ecog_folder"
# the streaming path runs the same DSP stages; its traced section rides in
# this workload's traced run (README.md: why it is not a workload)
TRACED_EXTRAS = ("ecog_stream",)
RATE = INIT = 3200.0            # recorded at the pipeline's initial rate
FINAL = 400.0
BASELINE_S = 0.25
N_BASELINE = int(BASELINE_S * FINAL)
SIZES = {
    "full": {"n_rec": 8, "n_ch": 32, "seconds": 1.0},
    "tiny": {"n_rec": 1, "n_ch": 32, "seconds": 1.0},
}
# the check: the reference's chunked-vs-dense tolerance (rtol=1e-2); the
# trace is a z-score, so the absolute floor is 1e-2 baseline SDs
RTOL = ATOL = 1e-2
# a job takes ~3.4 s on a 4-core box (~4.2 s with 2.5 s recordings: most
# of it is fixed per-job cost); a run times at least this many
MIN_JOBS = 5


def make_inputs(size: str, seed: int, work: str) -> dict:
    """Write the folder, one parquet file per recording; every loop reads
    the same folder. Returns what the checks need."""
    from process_nwb_spark.synth import generate_synthetic_data

    sz = SIZES[size]
    in_dir = os.path.join(work, "input")
    os.makedirs(in_dir)
    recs = {}
    for r in range(sz["n_rec"]):
        X = generate_synthetic_data(sz["seconds"], sz["n_ch"], RATE,
                                    seed=seed * 1000 + r)
        sid = f"rec{r:02d}"
        common.write_long(os.path.join(in_dir, f"{sid}.parquet"), X, sid)
        recs[sid] = X
    n_samples = sum(X.size for X in recs.values())
    return {"in_dir": in_dir, "recs": recs, "n_samples": n_samples}


def dense_trace(X: np.ndarray, tracer=None,
                precision: str = "double") -> np.ndarray:
    """Dense, serial replay of preprocess -> high_gamma_trace for one
    recording: (n_channels, n_time_out). The check runs it in double
    precision; the traced run times it in the pipeline's single precision,
    with each kernel call in a `tracer` span."""
    from process_nwb_spark.dsp import kernels as K

    def span(name):
        return tracer.span(name) if tracer else contextlib.nullcontext()

    with span("dsp.kernels.resample"):
        Xr = K.resample(X * 1e6, INIT, RATE, precision=precision)
    with span("dsp.kernels.notch"):
        Xn = K.apply_linenoise_notch(Xr, INIT, precision=precision)
    with span("dsp.kernels.subtract_car"):
        Xc = K.subtract_car(Xn, 0.95, precision=precision)
    with span("dsp.kernels.wavelet_transform"):
        Xh, _, _, _ = K.wavelet_transform(Xc, INIT, "rat", True,
                                          precision=precision)
    with span("dsp.kernels.resample"):
        amp = np.abs(Xh)                              # (t, ch, band)
        amp = K.resample(amp.reshape(amp.shape[0], -1), FINAL, INIT,
                         precision=precision).reshape(-1, *amp.shape[1:])
    base = amp[:N_BASELINE]
    z = (amp - base.mean(axis=0)) / base.std(axis=0)
    return z.mean(axis=2).T


def expected(inputs: dict) -> dict:
    return {sid: dense_trace(X) for sid, X in inputs["recs"].items()}


def folder_job(spark, in_dir: str, out_dir: str):
    """One operation: the public pipeline from parquet in to trace out."""
    from process_nwb_spark import high_gamma_trace, preprocess

    res = preprocess(spark.read.parquet(in_dir), RATE, INIT, FINAL)
    hg = high_gamma_trace(res, BASELINE_S, FINAL)
    hg.write.mode("overwrite").parquet(out_dir)
    return hg


def _check(out_dir: str, want: dict, corrupt: bool) -> bool:
    """True when the written trace matches the dense replay."""
    import pyarrow.parquet as pq

    pdf = (pq.read_table(out_dir).to_pandas()
           .sort_values(["series_id", "channel", "sample_idx"]))
    if corrupt:
        pdf.iloc[len(pdf) // 2, pdf.columns.get_loc("amp")] += 1.0
    if set(pdf.series_id.unique()) != set(want):
        return False
    for sid, w in want.items():
        got = pdf[pdf.series_id == sid]
        if len(got) != w.size:
            return False
        if not np.allclose(got.amp.to_numpy().reshape(w.shape), w,
                           rtol=RTOL, atol=ATOL):
            return False
    return True


def verify(result: dict, want: dict, corrupt: bool = False) -> list:
    """One verdict per job; `corrupt` perturbs the first job's output."""
    return [out is not None and _check(out, want, corrupt and i == 0)
            for i, (out, _) in enumerate(result["outputs"])]


def measure(spark, ctx, inputs: dict, seconds: float, label: str) -> dict:
    """Closed loop of folder jobs for `seconds` (at least MIN_JOBS); the
    outputs are checked after the loop so checking is never timed."""
    times, outs = [], []
    t_end = time.perf_counter() + seconds
    while len(times) < MIN_JOBS or time.perf_counter() < t_end:
        out = os.path.join(ctx.work, f"out_{label}_{len(times)}")
        group = f"{NAME}.{label}.op{len(times)}"
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span(f"{NAME}.job"), \
                    common.job_group(spark, group):
                folder_job(spark, inputs["in_dir"], out)
        except Exception:           # a failed job; the loop goes on
            traceback.print_exc()
            out = None
        times.append(time.perf_counter() - t0)
        outs.append((out, group))
    return {"op_times": times, "wall": sum(times), "outputs": outs,
            "samples": inputs["n_samples"] * len(times)}


def warm_up(spark, inputs: dict, work: str) -> None:
    """Three full jobs. On a 4-core box the first job of a session costs
    ~17 s and ~46 CPU s (JVM start-up compilation, Python workers), the
    next ones ~18, 13 and 13 CPU s, and from about the eighth job ~10 CPU s;
    three jobs take most of that fall out of the timed loop at a set-up
    cost of ~26 s."""
    for k in range(3):
        folder_job(spark, inputs["in_dir"],
                   os.path.join(work, f"warmup_out{k}"))


def layers(spark, ctx, inputs: dict, result: dict) -> dict:
    """Per-layer numbers for the traced run — prefix cuts through each
    module's public function, the serial kernels on one recording and
    the plan's exchange count — and the base of each ratio."""
    from process_nwb_spark.dsp import kernels as K
    from process_nwb_spark.operators.kernel_ops import (car_wavelet_arrow,
                                                        fused_ops_arrow,
                                                        scale_packed)
    from process_nwb_spark.operators.repack import pack
    from process_nwb_spark.operators.zscore import high_gamma_packed
    from process_nwb_spark.plans.inspect import count_exchanges

    scan = spark.read.parquet(inputs["in_dir"])
    packed = pack(scan)
    ds = fused_ops_arrow(
        scale_packed(packed, 1e6),
        lambda x: K.resample(x, INIT, RATE, precision="single"),
        lambda x: K.apply_linenoise_notch(x, INIT, precision="single"))
    wv = car_wavelet_arrow(ds, INIT, mean_frac=0.95, filters="rat",
                           hg_only=True, abs_only=True,
                           post_resample_rate=FINAL, precision="single")
    hg = high_gamma_packed(wv.drop("phase"), N_BASELINE, values_col="amp")
    sink = os.path.join(ctx.work, "cut_sink")
    cuts = [("sources.scan", lambda: common.noop_write(scan)),
            ("operators.repack.pack", lambda: common.noop_write(packed)),
            ("operators.kernel_ops.fused_ops_arrow",
             lambda: common.noop_write(ds)),
            ("operators.kernel_ops.car_wavelet_arrow",
             lambda: common.noop_write(wv)),
            ("operators.zscore.high_gamma_packed",
             lambda: common.noop_write(hg)),
            ("sink.trace_write",
             lambda: hg.write.mode("overwrite").parquet(sink))]
    self_s, shuffle = common.prefix_cuts(spark, ctx.tracer, NAME, cuts)

    one = next(iter(inputs["recs"].values()))
    with ctx.tracer.span("dsp.kernels.serial_total"):
        dense_trace(one, ctx.tracer, precision="single")
    serial = common.serial_times(ctx.tracer, len(inputs["recs"]))
    op_p50 = common.median(result["op_times"])
    bases = {"spark_over_serial":
             f"job p50 {op_p50:.3f} s / serial single-precision replay of "
             f"{len(inputs['recs'])} recordings "
             f"{serial['dsp.kernels.serial_total_s']:.3f} s"}
    return {
        "sources.scan_s": self_s["sources.scan"],
        "operators.repack.pack_s": self_s["operators.repack.pack"],
        "operators.repack.pack_shuffle_bytes":
            shuffle["operators.repack.pack"],
        "operators.kernel_ops.fused_ops_arrow_s":
            self_s["operators.kernel_ops.fused_ops_arrow"],
        "operators.kernel_ops.car_wavelet_arrow_s":
            self_s["operators.kernel_ops.car_wavelet_arrow"],
        "operators.kernel_ops.car_wavelet_shuffle_bytes":
            shuffle["operators.kernel_ops.car_wavelet_arrow"],
        "operators.zscore.high_gamma_packed_s":
            self_s["operators.zscore.high_gamma_packed"],
        "operators.zscore.shuffle_bytes":
            shuffle["operators.zscore.high_gamma_packed"],
        "sink.trace_write_s": self_s["sink.trace_write"],
        **serial,
        "spark_over_serial": op_p50 / serial["dsp.kernels.serial_total_s"],
        "plans.exchanges": count_exchanges(hg),
    }, bases
