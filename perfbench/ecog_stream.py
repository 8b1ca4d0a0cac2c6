"""The ECoG streaming path, measured in the traced run of `ecog_folder`
(it is not a workload of its own; see README.md). A backlog of landed
parquet files (each all 8 channels x one 4096-sample segment) goes into a
fresh input dir and one `streaming.ops.stream_preprocess_full` drain
(availableNow, one file per micro-batch) appends band-partitioned parquet.
One operation is one micro-batch; the output is checked against the batch
composition of the same per-file segmentation, replayed with
`dsp.kernels`.
"""
from __future__ import annotations

import os
import time
import traceback

import numpy as np

import common

NAME = "ecog_stream"
RATE = 3200.0
SEG = 4096                      # stream_preprocess_full's default seg_len
# a 32-channel micro-batch takes ~4.5 s on a 4-core box and an 8-channel
# one ~2.0-2.7 s; four 8-channel files keep the traced run under its limit
N_CH = 8
N_FILES = {"full": 4, "tiny": 2}
RTOL = ATOL = 1e-2              # the reference's chunked-vs-dense bound
PROGRESS_KEYS = {"trigger": "triggerExecution", "add_batch": "addBatch",
                 "query_planning": "queryPlanning",
                 "latest_offset": "latestOffset", "wal_commit": "walCommit"}


def make_inputs(size: str, seed: int, work: str) -> dict:
    """The recording, cut into whole-segment files, landed in one input
    dir; plus a one-file warm-up backlog."""
    from process_nwb_spark.synth import generate_synthetic_data

    n = N_FILES[size]
    X = generate_synthetic_data(n * SEG / RATE, N_CH, RATE, seed=seed)
    in_dir = os.path.join(work, "input")
    os.makedirs(in_dir)
    for k in range(n):
        common.write_long(os.path.join(in_dir, f"f{k:04d}.parquet"),
                          X[k * SEG:(k + 1) * SEG], "rec", start=k * SEG)
    warm_dir = os.path.join(work, "warmup_input")
    os.makedirs(warm_dir)
    common.write_long(os.path.join(warm_dir, "f0000.parquet"),
                      generate_synthetic_data(SEG / RATE, N_CH, RATE,
                                              seed=seed), "warm")
    return {"X": X, "n_files": n, "in_dir": in_dir, "warm_dir": warm_dir,
            "n_samples": X.size}


def file_replay(Xf: np.ndarray) -> np.ndarray:
    """One file through notch -> CAR -> |wavelet| with dsp.kernels, the
    batch composition of the stream's per-file segmentation, in the
    stream's precisions: (channels, bands, samples)."""
    from process_nwb_spark.dsp import kernels as K

    Xn = np.asarray(K.apply_linenoise_notch(Xf, RATE, precision="single"),
                    dtype=np.float64)
    Xc = K.subtract_car(Xn, 0.95, precision="double")
    Xh, _, _, _ = K.wavelet_transform(Xc, RATE, "rat", True,
                                      precision="single")
    return np.abs(Xh).transpose(1, 2, 0)


def expected(inputs: dict) -> np.ndarray:
    X = inputs["X"]
    return np.concatenate([file_replay(X[k * SEG:(k + 1) * SEG])
                           for k in range(inputs["n_files"])], axis=2)


def drain(spark, in_dir: str, out_dir: str):
    from process_nwb_spark.streaming.ops import stream_preprocess_full

    q = stream_preprocess_full(spark, in_dir, out_dir, RATE)
    q.awaitTermination()
    return q


def verify(result: dict, want: np.ndarray, corrupt: bool = False) -> list:
    """One verdict per file: it came through as its own micro-batch and
    its appended amplitudes match the per-file replay."""
    import pyarrow.parquet as pq

    n_ch, n_band, n_t = want.shape
    if not result["outputs"]:
        return [False] * (n_t // SEG)
    out, _ = result["outputs"][0]
    pdf = (pq.read_table(out).to_pandas()
           .sort_values(["sample_idx", "channel", "band"]))
    if corrupt:
        pdf.iloc[len(pdf) // 2, pdf.columns.get_loc("amp")] += 1.0
    per_file = n_ch * n_band * SEG
    ok = []
    for k in range(n_t // SEG):
        got = pdf.iloc[k * per_file:(k + 1) * per_file]
        w = want[:, :, k * SEG:(k + 1) * SEG]
        ok.append(len(got) == per_file
                  and got["_batch"].nunique() == 1
                  and np.array_equal(got.sample_idx.to_numpy(), np.repeat(
                      np.arange(k * SEG, (k + 1) * SEG), n_ch * n_band))
                  and np.allclose(got.amp.to_numpy().reshape(SEG, n_ch,
                                                              n_band),
                                  w.transpose(2, 0, 1), rtol=RTOL,
                                  atol=ATOL * np.abs(w).max()))
    return ok


def warm_up(spark, inputs: dict, work: str) -> None:
    drain(spark, inputs["warm_dir"], os.path.join(work, "warmup_out"))


def measure(spark, ctx, inputs: dict, seconds: float, label: str) -> dict:
    """One drain of the backlog; operations are its micro-batches."""
    out = os.path.join(ctx.work, f"out_{label}")
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span(f"{NAME}.drain"):
            q = drain(spark, inputs["in_dir"], out)
    except Exception:               # every file of the drain failed
        traceback.print_exc()
        return {"op_times": [time.perf_counter() - t0], "outputs": [],
                "wall": time.perf_counter() - t0, "durations": {}}
    wall = time.perf_counter() - t0
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    durations = {k: [p["durationMs"].get(v, 0) / 1e3 for p in progress]
                 for k, v in PROGRESS_KEYS.items()}
    return {"op_times": durations["trigger"], "wall": wall,
            "outputs": [(out, str(q.runId))], "durations": durations}


def layers(spark, ctx, inputs: dict, result: dict) -> tuple[dict, dict]:
    """Per-layer numbers of the streaming path: progress durations of the
    drain and prefix cuts through each module's public function on one
    file."""
    from pyspark.sql import functions as F

    from process_nwb_spark.operators.car import subtract_car
    from process_nwb_spark.operators.segmented import (segmented_notch,
                                                       segmented_wavelet_amp)
    from process_nwb_spark.streaming.ops import SIGNALS_SCHEMA

    one = os.path.join(inputs["in_dir"], "f0000.parquet")
    scan = spark.read.schema(SIGNALS_SCHEMA).parquet(one)
    notched = segmented_notch(scan, RATE, seg_len=SEG, overlap=1024,
                              precision="single")
    referenced = subtract_car(notched, mean_frac=0.95)
    amp = segmented_wavelet_amp(referenced, RATE, seg_len=SEG, overlap=1024,
                                precision="single")
    sink = os.path.join(ctx.work, "cut_sink")
    cuts = [("scan", lambda: common.noop_write(scan)),
            ("operators.segmented.segmented_notch",
             lambda: common.noop_write(notched)),
            ("operators.car.subtract_car",
             lambda: common.noop_write(referenced)),
            ("operators.segmented.segmented_wavelet_amp",
             lambda: common.noop_write(amp)),
            ("sink.band_write",
             lambda: amp.withColumn("_batch", F.lit(0)).write.mode("append")
             .partitionBy("band").parquet(sink))]
    self_s, _ = common.prefix_cuts(spark, ctx.tracer, NAME, cuts)
    layer = {f"{k}_s": v for k, v in self_s.items() if k != "scan"}
    return {
        **layer,
        **{f"streaming.{k}_s": common.median(v)
           for k, v in result["durations"].items()},
        "streaming.batches": len(result["op_times"]),
        "streaming.drain_s": result["wall"],
    }, {}
