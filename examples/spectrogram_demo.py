#!/usr/bin/env python
"""Spectral-tier demo: the frame-parallel STFT family next to the
bounded-memory segmented pipeline.

1. `welch_psd` finds the carriers of a synthetic 2-channel signal;
2. `spectrogram_db` localizes an amplitude burst in time AND frequency;
3. `preprocess(seg_len=...)` runs the full reference pipeline without
   ever holding a whole channel in one task, and its high-gamma trace
   matches the whole-channel run.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from process_nwb_spark import get_spark, high_gamma_trace, preprocess
from process_nwb_spark.operators.stft import spectrogram_db, welch_psd
from process_nwb_spark.synth import to_long_df

RATE = 1000.0


def make_signal(n=16384, n_ch=4):
    """Per-channel carriers at 70/85/100/115 Hz plus a 0.5 s 200 Hz
    burst mid-recording on channel 0 (4 channels so the trimmed CAR has
    channels left after exclusion)."""
    t = np.arange(n) / RATE
    X = np.stack([np.sin(2 * np.pi * (70.0 + 15.0 * c) * t)
                  for c in range(n_ch)], axis=1)
    burst = (t > 8.0) & (t < 8.5)
    X[:, 0] += 3.0 * np.sin(2 * np.pi * 200.0 * t) * burst
    return X + 0.1 * np.random.default_rng(0).normal(size=X.shape)


def main():
    spark = get_spark("spectrogram-demo")
    X = make_signal()
    sig = to_long_df(spark, X)

    print("== Welch PSD: strongest frequency per channel ==")
    psd = welch_psd(sig, RATE, frame_len=1024)
    (psd.withColumn(
        "rk", F.row_number().over(
            Window.partitionBy("channel").orderBy(F.desc("psd"))))
     .filter("rk = 1").select("channel", "freq_hz", "psd")
     .orderBy("channel").show())

    print("== Spectrogram: where does the 200 Hz burst live? ==")
    sg = spectrogram_db(sig, RATE, frame_len=256, hop=128)
    (sg.filter((F.col("channel") == 0)
               & (F.col("freq_hz").between(190, 210)))
     .groupBy("t_sec").agg(F.max("power_db").alias("db"))
     .orderBy(F.desc("db")).limit(5).show())

    print("== Segmented pipeline == whole-channel pipeline ==")
    kw = dict(initial_resample_rate=500.0, final_resample_rate=250.0,
              precision="double")
    whole = high_gamma_trace(preprocess(sig, RATE, **kw), 0.25, 250.0)
    segd = high_gamma_trace(
        preprocess(sig, RATE, seg_len=4096, **kw),
        0.25, 250.0)
    j = (whole.withColumnRenamed("amp", "a")
         .join(segd.withColumnRenamed("amp", "b"),
               ["series_id", "channel", "sample_idx"]))
    j.agg(F.corr("a", "b").alias("corr"),
          F.max(F.abs(F.col("a") - F.col("b"))).alias("max_abs_diff")).show()
    spark.stop()


if __name__ == "__main__":
    main()
