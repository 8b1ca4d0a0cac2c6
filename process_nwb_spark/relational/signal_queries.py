"""Signal-engine operators exposed through the relational gate.

The driver's testdata has no signals table, so these queries *generate* a
deterministic multichannel signal relationally (spark.range / DuckDB range —
identical values in both engines) and then run the engine's actual signal
operators (Catalyst CAR, baseline z-score, band dimension build) on it.
This puts the reference's relational stages (SURVEY.md §2B) under the same
duckdb hash gate as the TPC-H surface.

Signal: 8 channels x 2000 samples,
  value = round(sin(2*pi*5*(idx/1000)) + channel*0.1, 6)
with channel 7 spiked (+100) on every 100th sample to exercise the trimmed
mean's outlier rejection.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from .core import query
from ..operators.car import subtract_car

N_CH = 8
N_T = 2000

_GEN_SQL = f"""
      SELECT CAST(i % {N_CH} AS INT) AS channel,
             CAST(i // {N_CH} AS BIGINT) AS sample_idx,
             ROUND(SIN(2 * PI() * 5 * ((i // {N_CH}) / 1000.0))
                   + (i % {N_CH}) * 0.1
                   + CASE WHEN i % {N_CH} = {N_CH - 1}
                               AND (i // {N_CH}) % 100 = 0
                          THEN 100.0 ELSE 0.0 END, 6) AS value
      FROM RANGE(0, {N_CH * N_T}) t(i)
"""


def _signals(spark):
    i = F.col("id")
    ch = (i % N_CH).cast("int")
    idx = (i / N_CH).cast("bigint")
    spike = F.when((ch == N_CH - 1) & (idx % 100 == 0), 100.0).otherwise(0.0)
    value = F.round(
        F.sin(2 * F.lit(3.141592653589793) * 5 * (idx.cast("double") / 1000.0))
        + ch.cast("double") * 0.1 + spike, 6)
    return (spark.range(0, N_CH * N_T)
            .select(F.lit("synth").alias("series_id"), ch.alias("channel"),
                    idx.alias("sample_idx"), value.alias("value")))


@query(
    "sig_car_subtract",
    f"""
    WITH signals AS ({_GEN_SQL}),
    ranked AS (
      SELECT channel, sample_idx, value,
             ROW_NUMBER() OVER (PARTITION BY sample_idx ORDER BY value) AS rn,
             COUNT(*) OVER (PARTITION BY sample_idx) AS n
      FROM signals
    ),
    car AS (
      SELECT sample_idx, AVG(value) AS car
      FROM ranked
      WHERE rn > CAST(CEIL(n * 0.025) AS BIGINT)
        AND rn <= n - CAST(CEIL(n * 0.025) AS BIGINT)
      GROUP BY sample_idx
    )
    SELECT s.channel, s.sample_idx, ROUND(s.value - c.car, 6) AS value_car
    FROM signals s JOIN car c ON s.sample_idx = c.sample_idx
    """,
    doc="the engine's Catalyst trimmed-mean CAR (operators/car.py, parity "
        "common_referencing.py:11-68) on a generated signal; the spiked "
        "channel demonstrates outlier rejection",
)
def sig_car_subtract(spark, sf_dir):
    df = subtract_car(_signals(spark), mean_frac=0.95, n_channels=N_CH)
    return df.select("channel", "sample_idx",
                     F.round("value", 6).alias("value_car"))


@query(
    "sig_zscore_baseline",
    f"""
    WITH signals AS ({_GEN_SQL}),
    stats AS (
      SELECT channel, AVG(value) AS mu, STDDEV_POP(value) AS sigma
      FROM signals WHERE sample_idx < 250
      GROUP BY channel
    )
    SELECT s.channel, s.sample_idx,
           ROUND((s.value - st.mu) / st.sigma, 6) AS z
    FROM signals s JOIN stats st ON s.channel = st.channel
    """,
    doc="baseline-window z-score (operators/zscore.py; tutorial stage "
        "SURVEY.md §2A #28): filtered aggregate + broadcast join + projection",
)
def sig_zscore_baseline(spark, sf_dir):
    df = _signals(spark)
    stats = (df.filter(F.col("sample_idx") < 250)
             .groupBy("channel")
             .agg(F.avg("value").alias("mu"), F.stddev_pop("value").alias("sigma")))
    return (df.join(F.broadcast(stats), "channel")
            .select("channel", "sample_idx",
                    F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 6)
                    .alias("z")))


@query(
    "sig_band_dim",
    """
    WITH cfs AS (
      SELECT i AS band0,
             POW(10, LOG10(2.6308) + i * (LOG10(1200.0) - LOG10(2.6308)) / 53)
               AS cf
      FROM RANGE(0, 54) t(i)
    ),
    hg AS (
      SELECT cf, ROW_NUMBER() OVER (ORDER BY cf) - 1 AS band
      FROM cfs WHERE cf >= 70 AND cf <= 150
    )
    SELECT CAST(band AS INT) AS band, ROUND(cf, 6) AS cf, ROUND(cf / 8, 6) AS sd
    FROM hg
    """,
    doc="the wavelet filterbank as a dimension-table build + filter "
        "(get_filterbank hg subselect, wavelet_transform.py:104-133): "
        "'rat' 54 log-spaced cfs -> 6 high-gamma bands, const-Q sd = cf/8",
)
def sig_band_dim(spark, sf_dir):
    from ..dsp.filterbank import bands_df

    return (bands_df(spark, "rat", hg_only=True)
            .select("band", F.round("cf", 6).alias("cf"),
                    F.round("sd", 6).alias("sd")))


@query(
    "sig_resample_lengths",
    """
    SELECT CAST(n_time AS INT) AS n_time,
           CAST(new_freq AS DOUBLE) AS new_freq,
           CAST(old_freq AS DOUBLE) AS old_freq,
           CAST(CEIL(n_time * CAST(new_freq AS DOUBLE)
                     / CAST(old_freq AS DOUBLE)) AS BIGINT) AS new_n_time
    FROM (VALUES (999, 211.0, 400.0), (1000, 100.0, 400.0),
                 (1001, 800.0, 400.0), (5077, 3200.0, 12207.03125),
                 (123561, 3200.0, 12207.03125))
         AS t(n_time, new_freq, old_freq)
    """,
    doc="the resample output-length contract (ceil, resample.py:140) as a "
        "relational check over the reference's own awkward test lengths",
)
def sig_resample_lengths(spark, sf_dir):
    from ..dsp.kernels import resample_num

    rows = [(999, 211.0, 400.0), (1000, 100.0, 400.0), (1001, 800.0, 400.0),
            (5077, 3200.0, 12207.03125), (123561, 3200.0, 12207.03125)]
    data = [(n, nf, of, resample_num(n, nf, of)) for n, nf, of in rows]
    return spark.createDataFrame(
        data, "n_time INT, new_freq DOUBLE, old_freq DOUBLE, new_n_time BIGINT")


@query(
    "sig_electrode_region",
    f"""
    WITH electrodes AS (
      SELECT CAST(i AS INT) AS id, 1.0 AS x, 2.0 AS y, 3.0 AS z,
             CAST(-i AS DOUBLE) AS imp, 'cortex' AS location,
             CASE WHEN i < {N_CH // 2} THEN 'GridA' ELSE 'GridB' END
               AS group_name
      FROM RANGE(0, {N_CH}) t(i)
    ),
    signals AS (
      SELECT CAST(i % {N_CH} AS INT) AS channel,
             CAST(i // {N_CH} AS BIGINT) AS sample_idx,
             ((i // {N_CH}) * 2654435761 + (i % {N_CH}) * 40503) % 100000
               AS h
      FROM RANGE(0, {N_CH * N_T}) t(i)
    ),
    region AS (SELECT id FROM electrodes WHERE group_name = 'GridA')
    SELECT s.channel,
           COUNT(*) AS n_samples,
           CAST(SUM(s.h) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 100000.0
             + CAST(s.channel AS DOUBLE) * 0.1 AS mean_value
    FROM signals s
    WHERE EXISTS (SELECT 1 FROM region r WHERE r.id = s.channel)
    GROUP BY s.channel
    """,
    doc="the electrode dimension table + region reference (utils.py:222-253; "
        "create_electrode_table_region utils.py:251) as a broadcast LEFT "
        "SEMI join: the electrode-region view IS a semi-join of the signal "
        "facts against a filtered dim (SURVEY.md §1.2). The per-channel "
        "mean is computed from an exact BIGINT sum of an integer-valued "
        "fixture (value = h/1e5 + ch*0.1, h a Knuth-LCG of the sample "
        "index), so it is order-independent and bit-identical across "
        "engines — the r6 driver red was ROUND(AVG(double),6) over 2000 "
        "engine-order float terms on a SIN fixture",
)
def sig_electrode_region(spark, sf_dir):
    from ..synth import electrodes_df

    el = electrodes_df(spark, N_CH)
    el = el.withColumn(
        "group_name",
        F.when(F.col("id") < N_CH // 2, "GridA").otherwise("GridB"))
    region = el.filter(F.col("group_name") == "GridA").select("id")
    i = F.col("id")
    ch = (i % N_CH).cast("int")
    idx = (i / N_CH).cast("bigint")
    h = (idx * F.lit(2654435761) + ch.cast("bigint") * F.lit(40503)) \
        % F.lit(100000)
    s = (spark.range(0, N_CH * N_T)
         .select(ch.alias("channel"), idx.alias("sample_idx"), h.alias("h")))
    mean = (F.sum("h").cast("double") / F.count("*").cast("double")
            / F.lit(100000.0)
            + F.col("channel").cast("double") * F.lit(0.1))
    return (
        s.join(F.broadcast(region), s.channel == region.id, "left_semi")
        .groupBy("channel")
        .agg(F.count("*").alias("n_samples"), mean.alias("mean_value"))
    )


def _synth_long(spark, n_ch: int, n_t: int, value_fn):
    """Deterministic long-layout synthetic signal: value_fn(ch, idx) ->
    value Column. Shared by the spectral driver faces so their fixtures
    cannot drift."""
    i = F.col("id")
    ch = (i % n_ch).cast("int")
    idx = (i / n_ch).cast("bigint")
    return (spark.range(0, n_ch * n_t)
            .select(F.lit("synth").alias("series_id"), ch.alias("channel"),
                    idx.alias("sample_idx"), value_fn(ch, idx).alias("value")))


def _hash_uniform(idx, ch):
    """Deterministic pseudo-noise, independent per (sample, channel):
    xxhash64 -> uniform [-1, 1). Variance 1/3 — the Welch face's oracle
    constant."""
    return (F.pmod(F.xxhash64(idx, ch), F.lit(200000)).cast("double")
            / 100000.0 - 1.0)



@query(
    "sig_segmented_parity",
    """
    SELECT CAST(t.band AS INT) AS band,
           1 AS rows_aligned, 1 AS cosine_ok, 1 AS energy_ok
    FROM (SELECT UNNEST(GENERATE_SERIES(0, 5)) AS band) t
    ORDER BY band
    """,
    doc="the bounded-memory segmented pipeline certified against the "
        "whole-channel pipeline IN-PLAN: both preprocess paths run on a "
        "deterministic 4-channel AM-carrier signal (70/90/110/130 Hz "
        "carriers, per-channel phase, so the CAR does not cancel the "
        "content), full-outer-joined on (channel, band, sample_idx), and "
        "the oracled contract per band is rows_aligned (no row exists in "
        "one path only), cosine > 0.995 (measured 0.999+), and band "
        "energy within 1% (measured 0.2%). The equivalence maths lives "
        "in tests/test_pipeline.py::test_segmented_preprocess_e2e_"
        "matches_whole at worst-case fixture scale; this face puts the "
        "same claim under the driver's hash gate. Non-replayable in SQL "
        "(FFT pipelines), so the oracle is the contract-boolean pattern "
        "(cf. agg_hll_sketch)",
)
def sig_segmented_parity(spark, sf_dir):
    from ..pipelines import preprocess

    n_ch, n_t = 4, 4000
    i = F.col("id")
    ch = (i % n_ch).cast("int")
    idx = (i / n_ch).cast("bigint")
    t = idx.cast("double") / 1000.0
    pi2 = 2 * 3.141592653589793
    chd = ch.cast("double")
    value = (F.sin(F.lit(pi2) * (70.0 + chd * 20.0) * t + chd)
             * (1.0 + 0.5 * F.sin(F.lit(pi2) * (1.0 + chd) * t))
             + 0.3 * F.sin(F.lit(pi2 * 10.0) * t))
    sig = (spark.range(0, n_ch * n_t)
           .select(F.lit("synth").alias("series_id"), ch.alias("channel"),
                   idx.alias("sample_idx"), F.round(value, 6).alias("value")))
    kw = dict(initial_resample_rate=500.0, final_resample_rate=250.0,
              precision="double")
    whole = preprocess(sig, 1000.0, **kw).tf.select(
        "channel", "band", "sample_idx", F.col("amp").alias("a"))
    segd = preprocess(sig, 1000.0, seg_len=512, **kw).tf.select(
        "channel", "band", "sample_idx", F.col("amp").alias("b"))
    j = whole.join(segd, ["channel", "band", "sample_idx"], "full_outer")
    pb = j.groupBy("band").agg(
        F.sum(F.when(F.col("a").isNull() | F.col("b").isNull(), 1)
              .otherwise(0)).alias("n_miss"),
        F.sum(F.col("a") * F.col("b")).alias("ab"),
        F.sum(F.col("a") * F.col("a")).alias("aa"),
        F.sum(F.col("b") * F.col("b")).alias("bb"))
    cos = F.col("ab") / F.sqrt(F.col("aa") * F.col("bb"))
    energy = F.sqrt(F.col("bb") / F.col("aa"))
    return (pb.select(
        F.col("band").cast("int").alias("band"),
        (F.col("n_miss") == 0).cast("int").alias("rows_aligned"),
        (cos > 0.995).cast("int").alias("cosine_ok"),
        ((energy > 0.99) & (energy < 1.01)).cast("int").alias("energy_ok"))
        .orderBy("band"))


@query(
    "sig_stft_energy",
    f"""
    WITH signals AS ({_GEN_SQL})
    SELECT channel,
           CAST(sample_idx // 256 AS BIGINT) AS frame,
           COUNT(*) AS n_samples,
           CAST(COUNT(*) // 2 + 1 AS INT) AS n_bins,
           1 AS parseval_ok
    FROM signals
    GROUP BY channel, sample_idx // 256
    ORDER BY channel, frame
    """,
    doc="STFT (operators/stft.py) certified by Parseval's theorem: with "
        "the rectangular window and hop == frame_len, the folded "
        "one-sided power spectrum of every frame must sum to "
        "n_frame * sum(x^2) exactly (rtol 1e-9) — an identity the DuckDB "
        "oracle verifies WITHOUT running an FFT (plain GROUP BY "
        "sum-of-squares). Frames are the unit of parallelism (bounded "
        "memory by construction, no whole-channel state); the trailing "
        "partial frame (2000 = 7x256 + 208) is analyzed at its natural "
        "length and must satisfy the identity too",
)
def sig_stft_energy(spark, sf_dir):
    from ..operators.stft import stft_power

    sig = _signals(spark)
    st = (stft_power(sig, frame_len=256, window="rect")
          .groupBy("channel", "frame")
          .agg(F.sum("power").alias("e_spec"),
               F.count("*").alias("n_bins")))
    raw = (sig.groupBy("channel",
                       (F.col("sample_idx") / 256).cast("bigint")
                       .alias("frame"))
           .agg(F.count("*").alias("n_samples"),
                F.sum(F.col("value") * F.col("value")).alias("ssq")))
    j = st.join(raw, ["channel", "frame"])
    ok = (F.abs(F.col("e_spec") - F.col("n_samples") * F.col("ssq"))
          <= 1e-9 * F.col("n_samples") * F.col("ssq"))
    return (j.select("channel", "frame", "n_samples",
                     F.col("n_bins").cast("int").alias("n_bins"),
                     ok.cast("int").alias("parseval_ok"))
            .orderBy("channel", "frame"))


@query(
    "sig_coherence_contract",
    """
    SELECT * FROM (VALUES
        (0, 0, 1, 1, 1),
        (1, 1, 1, 1, 1),
        (2, 2, 1, 1, 1),
        (0, 1, 1, 1, 1),
        (0, 2, 1, 1, 1),
        (1, 2, 1, 1, 1))
      t(ch_a, ch_b, self_ok, tone_ok, noise_ok)
    ORDER BY ch_a, ch_b
    """,
    doc="Welch-averaged magnitude-squared coherence "
        "(operators/coherence.py: batched complex spectra -> channel-pair "
        "self-join -> partial-aggregable averages) certified by its exact "
        "and statistical invariants on a deterministic fixture: channels "
        "0/1 share a 125 Hz tone under independent hash-derived noise, "
        "channel 2 is pure noise. Contract per pair: self-coherence == 1 "
        "to 1e-9 (an algebraic identity of the estimator), the shared "
        "tone's bin reads > 0.9 for (0,1) with off-bins quiet, and the "
        "noise-only pairs stay < 0.5 everywhere. Contract-boolean oracle "
        "(cf. agg_hll_sketch) — the spectra themselves are not "
        "SQL-replayable",
)
def sig_coherence_contract(spark, sf_dir):
    from ..operators.coherence import coherence_matrix

    n_ch, n_t, rate = 3, 8192, 1000.0
    pi2 = 2 * 3.141592653589793

    def value_fn(ch, idx):
        t = idx.cast("double") / rate
        tone = F.sin(F.lit(pi2 * 125.0) * t)
        noise = _hash_uniform(idx, ch)
        return F.when(ch < 2, tone + 0.5 * noise).otherwise(noise)

    sig = _synth_long(spark, n_ch, n_t, value_fn)
    c = coherence_matrix(sig, rate, frame_len=256, include_self=True)
    tone_bin = 32                      # 125 Hz at frame 256 / 1000 Hz
    near = F.col("bin").between(tone_bin - 1, tone_bin + 1)
    per_pair = c.groupBy("ch_a", "ch_b").agg(
        F.min("coherence").alias("mn"),
        F.max("coherence").alias("mx"),
        F.max(F.when(F.col("bin") == tone_bin, F.col("coherence")))
        .alias("at_tone"),
        F.max(F.when(~near, F.col("coherence"))).alias("mx_off"))
    is_self = F.col("ch_a") == F.col("ch_b")
    is_tone_pair = (F.col("ch_a") == 0) & (F.col("ch_b") == 1)
    self_ok = F.when(is_self, F.col("mn") > 1.0 - 1e-9).otherwise(F.lit(True))
    tone_ok = F.when(is_tone_pair,
                     (F.col("at_tone") > 0.9) & (F.col("mx_off") < 0.5)
                     ).otherwise(F.lit(True))
    noise_ok = F.when(~is_self & ~is_tone_pair, F.col("mx") < 0.5
                      ).otherwise(F.lit(True))
    return (per_pair.select(
        "ch_a", "ch_b",
        self_ok.cast("int").alias("self_ok"),
        tone_ok.cast("int").alias("tone_ok"),
        noise_ok.cast("int").alias("noise_ok"))
        .orderBy("ch_a", "ch_b"))


@query(
    "sig_welch_psd",
    """
    SELECT * FROM (VALUES (0, 257, 1), (1, 257, 1), (2, 257, 1))
      t(channel, n_bins, variance_ok)
    ORDER BY channel
    """,
    doc="Welch PSD (operators/stft.py: batched-frame periodograms, ~1x "
        "shuffle at 50% overlap, partial-aggregable averaging) certified "
        "by its normalization contract: integrating the one-sided PSD of "
        "deterministic hash-derived uniform noise over [0, fs/2] must "
        "recover the signal variance (1/3 for uniform[-1,1)) within the "
        "estimator's tolerance. Contract-boolean oracle (the spectra are "
        "not SQL-replayable); bin-level behavior is pinned in "
        "tests/test_stft.py",
)
def sig_welch_psd(spark, sf_dir):
    from ..operators.stft import welch_psd

    n_ch, n_t, rate = 3, 16384, 1000.0
    sig = _synth_long(spark, n_ch, n_t,
                      lambda ch, idx: _hash_uniform(idx, ch))
    psd = welch_psd(sig, rate, frame_len=512)
    df_hz = rate / 512.0
    per_ch = psd.groupBy("channel").agg(
        F.count("*").alias("n_bins"),
        (F.sum("psd") * F.lit(df_hz)).alias("integral"))
    var_ok = F.abs(F.col("integral") - F.lit(1.0 / 3.0)) < 0.1 / 3.0
    return (per_ch.select("channel",
                          F.col("n_bins").cast("int").alias("n_bins"),
                          var_ok.cast("int").alias("variance_ok"))
            .orderBy("channel"))


@query(
    "sig_bad_channels",
    f"""
    WITH sig AS (
      SELECT CAST(i % 8 AS INT) AS channel,
             CAST(i // 8 AS BIGINT) AS sample_idx,
             ROUND((CASE WHEN i % 8 = 0 THEN 0.01
                         WHEN i % 8 = 7 THEN 100.0
                         ELSE 1.0 + 0.05 * (i % 8) END)
                   * SIN(2 * PI() * 5 * ((i // 8) / 1000.0) + (i % 8)), 6)
               AS value
      FROM RANGE(0, {8 * 2000}) t(i)
    ),
    per_ch AS (
      SELECT channel, COUNT(*) AS n_samples, VAR_POP(value) AS variance
      FROM sig GROUP BY channel
    ),
    lv AS (
      SELECT *, LOG10(GREATEST(variance, 1e-300)) AS log_var FROM per_ch
    ),
    med AS (SELECT QUANTILE_CONT(log_var, 0.5) AS m FROM lv),
    mad AS (SELECT QUANTILE_CONT(ABS(log_var - m), 0.5) AS d FROM lv, med)
    SELECT channel, n_samples, ROUND(log_var, 6) AS log_var,
           ROUND(ABS(log_var - m)
                 / GREATEST(d, 0.4342944819032518 * SQRT(2.0 / n_samples)),
                 4) AS dev,
           CAST(ABS(log_var - m)
                / GREATEST(d, 0.4342944819032518 * SQRT(2.0 / n_samples))
                > 3.0 AS INT) AS is_bad
    FROM lv, med, mad
    ORDER BY channel
    """,
    doc="bad-channel screening (operators/quality.py): per-channel "
        "variance -> cross-channel robust log-variance MAD rule — the "
        "manual step every ECoG pipeline runs before the reference's "
        "preprocess chain (dead ch0 at 1% amplitude and saturated ch7 at "
        "100x must both flag; the six ordinary channels must not). Pure "
        "Catalyst (two partial-aggregable aggs + broadcast scalars), so "
        "the oracle is a FULL hash match on the flags AND the robust "
        "statistics, not a contract boolean",
)
def sig_bad_channels(spark, sf_dir):
    from ..operators.quality import channel_quality

    def value_fn(ch, idx):
        amp = (F.when(ch == 0, 0.01)
               .when(ch == 7, 100.0)
               .otherwise(1.0 + 0.05 * ch.cast("double")))
        t = idx.cast("double") / 1000.0
        return F.round(
            amp * F.sin(2 * F.lit(3.141592653589793) * 5 * t
                        + ch.cast("double")), 6)

    sig = _synth_long(spark, 8, 2000, value_fn)
    q = channel_quality(sig, mad_thresh=3.0)
    return (q.select("channel", "n_samples",
                     F.round("log_var", 6).alias("log_var"),
                     F.round("dev", 4).alias("dev"),
                     F.col("is_bad").cast("int").alias("is_bad"))
            .orderBy("channel"))


@query(
    "sig_xcorr_lags",
    """
    WITH sig AS (
      SELECT CAST(i % 3 AS INT) AS channel,
             CAST(i // 3 AS BIGINT) AS sample_idx,
             ROUND(CASE WHEN i % 3 = 0
                          THEN SIN(2 * PI() * 7 * ((i // 3) / 500.0))
                        WHEN i % 3 = 1
                          THEN SIN(2 * PI() * 7 * (((i // 3) - 3) / 500.0))
                        ELSE SIN(2 * PI() * 13 * ((i // 3) / 500.0) + 1)
                   END, 6) AS value
      FROM RANGE(0, 6000) t(i)
    ),
    lags AS (SELECT UNNEST([-5, -3, 0, 3, 5]) AS lag),
    mom AS (
      SELECT a.channel AS ch_a, b.channel AS ch_b, l.lag,
             COUNT(*) AS n,
             SUM(CAST(ROUND(a.value * 1000000) AS BIGINT)) AS sx,
             SUM(CAST(ROUND(b.value * 1000000) AS BIGINT)) AS sy,
             SUM(CAST(ROUND(a.value * 1000000) AS BIGINT)
                 * CAST(ROUND(a.value * 1000000) AS BIGINT)) AS sxx,
             SUM(CAST(ROUND(b.value * 1000000) AS BIGINT)
                 * CAST(ROUND(b.value * 1000000) AS BIGINT)) AS syy,
             SUM(CAST(ROUND(a.value * 1000000) AS BIGINT)
                 * CAST(ROUND(b.value * 1000000) AS BIGINT)) AS sxy
      FROM sig a
      CROSS JOIN lags l
      JOIN sig b ON b.sample_idx = a.sample_idx + l.lag
                AND b.channel > a.channel
      GROUP BY a.channel, b.channel, l.lag
    )
    SELECT ch_a, ch_b, lag,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                    * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6)
             + 0.0 AS r,
           n AS n_overlap
    FROM mom
    ORDER BY ch_a, ch_b, lag
    """,
    doc="lagged channel-pair cross-correlogram (operators/xcorr.py: "
        "bounded lag explode -> expression equi-join -> partial-aggregable "
        "moments; the time-domain sibling of sig_coherence_contract). "
        "Fixture: ch1 is ch0's 125-sample-period tone delayed by 3 "
        "samples, so r peaks at lag 3; ch2 is a different frequency and "
        "stays decorrelated. FULL hash-match oracle: r comes from the "
        "operator's exact_scale fixed-point path (exact BIGINT moment "
        "sums -> one double expression), so it is independent of "
        "partition/summation order on BOTH engines — float CORR at "
        "ROUND(.,6) was the r6 knife-edge class; `+ 0.0` normalizes "
        "-0.0 at decorrelated lags",
)
def sig_xcorr_lags(spark, sf_dir):
    from ..operators.xcorr import cross_correlation

    pi2 = 2 * 3.141592653589793

    def value_fn(ch, idx):
        t = idx.cast("double")
        return F.round(
            F.when(ch == 0, F.sin(F.lit(pi2 * 7) * (t / 500.0)))
            .when(ch == 1, F.sin(F.lit(pi2 * 7) * ((t - 3) / 500.0)))
            .otherwise(F.sin(F.lit(pi2 * 13) * (t / 500.0) + 1)), 6)

    sig = _synth_long(spark, 3, 2000, value_fn)
    xc = cross_correlation(sig, [-5, -3, 0, 3, 5], exact_scale=1_000_000)
    return (xc.select("ch_a", "ch_b", "lag",
                      (F.round("r", 6) + F.lit(0.0)).alias("r"),
                      "n_overlap")
            .orderBy("ch_a", "ch_b", "lag"))


@query(
    "sig_pac_mi",
    """
    WITH v AS (
      SELECT CAST(i % 2 AS INT) AS channel,
             CAST(i // 2 AS BIGINT) AS idx,
             ROUND(2 * PI() * (((i // 2) % 100) / 100.0) - PI(), 6) AS phi,
             ROUND(CASE WHEN i % 2 = 0
                          THEN 1 + 0.8 * COS(2 * PI() * (((i // 2) % 100)
                                                         / 100.0) - PI())
                        ELSE 1 + 0.8 * COS(2 * PI() * (((i // 2) % 7) / 7.0))
                   END, 6) AS a
      FROM RANGE(0, 8000) t(i)
    )
    SELECT channel,
           ROUND(SQRT(POW(AVG(a * COS(phi)), 2)
                      + POW(AVG(a * SIN(phi)), 2)) / AVG(a), 6) AS mi,
           COUNT(*) AS n_samples
    FROM v GROUP BY channel ORDER BY channel
    """,
    doc="phase-amplitude coupling modulation index (operators/pac.py: "
        "equi-join of the pipeline's phase and amplitude streams -> one "
        "partial-aggregable mean-vector aggregate). Fixture: ch0's "
        "envelope rides the sawtooth theta phase (analytic MI = 0.4), "
        "ch1's envelope cycles independently (MI ~ 0). Inputs are rounded "
        "to 6 dp in BOTH engines before the op, so the FULL (mi, n) "
        "result hash-matches",
)
def sig_pac_mi(spark, sf_dir):
    from ..operators.pac import phase_amplitude_coupling

    pi = 3.141592653589793
    n_ch, n_t = 2, 4000

    def phi_fn(ch, idx):
        return F.round(
            2 * F.lit(pi) * ((idx % 100).cast("double") / 100.0) - pi, 6)

    def amp_fn(ch, idx):
        coupled = 1 + 0.8 * F.cos(
            2 * F.lit(pi) * ((idx % 100).cast("double") / 100.0) - pi)
        free = 1 + 0.8 * F.cos(
            2 * F.lit(pi) * ((idx % 7).cast("double") / 7.0))
        return F.round(F.when(ch == 0, coupled).otherwise(free), 6)

    phase_df = (_synth_long(spark, n_ch, n_t, phi_fn)
                .withColumnRenamed("value", "phase"))
    amp_df = (_synth_long(spark, n_ch, n_t, amp_fn)
              .withColumnRenamed("value", "amp"))
    mi = phase_amplitude_coupling(phase_df, amp_df)
    return (mi.select("channel", F.round("mi", 6).alias("mi"), "n_samples")
            .orderBy("channel"))


@query(
    "sig_erp_trialavg",
    """
    WITH sig AS (
      SELECT CAST(i % 2 AS INT) AS channel,
             CAST(i // 2 AS BIGINT) AS sample_idx,
             ROUND(SIN(2 * PI() * 3.7 * ((i // 2) / 1000.0) + (i % 2))
                   + CASE WHEN (i // 2) % 1000 BETWEEN 500 AND 650
                          THEN SIN(PI() * (((i // 2) % 1000) - 500) / 150.0)
                          ELSE 0.0 END, 6) AS value
      FROM RANGE(0, 10000) t(i)
    ),
    markers AS (
      SELECT CAST(k AS INT) AS trial_id,
             CAST(500 + 1000 * k AS BIGINT) AS onset_sample
      FROM RANGE(0, 5) m(k)
    ),
    epochs AS (
      SELECT s.channel, s.sample_idx - m.onset_sample AS rel_idx, s.value
      FROM sig s JOIN markers m
        ON s.sample_idx BETWEEN m.onset_sample - 50 AND m.onset_sample + 150
    )
    SELECT channel, CAST(rel_idx AS INT) AS rel_idx,
           ROUND(AVG(value), 6) AS erp,
           COUNT(*) AS n_trials
    FROM epochs GROUP BY channel, rel_idx
    ORDER BY channel, rel_idx
    """,
    doc="trial epoching + event-related averaging (operators/epochs.py): "
        "sample->bucket projection, marker window exploded to its <= 2 "
        "spanned buckets, equi-join on (series, bucket) + residual window "
        "filter — linear shuffle, never the samples x markers nested loop "
        "— then one partial-aggregable trial average. Fixture: a "
        "deterministic evoked bump at rel 0..150 on top of a slow "
        "background tone, 5 markers (odd trial count: the mean of five "
        "6-dp values is a multiple of 2e-7 and can never sit on a "
        "round-6 half boundary, so cross-engine 1-ulp sum differences "
        "cannot flip the rounding); the oracle replays the naive "
        "BETWEEN join (fine at oracle size). FULL hash match on the "
        "whole ERP incl. per-rel trial counts",
)
def sig_erp_trialavg(spark, sf_dir):
    from ..operators.epochs import epoch_trials, erp_average

    pi = 3.141592653589793

    def value_fn(ch, idx):
        t = idx.cast("double")
        phase_in = (idx % 1000).cast("double")
        bump = F.when((idx % 1000).between(500, 650),
                      F.sin(F.lit(pi) * (phase_in - 500) / 150.0)
                      ).otherwise(0.0)
        return F.round(
            F.sin(2 * F.lit(pi) * 3.7 * (t / 1000.0) + ch.cast("double"))
            + bump, 6)

    sig = _synth_long(spark, 2, 5000, value_fn)
    markers = (spark.range(0, 5)
               .select(F.lit("synth").alias("series_id"),
                       F.col("id").cast("int").alias("trial_id"),
                       (500 + 1000 * F.col("id")).alias("onset_sample")))
    ep = epoch_trials(sig, markers, pre=50, post=150)
    return (erp_average(ep)
            .select("channel", "rel_idx",
                    F.round("erp", 6).alias("erp"), "n_trials")
            .orderBy("channel", "rel_idx"))


@query(
    "sig_plv_pairs",
    """
    WITH ph AS (
      SELECT CAST(i % 3 AS INT) AS channel,
             CAST(i // 3 AS BIGINT) AS sample_idx,
             ROUND(CASE
               WHEN i % 3 = 0
                 THEN 2 * PI() * (((i // 3) % 80) / 80.0) - PI()
               WHEN i % 3 = 1
                 THEN 2 * PI() * (((i // 3) % 80) / 80.0) - PI() + 0.7
               ELSE 2 * PI() * (((i // 3) % 37) / 37.0) - PI()
             END, 6) AS phase
      FROM RANGE(0, 12000) t(i)
    )
    SELECT a.channel AS ch_a, b.channel AS ch_b,
           ROUND(SQRT(POW(AVG(COS(a.phase - b.phase)), 2)
                      + POW(AVG(SIN(a.phase - b.phase)), 2)), 6) AS plv,
           COUNT(*) AS n_samples
    FROM ph a JOIN ph b
      ON a.sample_idx = b.sample_idx AND b.channel > a.channel
    GROUP BY a.channel, b.channel
    ORDER BY ch_a, ch_b
    """,
    doc="inter-channel phase-locking value (operators/pac.py "
        "phase_locking_value): per-timepoint pair equi-join (the CAR "
        "gather shape) + one mean-vector aggregate. Fixture: ch1 is ch0's "
        "sawtooth phase at a constant 0.7 rad offset (PLV = 1), ch2 runs "
        "an incommensurate period (PLV ~ 0.03). FULL hash match",
)
def sig_plv_pairs(spark, sf_dir):
    from ..operators.pac import phase_locking_value

    pi = 3.141592653589793

    def phi_fn(ch, idx):
        saw80 = 2 * F.lit(pi) * ((idx % 80).cast("double") / 80.0) - pi
        saw37 = 2 * F.lit(pi) * ((idx % 37).cast("double") / 37.0) - pi
        return F.round(
            F.when(ch == 0, saw80)
            .when(ch == 1, saw80 + 0.7)
            .otherwise(saw37), 6)

    ph = (_synth_long(spark, 3, 4000, phi_fn)
          .withColumnRenamed("value", "phase"))
    out = phase_locking_value(ph)
    return (out.select("ch_a", "ch_b",
                       F.round("plv", 6).alias("plv"), "n_samples")
            .orderBy("ch_a", "ch_b"))


@query(
    "sig_burst_detect",
    """
    WITH sig AS (
      SELECT CAST(i % 2 AS INT) AS channel,
             CAST(i // 2 AS BIGINT) AS sample_idx,
             ROUND(0.3 * SIN(2 * PI() * 2.3 * ((i // 2) / 1000.0)
                             + (i % 2))
                   + CASE WHEN i % 2 = 0
                               AND ((i // 2) % 500) BETWEEN 100 AND 139
                          THEN 2.0 + 0.5 * SIN(PI() * (((i // 2) % 500)
                                                       - 100) / 39.0)
                          WHEN i % 2 = 1
                               AND ((i // 2) % 700) BETWEEN 200 AND 204
                          THEN 1.8
                          ELSE 0.0 END, 6) AS value
      FROM RANGE(0, 8000) t(i)
    ),
    above AS (
      SELECT channel, sample_idx, value,
             sample_idx - ROW_NUMBER() OVER (
               PARTITION BY channel ORDER BY sample_idx) AS isl
      FROM sig WHERE value >= 1.0
    )
    SELECT channel,
           MIN(sample_idx) AS start_idx,
           MAX(sample_idx) AS end_idx,
           COUNT(*) AS duration,
           ROUND(MAX(value), 6) AS peak,
           ROUND(SUM(value - 1.0), 6) AS area
    FROM above
    GROUP BY channel, isl
    HAVING COUNT(*) >= 3
    ORDER BY channel, start_idx
    """,
    doc="burst/HFO detection (operators/bursts.py): supra-threshold "
        "gaps-and-islands (sample_idx - row_number island ids, one "
        "channel-keyed window shuffle) + one partial-aggregable island "
        "aggregate with a min-duration gate. Fixture: ch0 carries 40-long "
        "shaped bursts every 500 samples (all pass the >=3 gate), ch1 "
        "carries 5-long square bursts every 700 (pass) — the gate's "
        "rejection branch is exercised by the sub-threshold background. "
        "FULL hash match on extents, peaks and excess areas",
)
def sig_burst_detect(spark, sf_dir):
    from ..operators.bursts import detect_bursts

    pi = 3.141592653589793

    def value_fn(ch, idx):
        t = idx.cast("double")
        bg = 0.3 * F.sin(2 * F.lit(pi) * 2.3 * (t / 1000.0)
                         + ch.cast("double"))
        ph0 = (idx % 500).cast("double")
        b0 = F.when((ch == 0) & (idx % 500).between(100, 139),
                    2.0 + 0.5 * F.sin(F.lit(pi) * (ph0 - 100) / 39.0))
        b1 = F.when((ch == 1) & (idx % 700).between(200, 204), F.lit(1.8))
        return F.round(bg + F.coalesce(b0, b1, F.lit(0.0)), 6)

    sig = _synth_long(spark, 2, 4000, value_fn)
    out = detect_bursts(sig, threshold=1.0, min_duration=3)
    return (out.select("channel", "start_idx", "end_idx", "duration",
                       F.round("peak", 6).alias("peak"),
                       F.round("area", 6).alias("area"))
            .orderBy("channel", "start_idx"))


@query(
    "sig_itc_phase_reset",
    """
    WITH ph AS (
      SELECT CAST(i % 2 AS INT) AS channel,
             CAST(i // 2 AS BIGINT) AS sample_idx,
             ROUND(CASE WHEN i % 2 = 0
               THEN 2 * PI() * ((((i // 2) % 1000) * 7) % 100) / 100.0
                    - PI()
               ELSE 2 * PI() * (((i // 2) * 7) % 97) / 97.0 - PI()
             END, 6) AS phase
      FROM RANGE(0, 10000) t(i)
    ),
    markers AS (
      SELECT CAST(500 + 1000 * k AS BIGINT) AS onset_sample
      FROM RANGE(0, 5) m(k)
    ),
    epochs AS (
      SELECT p.channel, p.sample_idx - m.onset_sample AS rel_idx, p.phase
      FROM ph p JOIN markers m
        ON p.sample_idx BETWEEN m.onset_sample - 50 AND m.onset_sample + 150
    )
    SELECT channel, CAST(rel_idx AS INT) AS rel_idx,
           ROUND(SQRT(POW(AVG(COS(phase)), 2) + POW(AVG(SIN(phase)), 2)),
                 6) AS itc,
           COUNT(*) AS n_trials
    FROM epochs GROUP BY channel, rel_idx
    ORDER BY channel, rel_idx
    """,
    doc="inter-trial coherence (operators/epochs.py "
        "inter_trial_coherence over epoch_trials of a phase stream): "
        "bucketized epoch join + one circular-mean aggregate per "
        "(channel, latency). Fixture: ch0's phase is a pure function of "
        "(t mod 1000) so every trial lands at the same phase at every "
        "latency (ITC = 1 at all 201 rels); ch1's phase cycles with "
        "period 97 (1000 mod 97 != 0), decohering across the 5 trials. "
        "Odd trial count keeps 6-dp means off round-half boundaries. "
        "FULL hash match",
)
def sig_itc_phase_reset(spark, sf_dir):
    from ..operators.epochs import epoch_trials, inter_trial_coherence

    pi = 3.141592653589793

    def phi_fn(ch, idx):
        locked = (2 * F.lit(pi)
                  * (((idx % 1000) * 7) % 100).cast("double") / 100.0 - pi)
        drift = (2 * F.lit(pi)
                 * ((idx * 7) % 97).cast("double") / 97.0 - pi)
        return F.round(F.when(ch == 0, locked).otherwise(drift), 6)

    ph = (_synth_long(spark, 2, 5000, phi_fn)
          .withColumnRenamed("value", "phase"))
    markers = (spark.range(0, 5)
               .select(F.lit("synth").alias("series_id"),
                       F.col("id").cast("int").alias("trial_id"),
                       (500 + 1000 * F.col("id")).alias("onset_sample")))
    ep = epoch_trials(ph, markers, pre=50, post=150, value_col="phase")
    return (inter_trial_coherence(ep)
            .select("channel", "rel_idx",
                    F.round("itc", 6).alias("itc"), "n_trials")
            .orderBy("channel", "rel_idx"))


@query(
    "sig_multitaper_psd",
    """
    SELECT * FROM (VALUES (0, 257, 7, 1), (1, 257, 7, 1), (2, 257, 7, 1))
      t(channel, n_bins, n_tapers, variance_ok)
    ORDER BY channel
    """,
    doc="multitaper (Thomson/DPSS) PSD (operators/multitaper.py: "
        "scipy-free Slepian tapers from the tridiagonal "
        "eigendecomposition, K tapered periodograms per non-overlapping "
        "frame, partial-aggregable per-bin average) certified by the "
        "same normalization contract as sig_welch_psd: integrating the "
        "one-sided PSD of deterministic hash-derived uniform noise over "
        "[0, fs/2] recovers the signal variance (1/3) within estimator "
        "tolerance, with the expected bin count and taper family size. "
        "Contract-boolean oracle (spectra are not SQL-replayable); "
        "taper-family math, concentration, variance reduction and an "
        "exact NumPy replay are pinned in tests/test_multitaper.py",
)
def sig_multitaper_psd(spark, sf_dir):
    from ..operators.multitaper import multitaper_psd

    n_ch, n_t, rate = 3, 16384, 1000.0
    sig = _synth_long(spark, n_ch, n_t,
                      lambda ch, idx: _hash_uniform(idx, ch))
    psd = multitaper_psd(sig, rate, frame_len=512, nw=4.0)
    df_hz = rate / 512.0
    per_ch = psd.groupBy("channel").agg(
        F.count("*").alias("n_bins"),
        F.max("n_tapers").alias("n_tapers"),
        (F.sum("psd") * F.lit(df_hz)).alias("integral"))
    var_ok = F.abs(F.col("integral") - F.lit(1.0 / 3.0)) < 0.1 / 3.0
    return (per_ch.select("channel",
                          F.col("n_bins").cast("int").alias("n_bins"),
                          F.col("n_tapers").cast("int").alias("n_tapers"),
                          var_ok.cast("int").alias("variance_ok"))
            .orderBy("channel"))


@query(
    "sig_wpli_contract",
    """
    SELECT * FROM (VALUES
        (0, 1, 1, 1, 1),
        (0, 2, 1, 1, 1),
        (1, 2, 1, 1, 1))
      t(ch_a, ch_b, lag_ok, zerolag_ok, coh_ok)
    ORDER BY ch_a, ch_b
    """,
    doc="weighted phase-lag index (operators/coherence.py wpli_matrix, "
        "Vinck 2011) certified by the volume-conduction discrimination "
        "that motivates it: ch1 carries ch0's 125 Hz tone at a "
        "quarter-cycle lag (genuine lagged coupling -> wPLI > 0.8 at the "
        "tone bin, for (0,1) and (1,2)); ch2 carries the tone at ZERO "
        "lag (the volume-conduction artifact -> plain coherence stays "
        "> 0.5 at the tone bin while wPLI collapses < 0.3 for (0,2)). "
        "Contract-boolean oracle (cf. sig_coherence_contract)",
)
def sig_wpli_contract(spark, sf_dir):
    from ..operators.coherence import coherence_matrix, wpli_matrix

    # 65536 samples -> ~511 Welch frames: the zero-lag pair's null wPLI
    # shrinks like 1/sqrt(n_frames) (measured 0.56 @63 frames, 0.03
    # @511) — the margin under the 0.3 gate needs the frames, the
    # lagged pairs sit at 1.0 regardless
    n_ch, n_t, rate = 3, 65536, 1000.0
    pi2 = 2 * 3.141592653589793

    def value_fn(ch, idx):
        t = idx.cast("double") / rate
        t_lag = (idx.cast("double") - 2.0) / rate   # quarter cycle @125 Hz
        tone = F.when(ch == 1, F.sin(F.lit(pi2 * 125.0) * t_lag)) \
            .otherwise(F.sin(F.lit(pi2 * 125.0) * t))
        return tone + 0.5 * _hash_uniform(idx, ch)

    sig = _synth_long(spark, n_ch, n_t, value_fn)
    tone_bin = 32                        # 125 Hz at frame 256 / 1000 Hz
    w = (wpli_matrix(sig, rate, frame_len=256)
         .filter(F.col("bin") == tone_bin)
         .select("ch_a", "ch_b", F.col("wpli").alias("w")))
    c = (coherence_matrix(sig, rate, frame_len=256)
         .filter(F.col("bin") == tone_bin)
         .select(F.col("ch_a").alias("ca"), F.col("ch_b").alias("cb"),
                 F.col("coherence").alias("coh")))
    j = w.join(c, (F.col("ch_a") == F.col("ca"))
               & (F.col("ch_b") == F.col("cb")))
    is_zerolag = (F.col("ch_a") == 0) & (F.col("ch_b") == 2)
    lag_ok = F.when(~is_zerolag, F.col("w") > 0.8).otherwise(F.lit(True))
    zerolag_ok = F.when(is_zerolag, F.col("w") < 0.3).otherwise(F.lit(True))
    coh_ok = F.when(is_zerolag, F.col("coh") > 0.5).otherwise(F.lit(True))
    return (j.select("ch_a", "ch_b",
                     lag_ok.cast("int").alias("lag_ok"),
                     zerolag_ok.cast("int").alias("zerolag_ok"),
                     coh_ok.cast("int").alias("coh_ok"))
            .orderBy("ch_a", "ch_b"))


@query(
    "sig_csd_laplacian",
    f"""
    WITH signals AS ({_GEN_SQL}),
    electrodes AS (
      SELECT CAST(i AS INT) AS id, CAST(i AS DOUBLE) AS x, 0.0 AS y,
             0.0 AS z
      FROM RANGE(0, {N_CH}) t(i)
    ),
    pairs AS (
      SELECT a.id, b.id AS nbr
      FROM electrodes a JOIN electrodes b
        ON a.id <> b.id
       AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
           + (a.z - b.z) * (a.z - b.z) <= 1.5 * 1.5
    ),
    nbr_means AS (
      SELECT p.id AS channel, s.sample_idx,
             AVG(s.value) AS nbr_mean, COUNT(*) AS n_neighbors
      FROM pairs p JOIN signals s ON s.channel = p.nbr
      GROUP BY p.id, s.sample_idx
    )
    SELECT s.channel, s.sample_idx,
           COALESCE(m.n_neighbors, 0) AS n_neighbors,
           ROUND(s.value - m.nbr_mean, 6) + 0.0 AS csd
    FROM signals s LEFT JOIN nbr_means m
      ON s.channel = m.channel AND s.sample_idx = m.sample_idx
    """,
    doc="current source density / local-Laplacian referencing "
        "(operators/spatial.py): the electrode dimension's distance "
        "self-join defines adjacency (here a 1-D strip at unit pitch, "
        "radius 1.5 -> chain neighbors, 1 at the ends, 2 interior), one "
        "broadcast fan-out + per-timepoint neighbor mean, then a "
        "co-partitioned join-back — CAR's spatial sibling, and the op "
        "that finally USES the x/y/z columns of the reference's "
        "electrode table (utils.py:222-253). FULL hash match on the "
        "whole referenced recording incl. neighbor counts",
)
def sig_csd_laplacian(spark, sf_dir):
    from ..operators.spatial import csd_reference
    from ..synth import electrodes_df

    el = (electrodes_df(spark, N_CH)
          .select("id", F.col("id").cast("double").alias("x"),
                  F.lit(0.0).alias("y"), F.lit(0.0).alias("z")))
    out = csd_reference(_signals(spark), el, radius=1.5)
    # + 0.0 folds IEEE -0.0 to +0.0 (ROUND of a tiny negative keeps the
    # sign in DuckDB but not in Spark's BigDecimal path — a bit-level
    # hash diff on numerically equal frames)
    return (out.select("channel", "sample_idx", "n_neighbors",
                       (F.round("csd", 6) + F.lit(0.0)).alias("csd"))
            .orderBy("channel", "sample_idx"))


@query(
    "sig_band_power",
    """
    SELECT * FROM (VALUES
        (0, 'alpha', 1, 1), (0, 'beta',  1, 1), (0, 'delta', 1, 1),
        (0, 'gamma', 1, 1), (0, 'theta', 1, 1),
        (1, 'alpha', 1, 1), (1, 'beta',  1, 1), (1, 'delta', 1, 1),
        (1, 'gamma', 1, 1), (1, 'theta', 1, 1))
      t(channel, band_name, flat_ok, tone_ok)
    ORDER BY channel, band_name
    """,
    doc="named-band power table (operators/spectral_summary.py "
        "band_power): Welch PSD integrated over the clinical EEG band "
        "dimension (broadcast range join — the reference's band-table "
        "shape, SURVEY.md §1.2). Contract: a white-noise channel's "
        "relative band power matches each band's bandwidth share of "
        "[0, fs/2) within 0.05 (flat_ok, trivially true on ch1); a "
        "10 Hz tone channel concentrates >60% in alpha with <5% in "
        "each non-adjacent band (tone_ok, trivially true on ch0). "
        "Contract-boolean oracle (PSD not SQL-replayable)",
)
def sig_band_power(spark, sf_dir):
    from ..operators.spectral_summary import band_power

    rate, n_t = 1000.0, 32768
    pi2 = 2 * 3.141592653589793

    def value_fn(ch, idx):
        t = idx.cast("double") / rate
        tone = F.lit(2.0 ** 0.5) * F.sin(F.lit(pi2 * 10.0) * t)
        return F.when(ch == 1, tone + 0.3 * _hash_uniform(idx, ch)) \
            .otherwise(_hash_uniform(idx, ch))

    sig = _synth_long(spark, 2, n_t, value_fn)
    bp = band_power(sig, rate, 512, relative=True)
    share = (F.col("hi_hz") - F.col("lo_hz")) / F.lit(rate / 2.0)
    flat_ok = F.when(F.col("channel") == 0,
                     F.abs(F.col("rel_power") - share) < 0.05
                     ).otherwise(F.lit(True))
    is_far = F.col("band_name").isin("delta", "beta", "gamma")
    tone_ok = F.when(
        F.col("channel") == 1,
        F.when(F.col("band_name") == "alpha", F.col("rel_power") > 0.6)
        .when(is_far, F.col("rel_power") < 0.05)
        .otherwise(F.lit(True))).otherwise(F.lit(True))
    return (bp.select("channel", "band_name",
                      flat_ok.cast("int").alias("flat_ok"),
                      tone_ok.cast("int").alias("tone_ok"))
            .orderBy("channel", "band_name"))


@query(
    "sig_line_noise_snr",
    """
    SELECT * FROM (VALUES (0, 8, 1, 1, 1), (1, 8, 1, 1, 1))
      t(channel, n_harmonics, clean_ok, noisy_ok, notch_ok)
    ORDER BY channel
    """,
    doc="line-noise SNR screen (operators/spectral_summary.py "
        "line_noise_snr): mean PSD within +-1 bin of each 60 Hz harmonic "
        "over flanking bins. Contract: the clean channel reads ~1 "
        "(0.5..2), the channel carrying a 0.5-amplitude 60 Hz line reads "
        "> 3 (measured 5.1), and AFTER the engine's own "
        "apply_linenoise_notch (segmented, in-plan) BOTH channels drop "
        "below 2 (measured ~0.8) — the screen doubles as the notch "
        "stage's acceptance test. Contract-boolean oracle",
)
def sig_line_noise_snr(spark, sf_dir):
    from ..operators.segmented import segmented_notch
    from ..operators.spectral_summary import line_noise_snr

    rate, n_t = 1000.0, 32768
    pi2 = 2 * 3.141592653589793

    def value_fn(ch, idx):
        t = idx.cast("double") / rate
        line = F.lit(0.5) * F.sin(F.lit(pi2 * 60.0) * t)
        return F.when(ch == 1, line + _hash_uniform(idx, ch)) \
            .otherwise(_hash_uniform(idx, ch))

    sig = _synth_long(spark, 2, n_t, value_fn)
    before = line_noise_snr(sig, rate, 512).select(
        "channel", F.col("snr").alias("snr_b"), "n_harmonics")
    notched = segmented_notch(sig, rate, seg_len=4096, overlap=512)
    after = line_noise_snr(notched, rate, 512).select(
        F.col("channel").alias("_ch"), F.col("snr").alias("snr_a"))
    j = before.join(after, before.channel == after._ch)
    clean_ok = F.when(F.col("channel") == 0,
                      F.col("snr_b").between(0.5, 2.0)
                      ).otherwise(F.lit(True))
    noisy_ok = F.when(F.col("channel") == 1, F.col("snr_b") > 3.0
                      ).otherwise(F.lit(True))
    notch_ok = F.col("snr_a") < 2.0
    return (j.select("channel", "n_harmonics",
                     clean_ok.cast("int").alias("clean_ok"),
                     noisy_ok.cast("int").alias("noisy_ok"),
                     notch_ok.cast("int").alias("notch_ok"))
            .orderBy("channel"))


@query(
    "sig_psi_direction",
    """
    SELECT * FROM (VALUES
        (0, 1, 1, 1), (0, 2, 1, 1), (1, 2, 1, 1))
      t(ch_a, ch_b, dir_ok, null_ok)
    ORDER BY ch_a, ch_b
    """,
    doc="phase-slope index directionality (operators/coherence.py "
        "phase_slope_index, Nolte 2008): ch1 is ch0's broadband noise "
        "DELAYED 5 samples (ch0 leads -> PSI(0,1) strongly positive, "
        "measured +15), ch2 is a zero-lag copy of ch0 (PSI(0,2) ~ 0, the "
        "volume-conduction null) which also makes ch2 lead ch1 "
        "(PSI(1,2) strongly negative, measured -14) — the full "
        "who-leads-whom triangle from one fixture. Contract-boolean "
        "oracle (spectra not SQL-replayable)",
)
def sig_psi_direction(spark, sf_dir):
    from ..operators.coherence import phase_slope_index

    n_t, frame = 32768, 256

    def value_fn(ch, idx):
        src = _hash_uniform(idx, F.lit(0))
        delayed = _hash_uniform(idx - 5, F.lit(0))
        return (F.when(ch == 0, src)
                .when(ch == 1, delayed + 0.2 * _hash_uniform(idx, F.lit(1)))
                .otherwise(0.9 * src + 0.2 * _hash_uniform(idx, F.lit(2))))

    sig = _synth_long(spark, 3, n_t, value_fn)
    psi = phase_slope_index(sig, 1000.0, frame)
    is_01 = (F.col("ch_a") == 0) & (F.col("ch_b") == 1)
    is_12 = (F.col("ch_a") == 1) & (F.col("ch_b") == 2)
    is_02 = (F.col("ch_a") == 0) & (F.col("ch_b") == 2)
    dir_ok = (F.when(is_01, F.col("psi") > 5.0)
              .when(is_12, F.col("psi") < -5.0)
              .otherwise(F.lit(True)))
    null_ok = F.when(is_02, F.abs(F.col("psi")) < 1.0).otherwise(F.lit(True))
    return (psi.select("ch_a", "ch_b",
                       dir_ok.cast("int").alias("dir_ok"),
                       null_ok.cast("int").alias("null_ok"))
            .orderBy("ch_a", "ch_b"))


@query(
    "sig_recording_qc",
    """
    SELECT * FROM (VALUES
        (0, 0, 0, 0), (1, 1, 0, 1), (2, 1, 0, 1), (3, 0, 1, 1),
        (4, 0, 0, 0))
      t(channel, is_bad_variance, is_line_noisy, is_bad)
    ORDER BY channel
    """,
    doc="the one-call recording QC report (operators/quality.py "
        "recording_qc): robust log-variance screen JOINed with the "
        "60 Hz harmonic SNR screen, combined verdict. Fixture: ch1 dead "
        "(0.1% amplitude) and ch2 saturated (100x) must flag on "
        "VARIANCE only; ch3 carries a 2.0-amplitude mains line and must "
        "flag on LINE NOISE only (measured SNR ~675 vs ~1 clean); ch0/4 "
        "pass both. Each channel is asserted to flag for exactly the "
        "right REASON, not just flag — FULL hash match on the three "
        "boolean columns",
)
def sig_recording_qc(spark, sf_dir):
    from ..operators.quality import recording_qc

    rate, n_t = 1000.0, 32768
    pi2 = 2 * 3.141592653589793

    def value_fn(ch, idx):
        t = idx.cast("double") / rate
        base = (F.sin(F.lit(pi2 * 7.0) * t + ch.cast("double"))
                + 0.3 * _hash_uniform(idx, ch))
        return (F.when(ch == 1, 0.001 * base)
                .when(ch == 2, 100.0 * base)
                .when(ch == 3,
                      base + F.lit(2.0) * F.sin(F.lit(pi2 * 60.0) * t))
                .otherwise(base))

    sig = _synth_long(spark, 5, n_t, value_fn)
    qc = recording_qc(sig, rate)
    return (qc.select("channel",
                      F.col("is_bad_variance").cast("int")
                      .alias("is_bad_variance"),
                      F.col("is_line_noisy").cast("int")
                      .alias("is_line_noisy"),
                      F.col("is_bad").cast("int").alias("is_bad"))
            .orderBy("channel"))


@query(
    "sig_hjorth",
    f"""
    WITH signals AS ({_GEN_SQL}),
    d1 AS (
      SELECT channel, sample_idx, value,
             value - LAG(value) OVER (PARTITION BY channel
                                      ORDER BY sample_idx) AS dx
      FROM signals
    ),
    d2 AS (
      SELECT channel, sample_idx, value, dx,
             dx - LAG(dx) OVER (PARTITION BY channel
                                ORDER BY sample_idx) AS d2x
      FROM d1
    ),
    agg AS (
      SELECT channel, COUNT(*) AS n_samples,
             VAR_POP(value) AS act, VAR_POP(dx) AS v1, VAR_POP(d2x) AS v2
      FROM d2 GROUP BY channel
    )
    SELECT channel, n_samples,
           ROUND(act, 6) AS activity,
           ROUND(SQRT(v1 / act), 5) AS mobility,
           ROUND(SQRT(v2 / v1) / SQRT(v1 / act), 5) AS complexity
    FROM agg ORDER BY channel
    """,
    doc="Hjorth time-domain parameters (operators/features.py "
        "hjorth_parameters, Hjorth 1970): activity/mobility/complexity "
        "from variances of the signal and its first two lag-differences "
        "— one per-channel window shuffle + one hash aggregate. FULL "
        "hash match (the whole computation is lag windows + VAR_POP, "
        "exactly replayable); the spiked channel's derivative variances "
        "separate it cleanly from the smooth tones",
)
def sig_hjorth(spark, sf_dir):
    from ..operators.features import hjorth_parameters

    h = hjorth_parameters(_signals(spark))
    return (h.select("channel", "n_samples",
                     F.round("activity", 6).alias("activity"),
                     F.round("mobility", 5).alias("mobility"),
                     F.round("complexity", 5).alias("complexity"))
            .orderBy("channel"))


@query(
    "sig_spectral_features",
    """
    SELECT * FROM (VALUES (0, 257, 1, 1), (1, 257, 1, 1))
      t(channel, n_bins, entropy_ok, sef_ok)
    ORDER BY channel
    """,
    doc="spectral entropy + spectral edge frequency "
        "(operators/features.py): normalized Shannon entropy of the "
        "Welch PSD and SEF95. Contract: the white-noise channel reads "
        "entropy > 0.9 (measured 0.999) with SEF95 within 460..490 Hz "
        "(0.95 x Nyquist = 475); the 50 Hz tone channel reads entropy "
        "< 0.35 (measured 0.16) with SEF95 within 45..56 Hz. "
        "Contract-boolean oracle (PSD not SQL-replayable)",
)
def sig_spectral_features(spark, sf_dir):
    from ..operators.features import spectral_edge, spectral_entropy

    rate, n_t = 1000.0, 32768
    pi2 = 2 * 3.141592653589793

    def value_fn(ch, idx):
        t = idx.cast("double") / rate
        tone = F.lit(2.0 ** 0.5) * F.sin(F.lit(pi2 * 50.0) * t)
        return F.when(ch == 1, tone + 0.05 * _hash_uniform(idx, ch)) \
            .otherwise(_hash_uniform(idx, ch))

    sig = _synth_long(spark, 2, n_t, value_fn)
    ent = spectral_entropy(sig, rate, 512)
    sef = (spectral_edge(sig, rate, 512)
           .select(F.col("channel").alias("_ch"), "sef_hz"))
    j = ent.join(sef, ent.channel == F.col("_ch"))
    entropy_ok = F.when(F.col("channel") == 0, F.col("entropy") > 0.9) \
        .otherwise(F.col("entropy") < 0.35)
    sef_ok = F.when(F.col("channel") == 0,
                    F.col("sef_hz").between(460.0, 490.0)) \
        .otherwise(F.col("sef_hz").between(45.0, 56.0))
    return (j.select("channel", F.col("n_bins").cast("int").alias("n_bins"),
                     entropy_ok.cast("int").alias("entropy_ok"),
                     sef_ok.cast("int").alias("sef_ok"))
            .orderBy("channel"))


_DELAY_VAL_SQL = """(((i // 3) + 20
                     + CASE i % 3 WHEN 0 THEN 0 WHEN 1 THEN -4 ELSE 6 END)
                    * 2654435761 + 12345) % 100000 / 100000.0 - 0.5"""


@query(
    "sig_delay_estimate",
    f"""
    WITH sig AS (
      SELECT CAST(i % 3 AS INT) AS channel,
             CAST(i // 3 AS BIGINT) AS sample_idx,
             {_DELAY_VAL_SQL} AS value
      FROM RANGE(0, 6000) t(i)
    ),
    lags AS (SELECT UNNEST(RANGE(-12, 13)) AS lag),
    mom AS (
      SELECT a.channel AS ch_a, b.channel AS ch_b, l.lag,
             COUNT(*) AS n,
             SUM(CAST(ROUND(a.value * 1000000) AS BIGINT)) AS sx,
             SUM(CAST(ROUND(b.value * 1000000) AS BIGINT)) AS sy,
             SUM(CAST(ROUND(a.value * 1000000) AS BIGINT)
                 * CAST(ROUND(a.value * 1000000) AS BIGINT)) AS sxx,
             SUM(CAST(ROUND(b.value * 1000000) AS BIGINT)
                 * CAST(ROUND(b.value * 1000000) AS BIGINT)) AS syy,
             SUM(CAST(ROUND(a.value * 1000000) AS BIGINT)
                 * CAST(ROUND(b.value * 1000000) AS BIGINT)) AS sxy
      FROM sig a
      CROSS JOIN lags l
      JOIN sig b ON b.sample_idx = a.sample_idx + l.lag
                AND b.channel > a.channel
      GROUP BY a.channel, b.channel, l.lag
    ),
    scored AS (
      SELECT ch_a, ch_b, lag, n,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                  * SQRT(CAST(n * syy - sy * sy AS DOUBLE))) AS r_raw
      FROM mom
      WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    ),
    rk AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY ch_a, ch_b
                                   ORDER BY ABS(r_raw) DESC, lag ASC) AS k
      FROM scored
    )
    SELECT ch_a, ch_b, lag AS best_lag,
           ROUND(r_raw, 6) + 0.0 AS r, n AS n_overlap
    FROM rk WHERE k = 1
    ORDER BY ch_a, ch_b
    """,
    doc="per-pair delay estimation (operators/xcorr.py estimate_delays): "
        "argmax-|r| lag over a bounded correlogram, ties to the smaller "
        "lag. Fixture: three views of ONE broadband LCG noise stream — "
        "ch1 lags ch0 by 4 samples, ch2 leads ch0 by 6 — so the planted "
        "delay triangle (+4, -6, -10) comes back exactly with r = 1 at "
        "the true lags. FULL hash-match oracle: r rides the operator's "
        "exact_scale fixed-point moment path (bit-identical at any "
        "partitioning), so the argmax is deterministic on both engines",
)
def sig_delay_estimate(spark, sf_dir):
    from ..operators.xcorr import estimate_delays

    i = F.col("id")
    ch = (i % 3).cast("int")
    idx = (i / 3).cast("bigint")
    shift = (F.when(ch == 0, 0).when(ch == 1, -4).otherwise(6))
    h = ((idx + 20 + shift) * F.lit(2654435761) + F.lit(12345)) \
        % F.lit(100000)
    sig = (spark.range(0, 6000)
           .select(F.lit("synth").alias("series_id"), ch.alias("channel"),
                   idx.alias("sample_idx"),
                   (h.cast("double") / 100000.0 - 0.5).alias("value")))
    d = estimate_delays(sig, max_lag=12, exact_scale=1_000_000)
    return (d.select("ch_a", "ch_b", "best_lag",
                     (F.round("r", 6) + F.lit(0.0)).alias("r"), "n_overlap")
            .orderBy("ch_a", "ch_b"))


@query(
    "sig_ppc_nm",
    """
    WITH v AS (
      SELECT CAST(i % 2 AS INT) AS channel,
             CAST(i // 2 AS BIGINT) AS idx,
             ROUND(2 * PI() * (((i // 2) % 80) / 80.0) - PI(), 6) AS ps,
             ROUND(CASE WHEN i % 2 = 0
                        THEN 2 * PI() * ((((i // 2) * 4) % 80) / 80.0)
                             + 0.7 - PI()
                        ELSE 2 * PI() * ((((i // 2) * 13) % 97) / 97.0)
                             - PI()
                   END, 6) AS pf
      FROM RANGE(0, 8000) t(i)
    )
    SELECT channel,
           ROUND(SQRT(POW(AVG(COS(4 * ps - 1 * pf)), 2)
                      + POW(AVG(SIN(4 * ps - 1 * pf)), 2)), 6) AS r_nm,
           COUNT(*) AS n_samples
    FROM v GROUP BY channel ORDER BY channel
    """,
    doc="n:m phase-phase coupling (operators/pac.py phase_phase_coupling, "
        "Tass 1998): R_41 of a slow sawtooth phase against a fast phase. "
        "Fixture: ch0's fast phase runs exactly 4 cycles per slow cycle "
        "at a fixed 0.7 rad offset (4:1 locked, R ~ 1 up to the 6-dp "
        "input rounding), ch1's fast phase cycles on an incommensurate "
        "97-sample period (R ~ 1/sqrt(n)). Inputs rounded to 6 dp in "
        "both engines before the op; the mean-resultant vector is the "
        "same partial-aggregable cos/sin AVG as sig_pac_mi",
)
def sig_ppc_nm(spark, sf_dir):
    from ..operators.pac import phase_phase_coupling

    pi = 3.141592653589793
    n_ch, n_t = 2, 4000

    def slow_fn(ch, idx):
        return F.round(
            2 * F.lit(pi) * ((idx % 80).cast("double") / 80.0) - pi, 6)

    def fast_fn(ch, idx):
        locked = (2 * F.lit(pi) * (((idx * 4) % 80).cast("double") / 80.0)
                  + 0.7 - pi)
        free = (2 * F.lit(pi) * (((idx * 13) % 97).cast("double") / 97.0)
                - pi)
        return F.round(F.when(ch == 0, locked).otherwise(free), 6)

    slow = (_synth_long(spark, n_ch, n_t, slow_fn)
            .withColumnRenamed("value", "phase"))
    fast = (_synth_long(spark, n_ch, n_t, fast_fn)
            .withColumnRenamed("value", "phase"))
    r = phase_phase_coupling(slow, fast, n=4, m=1)
    return (r.select("channel", F.round("r_nm", 6).alias("r_nm"),
                     "n_samples")
            .orderBy("channel"))


@query(
    "sig_peak_detect",
    """
    WITH sig AS (
      SELECT CAST(i % 2 AS INT) AS channel,
             CAST(i // 2 AS BIGINT) AS sample_idx,
             ROUND(((i // 2) * 1103515245 + (i % 2) * 12345 + 54321)
                     % 100000 / 100000.0 * 0.2
                   + CASE WHEN (i // 2) % 250 = 125 THEN 1.5
                          WHEN (i // 2) % 250 = 127 THEN 1.0
                          ELSE 0.0 END, 6) AS value
      FROM RANGE(0, 6000) t(i)
    ),
    stencil AS (
      SELECT channel, sample_idx, value,
             LAG(value) OVER w AS prev, LEAD(value) OVER w AS next
      FROM sig
      WINDOW w AS (PARTITION BY channel ORDER BY sample_idx)
    ),
    cand AS (
      SELECT channel, sample_idx, value
      FROM stencil
      WHERE value >= 0.8 AND prev IS NOT NULL AND value > prev
        AND next IS NOT NULL AND value >= next
    ),
    flagged AS (
      SELECT channel, sample_idx, value,
             CASE WHEN LAG(sample_idx) OVER w IS NULL
                       OR sample_idx - LAG(sample_idx) OVER w >= 50
                  THEN 1 ELSE 0 END AS new_island
      FROM cand
      WINDOW w AS (PARTITION BY channel ORDER BY sample_idx)
    ),
    islands AS (
      SELECT channel, sample_idx, value,
             SUM(new_island) OVER (PARTITION BY channel ORDER BY sample_idx
                                   ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    )
    SELECT channel, sample_idx, value AS peak_value,
           CAST(island_size AS BIGINT) AS island_size
    FROM (
      SELECT channel, sample_idx, value,
             ROW_NUMBER() OVER (PARTITION BY channel, island
                                ORDER BY value DESC, sample_idx ASC) AS rk,
             COUNT(*) OVER (PARTITION BY channel, island) AS island_size
      FROM islands
    ) WHERE rk = 1
    ORDER BY channel, sample_idx
    """,
    doc="local-maxima peak detection with refractory separation "
        "(operators/peaks.py detect_peaks): 3-tap stencil candidates -> "
        "gaps-and-islands refractory grouping -> per-island amplitude "
        "argmax. Fixture plants a 1.5 peak and a 1.0 companion 2 samples "
        "later in every 250-sample block over LCG noise; with "
        "min_separation=50 the pair merges and the 1.5 peak is reported "
        "(island_size 2). FULL hash match — all comparisons run on "
        "identical 6-dp doubles",
)
def sig_peak_detect(spark, sf_dir):
    from ..operators.peaks import detect_peaks

    i = F.col("id")
    ch = (i % 2).cast("int")
    idx = (i / 2).cast("bigint")
    noise = ((idx * F.lit(1103515245) + ch.cast("bigint") * F.lit(12345)
              + F.lit(54321)) % F.lit(100000)).cast("double") \
        / 100000.0 * 0.2
    plant = (F.when(idx % 250 == 125, 1.5)
             .when(idx % 250 == 127, 1.0).otherwise(0.0))
    sig = (spark.range(0, 6000)
           .select(F.lit("synth").alias("series_id"), ch.alias("channel"),
                   idx.alias("sample_idx"),
                   F.round(noise + plant, 6).alias("value")))
    p = detect_peaks(sig, threshold=0.8, min_separation=50)
    return (p.select("channel", "sample_idx", "peak_value", "island_size")
            .orderBy("channel", "sample_idx"))


@query(
    "sig_envelope_corr",
    """
    SELECT * FROM (VALUES (0, 1, 1, 1), (0, 2, 1, 1), (1, 2, 1, 1))
      t(ch_a, ch_b, coupled_ok, uncoupled_ok)
    ORDER BY ch_a, ch_b
    """,
    doc="amplitude-envelope correlation (operators/coherence.py "
        "envelope_correlation, Hipp 2012-family): per-frame band power "
        "time courses correlated across channels — the co-modulation "
        "measure that fires when signals share an envelope WITHOUT "
        "phase locking. Fixture: ch0 (80 Hz carrier) and ch1 (120 Hz "
        "carrier) ride the SAME 1.5 Hz slow envelope (different "
        "carriers -> no phase relation; AEC alone sees the coupling), "
        "ch2 rides an independent 2.3 Hz envelope. Contract: "
        "AEC(0,1) > 0.8, AEC(0,2) and AEC(1,2) < 0.4. Contract-boolean "
        "oracle (spectra not SQL-replayable); margins probed before "
        "freezing",
)
def sig_envelope_corr(spark, sf_dir):
    from ..operators.coherence import envelope_correlation

    rate, n_t = 1000.0, 16384
    pi2 = 2 * 3.141592653589793

    def value_fn(ch, idx):
        t = idx.cast("double") / rate
        env_shared = 1 + 0.8 * F.sin(F.lit(pi2 * 1.5) * t)
        env_free = 1 + 0.8 * F.sin(F.lit(pi2 * 2.3) * t + 1.0)
        return (F.when(ch == 0, env_shared * F.sin(F.lit(pi2 * 80.0) * t))
                .when(ch == 1, env_shared * F.sin(F.lit(pi2 * 120.0) * t))
                .otherwise(env_free * F.sin(F.lit(pi2 * 100.0) * t)))

    sig = _synth_long(spark, 3, n_t, value_fn)
    aec = envelope_correlation(sig, rate, 256, lo_hz=60.0, hi_hz=140.0)
    is_coupled = (F.col("ch_a") == 0) & (F.col("ch_b") == 1)
    coupled_ok = F.when(is_coupled, F.col("aec") > 0.8).otherwise(F.lit(True))
    uncoupled_ok = F.when(~is_coupled, F.abs(F.col("aec")) < 0.4) \
        .otherwise(F.lit(True))
    return (aec.select("ch_a", "ch_b",
                       coupled_ok.cast("int").alias("coupled_ok"),
                       uncoupled_ok.cast("int").alias("uncoupled_ok"))
            .orderBy("ch_a", "ch_b"))


@query(
    "sig_granger_dir",
    """
    WITH raw AS (
      SELECT CAST(i % 3 AS INT) AS channel,
             CAST(i // 3 AS BIGINT) AS t,
             (((i // 3) * 2654435761 + 12345) % 100000) / 100000.0 - 0.5
               AS x,
             (((i // 3) * 1103515245 + 777) % 100000) / 100000.0 - 0.5
               AS e,
             ((((i // 3) - 1) * 2654435761 + 12345) % 100000) / 100000.0
               - 0.5 AS x_prev,
             (((i // 3) * 69069 + 55555) % 100000) / 100000.0 - 0.5 AS z
      FROM RANGE(0, 6003) t(i)
    ),
    sig AS (
      SELECT channel, t AS sample_idx,
             ROUND(CASE channel WHEN 0 THEN x
                                WHEN 1 THEN 0.8 * x_prev + 0.3 * e
                                ELSE z END, 6) AS value
      FROM raw WHERE t >= 1
    ),
    lagged AS (
      SELECT channel, sample_idx,
             CAST(ROUND(value * 1000000) AS BIGINT) AS v,
             LAG(CAST(ROUND(value * 1000000) AS BIGINT))
               OVER (PARTITION BY channel ORDER BY sample_idx) AS v1
      FROM sig
    ),
    joined AS (
      SELECT d.channel AS ch_dst, s.channel AS ch_src,
             d.v AS y, d.v1 AS y1, s.v1 AS x1
      FROM lagged d JOIN lagged s
        ON s.sample_idx = d.sample_idx AND s.channel <> d.channel
      WHERE d.v1 IS NOT NULL AND s.v1 IS NOT NULL
    ),
    mom AS (
      SELECT ch_src, ch_dst, COUNT(*) AS n,
             SUM(y) AS sy, SUM(y1) AS s1, SUM(x1) AS s2,
             SUM(y * y) AS syy, SUM(y1 * y1) AS s11,
             SUM(x1 * x1) AS s22, SUM(y * y1) AS s1y,
             SUM(y * x1) AS s2y, SUM(y1 * x1) AS s12
      FROM joined GROUP BY ch_src, ch_dst
    ),
    cm AS (
      SELECT ch_src, ch_dst, n,
             CAST(n * syy - sy * sy AS DOUBLE) AS cyy,
             CAST(n * s11 - s1 * s1 AS DOUBLE) AS c11,
             CAST(n * s22 - s2 * s2 AS DOUBLE) AS c22,
             CAST(n * s1y - sy * s1 AS DOUBLE) AS c1y,
             CAST(n * s2y - sy * s2 AS DOUBLE) AS c2y,
             CAST(n * s12 - s1 * s2 AS DOUBLE) AS c12
      FROM mom
    )
    SELECT ch_src, ch_dst,
           ROUND((cyy - c1y * c1y / c11)
                 / (cyy - (c22 * c1y * c1y - 2 * c12 * c1y * c2y
                           + c11 * c2y * c2y)
                          / (c11 * c22 - c12 * c12)), 6)
             + 0.0 AS var_ratio,
           n
    FROM cm
    ORDER BY ch_src, ch_dst
    """,
    doc="pairwise lag-1 Granger-style causality (operators/granger.py "
        "granger_pairwise): closed-form OLS variance ratio "
        "RSS_restricted/RSS_full from one pair join + ten partial-agg "
        "moments, Cramer-solved in the projection — no iteration, no "
        "matrix library, no libm. Fixture: ch1 = 0.8*ch0[t-1] + noise "
        "(ch0 -> ch1 reads ~7.6), every other direction ~1.0-1.2 (the "
        "residue is LCG serial correlation, not leakage). FULL "
        "hash-match oracle: the exact_scale path computes every centered "
        "moment in INTEGER arithmetic before one deterministic cast, so "
        "the ratio is bit-identical at any partitioning on both engines",
)
def sig_granger_dir(spark, sf_dir):
    from ..operators.granger import granger_pairwise

    i = F.col("id")
    ch = (i % 3).cast("int")
    t = (i / 3).cast("bigint")
    lcg = lambda k, a, b: ((k * F.lit(a) + F.lit(b))  # noqa: E731
                           % F.lit(100000)).cast("double") / 100000.0 - 0.5
    x = lcg(t, 2654435761, 12345)
    x_prev = lcg(t - 1, 2654435761, 12345)
    e = lcg(t, 1103515245, 777)
    z = lcg(t, 69069, 55555)
    val = F.round(
        F.when(ch == 0, x)
        .when(ch == 1, 0.8 * x_prev + 0.3 * e)
        .otherwise(z), 6)
    sig = (spark.range(0, 6003)
           .filter(t >= 1)
           .select(F.lit("synth").alias("series_id"), ch.alias("channel"),
                   t.alias("sample_idx"), val.alias("value")))
    g = granger_pairwise(sig, exact_scale=1_000_000)
    return (g.select("ch_src", "ch_dst",
                     (F.round("var_ratio", 6) + F.lit(0.0))
                     .alias("var_ratio"), "n")
            .orderBy("ch_src", "ch_dst"))


@query(
    "sig_aperiodic_fit",
    """
    SELECT * FROM (VALUES (0, 14, 1, 1, 1), (1, 14, 1, 1, 1))
      t(channel, n_fit, slope_ok, bias_detected, n_excluded)
    ORDER BY channel
    """,
    doc="FOOOF-lite aperiodic 1/f parameterization "
        "(operators/features.py aperiodic_fit: OLS on (log10 f, "
        "log10 PSD) via partial-aggregable covar/var, then a robust "
        "refit excluding residual outliers): a 14-tone log-spaced comb "
        "with amplitudes f^-1 (true PSD slope -2) is contaminated by a "
        "6x-boosted oscillation at the comb's high end. Contract: the "
        "robust slope lands within +-0.05 of -2 (probed margin ~250x), "
        "the naive fit is biased less-negative by >0.15 (probed 0.35), "
        "and exactly the one contaminated bin is excluded (outlier "
        "residual ~1.56 vs ~0.83 threshold — 1.9x margin). "
        "Contract-boolean oracle (spectra are not SQL-replayable); the "
        "estimator is pinned against NumPy in tests/test_features.py",
)
def sig_aperiodic_fit(spark, sf_dir):
    import numpy as np

    from ..operators.features import aperiodic_fit

    rate, frame_len, n_t, n_ch = 1000.0, 512, 16384, 2
    ks = sorted(set(int(round(k))
                    for k in np.logspace(np.log10(8), np.log10(200), 14)))
    k_osc, beta = 156, 2.0

    def value_fn(ch, idx):
        t = idx.cast("double") / rate
        expr = None
        for j, k in enumerate(ks):
            f = k * rate / frame_len
            a = f ** (-beta / 2) * (6.0 if k == k_osc else 1.0)
            term = (F.lit(float(a))
                    * F.sin(F.lit(2 * np.pi * f) * t + F.lit(float(j))
                            + ch.cast("double")))
            expr = term if expr is None else expr + term
        return expr

    sig = _synth_long(spark, n_ch, n_t, value_fn)
    fit = aperiodic_fit(sig, rate, frame_len, fmin=10.0, fmax=420.0,
                        robust_sigma=2.0, bins=ks)
    slope_ok = F.abs(F.col("slope_robust") + 2.0) < 0.05
    bias = (F.col("slope") - F.col("slope_robust")) > 0.15
    return (fit.select("channel",
                       F.col("n_fit").cast("int").alias("n_fit"),
                       slope_ok.cast("int").alias("slope_ok"),
                       bias.cast("int").alias("bias_detected"),
                       F.col("n_excluded").cast("int").alias("n_excluded"))
            .orderBy("channel"))
