"""Property-based tests (hypothesis) over the pure driver-side kernels —
the fuzz layer of the reference's test strategy (SURVEY.md §5), aimed at
the math that golden tests only sample: histogram mass conservation,
sketch/merge invariants, codec roundtrips, drift metric bounds.

No SparkSession here: everything under test is driver-side numpy/python,
so the suite stays fast and deterministic (hypothesis derandomized
per-profile via explicit seeds/settings).
"""

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SET = settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


# ------------------------------------------------------------- quantiles ----
@SET
@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=2, max_size=300
    ),
    st.integers(min_value=1, max_value=12),
)
def test_quantiles_histogram_mass_conserved(values, buckets):
    from data_validation_spark.stats.quantiles import quantiles_histogram

    values = sorted(values)
    n = len(values) * 3
    grid = [float(np.quantile(values, q)) for q in np.linspace(0, 1, 101)]
    h = quantiles_histogram(grid, n, buckets)
    if h is None:
        return
    # total mass equals the claimed count; bucket bounds are ordered
    assert sum(b.sample_count for b in h.buckets) == pytest.approx(n, rel=1e-9)
    for b in h.buckets:
        assert b.low_value <= b.high_value
    lows = [b.low_value for b in h.buckets]
    assert lows == sorted(lows)


@SET
@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=2, max_size=300
    ),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=0, max_value=5),
)
def test_equi_width_histogram_mass_conserved(values, buckets, num_nan):
    from data_validation_spark.stats.quantiles import equi_width_histogram

    values = sorted(values)
    n = len(values) * 2
    grid = [float(np.quantile(values, q)) for q in np.linspace(0, 1, 101)]
    h = equi_width_histogram(grid, n, buckets, num_nan=num_nan)
    if h is None:
        return
    assert sum(b.sample_count for b in h.buckets) == pytest.approx(n, rel=1e-9)
    assert h.num_nan == num_nan


@SET
@given(st.lists(st.floats(min_value=-1e5, max_value=1e5, allow_nan=False), min_size=1, max_size=400))
def test_median_from_boundaries_between_extremes(values):
    from data_validation_spark.stats.quantiles import median_from_boundaries

    grid = [float(np.quantile(values, q)) for q in np.linspace(0, 1, 101)]
    med = median_from_boundaries(grid)
    assert min(values) - 1e-9 <= med <= max(values) + 1e-9


# --------------------------------------------------------------- t-digest ---
@SET
@given(
    st.lists(
        st.floats(min_value=-1e4, max_value=1e4, allow_nan=False),
        min_size=10,
        max_size=2000,
    ),
    st.integers(min_value=2, max_value=5),
)
def test_tdigest_split_merge_equals_sequential(values, n_splits):
    from data_validation_spark.stats.sketches.tdigest import TDigest

    arr = np.asarray(values)
    seq = TDigest(compression=100)
    seq.add(arr)
    parts = [TDigest(compression=100) for _ in range(n_splits)]
    for i, t in enumerate(parts):
        chunk = arr[i::n_splits]
        if chunk.size:
            t.add(chunk)
    merged = parts[0]
    for t in parts[1:]:
        merged = merged.merge(t)
    assert merged.count == pytest.approx(seq.count)
    assert merged.min == seq.min and merged.max == seq.max
    rng = (arr.max() - arr.min()) or 1.0
    for q in (0.25, 0.5, 0.75):
        assert abs(merged.quantile(q) - seq.quantile(q)) <= 0.05 * rng + 1e-9
        # both stay within the data envelope
        assert arr.min() - 1e-9 <= merged.quantile(q) <= arr.max() + 1e-9


@SET
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=-1e4, max_value=1e4, allow_nan=False),
            st.floats(min_value=0.01, max_value=100.0),
        ),
        min_size=10,
        max_size=800,
    )
)
def test_tdigest_weighted_quantile_envelope(pairs):
    from data_validation_spark.stats.sketches.tdigest import TDigest

    x = np.array([p[0] for p in pairs])
    w = np.array([p[1] for p in pairs])
    td = TDigest(compression=100)
    td.add(x, w)
    assert td.count == pytest.approx(w.sum(), rel=1e-9)
    # The digest's guarantee is on RANK, not value: between two point
    # masses it interpolates (hypothesis found [0:w8.5, 1:w9] → 0.105,
    # value error ~1 but rank error 0.014), so assert the weighted mass
    # strictly below / strictly above the estimate each stay ≤ (0.5 + ε)W.
    est = td.quantile(0.5)
    W = w.sum()
    # 1-ulp slack: centroid means reconstruct a point mass only to float
    # rounding, and a strict < / > at the mass itself would count the whole
    # point on the wrong side of an estimate 1 ulp off.
    tol = 1e-9 * max(1.0, abs(est))
    below = float(w[x < est - tol].sum())
    above = float(w[x > est + tol].sum())
    eps = 0.1
    assert below <= (0.5 + eps) * W + 1e-9
    assert above <= (0.5 + eps) * W + 1e-9


# ---------------------------------------------------------------- drift -----
@SET
@given(
    st.dictionaries(
        st.sampled_from(list("abcdefgh")),
        st.floats(min_value=0.0, max_value=1e6),
        min_size=1,
        max_size=8,
    ),
    st.dictionaries(
        st.sampled_from(list("abcdefgh")),
        st.floats(min_value=0.0, max_value=1e6),
        min_size=1,
        max_size=8,
    ),
)
def test_jsd_and_linf_bounds(p, q):
    from data_validation_spark.validate import drift as dm

    if sum(p.values()) == 0 or sum(q.values()) == 0:
        return
    jsd = dm.jensen_shannon_divergence_counts(p, q)
    assert -1e-12 <= jsd <= 1.0 + 1e-12
    assert dm.jensen_shannon_divergence_counts(p, p) == pytest.approx(0.0, abs=1e-12)
    label, linf = dm.linfty_distance(p, q) if hasattr(dm, "linfty_distance") else (None, None)
    if linf is not None:
        assert -1e-12 <= linf <= 1.0 + 1e-12


# ----------------------------------------------------------------- codecs ---
@SET
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_png_bmp_lossless_roundtrip(h, w, seed):
    from data_validation_spark.stats import imagecodec as codec

    rgb = np.random.RandomState(seed).randint(0, 256, (h, w, 3), dtype=np.uint8)
    for fmt in ("png", "bmp"):
        out = codec.decode(codec.encode(fmt, rgb))
        assert out is not None and np.array_equal(out, rgb)


@SET
@given(
    st.integers(min_value=8, max_value=48),
    st.integers(min_value=8, max_value=48),
    st.integers(min_value=0, max_value=2**32 - 1),
    st.integers(min_value=2, max_value=32),
)
def test_gif_lzw_lossless_roundtrip(h, w, seed, ncolors):
    from data_validation_spark.stats import imagecodec as codec

    rng = np.random.RandomState(seed)
    pal = rng.randint(0, 256, (ncolors, 3), dtype=np.uint8)
    img = pal[rng.randint(0, ncolors, (h, w))]
    out = codec.decode(codec.encode_gif_baseline(img))
    assert out is not None and np.array_equal(out, img)


@SET
@given(
    st.integers(min_value=8, max_value=40),
    st.integers(min_value=8, max_value=40),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_jpeg_decode_never_crashes_and_smooth_roundtrip(h, w, seed):
    from data_validation_spark.stats import jpegcodec as jc

    rng = np.random.RandomState(seed)
    # smooth random field: low-frequency content the DCT represents well
    base = rng.randint(0, 256, (4, 4, 3)).astype(np.float64)
    yy = np.linspace(0, 3, h)
    xx = np.linspace(0, 3, w)
    img = np.zeros((h, w, 3))
    for c in range(3):
        img[:, :, c] = np.interp(yy, np.arange(4), base[:, 0, c])[:, None] + np.interp(
            xx, np.arange(4), base[0, :, c]
        )[None, :]
    img = np.clip(img / 2, 0, 255).astype(np.uint8)
    out = jc.decode(jc.encode(img, quality=90))
    assert out is not None and out.shape == img.shape
    err = np.abs(out.astype(int) - img.astype(int)).mean()
    assert err < 8.0  # smooth content decodes close


@SET
@given(st.binary(min_size=0, max_size=400))
def test_decoders_reject_garbage_without_crashing(data):
    from data_validation_spark.stats import imagecodec as codec
    from data_validation_spark.stats import jpegcodec as jc

    # must return None (or a valid array), never raise
    codec.decode(data)
    jc.decode(data)
    codec.dimensions(data)


# --------------------------------------------------- histogram-JSD bounds ---
def _mk_hist(buckets):
    from data_validation_spark.stats.result import Histogram, HistogramBucket

    return Histogram("STANDARD", [HistogramBucket(lo, hi, c) for lo, hi, c in buckets])


@SET
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),
            st.integers(min_value=1, max_value=20),
            st.floats(min_value=0.1, max_value=1000.0),
        ),
        min_size=1,
        max_size=8,
    ),
    st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),
            st.integers(min_value=1, max_value=20),
            st.floats(min_value=0.1, max_value=1000.0),
        ),
        min_size=1,
        max_size=8,
    ),
)
def test_histogram_jsd_bounds_and_identity(b1, b2):
    from data_validation_spark.validate.drift import (
        jensen_shannon_divergence_histograms,
    )

    h1 = _mk_hist([(lo, lo + w, c) for lo, w, c in sorted(b1)])
    h2 = _mk_hist([(lo, lo + w, c) for lo, w, c in sorted(b2)])
    jsd = jensen_shannon_divergence_histograms(h1, h2)
    if jsd is not None:
        assert -1e-9 <= jsd <= 1.0 + 1e-9
    same = jensen_shannon_divergence_histograms(h1, h1)
    if same is not None:
        assert same == pytest.approx(0.0, abs=1e-9)


# ---------------------------------------------------------- wav roundtrip ---
@SET
@given(
    st.integers(min_value=1, max_value=2000),
    st.integers(min_value=1, max_value=2),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_wav_roundtrip_exact(n_frames, channels, seed):
    from data_validation_spark.stats.multimodal import decode_wav, encode_wav

    rng = np.random.RandomState(seed)
    samples = rng.randint(-32768, 32768, (n_frames, channels)).astype(np.int16)
    arr, rate = decode_wav(encode_wav(samples, sample_rate=8000))
    assert rate == 8000
    assert np.array_equal(arr, samples)


# ------------------------------------------------------- tfrecord example ---
@SET
@given(
    st.dictionaries(
        st.text(alphabet="abcxyz_", min_size=1, max_size=8),
        st.one_of(
            st.lists(st.binary(min_size=0, max_size=20), min_size=0, max_size=5),
            st.lists(
                st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=5
            ),
        ),
        min_size=0,
        max_size=6,
    )
)
def test_tfexample_wire_roundtrip(features):
    from data_validation_spark.io.tfrecord import encode_example, parse_example

    back = parse_example(encode_example(features))
    # empty value lists encode as empty Int64List (type is unknowable) —
    # compare only non-empty features exactly, empties as empty
    for name, values in features.items():
        assert back.get(name, []) == values or (values == [] and back[name] == [])


@SET
@given(
    st.lists(
        st.integers(min_value=1, max_value=50), min_size=50, max_size=2000
    ),
    st.integers(min_value=2, max_value=12),
)
def test_tdigest_discrete_quantiles_across_merges(values, n_splits):
    """Discrete data across partition splits and merges: identical point
    values merge unconditionally into one indivisible point centroid per
    distinct value. When EVERY centroid survives as a point mass (each
    distinct value's weight beats the local k-span, so no mixed centroid
    forms) the digest CDF equals the empirical CDF and quantiles are EXACT.
    A low-mass distinct value may still legally be absorbed into a mixed
    centroid by the k1-scale rule; then we assert the bounded rank error
    instead (≤ half the center-span mass, ~pi/compression).
    Regression: the k-span gate once split heavy values across centroids,
    whose fragments averaged with neighboring values after merge()."""
    from data_validation_spark.stats.sketches.tdigest import TDigest

    arr = np.asarray(values, dtype=np.float64)
    parts = [TDigest(compression=100) for _ in range(n_splits)]
    for i, t in enumerate(parts):
        chunk = arr[i::n_splits]
        if chunk.size:
            t.add(chunk)
    merged = parts[0]
    for t in parts[1:]:
        merged = merged.merge(t)
    merged.compact()
    s = np.sort(arr)
    n = arr.size
    all_points = bool(merged.points.all())
    # k1-scale center mass per centroid is total*pi/compression; rank error
    # is at most half of one centroid span on each side of a boundary.
    eps = math.pi / 100.0
    for q in (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99):
        got = merged.quantile(q)
        if all_points:
            # exact lower-rank quantile of the empirical CDF: the digest's
            # step function returns the value covering q*total
            k = min(int(np.ceil(q * n)) - 1, n - 1)
            assert got == s[max(k, 0)]
        else:
            # rank window of the returned value must overlap [q-eps, q+eps]
            lo_rank = np.searchsorted(s, got, side="left") / n
            hi_rank = np.searchsorted(s, got, side="right") / n
            assert lo_rank <= q + eps and hi_rank >= q - eps


def test_tdigest_heavy_discrete_exact_after_merge():
    """Deterministic pin of the motivating case: 20 distinct values x 300
    copies each (6k rows) split across 8 partitions. Every distinct value's
    mass (300) exceeds the center k-span (6000*pi/100 ~ 188), so with the
    unconditional equal-value merge each distinct value stays a single point
    centroid and all probed quantiles are exact. Before the fix, equal-value
    merging was k-span-gated, fragments of heavy values averaged with
    neighboring values after merge(), and the median drifted off-value."""
    from data_validation_spark.stats.sketches.tdigest import TDigest

    arr = np.repeat(np.arange(1.0, 21.0), 300)
    rng = np.random.default_rng(7)
    rng.shuffle(arr)
    parts = [TDigest(compression=100) for _ in range(8)]
    for i, t in enumerate(parts):
        t.add(arr[i::8])
    merged = parts[0]
    for t in parts[1:]:
        merged = merged.merge(t)
    merged.compact()
    assert merged.points.all()
    s = np.sort(arr)
    for q in (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99):
        k = min(int(np.ceil(q * arr.size)) - 1, arr.size - 1)
        assert merged.quantile(q) == s[max(k, 0)]


# ------------------------------------------------------- codec properties --
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.sampled_from(["444", "420"]),
    st.integers(min_value=10, max_value=95),
    st.integers(min_value=0, max_value=2**31 - 1),
)
@SET
def test_progressive_jpeg_always_equals_baseline(h, w, sub, q, seed):
    """For ANY image/size/quality, the progressive and baseline entropy
    codings must decode to identical pixels (same quantized coefficients)."""
    from data_validation_spark.stats import jpegcodec as jc

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    base = jc.decode(jc.encode(img, q, sub))
    prog = jc.decode(jc.encode_progressive(img, q, sub))
    assert prog is not None and np.array_equal(base, prog)


@given(
    st.integers(min_value=1, max_value=6000),
    st.integers(min_value=1, max_value=2),
    st.sampled_from(["indep", "leftside", "midside"]),
    st.integers(min_value=0, max_value=2**31 - 1),
)
@SET
def test_flac_roundtrip_always_lossless(n, channels, mode, seed):
    from data_validation_spark.stats import flaccodec as fc

    if mode != "indep" and channels != 2:
        mode = "indep"
    rng = np.random.default_rng(seed)
    x = rng.integers(-32768, 32767, (n, channels), dtype=np.int16)
    out = fc.decode(fc.encode(x, 16000, block_size=1024, stereo_mode=mode))
    assert out is not None
    y, rate = out
    assert rate == 16000 and np.array_equal(y, x.astype(np.int32))


@given(
    st.integers(min_value=1, max_value=30),
    st.integers(min_value=1, max_value=30),
    st.lists(st.integers(min_value=0, max_value=4), min_size=1, max_size=7),
    st.integers(min_value=0, max_value=2**31 - 1),
)
@SET
def test_png_filters_always_roundtrip(h, w, ftypes, seed):
    from tests.test_pngcodec import _build_png

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    from data_validation_spark.stats.imagecodec import decode_png

    assert np.array_equal(decode_png(_build_png(px, 2, ftypes)), px)
