"""Property-based tests (hypothesis) over the pure driver-side kernels —
the fuzz layer of the reference's test strategy (SURVEY.md §5), aimed at
the math that golden tests only sample: histogram mass conservation,
weighted quantile bounds, codec roundtrips, drift metric bounds.

Everything but the lift kernel and the scalar/nested numeric-stats
agreement is driver-side numpy/python and needs no SparkSession, so the
suite stays fast and deterministic (hypothesis derandomized per-profile via
explicit seeds/settings); the two Spark properties run few, small examples
on the shared session.
"""

import dataclasses
import json

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings
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


# ------------------------------------------------ weighted quantile grid ---
@SET
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=-1e4, max_value=1e4, allow_nan=False),
            # quarter weights: every sum is exact, so the rank of q·W is too
            st.integers(min_value=1, max_value=400).map(lambda k: k / 4),
        ),
        min_size=1,
        max_size=300,
    ),
    st.data(),
)
def test_weighted_quantile_grid_stays_in_the_exact_piece(pairs, data):
    """Split sorted weighted values into any contiguous pieces: each grid
    point lies in [lo, hi] of the piece holding the exact (lower) weighted
    quantile, q = 0 and q = 1 give the minimum and the maximum, and the mass
    is the total weight. Keeping only the pieces that hold a grid point,
    and the first and last, gives the same grid."""
    from data_validation_spark.stats.quantiles import weighted_quantile_grid

    qs = [i / 100 for i in range(101)]
    pairs = sorted(pairs)
    x = np.array([p[0] for p in pairs])
    w = np.array([p[1] for p in pairs])
    cw = np.cumsum(w)
    cuts = data.draw(st.lists(st.booleans(), min_size=x.size - 1, max_size=x.size - 1))
    starts = [0] + [i + 1 for i, cut in enumerate(cuts) if cut]
    ends = starts[1:] + [x.size]
    pieces = [(x[a], x[b - 1], cw[a - 1] if a else 0.0, w[a:b].sum())
              for a, b in zip(starts, ends)]
    grid, mass = weighted_quantile_grid(pieces, qs)
    assert mass == pytest.approx(w.sum(), rel=1e-12)
    assert grid[0] == x.min() and grid[-1] == x.max()
    for q, est in zip(qs[1:-1], grid[1:-1]):
        j = int(np.searchsorted(cw, q * cw[-1], side="left"))
        b = int(np.searchsorted(starts, j, side="right")) - 1
        lo, hi, _, _ = pieces[b]
        assert lo <= est <= hi, (q, est, pieces[b])
    holding = [
        p for i, p in enumerate(pieces)
        if i in (0, len(pieces) - 1)
        or any(p[2] < q * cw[-1] <= p[2] + p[3] for q in qs)
    ]
    assert weighted_quantile_grid(holding, qs) == (grid, mass)


def test_weighted_quantile_grid_without_buckets():
    from data_validation_spark.stats.quantiles import weighted_quantile_grid

    assert weighted_quantile_grid([], [0.0, 0.5, 1.0]) is None


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


# ------------------------------------------------------------------ lift ---
def _lift_reference(rows):
    """The lift rule in pandas: drop unlabelled and non-positive-weight
    rows, take P(Y=y) over what is left (NULL x included), then per x
    feature the weighted (x, y) and x totals; x below weight 1 is dropped
    (``min_x_count=1``)."""
    import pandas as pd

    d = pd.DataFrame(rows, columns=["x1", "x2", "y", "w"])
    d = d[d["y"].notna() & (d["w"] > 0)]
    y_rate = d.groupby("y")["w"].sum() / d["w"].sum()
    out = {}
    for feature in ("x1", "x2"):
        m = d[d[feature].notna()]
        x_count = m.groupby(feature)["w"].sum()
        for (x, y), xy in m.groupby([feature, "y"])["w"].sum().items():
            if x_count[x] >= 1:
                out[(feature, x, y)] = (
                    xy / x_count[x] / y_rate[y], xy, x_count[x], y_rate[y]
                )
    return out


@pytest.mark.parametrize("partitions", [1, 3])
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", None]),
            st.sampled_from(["a", "b", None]),
            st.sampled_from(["p", "q", "r", None]),
            st.sampled_from([0.0, 0.5, 1.0, 2.0]),
        ),
        min_size=0,
        max_size=30,
    )
)
def test_lift_kernel_matches_reference(spark, partitions, rows):
    from data_validation_spark.stats.lift import lift_stats_multi

    df = spark.createDataFrame(
        rows, "x1 string, x2 string, y string, w double"
    ).repartition(partitions)
    got = {
        (r["x_feature"], r["x"], r["y"]): (
            r["lift"], r["xy_count"], r["x_count"], r["y_rate"]
        )
        for r in lift_stats_multi(df, ["x1", "x2"], "y", weight_col="w").collect()
    }
    want = _lift_reference(rows)
    assert got.keys() == want.keys()
    for key, values in want.items():
        assert got[key] == pytest.approx(values, rel=1e-9)


# ------------------------------------------------------- numeric stats ---
def _numeric_json(num):
    """Every field of a NumericStats, NaN included, as comparable text."""
    return json.dumps(dataclasses.asdict(num), sort_keys=True)


NAN = float("nan")


@pytest.mark.parametrize("partitions", [1, 3])
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(
            st.sampled_from([1.5, NAN, float("inf"), float("-inf"), None,
                             0.0, -2.0, 3.0, 7.25]),
            st.sampled_from([0.0, 0.5, 1.0, 2.0]),
        ),
        min_size=1,
        max_size=20,
    )
)
@example(rows=[(NAN, 1.0), (NAN, 2.0)])
def test_scalar_and_one_element_array_numeric_stats_agree(spark, partitions, rows):
    """A double column ``x`` and its one-element form ``array(x)`` (NULL
    where ``x`` is NULL) hold the same values, so once ``x`` has a present
    value their NumericStats agree in every field, weighted or not."""
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions

    if all(x is None for x, _ in rows):
        return
    df = spark.createDataFrame(
        [(x, None if x is None else [x], w) for x, w in rows],
        "x double, a array<double>, w double",
    ).repartition(partitions)
    for weight in (None, "w"):
        ds = compute_statistics(df, StatsOptions(weight_column=weight)).default_slice()
        scalar, nested = ds.feature("x").numeric, ds.feature("a").numeric
        assert _numeric_json(scalar) == _numeric_json(nested)
