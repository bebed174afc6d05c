"""Block-reducer semantics vs naive numpy oracles (FIXTURES.md §6)."""

import warnings

import numpy as np
import pytest

from pyramidscheme_jl_spark.functions.codec import decode_tile, encode_tile, reducer_dtype
from pyramidscheme_jl_spark.functions.reducers import REDUCERS, block_reduce, reduce_direct
from pyramidscheme_jl_spark.sources.synth import image_pixels, mosaic_pixels


def naive_block_reduce(a, reducer, fac):
    """Independent per-block loop oracle (clipped ragged blocks, ref :176-185)."""
    h, w = a.shape[:2]
    oh, ow = -(-h // fac), -(-w // fac)
    rest = a.shape[2:]
    if reducer in ("mean", "median"):
        out = np.empty((oh, ow, *rest))
    elif reducer == "sum":
        out = np.empty((oh, ow, *rest), dtype=np.float64 if a.dtype.kind == "f" else np.int64)
    elif reducer == "mode":
        out = np.empty((oh, ow, *rest), dtype=np.uint8)
    else:
        out = np.empty((oh, ow, *rest), dtype=a.dtype)
    for i in range(oh):
        for j in range(ow):
            blk = a[i * fac : min(h, (i + 1) * fac), j * fac : min(w, (j + 1) * fac)]
            blk2 = blk.reshape(-1, *rest)
            if reducer == "mean":
                out[i, j] = np.nanmean(blk2, axis=0)
            elif reducer == "median":
                out[i, j] = np.nanmedian(blk2, axis=0)
            elif reducer == "sum":
                out[i, j] = np.nansum(blk2, axis=0)
            elif reducer == "min":
                out[i, j] = np.nanmin(blk2, axis=0) if a.dtype.kind == "f" else blk2.min(axis=0)
            elif reducer == "max":
                out[i, j] = np.nanmax(blk2, axis=0) if a.dtype.kind == "f" else blk2.max(axis=0)
            elif reducer == "mode":
                for ci in range(blk2.shape[1] if rest else 1):
                    col = blk2[:, ci] if rest else blk2.ravel()
                    counts = np.bincount(col, minlength=256)
                    if rest:
                        out[i, j, ci] = counts.argmax()
                    else:
                        out[i, j] = counts.argmax()
    return out


@pytest.mark.parametrize("reducer", REDUCERS)
@pytest.mark.parametrize("shape", [(8, 8), (7, 9), (257, 255), (5, 5)])
def test_block_reduce_matches_naive(reducer, shape):
    rng = np.random.RandomState(hash((reducer, shape)) % 2**31)
    a = rng.randint(0, 256, size=shape).astype(np.uint8)
    got = block_reduce(a, reducer)
    want = naive_block_reduce(a, reducer, 2)
    np.testing.assert_allclose(got, want)
    assert got.shape == (-(-shape[0] // 2), -(-shape[1] // 2))


def test_sum_of_ones_is_4_then_16():
    # reference test/runtests.jl:162-163,181: sum pyramid of ones
    ones = np.ones((2048, 1024, 3), dtype=np.float64)
    l1 = block_reduce(ones, "sum")
    assert l1.shape == (1024, 512, 3)
    assert l1[0, 0, 0] == 4
    l2 = block_reduce(l1, "sum")
    assert l2[0, 0, 0] == 16  # recursive compounding


def test_mean_of_constant_is_constant_every_level():
    # reference test/runtests.jl:176-180
    a = np.full((100, 80), 7.0)
    for _ in range(3):
        a = block_reduce(a, "mean")
        assert np.all(a == 7.0)


def test_extra_dims_pass_through():
    # (2048,1024,3) -> top level (256,128,3), ref test/runtests.jl:145-166
    a = np.ones((2048, 1024, 3), dtype=np.float32)
    out = a
    for _ in range(3):
        out = block_reduce(out, "mean")
    assert out.shape == (256, 128, 3)


def test_ragged_edge_mean_divides_by_clipped_count():
    # mean of a 1x2 edge block divides by 2, not 4 (ref :177-182)
    a = np.array([[2.0, 4.0, 8.0], [6.0, 8.0, 100.0]])
    out = block_reduce(a, "mean")
    assert out.shape == (1, 2)
    assert out[0, 0] == 5.0
    assert out[0, 1] == 54.0  # (8+100)/2


def test_nan_skipmissing_semantics():
    a = np.array([[1.0, np.nan], [3.0, np.nan]])
    assert block_reduce(a, "mean")[0, 0] == 2.0
    assert block_reduce(a, "min")[0, 0] == 1.0
    assert block_reduce(a, "sum")[0, 0] == 4.0
    allnan = np.full((2, 2), np.nan)
    assert np.isnan(block_reduce(allnan, "mean")[0, 0])


def test_mode_tiebreak_lowest_value():
    # findmax-first semantics (ref src/PyramidScheme.jl:272)
    a = np.array([[5, 9], [9, 5]], dtype=np.uint8)
    assert block_reduce(a, "mode")[0, 0] == 5
    b = np.array([[200, 3], [3, 200]], dtype=np.uint8)
    assert block_reduce(b, "mode")[0, 0] == 3
    assert block_reduce(a, "mode").dtype == np.uint8


def test_mode_direct_vs_recursive_differ():
    # the reference's median/mode caveat (ref :192-193): direct != mode-of-modes
    rng = np.random.RandomState(0)
    a = rng.randint(0, 4, size=(16, 16)).astype(np.uint8)
    direct = reduce_direct(a, "mode", 2)
    recursive = block_reduce(block_reduce(a, "mode"), "mode")
    assert direct.shape == recursive.shape == (4, 4)
    want = naive_block_reduce(a, "mode", 4)
    np.testing.assert_array_equal(direct, want)


@pytest.mark.parametrize("fac", [2, 4, 8, 32])
def test_direct_factor_reduction(fac):
    a = image_pixels(3, 5)
    got = block_reduce(a.astype(np.float64), "mean", fac=fac)
    want = naive_block_reduce(a.astype(np.float64), "mean", fac)
    np.testing.assert_allclose(got, want)


def test_minmax_consistency_across_levels():
    # north-star correctness: level-L min >= level-(L+1) min etc. for min/max
    a = mosaic_pixels(G=2).astype(np.uint8)
    mn, mx = a, a
    for _ in range(3):
        mn = block_reduce(mn, "min")
        mx = block_reduce(mx, "max")
        assert mn.min() >= a.min() and mx.max() <= a.max()
    assert mn.min() == a.min() and mx.max() == a.max()


def test_codec_roundtrip():
    a = image_pixels(1, 2)
    buf = encode_tile(a)
    back = decode_tile(buf, 256, 256, "uint8")
    np.testing.assert_array_equal(a, back)
    f = block_reduce(a.astype(np.float64), "mean")
    back2 = decode_tile(encode_tile(f), 128, 128, "float64")
    np.testing.assert_array_equal(f, back2)
    c3 = np.dstack([a, a, a])
    np.testing.assert_array_equal(decode_tile(encode_tile(c3), 256, 256, "uint8", 3), c3)


def test_reducer_dtype_table():
    assert reducer_dtype("mean", "uint8") == "float64"
    assert reducer_dtype("mode", "uint8") == "uint8"
    assert reducer_dtype("min", "uint8") == "uint8"
    assert reducer_dtype("max", "float32") == "float32"
    assert reducer_dtype("sum", "uint8") == "int64"
    assert reducer_dtype("sum", "float32") == "float64"


def test_callable_digest_position_independent():
    """The identical reducer source hashes the same wherever it's defined
    (cloudpickle bytes embedded file/line and made pixel-identical pyramids
    compare unequal across scripts); different closure VALUES still hash
    differently (they change behavior)."""
    from pyramidscheme_jl_spark.functions.reducers import reducer_hash

    ns1, ns2 = {}, {}
    exec("f = lambda a: a.mean(axis=2)", ns1)
    exec("# padding\n# shifts\n# lines\nf = lambda a: a.mean(axis=2)", ns2)
    assert reducer_hash(ns1["f"]) == reducer_hash(ns2["f"])

    def make(z):
        return lambda a: a.mean(axis=2) * z

    assert reducer_hash(make(2)) != reducer_hash(make(3))
    # stable across calls in one process
    g = make(2)
    assert reducer_hash(g) == reducer_hash(g)
    # distinct from a named reducer
    assert reducer_hash(ns1["f"]) != reducer_hash("mean")


def _block_stack_oracle(a, reducer):
    """The block-stack formulas the ``fac == 2`` strided kernel replaces."""
    from pyramidscheme_jl_spark.functions.reducers import _blocks, _nan_block_stack, _pad_to_multiple

    with np.errstate(invalid="ignore"), warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        if reducer == "mean":
            return np.nanmean(_nan_block_stack(a, 2), axis=2)
        is_float = a.dtype.kind == "f"
        if reducer == "sum":
            work = a.astype(np.float64 if is_float else np.int64)
            if is_float:
                work = np.where(np.isnan(work), 0.0, work)
            return _blocks(_pad_to_multiple(work, 2, 0), 2).sum(axis=2)
        if is_float:
            b = _blocks(_pad_to_multiple(a, 2, np.nan), 2)
            return (np.nanmin if reducer == "min" else np.nanmax)(b, axis=2)
        info = np.iinfo(a.dtype)
        b = _blocks(_pad_to_multiple(a, 2, info.max if reducer == "min" else info.min), 2)
        return (np.min if reducer == "min" else np.max)(b, axis=2)


def _fuzz_array(rng, dtype, shape):
    if np.dtype(dtype).kind != "f":
        info = np.iinfo(dtype)
        return rng.integers(info.min, info.max, size=shape, dtype=dtype, endpoint=True)
    special = np.array([0.0, -0.0, 1.5, -2.25, np.inf, -np.inf, 3e30, np.nan, -np.nan])
    a = np.where(rng.random(shape) < 0.5, rng.normal(size=shape), rng.choice(special, size=shape))
    a = a.astype(dtype)
    a[rng.random(shape) < 0.15] = np.nan  # scattered NaN
    if a.shape[0] >= 2 and a.shape[1] >= 2:
        a[:2, :2] = np.nan  # one all-NaN block
    return a


@pytest.mark.parametrize("reducer", ["mean", "sum", "min", "max"])
@pytest.mark.parametrize("dtype", ["uint8", "uint16", "int32", "float32", "float64"])
def test_strided_kernel_byte_identical_to_block_stack(reducer, dtype):
    rng = np.random.default_rng(sum(map(ord, reducer + dtype)))
    shapes = [(8, 8), (2, 2), (7, 9), (1, 1), (1, 6), (5, 1), (0, 4), (33, 17), (6, 10, 3), (9, 7, 2)]
    shapes += [tuple(rng.integers(1, 40, size=2)) + ((3,) if i % 3 == 0 else ()) for i in range(40)]
    for shape in shapes:
        a = _fuzz_array(rng, dtype, shape)
        got, want = block_reduce(a, reducer), _block_stack_oracle(a, reducer)
        assert (got.dtype, got.shape) == (want.dtype, want.shape), shape
        assert got.tobytes() == want.tobytes(), (shape, a)


@pytest.mark.parametrize("reducer", ["mean", "sum"])
def test_strided_kernel_signed_zero(reducer):
    # numpy's 4-element sum starts from +0.0: an all -0.0 block gives +0.0
    a = np.full((4, 6), -0.0)
    for x in (a, a[:3, :5]):
        got = block_reduce(x, reducer)
        assert not np.signbit(got).any()
        assert got.tobytes() == _block_stack_oracle(x, reducer).tobytes()
