"""Vectorized block reducers — the heart of the engine (SURVEY.md §2.3).

Re-implements the semantics of the reference's ``aggregate_by_factor``
(/root/reference/src/PyramidScheme.jl:165-185): factor-``fac`` block
reduction where ragged edge blocks are *clipped* (a 1x2 edge block's mean
divides by 2, not 4 — src/PyramidScheme.jl:177-182), plus the reducer set:

- mean  == ``mean ∘ skipmissing`` default (src/PyramidScheme.jl:42) -> NaN-aware
- sum   (test/runtests.jl:157,162-163)
- min / max (generic ``resampling_method``, src/PyramidScheme.jl:42,353)
- mode  == ``ESALCMode`` 256-bin categorical mode with lowest-value tie-break
          (``findmax`` returns the first maximum — src/PyramidScheme.jl:256-274)
- median (non-decomposable; the reference's canonical example of why the
          recursive/direct distinction exists, src/PyramidScheme.jl:192-193)

**Bring-your-own reducer**: the reference accepts any ``Matrix -> scalar``
callable as ``resampling_method`` (src/PyramidScheme.jl:42,353). Here a
callable reducer receives the *block-stacked* array — shape
``(h', w', fac*fac, *bands)``, float64, with NaN marking both missing
pixels and the pad slots of clipped ragged-edge blocks — and must reduce
``axis=2`` (e.g. ``lambda b: np.nanmedian(b, axis=2)``). That keeps user
reducers whole-array-vectorized instead of per-block Python calls, which is
the difference between usable and unusable inside Arrow-batched UDFs.
Callables are treated as non-decomposable unless they set
``fn.decomposable = True``. On a real cluster the callable must be
picklable (module-level function); local-mode cloudpickle also takes
lambdas/closures.

All reducers are whole-array numpy (no Python loops over pixels) so they run
inside Arrow-batched pandas UDFs at full vector speed.

**The 2x2 kernel.** Every pyramid level runs ``fac == 2``, so mean/sum/
min/max there skip the float64 block stack and combine the four strided
views ``a[0::2,0::2]``, ``a[0::2,1::2]``, ``a[1::2,0::2]``, ``a[1::2,1::2]``
(one windowed pass, like the reference's ``aggregate_by_factor``) —
byte-identical to the block-stack formulas, ~10x faster. Bit-exactness
fixes the op order: sums are ``(((0.0 + v0) + v1) + v2) + v3``, numpy's
own order for 4 elements (the leading ``0.0 +`` turns -0.0 into +0.0);
the NaN-aware mean is ``Σ where(~isnan, v, 0)`` over the NaN-padded views
divided by the integer count, and a plain sum / 4 is taken only for an
unpadded input with no NaN; float min/max chain ``np.fmin``/``np.fmax``
(``nanmin`` is ``fmin.reduce``), integer ones ``np.minimum``/``np.maximum``.
The block stack still serves ``fac > 2`` (numpy sums 16+ elements
pairwise, which strided adds would not reproduce bit for bit), median,
mode and callables.
"""

from __future__ import annotations

import hashlib
import warnings

import numpy as np

REDUCERS = ("mean", "min", "max", "sum", "mode", "median")

#: named reducers where reduce-of-reduce == reduce (safe to build level z
#: from level z-1); everything else needs the direct path for exactness
DECOMPOSABLE = frozenset({"mean", "min", "max", "sum"})


def reducer_name(reducer) -> str:
    """Printable/storable name for a named or callable reducer."""
    if callable(reducer):
        return getattr(reducer, "__name__", type(reducer).__name__)
    return str(reducer)


def is_decomposable(reducer) -> bool:
    """Can level z be built from level z-1 exactly? Callables opt in via a
    ``decomposable = True`` attribute; default is the safe False (the
    reference's median caveat, src/PyramidScheme.jl:192-193)."""
    if callable(reducer):
        return bool(getattr(reducer, "decomposable", False))
    return reducer in DECOMPOSABLE


def _stable_repr(v) -> str:
    """repr that never embeds a memory address (default object reprs would
    make the digest change every process, forcing spurious rebuilds)."""
    r = repr(v)
    return f"<{type(v).__name__}>" if " at 0x" in r else r


def _norm_const(c):
    """Normalize a code const to a position-independent token — repr of a
    nested code object embeds its file/line, which would change the hash
    when unrelated edits shift the definition."""
    import types

    if isinstance(c, types.CodeType):
        return (
            "code",
            c.co_code,
            tuple(_norm_const(x) for x in c.co_consts),
            c.co_names,
        )
    return _stable_repr(c)


def _callable_digest(reducer) -> str:
    """Content digest for a callable reducer. ``__name__`` alone is not
    identity (every lambda is ``'<lambda>'`` — ADVICE r2: resume=True could
    skip levels committed by a *different* callable with the same name).
    The digest hashes behavior, not position: bytecode + normalized consts
    + closure cell values + defaults — NOT cloudpickle bytes, whose
    embedded filename/line numbers made the identical source hash
    differently across definition sites (so pixel-identical pyramids
    compared unequal and resume=True rebuilt committed levels after any
    edit shifted a lambda's line). Digest differences only ever force a
    rebuild, never skip one."""
    code = getattr(reducer, "__code__", None)
    if code is not None:
        parts = [
            code.co_code,
            repr(tuple(_norm_const(c) for c in code.co_consts)).encode(),
            repr(code.co_names).encode(),
        ]
        try:
            cells = [c.cell_contents for c in (reducer.__closure__ or ())]
            parts.append(repr([_stable_repr(v) for v in cells]).encode())
        except ValueError:  # unresolved cell (building its own closure)
            parts.append(b"<unresolved-cells>")
        parts.append(
            repr([_stable_repr(v) for v in (reducer.__defaults__ or ())]).encode()
        )
        return hashlib.sha256(b"|".join(parts)).hexdigest()[:12]
    # non-function callables (partials, class instances): cloudpickle, repr
    try:
        from pyspark import cloudpickle

        return hashlib.sha256(cloudpickle.dumps(reducer)).hexdigest()[:12]
    except Exception:
        return hashlib.sha256(repr(reducer).encode()).hexdigest()[:12]


def reducer_hash(reducer, factor: int = 2) -> str:
    """Stable hash of the reducer config, stored in lineage rows (north
    rule). Named reducers hash by name (stable across sessions); callables
    additionally hash their code so two different functions that happen to
    share a ``__name__`` get distinct lineage."""
    name = reducer_name(reducer)
    if callable(reducer) and not isinstance(reducer, str):
        name = f"{name}#{_callable_digest(reducer)}"
    return hashlib.sha256(f"{name}|factor={factor}|v1".encode()).hexdigest()[:16]


def _pad_to_multiple(a: np.ndarray, fac: int, fill) -> np.ndarray:
    """Pad the two leading (spatial) dims up to a multiple of ``fac``."""
    h, w = a.shape[0], a.shape[1]
    ph = (-h) % fac
    pw = (-w) % fac
    if ph == 0 and pw == 0:
        return a
    pad = [(0, ph), (0, pw)] + [(0, 0)] * (a.ndim - 2)
    return np.pad(a, pad, mode="constant", constant_values=fill)


def _blocks(a: np.ndarray, fac: int) -> np.ndarray:
    """(H, W, ...) -> (H//fac, W//fac, fac*fac, ...) block view (H,W multiples)."""
    h, w = a.shape[0], a.shape[1]
    rest = a.shape[2:]
    b = a.reshape(h // fac, fac, w // fac, fac, *rest)
    b = np.moveaxis(b, 2, 1)  # (h', w', fac, fac, ...)
    return b.reshape(h // fac, w // fac, fac * fac, *rest)


def _nan_block_stack(a: np.ndarray, fac: int) -> np.ndarray:
    """Float64 block stack ``(h', w', fac*fac, *bands)`` with NaN pad slots —
    the input contract for callable reducers and the NaN-aware named ones."""
    work = _pad_to_multiple(a.astype(np.float64, copy=False), fac, np.nan)
    return _blocks(work, fac)


def _quads(a: np.ndarray):
    """The four strided corner views of an even-shaped array, in block-stack
    order: block element k of ``_blocks(a, 2)`` is view k here."""
    return a[0::2, 0::2], a[0::2, 1::2], a[1::2, 0::2], a[1::2, 1::2]


def _add4(views) -> np.ndarray:
    """``(((0.0 + v0) + v1) + v2) + v3`` in float64 — numpy's own order for a
    4-element ``sum``/``nanmean``; the leading ``0.0 +`` turns -0.0 into +0.0."""
    v0, v1, v2, v3 = views
    tot = np.add(v0, 0.0, dtype=np.float64)
    with np.errstate(invalid="ignore"):  # inf + -inf -> NaN, as numpy's sum
        for v in (v1, v2, v3):
            np.add(tot, v, out=tot)
    return tot


def _chain(op, views, dtype=None) -> np.ndarray:
    """``((v0 op v1) op v2) op v3`` — a 4-element reduce's left-to-right order."""
    v0, v1, v2, v3 = views
    out = op(v0, v1, dtype=dtype)
    for v in (v2, v3):
        op(out, v, out=out, dtype=dtype)
    return out


def _reduce2(a: np.ndarray, reducer: str) -> np.ndarray:
    """``fac == 2`` mean/sum/min/max from the four strided views, byte-identical
    to the block-stack path (module docstring)."""
    is_float = np.issubdtype(a.dtype, np.floating)
    if reducer in ("min", "max"):
        if is_float:  # nanmin/nanmax are fmin/fmax.reduce
            op, fill = (np.fmin if reducer == "min" else np.fmax), np.nan
        else:
            info = np.iinfo(a.dtype)
            op, fill = (np.minimum, info.max) if reducer == "min" else (np.maximum, info.min)
        return _chain(op, _quads(_pad_to_multiple(a, 2, fill)))
    if reducer == "sum" and not is_float:
        return _chain(np.add, _quads(_pad_to_multiple(a, 2, 0)), np.int64)
    # NaN propagates through +, so a NaN-free plain sum proves a NaN-free input
    if a.shape[0] % 2 == 0 and a.shape[1] % 2 == 0:
        tot = _add4(_quads(a))
        if not (is_float and np.isnan(tot).any()):
            return np.true_divide(tot, 4, out=tot) if reducer == "mean" else tot
    # NaN-aware: Σ where(~isnan, v, 0) over the NaN-padded views, / int count
    v = _quads(_pad_to_multiple(a.astype(np.float64, copy=False), 2, np.nan))
    ok = [~np.isnan(x) for x in v]
    tot = _add4([np.where(m, x, 0.0) for m, x in zip(ok, v)])
    if reducer == "sum":
        return tot
    cnt = _chain(np.add, ok, np.intp)
    with np.errstate(invalid="ignore"):  # all-NaN block: 0/0 -> NaN
        return np.true_divide(tot, cnt, out=tot)


def block_reduce(a: np.ndarray, reducer, fac: int = 2) -> np.ndarray:
    """Reduce spatial blocks of ``fac x fac`` over the first two dims.

    ``reducer`` is a registry name or a callable over the NaN-padded block
    stack (module docstring). Output shape ``(ceil(h/fac), ceil(w/fac),
    *rest)`` — ceil semantics with clipped (not padded-with-values) edge
    blocks, matching ``aggregate_by_factor``'s ``min(size, i*fac)`` clipping
    (ref :180-181). Extra trailing dims (bands) pass through unaggregated
    (ref test/runtests.jl:145-166).

    NaN handling: float inputs treat NaN as missing (``skipmissing``); an
    all-NaN block yields NaN for mean/min/max/median and 0 for sum.
    """
    if a.ndim < 2:
        raise ValueError("block_reduce needs >= 2 spatial dims")
    if callable(reducer):
        b = _nan_block_stack(a, fac)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            out = np.asarray(reducer(b))
        if out.shape[:2] != b.shape[:2]:
            raise ValueError(
                f"callable reducer returned shape {out.shape}, expected leading "
                f"dims {b.shape[:2]} (reduce axis=2 of the block stack)"
            )
        return out
    if reducer not in REDUCERS:
        raise KeyError(f"unknown reducer {reducer!r}")
    if reducer == "mode":
        return _block_mode(a, fac)
    if fac == 2 and reducer in DECOMPOSABLE:
        return _reduce2(a, reducer)

    is_float = np.issubdtype(a.dtype, np.floating)
    if reducer in ("mean", "median"):
        b = _nan_block_stack(a, fac)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)  # all-NaN block -> NaN
            return (np.nanmean if reducer == "mean" else np.nanmedian)(b, axis=2)
    if reducer == "sum":
        out_dtype = np.float64 if is_float else np.int64
        work = a.astype(out_dtype, copy=False)
        if is_float:
            work = np.where(np.isnan(work), 0.0, work)
        work = _pad_to_multiple(work, fac, 0)
        return _blocks(work, fac).sum(axis=2)
    # min / max: pad with identity element so clipped blocks are unaffected
    if is_float:
        work = _pad_to_multiple(a, fac, np.nan)
        b = _blocks(work, fac)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)  # all-NaN block -> NaN
            return (np.nanmin if reducer == "min" else np.nanmax)(b, axis=2)
    info = np.iinfo(a.dtype)
    fill = info.max if reducer == "min" else info.min
    work = _pad_to_multiple(a, fac, fill)
    b = _blocks(work, fac)
    return (np.min if reducer == "min" else np.max)(b, axis=2)


def _block_mode(a: np.ndarray, fac: int) -> np.ndarray:
    """256-bin categorical block mode, ties -> lowest value (ESALCMode parity).

    Vectorized via one ``bincount`` over (block_index * nbins + value); pad
    entries use bin 256 which is sliced away before the argmax, so clipped
    edge blocks count only their real pixels. ``argmax`` returns the first
    (lowest-value) maximum, matching Julia ``findmax``
    (src/PyramidScheme.jl:272).
    """
    if not np.issubdtype(a.dtype, np.integer):
        raise TypeError("mode reducer requires an integer (categorical) dtype")
    if a.min(initial=0) < 0 or a.max(initial=0) > 255:
        raise ValueError("mode reducer supports the 0..255 categorical range")
    squeeze = False
    if a.ndim == 2:
        a = a[:, :, None]
        squeeze = True
    h, w, c = a.shape[0], a.shape[1], int(np.prod(a.shape[2:]))
    a3 = a.reshape(h, w, c).astype(np.int64, copy=False)
    work = _pad_to_multiple(a3, fac, 256)  # 256 = excluded pad bin
    b = _blocks(work, fac)  # (h', w', fac*fac, c)
    hh, ww = b.shape[0], b.shape[1]
    # -> (nblocks, fac*fac) per channel, one bincount for everything
    vals = np.moveaxis(b, 3, 2).reshape(-1, fac * fac)  # (h'*w'*c, fac*fac)
    nb = vals.shape[0]
    flat = (np.arange(nb, dtype=np.int64)[:, None] * 257 + vals).ravel()
    counts = np.bincount(flat, minlength=nb * 257).reshape(nb, 257)[:, :256]
    out = counts.argmax(axis=1).astype(np.uint8).reshape(hh, ww, *a.shape[2:])
    return out[:, :, 0] if squeeze else out


def reduce_direct(a: np.ndarray, reducer: str, z: int) -> np.ndarray:
    """Direct (non-recursive) reduction: one ``2^z x 2^z`` block per output px.

    The reference's ``recursive=false`` path (src/PyramidScheme.jl:189-203),
    required for non-decomposable reducers (mode/median caveat, ref :192-193).
    """
    return block_reduce(a, reducer, fac=1 << z)
