"""Property-based tests (hypothesis) for the pure numpy/python kernels —
the pieces whose algebra the Spark operators lean on. No SparkSession:
each property runs hundreds of examples, so these stay driver-side fast.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from pyanomalydetector2_spark.operators.drift import EPS, psi_ks
from pyanomalydetector2_spark.operators.image_codec import (
    decode_bmp,
    decode_png,
    encode_bmp,
    encode_png,
)

counts = arrays(
    np.int64, st.integers(2, 24), elements=st.integers(0, 10_000)
)


@given(counts, counts)
@settings(max_examples=200, deadline=None)
def test_psi_nonnegative_ks_bounded(cur, base):
    """PSI = Σ(p−q)·ln(p/q) ≥ 0 for any histograms (both factors share
    sign); KS is a CDF-difference sup → [0, 1]. These invariants are what
    let drift_scores_df read PSI off a running max."""
    if len(cur) != len(base):
        m = min(len(cur), len(base))
        cur, base = cur[:m], base[:m]
    psi, ks = psi_ks(cur, base)
    assert psi >= 0.0
    assert 0.0 <= ks <= 1.0 + 1e-12


@given(counts)
@settings(max_examples=100, deadline=None)
def test_psi_ks_identity_is_zero(c):
    psi, ks = psi_ks(c, c)
    assert abs(psi) < 1e-12 and abs(ks) < 1e-12


@given(counts, counts, st.integers(1, 7))
@settings(max_examples=100, deadline=None)
def test_psi_running_sum_max_equals_total(cur, base, _seed):
    """The distributed engine reports PSI as max(running sum of terms) —
    valid iff every term is non-negative; check term-wise."""
    if len(cur) != len(base):
        m = min(len(cur), len(base))
        cur, base = cur[:m], base[:m]
    p = cur / max(cur.sum(), 1) + EPS
    q = base / max(base.sum(), 1) + EPS
    terms = (p - q) * np.log(p / q)
    assert (terms >= -1e-18).all()
    run = np.cumsum(terms)
    assert np.isclose(run.max(), terms.sum(), rtol=1e-12, atol=1e-15)


@given(
    arrays(
        np.uint8,
        st.tuples(st.integers(1, 12), st.integers(1, 12), st.just(3)),
        elements=st.integers(0, 255),
    )
)
@settings(max_examples=60, deadline=None)
def test_bmp_roundtrip_any_shape(img):
    assert np.array_equal(decode_bmp(encode_bmp(img)), img)


@given(
    arrays(
        np.uint8,
        st.tuples(st.integers(1, 10), st.integers(1, 10), st.sampled_from([1, 2, 3, 4])),
        elements=st.integers(0, 255),
    ),
    st.integers(0, 4),
)
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_any_shape_any_filter(img, filter_type):
    assert np.array_equal(decode_png(encode_png(img, filter_type)), img)


@given(st.lists(st.integers(0, (1 << 30) - 1), min_size=1, max_size=50))
@settings(max_examples=100, deadline=None)
def test_minhash_mix_is_order_invariant_min(h30s):
    """Per-slot MinHash = min over affine mixes — permutation invariant and
    monotone under set union (the algebraic facts the one-groupBy
    implementation relies on)."""
    from pyanomalydetector2_spark.operators.dedup import (
        MH_PRIME,
        minhash_mix_consts,
    )

    consts = minhash_mix_consts(4)
    sig = [min((a * h + b) % MH_PRIME for h in h30s) for a, b in consts]
    sig_rev = [min((a * h + b) % MH_PRIME for h in reversed(h30s)) for a, b in consts]
    assert sig == sig_rev
    # union can only lower each slot
    sig_union = [
        min((a * h + b) % MH_PRIME for h in h30s + [12345])
        for a, b in consts
    ]
    assert all(u <= s for u, s in zip(sig_union, sig))


@given(
    arrays(
        np.int16,
        st.integers(1, 600),
        elements=st.integers(-32768, 32767),
    ),
    st.booleans(),
    st.sampled_from([1, 2]),
)
@settings(max_examples=60, deadline=None)
def test_flac_roundtrip_any_signal(pcm, rice, nchan):
    """FLAC is lossless: ANY int16 signal, mono or stereo, escape- or
    rice-coded, must round-trip to exact equality (and pass the decoder's
    CRC + STREAMINFO-MD5 verification on the way)."""
    from pyanomalydetector2_spark.operators.flac_codec import (
        decode_flac,
        encode_flac,
    )

    x = pcm.astype(np.int64)
    if nchan == 2:
        x = np.stack([x, x[::-1]], axis=1)
    dec, rate = decode_flac(encode_flac(x, 22050, rice=rice))
    assert rate == 22050
    assert np.array_equal(dec, x if nchan == 2 else x[:, None])


@given(
    st.lists(st.binary(min_size=0, max_size=700), min_size=1, max_size=5),
    st.integers(0, 2**62),
)
@settings(max_examples=60, deadline=None)
def test_ogg_page_roundtrip_any_packets(packets, granule):
    """Any packet list (including empty packets and 255-multiples) survives
    the lacing round-trip with CRC verification intact."""
    from pyanomalydetector2_spark.operators.ogg_opus import read_pages, write_page

    page = write_page(3, 0, granule, packets)
    [(hdr, got)] = list(read_pages(page))
    assert got == packets and hdr["granule"] == granule


@given(st.binary(min_size=1, max_size=3000))
@settings(max_examples=60, deadline=None)
def test_mp3_shell_roundtrip_any_payload(data):
    """The MPEG shell writer + frame walk round-trips arbitrary payload
    bytes (prefix equality; the tail is declared zero padding)."""
    from pyanomalydetector2_spark.operators.mp3_frames import (
        encode_mp3_shell,
        frame_payload_bytes,
        mp3_info,
    )

    payload = encode_mp3_shell(data)
    assert frame_payload_bytes(payload)[: len(data)] == data
    assert mp3_info(payload)["cbr"]


@given(
    st.lists(
        st.floats(-1e12, 1e12, allow_nan=False, allow_infinity=False, width=64),
        min_size=1,
        max_size=4000,
    ),
    st.integers(8, 64),
    st.integers(1, 9),
)
@settings(max_examples=60, deadline=None)
def test_kll_weight_conserved_and_rank_bounded_any_input(vals, k, nsplit):
    """For ANY input, ANY capacity, ANY merge split: the sketch's total
    weight equals the true count exactly (weight-conserving compaction) and
    every quantile answer is a real input value within the worst-case rank
    bound — including adversarial orders, duplicates, and tiny k."""
    from pyanomalydetector2_spark.operators.kll import _error_bound, _Sketch

    arr = np.asarray(vals, dtype=np.float64)
    parts = np.array_split(arr, nsplit)
    acc = _Sketch(k)
    for p in parts:
        sk = _Sketch(k)
        sk.add(p)
        acc.merge(sk)
    assert acc.total_weight() == acc.n == len(arr)
    s = np.sort(arr)
    bound = _error_bound(len(arr), k)
    for q in (0.0, 0.25, 0.5, 0.75, 1.0):
        est = acc.quantiles([q])[0]
        # the estimate is always a genuine stream element
        assert est in s
        lo = np.searchsorted(s, est, side="left")
        hi = np.searchsorted(s, est, side="right")
        target = q * len(arr)
        err = 0.0 if lo <= target <= hi else min(abs(lo - target), abs(hi - target))
        assert err / len(arr) <= bound
