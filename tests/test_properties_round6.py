"""Property-based checks of the round-6 additions — driver-side (no
Spark session needed), so they exercise the codec/fingerprint math on
ARBITRARY inputs rather than the handful of fixtures:

* WAV 16-bit PCM encode→decode round-trips within quantization error
  for any mono/stereo float signal in [-1, 1];
* the acoustic fingerprint is unit-norm, fixed-size and
  volume-invariant for any non-silent signal;
* the Arrow pair-dot fold (`similarity._pair_dots`'s numpy loop) is
  bit-identical to a Python left fold — the exactness claim the
  oracle-hash equality rests on.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from knetminer_etl_spark.operators import multimodal as MM

_SETTINGS = dict(max_examples=30, deadline=None)

_signal = st.lists(
    st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
    min_size=1,
    max_size=400,
)


class TestWavRoundTrip:
    @given(xs=_signal, rate=st.sampled_from([8000, 16000, 44100]))
    @settings(**_SETTINGS)
    def test_mono_roundtrip_within_quantization(self, xs, rate):
        x = np.asarray(xs, dtype=np.float64)
        dec = MM.wav_samples(MM.wav_encode(x, rate))
        assert dec is not None
        y, r = dec
        assert r == rate and len(y) == len(x)
        assert float(np.abs(y - x).max()) <= 1.0 / 32768 + 1e-12

    @given(xs=_signal)
    @settings(**_SETTINGS)
    def test_stereo_mixes_to_channel_mean(self, xs):
        x = np.asarray(xs, dtype=np.float64)
        stereo = np.stack([x, -x], axis=1)  # channels cancel to ~0
        y, _ = MM.wav_samples(MM.wav_encode(stereo, 8000))
        assert float(np.abs(y).max()) <= 1.0 / 32768 + 1e-12

    @given(junk=st.binary(max_size=64))
    @settings(**_SETTINGS)
    def test_arbitrary_bytes_never_crash(self, junk):
        # decoder contract: None or a valid (samples, rate), never a raise
        out = MM.wav_samples(junk)
        assert out is None or (len(out) == 2 and out[1] > 0)


class TestFingerprintInvariants:
    @given(
        xs=st.lists(
            st.floats(
                min_value=-1.0, max_value=1.0, allow_nan=False, width=32
            ),
            min_size=20,
            max_size=400,
        ),
        gain=st.floats(min_value=0.0625, max_value=1.0, width=32),
        n_frames=st.sampled_from([4, 16]),
    )
    @settings(**_SETTINGS)
    def test_unit_norm_fixed_size_volume_invariant(self, xs, gain, n_frames):
        x = np.asarray(xs, dtype=np.float64)
        a = np.asarray(MM._audio_fp_one(x, n_frames))
        b = np.asarray(MM._audio_fp_one(gain * x, n_frames))
        assert len(a) == 2 * n_frames
        nrm = float(a @ a)
        assert nrm == 0.0 or abs(nrm - 1.0) < 1e-9
        if float(np.abs(x).max()) > 0:
            # same direction under pure gain (rms block normalized,
            # zcr unchanged by positive scaling)
            assert float(np.abs(a - b).max()) < 1e-9


class TestPairDotExactness:
    @given(
        vecs=st.lists(
            st.tuples(
                st.lists(
                    st.floats(
                        min_value=-10, max_value=10, allow_nan=False, width=32
                    ),
                    min_size=4,
                    max_size=4,
                ),
                st.lists(
                    st.floats(
                        min_value=-10, max_value=10, allow_nan=False, width=32
                    ),
                    min_size=4,
                    max_size=4,
                ),
            ),
            min_size=1,
            max_size=16,
        )
    )
    @settings(**_SETTINGS)
    def test_batched_fold_equals_python_left_fold(self, vecs):
        """The numpy per-dimension accumulation inside _pair_dots must
        reproduce the sequential ((0 + a0*b0) + a1*b1) + ... left fold
        BITWISE — this is what keeps the Arrow verification path
        hash-identical to the aggregate/zip_with expression and to
        DuckDB's list_reduce."""
        X = np.asarray([a for a, _ in vecs], dtype=np.float64)
        Y = np.asarray([b for _, b in vecs], dtype=np.float64)
        acc = np.zeros(X.shape[0])
        for d in range(X.shape[1]):
            acc += X[:, d] * Y[:, d]
        for i, (a, b) in enumerate(vecs):
            ref = 0.0
            for u, v in zip(a, b):
                ref += float(np.float64(u)) * float(np.float64(v))
            assert acc[i] == ref  # bitwise, not approx
