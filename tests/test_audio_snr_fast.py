"""snr_db_periodic (tile-free, chunk-accumulated) must agree with the old
full-tile snr_db path — VERDICT r04 #2 required same verdicts on the
fixture corpus, with the periodic path touching ~1/3 the bytes."""

import numpy as np
import pytest

from json_skema_spark.functions import audio


def _old_snr(i, sr, dur_ms, sig):
    ref = audio.synth_reference_signal(i, sr, dur_ms, max_samples=len(sig),
                                       dtype=np.float32)
    return audio.snr_db(ref, sig)


def _new_snr(i, sr, dur_ms, sig):
    n_cmp = min(max(int(round(sr * dur_ms / 1000.0)), 1), len(sig))
    base_n = min(n_cmp, sr)
    one = audio.synth_reference_signal(i, sr, dur_ms, max_samples=base_n,
                                       dtype=np.float32).astype(np.float64)
    return audio.snr_db_periodic(one, sig[:n_cmp])


@pytest.mark.parametrize("i,sr,dur_ms", [
    (0, 8000, 500),     # sub-period clip
    (5, 16000, 1000),   # exactly one period
    (7, 16000, 1700),   # period + partial tile
    (13, 16000, 3000),  # multiple tiles
    (3, 22050, 2450),   # non-power-of-two sr, partial tail
])
def test_periodic_snr_matches_tiled_snr_through_pcm16(i, sr, dur_ms):
    # round-trip through the real encode/decode: quantization noise is the
    # signal the check measures
    full = audio.synth_reference_signal(i, sr, dur_ms)
    buf = audio.encode_wav_pcm16(full, sr)
    sig, dec_sr, err = audio.decode_wav_pcm16(buf)
    assert err == "" and dec_sr == sr
    old = _old_snr(i, sr, dur_ms, sig)
    new = _new_snr(i, sr, dur_ms, sig)
    # the raw int16 samples, converted chunk-wise: bit-identical
    s16 = audio._parse_wav_pcm16(buf)[0]
    assert s16.dtype == np.int16
    assert _new_snr(i, sr, dur_ms, s16) == new
    # noise samples identical; power sums differ only in summation order
    assert new == pytest.approx(old, abs=1e-6)
    assert (new >= 30.0) == (old >= 30.0)
    assert new >= 30.0  # the fixture invariant itself


def test_periodic_snr_decoded_shorter_than_claimed():
    # decoded holds only a prefix of the claimed duration: both paths
    # compare the common prefix
    sr, dur = 8000, 2000
    full = audio.synth_reference_signal(2, sr, dur)
    sig, _, _ = audio.decode_wav_pcm16(
        audio.encode_wav_pcm16(full[: sr // 2], sr))
    assert _new_snr(2, sr, dur, sig) == pytest.approx(
        _old_snr(2, sr, dur, sig), abs=1e-6)


def test_periodic_snr_decoded_longer_than_claimed():
    # claimed 250 ms, decoded 1 s: comparison truncates to the claim
    sr = 8000
    full = audio.synth_reference_signal(2, sr, 1000)
    buf = audio.encode_wav_pcm16(full, sr)
    sig, _, _ = audio.decode_wav_pcm16(buf)
    assert _new_snr(2, sr, 250, sig) == pytest.approx(
        _old_snr(2, sr, 250, sig), abs=1e-6)
    s16 = audio._parse_wav_pcm16(buf)[0]
    assert _new_snr(2, sr, 250, s16) == _new_snr(2, sr, 250, sig)


def test_periodic_snr_edge_values():
    one = np.zeros(4)
    assert audio.snr_db_periodic(one, np.array([])) == float("-inf")
    # zero noise -> +inf
    sig = audio.synth_reference_signal(1, 100, 1000).astype(np.float64)
    assert audio.snr_db_periodic(sig[:100], sig) == float("inf")
    # zero signal power with nonzero noise -> -inf
    assert audio.snr_db_periodic(np.zeros(8), np.ones(16)) == float("-inf")


def test_mismatched_signal_still_fails(spark):
    """Corrupt audio must still be caught through the full Spark path."""
    wrong = audio.synth_reference_signal(9, 8000, 500) * 0.3 + 0.1
    good = audio.synth_reference_signal(0, 8000, 500)
    rows = [
        ("clip_000000000000", "pcm_s16le",
         audio.encode_wav_pcm16(good, 8000), 8000, 500, "t"),
        ("clip_000000000001", "pcm_s16le",
         audio.encode_wav_pcm16(wrong, 8000), 8000, 500, "t"),
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, codec string, bytes binary, sr_hz int, "
              "dur_ms int, transcript string")
    out = {r.clip_id: r for r in audio.pcm_invariant_check(df).collect()}
    assert out["clip_000000000000"].invariant_ok
    assert out["clip_000000000000"].snr_db >= 30
    assert not out["clip_000000000001"].invariant_ok
    assert out["clip_000000000001"].snr_db < 30


def test_periodic_snr_empty_reference():
    import numpy as np
    assert audio.snr_db_periodic(np.array([]), np.ones(8)) == float("-inf")
