"""The decoder registries' dispatch contract (the seam through which a
deployment or a test plugs in a codec) and the audio violations path's
opt-in gates."""

from json_skema_spark.functions import audio as audio_fn
from json_skema_spark.functions import media as media_fn


def test_decoder_snapshot_carries_known_set():
    """Review r04: an executor dispatching with the UDF closure's snapshot
    must give the same verdict as the live registry. A registered codec
    rides the snapshot; a codec without a decoder is codec_not_supported
    iff it is built in, on either side."""
    def fake(buf):
        return None, 0, "nope"

    audio_fn.register_decoder("mp3", fake)
    try:
        snap = audio_fn._decoder_snapshot()
    finally:
        audio_fn.unregister_decoder("mp3")
    # simulate the executor: dispatch with the snapshot only
    assert audio_fn._decode_with(snap, "mp3", b"x")[2] == "nope"
    for codec, err in (("mp3", "unknown_codec:mp3"),
                       ("flac", "codec_not_supported:flac"),
                       ("xyz", "unknown_codec:xyz")):
        assert audio_fn._decode_with(audio_fn._DECODERS, codec,
                                     b"x")[2] == err
        assert audio_fn._decode_with(audio_fn._decoder_snapshot(), codec,
                                     b"x")[2] == err

    media_fn.register_image_decoder("tiff", lambda b: (None, "nope"))
    try:
        media_fn.unregister_image_decoder("tiff")
        msnap = media_fn._image_decoder_snapshot()
        _img, err = media_fn._decode_image(msnap, "tiff", b"x")
        assert err == "unknown_codec:tiff"
    finally:
        media_fn.unregister_image_decoder("tiff")
    # a built-in codec without a decoder stays known
    _img, err = media_fn._decode_image(media_fn._image_decoder_snapshot(),
                                       "jpeg", b"x")
    assert err == "codec_not_supported:jpeg"


def test_audio_violations_forwards_invariant_kwargs(spark):
    """Review r04: the production violations path must be able to enable
    the opt-in duration gate."""
    import numpy as np
    sr, dur_ms = 16000, 1000
    # synthesize a clip whose payload holds only HALF the claimed duration
    n = sr * dur_ms // 1000 // 2
    sig = np.sin(2 * np.pi * 440.0 * np.arange(n) / sr) * 0.5
    from json_skema_spark.functions.audio import encode_wav_pcm16
    wav = encode_wav_pcm16(sig, sr)
    df = spark.createDataFrame(
        [("clip_truncated00", bytearray(wav), sr, dur_ms, "pcm_s16le", "t")],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string")
    # duration gate off: row's SNR is computed against the claimed
    # duration's reference -> decode_ok False anyway OR True; the point is
    # the gate FLAG must flow through, so compare both modes' error text
    viols_gated = audio_fn.audio_violations(df, check_duration=True)
    msgs = [r.message for r in viols_gated.collect()]
    assert msgs, "expected a violation for the truncated clip"
