"""Audio decode/SNR invariants + text-analysis functions + clips fixtures."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from json_skema_spark.functions import audio, text
from json_skema_spark.sources import clips


def test_wav_roundtrip():
    sig = audio.synth_reference_signal(5, 16000, 500)
    buf = audio.encode_wav_pcm16(sig, 16000)
    dec, sr, err = audio.decode_wav_pcm16(buf)
    assert err == "" and sr == 16000
    assert audio.snr_db(sig, dec) > 80  # 16-bit quantization noise only


def test_decode_rejects_garbage():
    assert audio.decode_wav_pcm16(b"notawav")[2] == "not_riff_wave"
    sig = audio.synth_reference_signal(1, 8000, 300)
    buf = audio.encode_wav_pcm16(sig, 8000)
    dec, _, err = audio.decode_wav_pcm16(buf[: len(buf) // 2])
    assert dec is None and err != ""


def test_clips_generation_deterministic(spark):
    a = clips.clips_df(spark, 50, partitions=2).collect()
    b = clips.clips_df(spark, 50, partitions=7).collect()  # partitioning-independent
    assert sorted(r.clip_id for r in a) == sorted(r.clip_id for r in b)
    assert {len(r) for r in a} == {6}


def test_pcm_invariant_on_clips(spark):
    df = clips.clips_df(spark, 120, inject=False)
    out = audio.pcm_invariant_check(df).collect()
    pcm = [r for r in out if r.error == ""]
    stubbed = [r for r in out if r.error.startswith("codec_not_supported")]
    assert len(pcm) + len(stubbed) >= len(out) - 2  # unknown codecs rare w/o inject
    assert all(r.invariant_ok and r.snr_db >= 30 for r in pcm)
    assert all(r.transcript_ok for r in out)


def test_audio_violations_fire_on_injected(spark):
    df = clips.clips_df(spark, 600, inject=True)
    v = audio.audio_violations(df)
    rows = v.collect()
    assert len(rows) > 0  # ~1% corrupt + stub codecs
    assert all(r.keyword == "format" for r in rows)


def test_decoder_registry_pins_integration_contract(spark):
    """A fake 'flac' decoder registered through the public registry must be
    dispatched inside the Arrow-batched UDF exactly like the built-in WAV
    path — this pins the signature the real pyflac/pyogg adapters would use
    (VERDICT r02 #7). Unregistering restores codec_not_supported."""
    def fake_flac(buf):
        # contract: (signal|None, sr_hz, error); decoder handles its own junk
        if not buf or not bytes(buf).startswith(b"fLaC"):
            return None, 0, "not_flac"
        sig = audio.synth_reference_signal(0, 8000, 200)
        return sig, 8000, ""

    good = b"fLaC" + b"\x00" * 16
    rows = [("clip_000000000000", "flac", bytearray(good), 8000, 200, "t"),
            ("clip_000000000001", "flac", bytearray(b"junk"), 8000, 200, "t")]
    schema = ("clip_id string, codec string, bytes binary, sr_hz int, "
              "dur_ms int, transcript string")
    df = spark.createDataFrame(rows, schema)

    audio.register_decoder("flac", fake_flac)
    try:
        out = {r.clip_id: r for r in audio.pcm_invariant_check(df).collect()}
        assert out["clip_000000000000"].invariant_ok
        assert out["clip_000000000000"].snr_db >= 30
        assert not out["clip_000000000001"].invariant_ok
        assert out["clip_000000000001"].error == "not_flac"

        # a decoder that raises is contained as a verdict, never a task kill
        audio.register_decoder("flac", lambda buf: 1 / 0)
        out2 = {r.clip_id: r for r in audio.pcm_invariant_check(df).collect()}
        assert all(not r.invariant_ok for r in out2.values())
        assert all(r.error.startswith("decode_error:") for r in out2.values())
    finally:
        audio.unregister_decoder("flac")

    out3 = {r.clip_id: r for r in audio.pcm_invariant_check(df).collect()}
    assert all(r.error == "codec_not_supported:flac" for r in out3.values())


@pytest.mark.parametrize("codec, bad_sr", [("srzero", 0), ("nonesr", None),
                                           ("negsr", -48000)])
def test_bad_decoder_rate_gets_one_verdict_per_row(spark, codec, bad_sr):
    """A registered decoder reporting sample rate 0, None or below 0 must
    leave each row with one verdict on the path runner.validate_table runs,
    never fail the task. The check falls back to the claimed rate."""
    ids = [f"clip_00000000000{i}" for i in range(3)]
    df = spark.createDataFrame(
        [(cid, codec, bytearray(b"xx"), 48000, 100, "t") for cid in ids],
        "clip_id string, codec string, bytes binary, sr_hz int, "
        "dur_ms int, transcript string")
    audio.register_decoder(codec, lambda buf: (np.zeros(4800), bad_sr, ""))
    try:
        checked = audio.pcm_invariant_check(df, check_duration=True).collect()
        viols = audio.audio_violations(df, check_duration=True).collect()
    finally:
        audio.unregister_decoder(codec)
    assert sorted(r.clip_id for r in checked) == ids
    assert sorted(r.row_key for r in viols) == ids
    for r in checked:
        # silence against the claimed 48 kHz reference: SNR is exactly
        # 0 dB, and 4800 samples at 48 kHz are the claimed 100 ms
        assert not r.invariant_ok
        assert r.snr_db == 0.0 and r.error == ""


def test_unregistered_codec_reads_unknown(spark):
    """Unregistering a custom codec makes it unknown again, while a
    built-in codec without a decoder stays codec_not_supported."""
    df = spark.createDataFrame(
        [("clip_000000000000", "x-test", bytearray(b"xx"), 8000, 100, "t"),
         ("clip_000000000001", "flac", bytearray(b"xx"), 8000, 100, "t")],
        "clip_id string, codec string, bytes binary, sr_hz int, "
        "dur_ms int, transcript string")
    audio.register_decoder("x-test", lambda buf: (None, 0, "nope"))
    audio.register_decoder("flac", lambda buf: (None, 0, "nope"))
    audio.unregister_decoder("x-test")
    audio.unregister_decoder("flac")
    assert {r.clip_id: r.error
            for r in audio.pcm_invariant_check(df).collect()} == {
        "clip_000000000000": "unknown_codec:x-test",
        "clip_000000000001": "codec_not_supported:flac"}
    snap = audio._decoder_snapshot()
    assert [audio._decode_with(snap, c, b"xx")[2]
            for c in ("x-test", "flac")] == [
        "unknown_codec:x-test", "codec_not_supported:flac"]


def test_transcript_mismatch_detected(spark):
    df = clips.clips_df(spark, 40, inject=False)
    ref = df.select("clip_id",
                    F.when(F.col("clip_id").endswith("1"), F.lit("DIFFERENT"))
                    .otherwise(F.col("transcript")).alias("transcript"))
    out = audio.pcm_invariant_check(df, ref_transcripts=ref).collect()
    bad = [r for r in out if not r.transcript_ok]
    assert all(r.clip_id.endswith("1") for r in bad) and bad


def test_token_counts(spark):
    df = spark.createDataFrame([("hello world  foo",), ("", ), ("a1 b2!",)],
                               "t string")
    got = df.select(text.token_count(F.col("t")).alias("n")).collect()
    assert [r.n for r in got] == [3, 0, 2]


def test_language_id(spark):
    df = spark.createDataFrame(
        [("the cat and the dog is in the house",),
         ("der Hund ist nicht mit der Katze",),
         ("xyzzy plugh",)], "t string")
    got = [r[0] for r in df.select(text.language_id(F.col("t"))).collect()]
    assert got == ["en", "de", "und"]


def test_quality_and_fingerprint(spark):
    df = spark.createDataFrame(
        [("This is a reasonably long sentence with normal words in it. " * 5,),
         ("!!!! ???? ;;;; ::::",)], "t string")
    q = [r[0] for r in df.select(text.quality_score(F.col("t"))).collect()]
    assert q[0] > q[1]
    fp = df.select(text.fingerprint(F.col("t")).alias("f")).collect()
    assert fp[0].f != fp[1].f
    # order sensitivity
    df2 = spark.createDataFrame([("a b c",), ("c b a",)], "t string")
    f2 = [r[0] for r in df2.select(text.fingerprint(F.col("t"))).collect()]
    assert f2[0] != f2[1]


def test_null_metadata_reported_not_raised(spark):
    """A dirty row (null dur_ms / sr_hz) must be *reported*, never abort the
    job: int(NaN) inside mapInPandas would kill every task (ADVICE r01)."""
    df = clips.clips_df(spark, 30, inject=False)
    dirty = df.select(
        "clip_id", "bytes",
        F.when(F.col("clip_id").endswith("2"), F.lit(None)).otherwise(F.col("sr_hz")).alias("sr_hz"),
        F.when(F.col("clip_id").endswith("1"), F.lit(None)).otherwise(F.col("dur_ms")).alias("dur_ms"),
        "codec", "transcript")
    out = audio.pcm_invariant_check(dirty).collect()
    assert len(out) == 30
    missing = [r for r in out if r.error == "missing_metadata"]
    # null dur_ms rows are unverifiable -> reported; null sr_hz rows still
    # verify via the decoded sample rate (dec_sr wins over claimed sr_hz)
    assert missing and all(not r.invariant_ok for r in missing)


def test_pii_scrub_and_counts(spark):
    df = spark.createDataFrame(
        [("a", "reach me at bob@x.org or 555-123-4567 via https://x.org/a"),
         ("b", "no pii here at all")], "id string, t string")
    u, e, p = text.pii_counts(F.col("t"))
    rows = {r.id: r for r in df.select(
        "id", u.alias("u"), e.alias("e"), p.alias("p"),
        text.scrub_pii(F.col("t")).alias("s")).collect()}
    assert (rows["a"].u, rows["a"].e, rows["a"].p) == (1, 1, 1)
    assert rows["a"].s == "reach me at or via"
    assert (rows["b"].u, rows["b"].e, rows["b"].p) == (0, 0, 0)
    assert rows["b"].s == "no pii here at all"


def test_pcm_check_duration_and_missing_reference(spark):
    """check_duration=True flags truncated decodes; a clip absent from the
    reference transcripts is distinguishable from a text mismatch."""
    import numpy as np

    from json_skema_spark.functions.audio import (
        encode_wav_pcm16, pcm_invariant_check, synth_reference_signal)

    sr, dur = 8000, 1000
    full = synth_reference_signal(7, sr, dur)
    rows = [
        ("clip_000000000007", encode_wav_pcm16(full, sr), sr, dur,
         "pcm_s16le", "hello"),
        ("clip_000000000008",
         encode_wav_pcm16(synth_reference_signal(8, sr, dur)[:100], sr),
         sr, dur, "pcm_s16le", "hello"),  # 100 of 8000 samples
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    strict = {r.clip_id: r for r in
              pcm_invariant_check(df, check_duration=True).collect()}
    assert strict["clip_000000000007"].invariant_ok
    assert not strict["clip_000000000008"].invariant_ok
    assert "duration_mismatch" in strict["clip_000000000008"].error
    lax = {r.clip_id: r for r in pcm_invariant_check(df).collect()}
    assert lax["clip_000000000008"].invariant_ok  # prefix SNR passes w/o check

    ref = spark.createDataFrame([("clip_000000000007", "different")],
                                "clip_id string, transcript string")
    with_ref = {r.clip_id: r for r in
                pcm_invariant_check(df, ref_transcripts=ref).collect()}
    assert not with_ref["clip_000000000007"].transcript_ok  # real mismatch
    r8 = with_ref["clip_000000000008"]
    assert not r8.transcript_ok
    assert r8.error == "missing_reference_transcript"
