"""WAV decode + energy-VAD segmentation + pluggable STT
(parsers/audio_parser.py, operators/multimodal.segment_audio).
Mirrors the reference partition_audio element contract
(partition/audio.py:96-112) with a fake agent — no model needed."""

import io
import math
import struct
import wave
from pathlib import Path

import numpy as np
import pytest

from tests.fixtures import needs
from unstructured_spark.parsers.audio_parser import (
    audio_to_elements,
    energy_segments,
    parse_wav,
    set_speech_to_text,
    vad_transcriber,
)

CANTINA = Path("/root/reference/example-docs/CantinaBand3.wav")


def _wav_bytes(samples: np.ndarray, rate: int = 8000) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes((np.clip(samples, -1, 1) * 32767).astype("<i2").tobytes())
    return buf.getvalue()


def _tone_silence_tone(rate: int = 8000) -> np.ndarray:
    """1 s tone, 1 s silence, 1 s tone."""
    t = np.arange(rate) / rate
    tone = 0.5 * np.sin(2 * math.pi * 440 * t)
    return np.concatenate([tone, np.zeros(rate), tone])


class TestParseWav:
    def test_synthetic_16bit(self):
        rate, samples = parse_wav(_wav_bytes(_tone_silence_tone()))
        assert rate == 8000
        assert len(samples) == 3 * 8000
        assert abs(float(np.abs(samples[:100]).max()) - 0.5) < 0.01

    @needs(CANTINA)
    def test_real_reference_wav(self):
        rate, samples = parse_wav(CANTINA.read_bytes())
        assert rate == 22050
        assert 2.9 < len(samples) / rate < 3.1  # ~3 s clip

    def test_stereo_downmix(self):
        rate = 8000
        t = np.arange(rate) / rate
        left = 0.5 * np.sin(2 * math.pi * 440 * t)
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(2)
            w.setsampwidth(2)
            w.setframerate(rate)
            inter = np.empty(2 * rate, dtype="<i2")
            inter[0::2] = (left * 32767).astype("<i2")
            inter[1::2] = 0
            w.writeframes(inter.tobytes())
        rate2, mono = parse_wav(buf.getvalue())
        assert len(mono) == rate
        assert abs(float(np.abs(mono).max()) - 0.25) < 0.01  # (L+0)/2


class TestEnergySegments:
    def test_two_segments_with_timing(self):
        segs = energy_segments(_tone_silence_tone(), 8000)
        assert len(segs) == 2
        (s0, e0, db0), (s1, e1, db1) = segs
        assert s0 == pytest.approx(0.0, abs=0.05)
        assert e0 == pytest.approx(1.0, abs=0.1)
        assert s1 == pytest.approx(2.0, abs=0.1)
        assert e1 == pytest.approx(3.0, abs=0.05)
        assert db0 > -10 and db1 > -10

    def test_silence_only(self):
        assert energy_segments(np.zeros(8000), 8000) == []

    def test_continuous_audio_one_segment(self):
        segs = energy_segments(_tone_silence_tone()[:8000], 8000)
        assert len(segs) == 1

    @needs(CANTINA)
    def test_real_wav_has_segments(self):
        rate, samples = parse_wav(CANTINA.read_bytes())
        segs = energy_segments(samples, rate)
        assert segs and all(0 <= s < e <= 3.2 for s, e, _ in segs)


class TestAudioElements:
    def test_gate_without_agent(self):
        from unstructured_spark.parsers.dispatch import UnsupportedFormatError

        set_speech_to_text(None)
        with pytest.raises(UnsupportedFormatError, match="speech-to-text"):
            audio_to_elements(_wav_bytes(_tone_silence_tone()))

    def test_fake_agent_reference_shape(self):
        def fake_stt(chunk, rate):
            return f"segment of {len(chunk) / rate:.1f} seconds"

        set_speech_to_text(vad_transcriber(fake_stt))
        try:
            els = audio_to_elements(_wav_bytes(_tone_silence_tone()))
        finally:
            set_speech_to_text(None)
        assert len(els) == 2
        assert all(e["type"] == "NarrativeText" for e in els)
        assert els[0]["segment_start_seconds"] == pytest.approx(0.0, abs=0.05)
        assert els[1]["segment_start_seconds"] == pytest.approx(2.0, abs=0.1)
        assert "speech_to_text" in els[0]["metadata_json"]

    def test_dispatch_routes_wav_with_agent(self):
        from unstructured_spark.parsers.dispatch import partition_bytes

        set_speech_to_text(vad_transcriber(lambda c, r: "hello from audio"))
        try:
            els = partition_bytes(_wav_bytes(_tone_silence_tone()), filename="x.wav")
        finally:
            set_speech_to_text(None)
        assert [e["text"] for e in els] == ["hello from audio", "hello from audio"]
        assert els[0]["filetype"] == "audio/wav"


class TestSegmentAudioOperator:
    def test_distributed_segments(self, spark):
        from unstructured_spark.operators.multimodal import segment_audio

        wav = _wav_bytes(_tone_silence_tone())
        # row "b" has CantinaBand3.wav's header values (22050 Hz, 16-bit
        # mono, ~3 s), so the batch mixes sample rates
        t = np.arange(3 * 22050) / 22050
        bs = [_wav_bytes(0.4 * np.sin(2 * math.pi * 330 * t), rate=22050)]
        if CANTINA.exists():
            bs.append(CANTINA.read_bytes())
        for b in bs:
            df = spark.createDataFrame(
                [("a", bytearray(wav)), ("b", bytearray(b)), ("bad", bytearray(b"nope"))],
                "doc_id string, content binary",
            )
            rows = segment_audio(df).collect()
            by_doc = {}
            for r in rows:
                by_doc.setdefault(r["doc_id"], []).append(r)
            assert len(by_doc["a"]) == 2
            assert "b" in by_doc
            assert "bad" not in by_doc  # per-row isolation
            assert all(r["end_seconds"] > r["start_seconds"] for r in rows)


class TestCompressedAudioPlug:
    def _fake_mp3(self):
        # ID3v2 header so detect_filetype routes to mp3
        return b"ID3\x04\x00\x00\x00\x00\x00\x00" + b"\xff\xfb" + b"\x00" * 64

    def test_mp3_without_decoder_names_the_gate(self):
        from unstructured_spark.parsers.audio_parser import (
            set_audio_decoder,
            set_speech_to_text,
        )
        from unstructured_spark.parsers.dispatch import (
            UnsupportedFormatError,
            partition_bytes,
        )

        set_audio_decoder(None)
        set_speech_to_text(vad_transcriber(lambda chunk, rate: "hi"))
        try:
            with pytest.raises(UnsupportedFormatError, match="set_audio_decoder"):
                partition_bytes(self._fake_mp3(), filename="a.mp3")
        finally:
            set_speech_to_text(None)

    def test_mp3_with_fake_decoder_partitions_end_to_end(self):
        from unstructured_spark.parsers.audio_parser import (
            set_audio_decoder,
            set_speech_to_text,
        )
        from unstructured_spark.parsers.dispatch import partition_bytes

        def fake_decoder(content, fmt):
            assert fmt == "mp3"
            return 8000, _tone_silence_tone()

        set_audio_decoder(fake_decoder)
        set_speech_to_text(vad_transcriber(lambda chunk, rate: "segment text"))
        try:
            els = partition_bytes(self._fake_mp3(), filename="a.mp3")
        finally:
            set_audio_decoder(None)
            set_speech_to_text(None)
        assert len(els) == 2  # two tone bursts -> two VAD segments
        assert all(e["type"] == "NarrativeText" for e in els)
        assert els[0]["segment_start_seconds"] < els[1]["segment_start_seconds"]

    def test_ffmpeg_adapter_contract_with_injected_runner(self):
        from unstructured_spark.parsers.model_adapters import FfmpegAudioDecoder

        captured = {}

        def runner(argv, stdin):
            captured["argv"] = argv
            captured["stdin"] = stdin
            # 4 samples of s16le PCM: 0, max, min, 0
            return struct.pack("<4h", 0, 32767, -32768, 0)

        dec = FfmpegAudioDecoder(rate=16000, runner=runner)
        rate, samples = dec(b"fake-bytes", "mp3")
        assert rate == 16000
        assert captured["stdin"] == b"fake-bytes"
        assert "-f" in captured["argv"] and "mp3" in captured["argv"]
        assert "pipe:0" in captured["argv"]
        assert "s16le" in captured["argv"]
        assert samples.dtype == np.float32
        assert np.allclose(samples, [0.0, 32767 / 32768, -1.0, 0.0])

    def test_ffmpeg_adapter_spools_seekable_containers_to_file(self):
        # a non-faststart mp4 (moov after mdat) can't be demuxed from a
        # pipe — the adapter must hand ffmpeg a real path instead
        from unstructured_spark.parsers.model_adapters import FfmpegAudioDecoder

        captured = {}

        def runner(argv, stdin):
            captured["argv"] = argv
            captured["stdin"] = stdin
            path = argv[argv.index("-i") + 1]
            with open(path, "rb") as f:
                captured["spooled"] = f.read()
            return struct.pack("<2h", 0, 32767)

        dec = FfmpegAudioDecoder(rate=16000, runner=runner)
        rate, samples = dec(b"moov-at-end-bytes", "mp4")
        assert rate == 16000
        assert captured["stdin"] == b""
        assert "pipe:0" not in captured["argv"]
        in_path = captured["argv"][captured["argv"].index("-i") + 1]
        assert in_path.endswith(".mp4")
        assert captured["spooled"] == b"moov-at-end-bytes"
        import os

        assert not os.path.exists(in_path)  # temp file cleaned up
        assert np.allclose(samples, [0.0, 32767 / 32768])

    def test_ffmpeg_adapter_failure_is_malformed(self):
        from unstructured_spark.parsers.dispatch import MalformedDocumentError
        from unstructured_spark.parsers.model_adapters import FfmpegAudioDecoder

        class Proc:
            returncode = 1
            stdout = b""
            stderr = b"pipe:0: Invalid data found when processing input"

        def runner(argv, stdin):
            # simulate the real runner path: re-use the adapter's own
            # error translation by raising what _run_ffmpeg raises
            raise MalformedDocumentError("ffmpeg decode failed: invalid data")

        dec = FfmpegAudioDecoder(runner=runner)
        with pytest.raises(MalformedDocumentError):
            dec(b"corrupt", "mp3")
