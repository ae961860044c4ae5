"""Capability diagnostics (reference doctor.py / cli.py parity)."""

import io
import sys

from unstructured_spark import doctor
from unstructured_spark.parsers import audio_parser, image_parser


class TestEvaluate:
    def test_native_format_ready(self):
        r = doctor.evaluate_format("docx")
        assert r.ready and "stdlib" in r.messages[0]

    def test_image_gated_until_agent_registered(self):
        assert not doctor.evaluate_format("png").ready
        try:
            image_parser.set_ocr_agent(lambda arr, w, h: [])
            assert doctor.evaluate_format("png").ready
        finally:
            image_parser.set_ocr_agent(None)

    def test_wav_gated_on_stt(self):
        assert not doctor.evaluate_format("wav").ready
        try:
            audio_parser.set_speech_to_text(lambda pcm, rate: "")
            assert doctor.evaluate_format("wav").ready
        finally:
            audio_parser.set_speech_to_text(None)

    def test_family_specifier(self):
        r = doctor.evaluate_specifier("office")
        assert r.ready  # every office format is stdlib-native
        assert len(r.messages) == 7

    def test_unknown_specifier_raises(self):
        try:
            doctor.resolve_specifier("nope")
            raise AssertionError("expected ValueError")
        except ValueError:
            pass

    def test_jpeg_alias(self):
        assert doctor.resolve_specifier("jpeg") == ["jpg"]


class TestFilePath:
    def test_detects_and_reports(self, tmp_path):
        p = tmp_path / "x.docx"
        p.write_bytes(b"PK\x03\x04 not really a zip")
        r = doctor.file_path_to_capability(str(p))
        assert any("detected type" in m for m in r.messages)

    def test_missing_file(self):
        r = doctor.file_path_to_capability("/does/not/exist.pdf")
        assert not r.ready


class TestCli:
    def _run(self, argv):
        out, err = io.StringIO(), io.StringIO()
        old = sys.stdout, sys.stderr
        sys.stdout, sys.stderr = out, err
        try:
            rc = doctor.main(argv)
        finally:
            sys.stdout, sys.stderr = old
        return rc, out.getvalue(), err.getvalue()

    def test_report(self):
        rc, out, _ = self._run([])
        assert rc == 0
        assert "capability report" in out and "formats:" in out
        # the report ends with the on-demand UDF profiler switch
        assert out.rstrip("\n").splitlines()[-1].strip() == (
            'spark.conf.set("spark.sql.pyspark.udf.profiler", "perf"), '
            'run the job, then spark.profile.show(type="perf")'
        )

    def test_for_ready_format(self):
        rc, out, _ = self._run(["--for", "pdf"])
        assert rc == 0 and "ready" in out

    def test_for_gated_family(self):
        rc, out, _ = self._run(["--for", "image"])
        assert rc == 1 and "NOT registered" in out

    def test_both_flags_rejected(self):
        rc, _, err = self._run(["--for", "pdf", "--file", "x"])
        assert rc == 2 and "not both" in err
