"""Capability diagnostics: which formats partition natively, which
need a registered agent, and whether optional integrations resolve.

API parity with the reference's ``unstructured doctor`` surface
(reference ``doctor.py:23-282``, ``cli.py:9-56``): ``CapabilityResult``,
``evaluate_specifier(spec)``, ``file_path_to_capability(path)``,
``build_report()`` and a module ``main()`` so
``python -m unstructured_spark.doctor [--for TYPE | --file PATH]``
behaves like the reference CLI. The diagnostics themselves are
re-derived for this engine's dependency story: stdlib parsers are
always ready; model-bound steps are plug points
(``set_layout_model`` / ``set_ocr_agent`` / ``set_speech_to_text`` /
``set_translator``) rather than pip extras; optional imports are
embedding providers and tokenizers.
"""

from __future__ import annotations

import importlib.util
import sys
from dataclasses import dataclass

# formats whose parser is pure stdlib — always partitionable here
NATIVE_FORMATS: tuple[str, ...] = (
    "txt", "html", "md", "csv", "tsv", "xml", "json", "ndjson",
    "rst", "org", "docx", "pptx", "xlsx", "odt", "epub", "rtf",
    "pdf", "doc", "ppt", "xls", "msg", "eml",
)

# formats that parse structurally (pixel/PCM decode is real) but whose
# final text needs a registered model agent
AGENT_FORMATS: dict[str, tuple[str, str]] = {
    "png": ("layout/OCR", "image_parser.set_layout_model / set_ocr_agent"),
    "jpg": ("layout/OCR", "image_parser.set_layout_model / set_ocr_agent"),
    "tiff": ("layout/OCR", "image_parser.set_layout_model / set_ocr_agent"),
    "bmp": ("layout/OCR", "image_parser.set_layout_model / set_ocr_agent"),
    "gif": ("layout/OCR", "image_parser.set_layout_model / set_ocr_agent"),
    "wav": ("speech-to-text", "audio_parser.set_speech_to_text"),
    "mp3": (
        "audio decoder + speech-to-text",
        "audio_parser.set_audio_decoder (model_adapters.FfmpegAudioDecoder) "
        "+ set_speech_to_text",
    ),
    "mp4": (
        "audio decoder + speech-to-text",
        "audio_parser.set_audio_decoder (model_adapters.FfmpegAudioDecoder) "
        "+ set_speech_to_text",
    ),
}

# formats the container cannot decode at all without new executors deps
UNSUPPORTED_FORMATS: dict[str, str] = {
    "heic": "an HEIC/HEVC decoder (pillow-heif)",
}

_FAMILIES: dict[str, tuple[str, ...]] = {
    "image": ("png", "jpg", "tiff", "bmp", "gif"),
    "audio": ("wav", "mp3", "mp4"),
    "office": ("docx", "pptx", "xlsx", "doc", "ppt", "xls", "odt"),
    "email": ("eml", "msg"),
}


@dataclass(frozen=True)
class CapabilityResult:
    """Whether partitioning is viable for a format right now, plus
    human-readable notes (reference doctor.py:23-37 shape)."""

    ready: bool
    messages: tuple[str, ...]


def _agents_registered() -> dict[str, bool]:
    from unstructured_spark.parsers import audio_parser, image_parser
    from unstructured_spark.functions import cleaners

    return {
        "layout model": image_parser._LAYOUT_MODEL is not None,
        "OCR agent": image_parser._OCR_AGENT is not None,
        "table structure": image_parser._TABLE_MODEL is not None,
        "speech-to-text": audio_parser._STT_AGENT is not None,
        "audio decoder": audio_parser._AUDIO_DECODER is not None,
        "translator": cleaners._TRANSLATOR is not None,
    }


def evaluate_format(fmt: str) -> CapabilityResult:
    """Readiness of one filetype tag (as used by ``partition_bytes``)."""
    fmt = fmt.lower().lstrip(".")
    if fmt in ("jpeg",):
        fmt = "jpg"
    if fmt in NATIVE_FORMATS:
        return CapabilityResult(True, (f"{fmt}: ready (stdlib parser, no executor deps)",))
    if fmt in AGENT_FORMATS:
        need, hook = AGENT_FORMATS[fmt]
        agents = _agents_registered()
        if fmt == "wav":
            ready = agents["speech-to-text"]
        elif fmt in ("mp3", "mp4"):
            ready = agents["speech-to-text"] and agents["audio decoder"]
        else:
            ready = agents["layout model"] or agents["OCR agent"]
        decoded = (
            "dispatch routing ready (decode itself is the plug)"
            if fmt in ("mp3", "mp4")
            else "container/pixel decode ready (stdlib codec)"
        )
        msgs = [
            f"{fmt}: {decoded}; "
            f"{need} agent {'registered' if ready else 'NOT registered'}"
        ]
        if not ready:
            msgs.append(f"  register via unstructured_spark.parsers.{hook}")
        return CapabilityResult(ready, tuple(msgs))
    if fmt in UNSUPPORTED_FORMATS:
        return CapabilityResult(
            False, (f"{fmt}: requires {UNSUPPORTED_FORMATS[fmt]} on executors",)
        )
    return CapabilityResult(False, (f"unknown format: {fmt!r}",))


def resolve_specifier(spec: str) -> list[str]:
    """Expand a family name (image/audio/office/email) or single
    format tag; raises ValueError for unknown specs (reference
    doctor.py resolve_specifier contract)."""
    s = spec.lower().lstrip(".")
    if s in _FAMILIES:
        return list(_FAMILIES[s])
    if s in ("jpeg",):
        s = "jpg"
    if s in NATIVE_FORMATS or s in AGENT_FORMATS or s in UNSUPPORTED_FORMATS:
        return [s]
    raise ValueError(f"unknown file type or family: {spec!r}")


def evaluate_specifier(spec: str) -> CapabilityResult:
    results = [evaluate_format(f) for f in resolve_specifier(spec)]
    return CapabilityResult(
        all(r.ready for r in results),
        tuple(m for r in results for m in r.messages),
    )


def file_path_to_capability(path: str) -> CapabilityResult:
    """Detect the file's type (3-strategy chain) and report readiness."""
    from unstructured_spark.parsers.filetype import detect_filetype

    try:
        with open(path, "rb") as f:
            head = f.read(1 << 20)
    except OSError as e:
        return CapabilityResult(False, (f"cannot read {path}: {e}",))
    fmt = detect_filetype(filename=str(path), head=head)
    if not fmt:
        return CapabilityResult(False, (f"could not detect file type of {path}",))
    res = evaluate_format(fmt)
    return CapabilityResult(res.ready, (f"detected type: {fmt}",) + res.messages)


def _optional_import_rows() -> list[tuple[str, str, str]]:
    rows = []
    for mod, why in (
        ("numpy", "image/audio pixel pipelines, JPEG IDCT"),
        ("pandas", "Arrow-batched UDF operators"),
        ("pyarrow", "Arrow transfer for pandas UDFs"),
        ("transformers", "HuggingFace embedding provider"),
        ("boto3", "Bedrock embedding provider"),
        ("google.auth", "VertexAI embedding provider"),
        ("tiktoken", "exact OpenAI token counts in token-mode chunking"),
        ("pytesseract", "TesseractOcrAgent adapter (model_adapters.py)"),
        ("paddleocr", "PaddleOcrAgent adapter (model_adapters.py)"),
        ("google.cloud.vision", "GoogleVisionOcrAgent adapter (model_adapters.py)"),
        ("onnxruntime", "OnnxLayoutModel / TatrTableModel adapters (model_adapters.py)"),
        ("whisper", "WhisperSttAgent adapter (model_adapters.py)"),
        ("spacy", "reference-exact POS contains_verb (parsers/classify.py)"),
        ("pypdfium2", "PdfiumRasterizer: born-digital ocr_only / hi_res real pixels"),
    ):
        try:
            # probe the FULL dotted path: find_spec('google') succeeding
            # (any google namespace package) must not report
            # google.cloud.vision as present
            ok = importlib.util.find_spec(mod) is not None
        except (ImportError, ModuleNotFoundError):
            ok = False
        rows.append((mod, "ok" if ok else "missing", why))
    return rows


def build_report() -> str:
    """Full diagnostics: engine, the Python workers' daemon, registered
    agents, optional imports, per-format readiness, and the on-demand
    UDF profiler switch."""
    lines = ["unstructured_spark capability report", ""]
    try:
        import pyspark

        from unstructured_spark.session import worker_daemon

        lines.append(f"pyspark: {pyspark.__version__}")
        lines.append(f"python workers: {worker_daemon()}")
    except ImportError:
        lines.append("pyspark: MISSING")
    lines.append(f"python: {sys.version.split()[0]}")
    lines.append("")
    lines.append("registered agents:")
    for name, ok in _agents_registered().items():
        lines.append(f"  {name:16s} {'registered' if ok else '-'}")
    lines.append("")
    lines.append("optional imports:")
    for mod, status, why in _optional_import_rows():
        lines.append(f"  {mod:16s} {status:8s} {why}")
    lines.append("")
    lines.append("formats:")
    for fmt in NATIVE_FORMATS:
        lines.append(f"  {fmt:8s} ready    stdlib parser")
    for fmt in AGENT_FORMATS:
        r = evaluate_format(fmt)
        lines.append(f"  {fmt:8s} {'ready' if r.ready else 'gated':8s} {r.messages[0].split(': ', 1)[1]}")
    for fmt, needs in UNSUPPORTED_FORMATS.items():
        lines.append(f"  {fmt:8s} missing  needs {needs}")
    lines.append("")
    # per-UDF cProfile output for every mapInPandas (parse, chunk, embed)
    lines.append("python udf profile (on demand):")
    lines.append(
        '  spark.conf.set("spark.sql.pyspark.udf.profiler", "perf"), '
        'run the job, then spark.profile.show(type="perf")'
    )
    return "\n".join(lines) + "\n"


def main(argv: list[str] | None = None) -> int:
    """CLI: no args → full report; ``--for TYPE`` / ``--file PATH`` →
    readiness check with exit code 0/1/2 (reference cli.py:9-56)."""
    import argparse

    parser = argparse.ArgumentParser(
        prog="python -m unstructured_spark.doctor",
        description="Capability diagnostics for the PySpark document engine.",
    )
    parser.add_argument("--for", dest="for_cap", metavar="TYPE")
    parser.add_argument("--file", dest="file_path", metavar="PATH")
    ns = parser.parse_args(argv)
    if ns.for_cap and ns.file_path:
        print("Use either --for or --file, not both.", file=sys.stderr)
        return 2
    if ns.for_cap:
        try:
            result = evaluate_specifier(ns.for_cap)
        except ValueError as e:
            print(str(e), file=sys.stderr)
            return 2
    elif ns.file_path:
        result = file_path_to_capability(ns.file_path)
    else:
        print(build_report(), end="")
        return 0
    if result.messages:
        print("\n".join(result.messages))
    return 0 if result.ready else 1


if __name__ == "__main__":
    raise SystemExit(main())
