"""Encoding detection (parsers/encoding.py) on documents shaped like
the reference's utf-16/utf-32/latin-1 example-docs, built in memory
(file_utils/encoding.py behavioral parity)."""

import pytest

from tests import fixtures as fx
from unstructured_spark.parsers.encoding import decode_bytes, detect_encoding

_TEXT = "This is a test document to use for unit tests.\n\n" + fx.FAKE_TEXT
_HTML = (
    "<!DOCTYPE html>\n<html><head><meta charset=\"utf-16\">"
    "<title>Steel JIS datasheet</title></head>\n<body><table>"
    "<tr><th>Grade</th><th>C %</th></tr><tr><td>SS400</td><td>0.17</td></tr>"
    "</table></body></html>\n"
)
_XML = (
    '<?xml version="1.0" encoding="UTF-16"?>\n<factbook>'
    "<country><name>Iceland</name><capital>Reykjav\xedk</capital></country>"
    "</factbook>\n"
)
_CSV = "Team,Location,Stanley Cups\nBlues,STL,1\nFlyers,PHI,2\nMaple Leafs,TOR,13\n"
_MD = "# Umlauts\n\nDas k\xf6nnen wir sch\xf6n machen, sagte der B\xe4r.\n"

# the reference's file names, so each case keeps its test id
DOCS = {
    "fake-text-utf-16.txt": _TEXT.encode("utf-16"),
    "fake-text-utf-16-le.txt": ("\ufeff" + _TEXT).encode("utf-16-le"),
    "fake-text-utf-16-be.txt": ("\ufeff" + _TEXT).encode("utf-16-be"),
    "fake-text-utf-32.txt": _TEXT.encode("utf-32"),
    "example-steelJIS-datasheet-utf-16.html": _HTML.encode("utf-16"),
    "factbook-utf-16.xml": _XML.encode("utf-16"),
    "stanley-cups-utf-16.csv": _CSV.encode("utf-16"),
    "umlauts-non-utf8.md": _MD.encode("latin-1"),
}


def _read(name: str) -> bytes:
    return DOCS[name]


@pytest.mark.parametrize(
    "name,expected_prefix",
    [
        ("fake-text-utf-16.txt", "This is a test document"),
        ("fake-text-utf-16-le.txt", "This is a test document"),
        ("fake-text-utf-16-be.txt", "This is a test document"),
        ("fake-text-utf-32.txt", "This is a test document"),
    ],
)
def test_utf16_32_fixtures_decode(name, expected_prefix):
    text = decode_bytes(_read(name))
    assert text.startswith(expected_prefix)


def test_bom_utf16_html_fixture():
    text = decode_bytes(_read("example-steelJIS-datasheet-utf-16.html"))
    assert "<head" in text.lower()
    assert "\x00" not in text


def test_bom_utf16_xml_fixture():
    text = decode_bytes(_read("factbook-utf-16.xml"))
    assert text.lstrip("﻿\n").startswith("<?xml")


def test_bom_utf16_csv_fixture():
    text = decode_bytes(_read("stanley-cups-utf-16.csv"))
    assert "Stanley" in text


def test_latin1_not_mistaken_for_utf16():
    # Even-length latin-1 text must NOT decode via the utf-16 path
    # (the pre-fix _decode bug: any even-length non-UTF-8 doc became CJK).
    raw = "## k\xf6nnen w\xe4re sch\xf6n!!".encode("latin-1")
    assert len(raw) % 2 == 0
    # cp1252 ranks before latin-1 and is identical on these bytes
    assert detect_encoding(raw) == "cp1252"
    assert decode_bytes(raw) == "## k\xf6nnen w\xe4re sch\xf6n!!"


def test_latin1_reference_fixture():
    text = decode_bytes(_read("umlauts-non-utf8.md"))
    assert "k\xf6nnen" in text


def test_utf8_fast_path():
    s = "héllo wörld — em-dash"
    assert detect_encoding(s.encode("utf-8")) == "utf-8"
    assert decode_bytes(s.encode("utf-8")) == s


def test_html_meta_charset_sniff():
    body = "<html><head><meta charset=\"windows-1252\"></head><body>caf’</body></html>"
    raw = body.encode("windows-1252")
    assert detect_encoding(raw) == "windows-1252"
    assert "caf’" in decode_bytes(raw)


def test_xml_declared_encoding_sniff():
    body = "<?xml version='1.0' encoding='ISO-8859-2'?><r>ő</r>"
    raw = body.encode("iso-8859-2")
    assert detect_encoding(raw) == "iso-8859-2"
    assert "ő" in decode_bytes(raw)


def test_empty_and_tiny_inputs():
    assert decode_bytes(b"") == ""
    assert decode_bytes(b"a") == "a"
    assert decode_bytes("already str") == "already str"


def test_bomless_utf16le_synthetic():
    raw = "Plain English sentence for the sniffer.".encode("utf-16-le")
    assert detect_encoding(raw) == "utf-16-le"


def test_bomless_utf16be_synthetic():
    raw = "Plain English sentence for the sniffer.".encode("utf-16-be")
    assert detect_encoding(raw) == "utf-16-be"
