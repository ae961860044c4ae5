"""Inline fixture documents mirroring the reference's example-docs
families (FIXTURES.md §1): blank-line + hard-wrapped text, rich HTML,
CSV with escaped commas, markdown with code fences, RFC-822 email with
attachment, empty file."""

FAKE_TEXT = """About the author

Dwight Eisenhower was an American military officer. He served as the
34th president of the United States.

• A bullet point
• Another bullet

1. First numbered item
2. Second numbered item

CONCLUSION

In conclusion, this is narrative text that contains a verb and is
long enough to be split into two sentences. It makes the point well.
"""

FAKE_HTML = """<!DOCTYPE html>
<html>
<head><title>ignored</title><style>p { color: red }</style></head>
<body>
<header>Acme Corp Quarterly</header>
<h1>Annual Report</h1>
<p>This is a <b>bold statement</b> that was written for the report. It includes two sentences for good measure.</p>
<h2>Financials</h2>
<p>Revenue was strong. See <a href="https://example.com/details">the details</a> for more.</p>
<ul><li>First item</li><li>Second item</li></ul>
<table>
  <tr><th>Quarter</th><th>Revenue</th></tr>
  <tr><td>Q1</td><td>100</td></tr>
  <tr><td>Q2</td><td>200</td></tr>
</table>
<pre>def f():
    return 1</pre>
<figure><img alt="A chart of revenue"/><figcaption>Figure 1: Revenue</figcaption></figure>
<footer>Page 1 of 10</footer>
</body>
</html>
"""

FAKE_CSV = 'name,title,city\n"Smith, John",Engineer,Austin\n"Doe, Jane",Manager,Boston\n'

FAKE_MD = """# Heading One

Some paragraph text that describes the project. It has been written with care.

## Subheading

- bullet one
- bullet two

```python
print("hello")
```

| a | b |
|---|---|
| 1 | 2 |
"""

FAKE_EMAIL = """From: sender@example.com
To: recipient@example.com, other@example.com
Cc: cc@example.com
Subject: Test email
Message-ID: <msg-123@example.com>
Date: Mon, 5 Jun 2023 10:00:00 +0000
MIME-Version: 1.0
Content-Type: multipart/mixed; boundary="BOUND"

--BOUND
Content-Type: text/plain; charset="utf-8"

Hello there!

This is the body of the email. It was sent for testing purposes.
--BOUND
Content-Type: text/plain; charset="utf-8"
Content-Disposition: attachment; filename="notes.txt"

Attachment paragraph content here.
--BOUND--
"""

EMPTY_TEXT = ""


# ---------------------------------------------------------------------------
# Office-format fixture builders (minimal valid OOXML/ODF/EPUB zips,
# mirroring the reference's fake.docx / fake-power-point.pptx /
# stanley-cups.xlsx example-docs)
# ---------------------------------------------------------------------------

import io
import zipfile
from pathlib import Path

_W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
_A = "http://schemas.openxmlformats.org/drawingml/2006/main"
_P = "http://schemas.openxmlformats.org/presentationml/2006/main"
_S = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"


def make_docx() -> bytes:
    document = f"""<?xml version="1.0"?>
<w:document xmlns:w="{_W}"><w:body>
<w:p><w:pPr><w:pStyle w:val="Heading1"/></w:pPr><w:r><w:t>Report Title</w:t></w:r></w:p>
<w:p><w:r><w:t>This is a narrative paragraph that was written for the report. </w:t></w:r><w:r><w:rPr><w:b/></w:rPr><w:t>bold words</w:t></w:r></w:p>
<w:p><w:pPr><w:pStyle w:val="ListBullet"/></w:pPr><w:r><w:t>• item one</w:t></w:r></w:p>
<w:p><w:pPr><w:numPr><w:ilvl w:val="1"/><w:numId w:val="1"/></w:numPr></w:pPr><w:r><w:t>nested item</w:t></w:r></w:p>
<w:tbl>
<w:tr><w:tc><w:p><w:r><w:t>Name</w:t></w:r></w:p></w:tc><w:tc><w:p><w:r><w:t>Qty</w:t></w:r></w:p></w:tc></w:tr>
<w:tr><w:tc><w:p><w:r><w:t>spam</w:t></w:r></w:p></w:tc><w:tc><w:p><w:r><w:t>42</w:t></w:r></w:p></w:tc></w:tr>
</w:tbl>
<w:p><w:r><w:br w:type="page"/></w:r><w:r><w:t>Second page text appears here. It is still narrative prose.</w:t></w:r></w:p>
</w:body></w:document>"""
    styles = f"""<?xml version="1.0"?>
<w:styles xmlns:w="{_W}">
<w:style w:type="paragraph" w:styleId="Heading1"><w:name w:val="Heading 1"/></w:style>
<w:style w:type="paragraph" w:styleId="ListBullet"><w:name w:val="List Bullet"/></w:style>
</w:styles>"""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("[Content_Types].xml", "<Types/>")
        zf.writestr("word/document.xml", document)
        zf.writestr("word/styles.xml", styles)
        zf.writestr("word/header1.xml",
                    f'<w:hdr xmlns:w="{_W}"><w:p><w:r><w:t>Confidential Header</w:t></w:r></w:p></w:hdr>')
        zf.writestr("word/footer1.xml",
                    f'<w:ftr xmlns:w="{_W}"><w:p><w:r><w:t>Page Footer</w:t></w:r></w:p></w:ftr>')
    return buf.getvalue()


def make_pptx() -> bytes:
    def slide(title: str, bullets: list[str]) -> str:
        bullet_xml = "".join(
            f'<a:p><a:pPr lvl="0"><a:buChar char="•"/></a:pPr><a:r><a:t>{b}</a:t></a:r></a:p>'
            for b in bullets
        )
        return f"""<?xml version="1.0"?>
<p:sld xmlns:p="{_P}" xmlns:a="{_A}"><p:cSld><p:spTree>
<p:sp><p:nvSpPr><p:nvPr><p:ph type="title"/></p:nvPr></p:nvSpPr>
<p:spPr><a:xfrm><a:off x="0" y="0"/></a:xfrm></p:spPr>
<p:txBody><a:p><a:r><a:t>{title}</a:t></a:r></a:p></p:txBody></p:sp>
<p:sp><p:nvSpPr><p:nvPr/></p:nvSpPr>
<p:spPr><a:xfrm><a:off x="0" y="1000"/></a:xfrm></p:spPr>
<p:txBody>{bullet_xml}</p:txBody></p:sp>
</p:spTree></p:cSld></p:sld>"""
    presentation = f"""<?xml version="1.0"?>
<p:presentation xmlns:p="{_P}" xmlns:r="{_R}">
<p:sldIdLst><p:sldId id="256" r:id="rId1"/><p:sldId id="257" r:id="rId2"/></p:sldIdLst>
</p:presentation>"""
    rels = """<?xml version="1.0"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="t" Target="slides/slide1.xml"/>
<Relationship Id="rId2" Type="t" Target="slides/slide2.xml"/>
</Relationships>"""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("[Content_Types].xml", "<Types/>")
        zf.writestr("ppt/presentation.xml", presentation)
        zf.writestr("ppt/_rels/presentation.xml.rels", rels)
        zf.writestr("ppt/slides/slide1.xml",
                    slide("Adding a Bullet Slide", ["Find the bullet slide layout", "Use layout to add a new slide"]))
        zf.writestr("ppt/slides/slide2.xml", slide("Closing Summary", ["Thank the audience"]))
    return buf.getvalue()


def make_xlsx() -> bytes:
    """Two disjoint cell regions on one sheet: a title cell above a
    2x3 table (exercises the connected-components subtable split)."""
    workbook = f"""<?xml version="1.0"?>
<workbook xmlns="{_S}" xmlns:r="{_R}">
<sheets><sheet name="Stanley Cups" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    wb_rels = """<?xml version="1.0"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/>
</Relationships>"""
    shared = f"""<?xml version="1.0"?>
<sst xmlns="{_S}" count="5" uniqueCount="5">
<si><t>Stanley Cups</t></si><si><t>Team</t></si><si><t>Wins</t></si>
<si><t>Blackhawks</t></si><si><t>Red Wings</t></si></sst>"""
    sheet = f"""<?xml version="1.0"?>
<worksheet xmlns="{_S}"><sheetData>
<row r="1"><c r="A1" t="s"><v>0</v></c></row>
<row r="3"><c r="A3" t="s"><v>1</v></c><c r="B3" t="s"><v>2</v></c></row>
<row r="4"><c r="A4" t="s"><v>3</v></c><c r="B4"><v>6</v></c></row>
<row r="5"><c r="A5" t="s"><v>4</v></c><c r="B5"><v>11</v></c></row>
</sheetData></worksheet>"""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("[Content_Types].xml", "<Types/>")
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        zf.writestr("xl/sharedStrings.xml", shared)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    return buf.getvalue()


def make_odt() -> bytes:
    content = """<?xml version="1.0"?>
<office:document-content
 xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
 xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"
 xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0">
<office:body><office:text>
<text:h text:outline-level="1">Lorem ipsum dolor sit amet.</text:h>
<text:p>This paragraph was written in an open document file. It has two sentences.</text:p>
<text:list><text:list-item><text:p>odt list item</text:p></text:list-item></text:list>
<table:table>
<table:table-row><table:table-cell><text:p>Lorem</text:p></table:table-cell><table:table-cell><text:p>ipsum</text:p></table:table-cell></table:table-row>
<table:table-row><table:table-cell><text:p>dolor</text:p></table:table-cell><table:table-cell><text:p>sit</text:p></table:table-cell></table:table-row>
</table:table>
</office:text></office:body></office:document-content>"""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("mimetype", "application/vnd.oasis.opendocument.text")
        zf.writestr("content.xml", content)
    return buf.getvalue()


def make_epub() -> bytes:
    container = """<?xml version="1.0"?>
<container xmlns="urn:oasis:names:tc:opendocument:xmlns:container" version="1.0">
<rootfiles><rootfile full-path="OEBPS/content.opf" media-type="application/oebps-package+xml"/></rootfiles>
</container>"""
    opf = """<?xml version="1.0"?>
<package xmlns="http://www.idpf.org/2007/opf" version="3.0" unique-identifier="id">
<manifest>
<item id="ch1" href="ch1.xhtml" media-type="application/xhtml+xml"/>
<item id="ch2" href="ch2.xhtml" media-type="application/xhtml+xml"/>
</manifest>
<spine><itemref idref="ch1"/><itemref idref="ch2"/></spine>
</package>"""
    ch1 = "<html><body><h1>Chapter One</h1><p>It was a dark and stormy night. The rain fell in torrents.</p></body></html>"
    ch2 = "<html><body><h1>Chapter Two</h1><p>The sun rose over the hills. Everything was calm again.</p></body></html>"
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("mimetype", "application/epub+zip")
        zf.writestr("META-INF/container.xml", container)
        zf.writestr("OEBPS/content.opf", opf)
        zf.writestr("OEBPS/ch1.xhtml", ch1)
        zf.writestr("OEBPS/ch2.xhtml", ch2)
    return buf.getvalue()


FAKE_RTF = (
    rb"{\rtf1\ansi{\fonttbl{\f0 Helvetica;}}"
    rb"{\colortbl;\red0\green0\blue0;}"
    rb"\f0\fs24 My First Heading\par"
    rb" This is a narrative paragraph written in rich text format. "
    rb"It even has \'e9 accents and \u8212 ?dashes.\par"
    rb"}"
)


def make_pdf() -> bytes:
    """Classic-xref two-page PDF with a Flate-compressed content stream
    on page 1 and an uncompressed one on page 2."""
    import zlib as _zlib

    c1 = _zlib.compress(
        b"BT /F1 24 Tf 72 720 Td (A Clever Title) Tj "
        b"/F1 12 Tf 0 -50 Td (This is the first sentence of the body. "
        b"It continues with a second sentence.) Tj "
        b"0 -14 Td (The paragraph keeps going on the next line.) Tj "
        b"0 -60 Td [(Spaced) -300 (out) -300 (words here.)] TJ ET"
    )
    c2 = (
        b"BT /F1 12 Tf 72 720 Td (Second page content is brief. It ends here.) Tj ET"
    )

    objs: list[bytes] = []
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(b"<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >>")
    objs.append(
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 7 0 R >> >> >>"
    )
    objs.append(
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream" % (len(c1), c1)
    )
    objs.append(
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 6 0 R /Resources << /Font << /F1 7 0 R >> >> >>"
    )
    objs.append(b"<< /Length %d >>\nstream\n%s\nendstream" % (len(c2), c2))
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    return pdf_from_objects(objs)


def pdf_from_objects(objs: list[bytes], trailer: bytes = b"") -> bytes:
    """Classic-xref PDF file from object bodies numbered 1..n; object
    1 is the catalog. ``trailer`` holds extra trailer entries (e.g.
    ``/Encrypt`` and ``/ID``)."""
    buf = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(buf))
        buf += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    xref_at = len(buf)
    buf += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        buf += b"%010d 00000 n \n" % off
    buf += (
        b"trailer\n<< /Size %d /Root 1 0 R %s>>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, trailer, xref_at)
    )
    return bytes(buf)


def make_paged_pdf(pages: int) -> bytes:
    """Text PDF of ``pages`` pages, one narrative line each; the page
    tree's ``/Count`` and ``/Kids`` both declare ``pages``."""
    objs: list[bytes] = [b"", b"", b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"]
    kids = []
    for n in range(1, pages + 1):
        c = (
            b"BT /F1 12 Tf 72 720 Td "
            b"(Page %d of the paged fixture carries one short paragraph.) Tj ET" % n
        )
        objs.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents %d 0 R /Resources << /Font << /F1 3 0 R >> >> >>" % (len(objs) + 2)
        )
        kids.append(b"%d 0 R" % len(objs))
        objs.append(b"<< /Length %d >>\nstream\n%s\nendstream" % (len(c), c))
    objs[0] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[1] = b"<< /Type /Pages /Kids [%s] /Count %d >>" % (b" ".join(kids), pages)
    return pdf_from_objects(objs)


# the password padding string of ISO 32000-1 Algorithm 2 step (a), kept
# apart from pdf_crypto's copy so that a wrong constant there shows
_PDF_PAD = bytes.fromhex(
    "28bf4e5e4e758a4164004e56fffa01082e2e00b6d0683e802f0ca9fe6453697a"
)


def make_encrypted_pdf(
    user_password: bytes = b"", owner_password: bytes = b"owner"
) -> bytes:
    """One-page text PDF under the Standard security handler, /V 2 /R 3,
    128-bit RC4, per ISO 32000-1 §7.6.3.3: /O by Algorithm 3, the file
    key by Algorithm 2, /U by Algorithm 5, and the content stream
    encrypted with its per-object key (Algorithm 1). An empty
    ``user_password`` gives an owner-only ("copy-protected") document
    that any reader opens."""
    import hashlib
    import struct

    from unstructured_spark.parsers.pdf_crypto import rc4

    n, p = 16, -4
    file_id = hashlib.md5(b"make_encrypted_pdf").digest()

    def pad(pwd: bytes) -> bytes:
        return (pwd + _PDF_PAD)[:32]

    def rc4_20(key: bytes, data: bytes) -> bytes:
        # R3: one pass under the key, then 19 under key XOR i
        for i in range(20):
            data = rc4(bytes(b ^ i for b in key), data)
        return data

    # Algorithm 3: /O from the owner and user passwords
    h = hashlib.md5(pad(owner_password or user_password)).digest()
    for _ in range(50):
        h = hashlib.md5(h).digest()
    o = rc4_20(h[:n], pad(user_password))
    # Algorithm 2: the file key
    key = hashlib.md5(pad(user_password) + o + struct.pack("<i", p) + file_id).digest()
    for _ in range(50):
        key = hashlib.md5(key[:n]).digest()
    key = key[:n]
    # Algorithm 5: /U, 16 bytes of check value and 16 of padding
    u = rc4_20(key, hashlib.md5(_PDF_PAD + file_id).digest()) + bytes(16)

    text = b"BT /F1 12 Tf 72 720 Td (The protected paragraph reads back as plain text.) Tj ET"
    content_num = 4
    # Algorithm 1: low 3 bytes of the object number, low 2 of gen 0
    obj_key = hashlib.md5(key + struct.pack("<i", content_num)[:3] + bytes(2)).digest()
    c = rc4(obj_key[: min(n + 5, 16)], text)
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(c), c),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Filter /Standard /V 2 /R 3 /Length 128 /P %d /O <%s> /U <%s> >>"
        % (p, o.hex().encode(), u.hex().encode()),
    ]
    return pdf_from_objects(
        objs, trailer=b"/Encrypt 6 0 R /ID [<%s> <%s>] " % ((file_id.hex().encode(),) * 2)
    )


def _gradient(w: int, h: int) -> bytes:
    return bytes(
        v for y in range(h) for x in range(w) for v in ((x * 7) % 256, (y * 11) % 256, (x * y) % 256)
    )


def make_bmp(w: int, h: int) -> bytes:
    """24-bit uncompressed (BI_RGB) BMP: a 14-byte BITMAPFILEHEADER,
    a 40-byte BITMAPINFOHEADER with a positive height (rows stored
    bottom-up), BGR pixels, each row padded to a multiple of 4 bytes."""
    import struct

    rgb = _gradient(w, h)
    row_size = (w * 3 + 3) & ~3
    pixels = bytearray()
    for y in reversed(range(h)):
        row = bytearray(rgb[y * w * 3 : (y + 1) * w * 3])
        row[0::3], row[2::3] = row[2::3], row[0::3]  # RGB -> BGR
        pixels += row + bytes(row_size - w * 3)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + len(info) + len(pixels), 0, 0, 14 + len(info))
    return header + info + bytes(pixels)


def make_tiff(sizes: list[tuple[int, int]]) -> bytes:
    """Little-endian baseline TIFF 6.0 RGB file, one uncompressed page
    (one strip, 8 bits per sample, 72 dpi) per ``(width, height)`` in
    ``sizes``; each IFD links to the next and the last ends with 0."""
    import struct

    buf = bytearray(b"II*\x00\x00\x00\x00\x00")
    link = 4  # where the offset of the next IFD goes
    for w, h in sizes:
        strip = _gradient(w, h)
        strip_at = len(buf)
        buf += strip + bytes(len(buf) % 2)  # IFDs start on a word boundary
        extra_at = len(buf)  # BitsPerSample (3 SHORTs), then two RATIONALs
        buf += struct.pack("<3H", 8, 8, 8) + bytes(2) + struct.pack("<4I", 72, 1, 72, 1)
        entries = [
            (256, 4, 1, w),  # ImageWidth
            (257, 4, 1, h),  # ImageLength
            (258, 3, 3, extra_at),  # BitsPerSample
            (259, 3, 1, 1),  # Compression: none
            (262, 3, 1, 2),  # PhotometricInterpretation: RGB
            (273, 4, 1, strip_at),  # StripOffsets
            (277, 3, 1, 3),  # SamplesPerPixel
            (278, 4, 1, h),  # RowsPerStrip
            (279, 4, 1, len(strip)),  # StripByteCounts
            (282, 5, 1, extra_at + 8),  # XResolution
            (283, 5, 1, extra_at + 16),  # YResolution
            (296, 3, 1, 2),  # ResolutionUnit: inch
        ]
        struct.pack_into("<I", buf, link, len(buf))
        buf += struct.pack("<H", len(entries))
        for tag, typ, count, value in entries:
            fmt = "<HHIH2x" if typ == 3 and count == 1 else "<HHII"
            buf += struct.pack(fmt, tag, typ, count, value)
        link = len(buf)
        buf += bytes(4)
    return bytes(buf)


# The upstream checkout: its example-docs and the goldens its ingest
# tests produced. Tests that compare against those files run only where
# the checkout is present.
REFERENCE = Path("/root/reference")


def needs(*paths: Path):
    """Skip mark for a test that reads ``paths``: it runs wherever all of
    them exist, and is skipped as "needs <missing paths>" elsewhere."""
    import pytest

    missing = [str(p) for p in paths if not Path(p).exists()]
    return pytest.mark.skipif(bool(missing), reason="needs " + ", ".join(missing))


class WordTokenizer:
    """Duck-typed HF tokenizer for attention-window staging tests:
    each segment costs one token per 4 chars (ceil), empty segments
    cost zero. Lives here (an executor-importable module) so Spark can
    pickle it into the pandas UDF."""

    model_max_length = 10

    def tokenize(self, segment):
        n = max(1, -(-len(segment) // 4))
        return ["t"] * n if segment else []


def widen_to_element_schema(df):
    """Project a frame of some element columns to the full canonical
    element schema, nulling the absent columns."""
    from pyspark.sql import functions as F

    from unstructured_spark.schema import ELEMENT_COLUMNS

    return df.select(
        *[
            F.col(c) if c in df.columns else F.lit(None).alias(c)
            for c in ELEMENT_COLUMNS
        ]
    )
