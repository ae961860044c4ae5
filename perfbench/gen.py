"""Seeded input generators for the document-ETL benchmark.

Everything here is a pure function of the seed: the same seed gives
byte-identical files (zip members carry a fixed timestamp, e-mail and
PDF bytes are assembled by hand, nothing reads the clock). Two corpora
are built:

* an office corpus -- txt, html, md, csv, eml, docx, pptx, xlsx and
  pdf files of seeded length, with a fixed share of byte-identical
  copies and a fixed share of truncated or corrupt files;
* a crawl corpus -- gzip-per-record WARC shards of HTML pages with
  per-site navigation and footer boilerplate around page-length main
  text, with seeded groups of exact and near-duplicate pages and a
  fixed share of low-quality pages the quality gate should drop.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import itertools
import os
import random
import zipfile
import zlib
from dataclasses import dataclass, field

# Gopher's stop words lead the vocabulary so that generated prose reads
# as prose to the quality gate (it wants at least two per document)
_FUNCTION_WORDS = (
    "the", "of", "and", "to", "a", "in", "that", "it", "with", "on", "be",
    "have", "for", "is", "was", "as", "by", "at", "from", "this",
)
_ONSETS = ("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s",
           "t", "v", "w", "z", "br", "ch", "cl", "dr", "gr", "pl", "sh",
           "st", "tr", "th")
_NUCLEI = ("a", "e", "i", "o", "u", "ai", "ea", "io", "ou")
_CODAS = ("", "", "n", "r", "s", "t", "l", "m", "nd", "st", "rk")


class Vocab:
    """Zipf-distributed synthetic vocabulary. The word list is fixed (it
    does not depend on the workload seed); only the draws do. It is
    large enough that unrelated page-length texts share almost no word
    3-grams."""

    def __init__(self, size: int = 40_000, exponent: float = 1.05):
        rng = random.Random(0x5EED)
        words: list[str] = list(_FUNCTION_WORDS)
        seen = set(words)
        while len(words) < size:
            n_syl = rng.choice((1, 2, 2, 3, 3, 4))
            w = "".join(
                rng.choice(_ONSETS) + rng.choice(_NUCLEI) + rng.choice(_CODAS)
                for _ in range(n_syl)
            )
            if w not in seen:
                seen.add(w)
                words.append(w)
        self.words = words
        self.cum = list(itertools.accumulate(
            1.0 / (r ** exponent) for r in range(1, size + 1)
        ))

    def draw(self, rng: random.Random, k: int) -> list[str]:
        return rng.choices(self.words, cum_weights=self.cum, k=k)

    def rare(self, rng: random.Random, k: int) -> list[str]:
        """Words from the long tail (titles, names, cell labels)."""
        tail = len(self.words) // 20
        return [self.words[rng.randrange(tail, len(self.words))] for _ in range(k)]


VOCAB = Vocab()


def sentence(rng: random.Random, lo: int = 7, hi: int = 18) -> str:
    words = VOCAB.draw(rng, rng.randint(lo, hi))
    return words[0].capitalize() + " " + " ".join(words[1:]) + "."


def paragraph(rng: random.Random, lo: int = 2, hi: int = 6) -> str:
    return " ".join(sentence(rng) for _ in range(rng.randint(lo, hi)))


def title(rng: random.Random) -> str:
    return " ".join(w.capitalize() for w in VOCAB.rare(rng, rng.randint(2, 5)))


# ---------------------------------------------------------------------------
# office corpus
# ---------------------------------------------------------------------------

#: format mix of the office corpus (relative weights)
FORMAT_WEIGHTS = {
    "txt": 14, "html": 14, "md": 10, "csv": 8, "eml": 10,
    "docx": 14, "pptx": 8, "xlsx": 8, "pdf": 14,
}
FORMATS = tuple(FORMAT_WEIGHTS)
BINARY = ("docx", "pptx", "xlsx", "pdf")
#: share of files that are truncated or corrupt (always a binary format)
MALFORMED_SHARE = 0.02
#: share of files that are byte-identical copies of an earlier file
COPY_SHARE = 0.03

_ZIP_DATE = (2024, 1, 1, 0, 0, 0)
_W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
_A = "http://schemas.openxmlformats.org/drawingml/2006/main"
_P = "http://schemas.openxmlformats.org/presentationml/2006/main"
_S = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_RELS = "http://schemas.openxmlformats.org/package/2006/relationships"


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _zip(members: dict[str, str]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, body in members.items():
            info = zipfile.ZipInfo(name, date_time=_ZIP_DATE)
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, body)
    return buf.getvalue()


@dataclass
class Section:
    title: str
    paragraphs: list[str]
    bullets: list[str] = field(default_factory=list)


def _sections(rng: random.Random, words: int) -> list[Section]:
    """Sections totalling roughly ``words`` words of body text."""
    out: list[Section] = []
    total = 0
    while total < words or not out:
        paras = [paragraph(rng) for _ in range(rng.randint(1, 4))]
        bullets = (
            [sentence(rng, 4, 9) for _ in range(rng.randint(2, 5))]
            if rng.random() < 0.3 else []
        )
        out.append(Section(title(rng), paras, bullets))
        total += sum(len(p.split()) for p in paras + bullets)
    return out


def stratified(rng: random.Random, n: int) -> list[float]:
    """``n`` draws in [0, 1), one from each of ``n`` equal strata, in
    seeded order: corpora of different seeds then share one size
    distribution and differ only in content."""
    u = [(i + rng.random()) / n for i in range(n)]
    rng.shuffle(u)
    return u


def doc_words(u: float) -> int:
    """Log-uniform "small to medium": ~60 to ~2,400 words."""
    return int(60 * (40 ** u))


def make_txt(rng: random.Random, words: int) -> bytes:
    parts = []
    for s in _sections(rng, words):
        parts.append(s.title.upper())
        parts.extend(s.paragraphs)
        parts.extend(f"- {b}" for b in s.bullets)
    return ("\n\n".join(parts) + "\n").encode("utf-8")


def make_md(rng: random.Random, words: int) -> bytes:
    parts = []
    for i, s in enumerate(_sections(rng, words)):
        parts.append(("# " if i == 0 else "## ") + s.title)
        parts.extend(s.paragraphs)
        if s.bullets:
            parts.append("\n".join(f"- {b}" for b in s.bullets))
    return ("\n\n".join(parts) + "\n").encode("utf-8")


def make_html(rng: random.Random, words: int) -> bytes:
    body = []
    for i, s in enumerate(_sections(rng, words)):
        tag = "h1" if i == 0 else "h2"
        body.append(f"<{tag}>{_esc(s.title)}</{tag}>")
        body.extend(f"<p>{_esc(p)}</p>" for p in s.paragraphs)
        if s.bullets:
            body.append("<ul>" + "".join(f"<li>{_esc(b)}</li>" for b in s.bullets) + "</ul>")
    return (
        "<!DOCTYPE html>\n<html><head><meta charset=\"utf-8\"><title>"
        + _esc(title(rng)) + "</title></head>\n<body>\n"
        + "\n".join(body) + "\n</body></html>\n"
    ).encode("utf-8")


def _table(rng: random.Random, rows: int, cols: int) -> list[list[str]]:
    head = [w.capitalize() for w in VOCAB.rare(rng, cols)]
    body = [
        [VOCAB.rare(rng, 1)[0] if c % 2 == 0 else str(rng.randint(0, 99_999)) for c in range(cols)]
        for _ in range(rows)
    ]
    return [head] + body


def make_csv(rng: random.Random, words: int) -> bytes:
    table = _table(rng, max(8, words // 15), rng.randint(3, 6))
    return ("\n".join(",".join(r) for r in table) + "\n").encode("utf-8")


def make_eml(rng: random.Random, words: int) -> bytes:
    sender, to = VOCAB.rare(rng, 2)
    body = "\n\n".join(
        p for s in _sections(rng, words // 2) for p in s.paragraphs
    )
    head = (
        f"From: {sender}@example.com\n"
        f"To: {to}@example.org\n"
        f"Subject: {title(rng)}\n"
        f"Message-ID: <{rng.getrandbits(64):016x}@example.com>\n"
        f"Date: Mon, {rng.randint(1, 28)} Jun 2023 10:00:00 +0000\n"
        "MIME-Version: 1.0\n"
        "Content-Type: text/plain; charset=\"utf-8\"\n"
        "Content-Transfer-Encoding: 8bit\n\n"
    )
    return (head + body + "\n").encode("utf-8")


def make_docx(rng: random.Random, words: int) -> bytes:
    paras = []
    for s in _sections(rng, words):
        paras.append(
            '<w:p><w:pPr><w:pStyle w:val="Heading1"/></w:pPr>'
            f"<w:r><w:t>{_esc(s.title)}</w:t></w:r></w:p>"
        )
        paras.extend(f"<w:p><w:r><w:t>{_esc(p)}</w:t></w:r></w:p>" for p in s.paragraphs)
        paras.extend(
            '<w:p><w:pPr><w:pStyle w:val="ListBullet"/></w:pPr>'
            f"<w:r><w:t>{_esc(b)}</w:t></w:r></w:p>"
            for b in s.bullets
        )
    document = (
        f'<?xml version="1.0"?>\n<w:document xmlns:w="{_W}"><w:body>'
        + "".join(paras) + "</w:body></w:document>"
    )
    styles = (
        f'<?xml version="1.0"?>\n<w:styles xmlns:w="{_W}">'
        '<w:style w:type="paragraph" w:styleId="Heading1"><w:name w:val="Heading 1"/></w:style>'
        '<w:style w:type="paragraph" w:styleId="ListBullet"><w:name w:val="List Bullet"/></w:style>'
        "</w:styles>"
    )
    return _zip({
        "[Content_Types].xml": "<Types/>",
        "word/document.xml": document,
        "word/styles.xml": styles,
    })


def make_pptx(rng: random.Random, words: int) -> bytes:
    secs = _sections(rng, words // 2)
    members = {"[Content_Types].xml": "<Types/>"}
    ids, rels = [], []
    for i, s in enumerate(secs, start=1):
        bullets = "".join(
            f'<a:p><a:pPr lvl="0"><a:buChar char="•"/></a:pPr><a:r><a:t>{_esc(t)}</a:t></a:r></a:p>'
            for t in (s.bullets or s.paragraphs)
        )
        members[f"ppt/slides/slide{i}.xml"] = (
            f'<?xml version="1.0"?>\n<p:sld xmlns:p="{_P}" xmlns:a="{_A}"><p:cSld><p:spTree>'
            '<p:sp><p:nvSpPr><p:nvPr><p:ph type="title"/></p:nvPr></p:nvSpPr>'
            '<p:spPr><a:xfrm><a:off x="0" y="0"/></a:xfrm></p:spPr>'
            f"<p:txBody><a:p><a:r><a:t>{_esc(s.title)}</a:t></a:r></a:p></p:txBody></p:sp>"
            '<p:sp><p:nvSpPr><p:nvPr/></p:nvSpPr>'
            '<p:spPr><a:xfrm><a:off x="0" y="1000"/></a:xfrm></p:spPr>'
            f"<p:txBody>{bullets}</p:txBody></p:sp>"
            "</p:spTree></p:cSld></p:sld>"
        )
        ids.append(f'<p:sldId id="{255 + i}" r:id="rId{i}"/>')
        rels.append(f'<Relationship Id="rId{i}" Type="t" Target="slides/slide{i}.xml"/>')
    members["ppt/presentation.xml"] = (
        f'<?xml version="1.0"?>\n<p:presentation xmlns:p="{_P}" xmlns:r="{_R}">'
        f"<p:sldIdLst>{''.join(ids)}</p:sldIdLst></p:presentation>"
    )
    members["ppt/_rels/presentation.xml.rels"] = (
        f'<?xml version="1.0"?>\n<Relationships xmlns="{_RELS}">{"".join(rels)}</Relationships>'
    )
    return _zip(members)


def _col(c: int) -> str:
    return chr(ord("A") + c)


def make_xlsx(rng: random.Random, words: int) -> bytes:
    table = _table(rng, max(8, words // 20), rng.randint(3, 6))
    strings: list[str] = []
    index: dict[str, int] = {}
    rows = []
    for r, row in enumerate(table, start=1):
        cells = []
        for c, v in enumerate(row):
            ref = f"{_col(c)}{r}"
            if v.isdigit():
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
            else:
                if v not in index:
                    index[v] = len(strings)
                    strings.append(v)
                cells.append(f'<c r="{ref}" t="s"><v>{index[v]}</v></c>')
        rows.append(f'<row r="{r}">{"".join(cells)}</row>')
    sst = "".join(f"<si><t>{_esc(s)}</t></si>" for s in strings)
    return _zip({
        "[Content_Types].xml": "<Types/>",
        "xl/workbook.xml": (
            f'<?xml version="1.0"?>\n<workbook xmlns="{_S}" xmlns:r="{_R}">'
            f'<sheets><sheet name="{_esc(title(rng))[:31]}" sheetId="1" r:id="rId1"/></sheets></workbook>'
        ),
        "xl/_rels/workbook.xml.rels": (
            f'<?xml version="1.0"?>\n<Relationships xmlns="{_RELS}">'
            '<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>'
        ),
        "xl/sharedStrings.xml": (
            f'<?xml version="1.0"?>\n<sst xmlns="{_S}" count="{len(strings)}" '
            f'uniqueCount="{len(strings)}">{sst}</sst>'
        ),
        "xl/worksheets/sheet1.xml": (
            f'<?xml version="1.0"?>\n<worksheet xmlns="{_S}"><sheetData>'
            + "".join(rows) + "</sheetData></worksheet>"
        ),
    })


def _pdf_escape(s: str) -> str:
    return s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")


def _wrap(text: str, width: int = 90) -> list[str]:
    lines, cur = [], ""
    for w in text.split():
        if cur and len(cur) + 1 + len(w) > width:
            lines.append(cur)
            cur = w
        else:
            cur = f"{cur} {w}" if cur else w
    if cur:
        lines.append(cur)
    return lines


def make_pdf(rng: random.Random, words: int) -> bytes:
    """Classic-xref PDF: Helvetica text, one Flate content stream per
    page, headings at 18 pt and body lines at 11 pt."""
    lines: list[tuple[int, str]] = []
    for s in _sections(rng, words):
        lines.append((18, s.title))
        for p in s.paragraphs:
            lines.extend((11, ln) for ln in _wrap(p))
            lines.append((0, ""))
    pages: list[bytes] = []
    per_page = 48
    for start in range(0, len(lines), per_page):
        ops = [b"BT"]
        y = 740
        for size, ln in lines[start:start + per_page]:
            y -= 14 if size != 18 else 26
            if not ln:
                continue
            ops.append(
                b"/F1 %d Tf 1 0 0 1 72 %d Tm (%s) Tj"
                % (size, y, _pdf_escape(ln).encode("latin-1"))
            )
        ops.append(b"ET")
        pages.append(zlib.compress(b"\n".join(ops)))
    n = len(pages)
    # objects: 1 catalog, 2 pages, 3 font, then (page, content) pairs
    kids = " ".join(f"{4 + 2 * i} 0 R" for i in range(n)).encode()
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, n),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    for i, content in enumerate(pages):
        objs.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents %d 0 R /Resources << /Font << /F1 3 0 R >> >> >>" % (5 + 2 * i)
        )
        objs.append(
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
            % (len(content), content)
        )
    buf = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(buf))
        buf += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    xref_at = len(buf)
    buf += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        buf += b"%010d 00000 n \n" % off
    buf += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, xref_at,
    )
    return bytes(buf)


MAKERS = {
    "txt": make_txt, "html": make_html, "md": make_md, "csv": make_csv,
    "eml": make_eml, "docx": make_docx, "pptx": make_pptx,
    "xlsx": make_xlsx, "pdf": make_pdf,
}


def corrupt(rng: random.Random, fmt: str, data: bytes) -> bytes:
    """A truncated zip (office formats) or a PDF whose body is noise."""
    if fmt == "pdf":
        return b"%PDF-1.4\n" + rng.randbytes(len(data) // 2)
    return data[: len(data) * rng.randint(30, 70) // 100]


@dataclass
class OfficeFile:
    name: str
    fmt: str
    data: bytes
    malformed: bool = False
    copy_of: str | None = None


def _apportion(weights: dict[str, int], n: int) -> list[str]:
    """``n`` labels in exact proportion to ``weights`` (largest
    remainder), in label order."""
    total = sum(weights.values())
    exact = {k: n * w / total for k, w in weights.items()}
    counts = {k: int(v) for k, v in exact.items()}
    for k in sorted(exact, key=lambda k: counts[k] - exact[k])[: n - sum(counts.values())]:
        counts[k] += 1
    return [k for k in weights for _ in range(counts[k])]


def office_corpus(seed: int, n_files: int, stream: str = "office") -> list[OfficeFile]:
    """``n_files`` files in the fixed format mix and size distribution;
    a fixed share are corrupt (binary formats only) and a fixed share
    are byte-identical copies of earlier files. Another ``stream`` gives
    another corpus for the same seed."""
    rng = random.Random(f"{stream}:{seed}")
    fmts = _apportion(FORMAT_WEIGHTS, n_files)
    rng.shuffle(fmts)
    sizes = stratified(rng, n_files)
    n_bad = max(1, round(n_files * MALFORMED_SHARE))
    n_copy = round(n_files * COPY_SHARE)
    bad = set(rng.sample([i for i in range(1, n_files) if fmts[i] in BINARY], n_bad))
    copies = set(rng.sample([i for i in range(1, n_files) if i not in bad], n_copy))
    files: list[OfficeFile] = []
    for i, fmt in enumerate(fmts):
        if i in copies:
            src = rng.choice([f for f in files if not (f.malformed or f.copy_of)])
            files.append(OfficeFile(f"{i:05d}.{src.fmt}", src.fmt, src.data, copy_of=src.name))
            continue
        data = MAKERS[fmt](rng, doc_words(sizes[i]))
        if i in bad:
            data = corrupt(rng, fmt, data)
        files.append(OfficeFile(f"{i:05d}.{fmt}", fmt, data, malformed=i in bad))
    return files


def write_files(files: list[OfficeFile], directory: str) -> None:
    os.makedirs(directory, exist_ok=True)
    for f in files:
        with open(os.path.join(directory, f.name), "wb") as fh:
            fh.write(f.data)


# ---------------------------------------------------------------------------
# crawl corpus
# ---------------------------------------------------------------------------

#: share of pages that belong to a duplicate group of three (the
#: group's base page included)
DUP_SHARE = 0.25
#: share of pages that are too short to pass the quality gate
LOW_QUALITY_SHARE = 0.05
#: pages per WARC shard
PAGES_PER_SHARD = 10


@dataclass
class Page:
    doc_id: int
    site: int
    main: str
    group: int | None = None  # duplicate-group id, None for a unique page
    low_quality: bool = False


def _main_text(rng: random.Random, u: float) -> str:
    """Page-length text: 300 to 700 words (``u`` picks where) in
    paragraphs, with a seeded sprinkle of contact details for the PII
    redactor to find."""
    paras = []
    words = 300 + int(400 * u)
    while sum(len(p.split()) for p in paras) < words:
        p = paragraph(rng, 3, 7)
        if rng.random() < 0.15:
            p += f" Contact {VOCAB.rare(rng, 1)[0]}@example.net or call 555-{rng.randint(100, 999)}-{rng.randint(1000, 9999)}."
        paras.append(p)
    return "\n\n".join(paras)


def _near_copy(rng: random.Random, text: str, rate: float = 0.03) -> str:
    """Replace about ``rate`` of the words: 3-gram Jaccard stays well
    above the dedup threshold of 0.5."""
    paras = []
    for p in text.split("\n\n"):
        words = p.split(" ")
        for j in range(len(words)):
            if rng.random() < rate:
                words[j] = VOCAB.draw(rng, 1)[0]
        paras.append(" ".join(words))
    return "\n\n".join(paras)


def crawl_pages(seed: int, n_pages: int) -> list[Page]:
    rng = random.Random(f"crawl:{seed}")
    n_sites = max(2, n_pages // 20)
    pages: list[Page] = []
    n_dup = int(n_pages * DUP_SHARE)
    n_low = max(1, round(n_pages * LOW_QUALITY_SHARE))
    lengths = iter(stratified(rng, n_pages))
    # every group is a base page, an exact copy of its main text and a
    # near copy, so the duplicate graph has the same shape for every seed
    for group in range(n_dup // 3):
        base = _main_text(rng, next(lengths))
        for text in (base, base, _near_copy(rng, base)):
            pages.append(Page(0, rng.randrange(n_sites), text, group=group))
    for _ in range(n_low):
        pages.append(Page(0, rng.randrange(n_sites), sentence(rng, 5, 12), low_quality=True))
    while len(pages) < n_pages:
        pages.append(Page(0, rng.randrange(n_sites), _main_text(rng, next(lengths))))
    rng.shuffle(pages)
    for i, p in enumerate(pages):
        p.doc_id = i
    return pages


def _site_chrome(site: int) -> tuple[str, str]:
    rng = random.Random(f"site:{site}")
    links = "".join(
        f'<li><a href="/{w}">{w.capitalize()}</a></li>' for w in VOCAB.rare(rng, 8)
    )
    nav = f'<nav class="menu"><ul>{links}</ul></nav>'
    foot = (
        f'<footer><p>Copyright 2024 {title(rng)}. All rights reserved.</p>'
        f'<p><a href="/privacy">Privacy</a> | <a href="/terms">Terms</a></p></footer>'
    )
    return nav, foot


def page_html(p: Page) -> str:
    nav, foot = _site_chrome(p.site)
    body = "".join(f"<p>{_esc(para)}</p>" for para in p.main.split("\n\n"))
    return (
        f'<!DOCTYPE html><html><head><meta charset="utf-8"><title>Page {p.doc_id}</title>'
        f'</head><body><header><a href="/">Site {p.site}</a></header>{nav}'
        f'<main><article><h1>Article {p.doc_id}</h1>{body}</article></main>'
        f"{foot}</body></html>"
    )


def page_uri(p: Page) -> str:
    return f"https://site{p.site}.example.com/page/{p.doc_id}"


def write_warc_shards(
    pages: list[Page], directory: str, per_shard: int = PAGES_PER_SHARD
) -> list[str]:
    from unstructured_spark.sources.warc import build_warc_bytes

    os.makedirs(directory, exist_ok=True)
    paths = []
    for s in range(0, len(pages), per_shard):
        records = []
        for p in pages[s:s + per_shard]:
            body = page_html(p).encode("utf-8")
            payload = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
                b"Content-Length: %d\r\n\r\n%s" % (len(body), body)
            )
            records.append({
                "warc_type": "response",
                "target_uri": page_uri(p),
                "record_id": f"<urn:uuid:page-{p.doc_id}>",
                "content_type": "application/http; msgtype=response",
                "payload": payload,
            })
        path = os.path.join(directory, f"shard-{s // per_shard:04d}.warc.gz")
        with open(path, "wb") as fh:
            # one gzip member per record, as build_warc_bytes(gzip_per_record=
            # True) writes them, but with a fixed header time: the library
            # stamps each member with the clock, so shards written a second
            # apart would differ
            for r in records:
                fh.write(gzip.compress(build_warc_bytes([r]), mtime=0))
        paths.append(path)
    return paths


def digest_dir(directory: str) -> str:
    """sha256 over (name, bytes) of every file, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        h.update(name.encode())
        with open(os.path.join(directory, name), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def expected_survivors(pages: list[Page]) -> set[int]:
    """Pages the crawl chain must keep: every unique page and the
    lowest-id member of each duplicate group; low-quality pages go."""
    keep = {p.doc_id for p in pages if p.group is None and not p.low_quality}
    firsts: dict[int, int] = {}
    for p in pages:
        if p.group is not None:
            firsts[p.group] = min(firsts.get(p.group, p.doc_id), p.doc_id)
    return keep | set(firsts.values())

