"""Chunking — ``basic`` and ``by_title`` strategies (reference
``unstructured/chunking/{base,basic,title}.py``; SURVEY §2.4).

Chunking is a *sequential fold per document*: pre-chunk boundaries
depend on running accumulated length, so it cannot be a window
function. Spark mapping: ``df.groupBy("doc_id").applyInPandas(fold)``
with elements sorted by ``element_index`` inside the group. The shuffle
is ONE exchange keyed by doc_id; each document's fold is O(doc) with
O(window) memory — at 100 TB the parallelism unit is the document,
which is exactly the reference's unit of work.

Replicated semantics (reference file:line):
- flush pre-chunk on Title (by_title; base.py:1877-1879), page change
  when multipage_sections=False (base.py:1831-1874), soft limit
  new_after_n_chars (base.py:600-601), hard max max_characters default
  500 (base.py:33,176-188).
- Table elements isolated in their own pre-chunk (base.py:587-594);
  CheckBox dropped; empty-text elements dropped.
- by_title combiner: greedy re-merge of adjacent pre-chunks while the
  accumulated text < combine_text_under_n_chars, never across tables
  (base.py:1734-1809, title.py:160-170).
- chunk text = element texts joined with "\\n\\n" (base.py:289-297).
- oversized chunks split at the rightmost "\\n", then " ", then hard cut
  (base.py:1396-1624); continuation chunks get is_continuation=True and
  optional ``overlap`` tail chars from the previous chunk
  (base.py:860-873).
- oversized Table → TableChunk rows with table_id/chunk_index and
  text/text_as_html split on row boundaries (base.py:957-1393).
- metadata consolidation per field strategy (elements.py:490-579) +
  orig_element_ids.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from unstructured_spark.schema import CONSOLIDATION, ELEMENT_SCHEMA


# deterministic BPE-ish token: word runs or single punctuation marks
# (the reference's token mode counts tiktoken tokens, base.py:54-77;
# this tokenizer is dependency-free and deterministic across engines)
_TOKEN_RE = re.compile(r"\w+|[^\w\s]")


@dataclass
class ChunkingOptions:
    max_characters: int = 500  # hard max (base.py:33)
    new_after_n_chars: int | None = None  # soft max; default = hard max
    overlap: int = 0  # char overlap on text-split continuations
    overlap_all: bool = False  # also overlap between pre-chunks
    combine_text_under_n_chars: int | None = None  # by_title only
    multipage_sections: bool = True  # by_title only
    include_orig_elements: bool = True
    length_unit: str = "chars"  # 'chars' | 'tokens' (token-mode windows)
    repeat_table_headers: bool = True  # repeat header rows on TableChunks (base.py:200-206)
    # tiktoken model/encoding name ("gpt-4", "cl100k_base", ...) for
    # reference-exact token counts (base.py:54-77). None = the
    # dependency-free deterministic tokenizer. Requires token mode and
    # an installed tiktoken (import-gated; `doctor` lists the gate).
    tokenizer: str | None = None

    def __post_init__(self) -> None:
        if self.length_unit not in ("chars", "tokens"):
            raise ValueError("length_unit must be 'chars' or 'tokens'")
        if self.tokenizer is not None:
            if self.length_unit != "tokens":
                raise ValueError("'tokenizer' requires length_unit='tokens'")
            # fail fast on the driver; executors re-resolve from the
            # per-process cache (Encoding objects don't ship in closures)
            _tiktoken_encoder(self.tokenizer)
        # overlap must be less than the hard max or the oversized-split
        # remainder never shrinks and the executor-side fold loops forever
        # (reference base.py:380-384 raises the same way)
        if self.overlap >= self.max_characters:
            raise ValueError(
                "'overlap' argument must be less than 'max_characters', "
                f"got {self.overlap} >= {self.max_characters}"
            )
        if self.new_after_n_chars is None or self.new_after_n_chars > self.max_characters:
            self.new_after_n_chars = self.max_characters
        if self.combine_text_under_n_chars is None:
            self.combine_text_under_n_chars = self.max_characters
        self.combine_text_under_n_chars = min(
            self.combine_text_under_n_chars, self.max_characters
        )

    # -- length accounting: all window math funnels through these --

    def measure(self, text: str) -> int:
        if self.length_unit == "chars":
            return len(text)
        if self.tokenizer is not None:
            return len(_tiktoken_encoder(self.tokenizer).encode(text))
        return len(_TOKEN_RE.findall(text))

    def sep_cost(self) -> int:
        # "\n\n" costs 2 chars but zero tokens
        return len(_SEP) if self.length_unit == "chars" else 0

    def split(self, text: str) -> list[str]:
        if self.length_unit == "chars":
            return _split_oversized(text, self.max_characters, self.overlap)
        if self.tokenizer is not None:
            return _split_oversized_tiktoken(
                text,
                self.max_characters,
                self.overlap,
                _tiktoken_encoder(self.tokenizer),
            )
        return _split_oversized_tokens(text, self.max_characters, self.overlap)


_SEP = "\n\n"


def _split_once(s: str, maxlen: int, overlap: int) -> tuple[str, str]:
    """One reference-exact split step (_TextSplitter.__call__ +
    _split_from_maxlen, base.py:1418-1460,1584-1624): rightmost
    separator with match start in [overlap+1, maxlen]; the separator
    is removed and, when overlap > 1, replaced by a single space in
    the ``overlap-1``-char tail carried into the remainder; arb-char
    fallback cuts at maxlen and carries ``overlap`` raw chars with NO
    separator."""
    for sep in ("\n", " "):
        sep_len = len(sep)
        start = s.rfind(sep, overlap + 1, maxlen + sep_len)
        if start == -1:
            continue
        fragment = s[:start].rstrip()
        raw_remainder = s[start + sep_len :].lstrip()
        if overlap <= sep_len:
            remainder = raw_remainder
        else:
            tail = fragment[-(overlap - sep_len) :].lstrip()
            remainder = tail + " " + raw_remainder
        if not fragment or len(remainder) >= len(s):
            continue  # no progress with this separator
        return fragment, remainder.lstrip()
    return s[:maxlen].rstrip(), s[maxlen - overlap :].lstrip()


def _split_oversized(text: str, maxlen: int, overlap: int) -> list[str]:
    """Rightmost-separator split: prefer "\\n", then " ", else hard cut
    at maxlen; later fragments carry the reference's overlap tail
    (reference _TextSplitter, base.py:1396-1624)."""
    out: list[str] = []
    remainder = text
    while len(remainder) > maxlen:
        fragment, remainder = _split_once(remainder, maxlen, overlap)
        out.append(fragment)
    if remainder:
        out.append(remainder)
    return out


_TIKTOKEN_ENCODERS: dict[str, object] = {}


def _tiktoken_encoder(name: str):
    """Resolve a tiktoken encoding by model name then encoding name
    (reference TokenCounter, chunking/base.py:54-77), cached
    per-process. Import-gated: the container ships without tiktoken, so
    the dependency-free tokenizer stays the default and this raises a
    named gate when requested without the package (`doctor` lists it)."""
    enc = _TIKTOKEN_ENCODERS.get(name)
    if enc is None:
        try:
            import tiktoken
        except ImportError as e:  # pragma: no cover - tiktoken not in container
            raise ImportError(
                "ChunkingOptions(tokenizer=...) needs the optional 'tiktoken' "
                "package for reference-exact token counts; install it or use "
                "tokenizer=None for the built-in deterministic tokenizer "
                "(python -m unstructured_spark.doctor lists this gate)"
            ) from e
        try:
            enc = tiktoken.encoding_for_model(name)
        except KeyError:
            enc = tiktoken.get_encoding(name)
        _TIKTOKEN_ENCODERS[name] = enc
    return enc


def _split_oversized_tiktoken(
    text: str, max_tokens: int, overlap: int, enc
) -> list[str]:
    """Oversized split on exact tiktoken ids: sliding window of
    ``max_tokens`` ids stepping by ``max_tokens - overlap``, decoded
    back to text. Mirrors _split_oversized_tokens' invariants (every
    fragment <= max_tokens, overlap ids carried) with the reference's
    token arithmetic.

    BPE token boundaries can land mid-character (a multi-byte UTF-8
    char split across ids), and decoding a raw id slice there emits
    U+FFFD at fragment edges. Window edges are therefore snapped to
    the nearest token boundary that falls on a character boundary of
    the original byte stream, and fragments are sliced from the
    original bytes — no lossy round-trip."""
    ids = enc.encode(text)
    if len(ids) <= max_tokens:
        return [text]
    raw = text.encode("utf-8")
    # byte offset of each token boundary; boundary i is "clean" when it
    # lands on a UTF-8 character start in the original byte stream
    offs = [0]
    for t in ids:
        offs.append(offs[-1] + len(enc.decode_single_token_bytes(t)))

    def clean(i: int) -> bool:
        o = offs[i]
        return o >= len(raw) or (raw[o] & 0xC0) != 0x80

    def snap_end(s: int, e: int) -> int:
        # retreat to a clean boundary (fragment stays <= max_tokens);
        # pathological all-dirty windows (char spanning every id, <= 3
        # continuation bytes in practice) extend forward instead
        j = min(e, len(ids))
        while j > s + 1 and not clean(j):
            j -= 1
        if not clean(j):
            j = min(e, len(ids))
            while j < len(ids) and not clean(j):
                j += 1
        return j

    out: list[str] = []
    step = max_tokens - overlap
    start = 0
    while start < len(ids):
        end = snap_end(start, start + max_tokens)
        out.append(raw[offs[start] : offs[end]].decode("utf-8"))
        if end >= len(ids):
            break
        nxt = start + step
        while nxt > 0 and not clean(nxt):
            nxt -= 1  # never skip bytes: widen overlap to stay clean
        start = nxt if nxt > start else end
    return out


def _split_oversized_tokens(text: str, max_tokens: int, overlap: int) -> list[str]:
    """Token-mode splitter: pack whole whitespace units (a unit may be
    several BPE-ish tokens, e.g. "end." is 2) up to ``max_tokens`` per
    fragment; ``overlap`` carries trailing units into the next fragment."""
    units = re.findall(r"\S+\s*", text)
    # a single whitespace unit can itself exceed the window (long
    # punctuation/URL runs tokenize per char): hard-split it by tokens
    # so the max_tokens invariant holds unconditionally
    expanded: list[str] = []
    for unit in units:
        toks = _TOKEN_RE.findall(unit)
        if len(toks) <= max_tokens:
            expanded.append(unit)
        else:
            ws = unit[len(unit.rstrip()):]
            for i in range(0, len(toks), max_tokens):
                piece = "".join(toks[i : i + max_tokens])
                expanded.append(piece)
            if ws and expanded:
                expanded[-1] += ws
    units = expanded
    out: list[str] = []
    cur: list[str] = []
    cur_tokens = 0
    for unit in units:
        t = len(_TOKEN_RE.findall(unit))
        if cur and cur_tokens + t > max_tokens:
            out.append("".join(cur).rstrip())
            if overlap:
                carried: list[str] = []
                carried_tokens = 0
                for u in reversed(cur):
                    ut = len(_TOKEN_RE.findall(u))
                    if carried_tokens + ut > overlap:
                        break
                    carried.insert(0, u)
                    carried_tokens += ut
                cur, cur_tokens = carried, carried_tokens
            else:
                cur, cur_tokens = [], 0
        cur.append(unit)
        cur_tokens += t
    if cur:
        out.append("".join(cur).rstrip())
    return out


def _consolidate(rows: list[dict]) -> dict:
    """Merge element metadata per the consolidation registry
    (reference elements.py:490-579)."""
    meta: dict = {}
    for fname, strategy in CONSOLIDATION.items():
        values = [r.get(fname) for r in rows if r.get(fname) is not None]
        if not values:
            continue
        if strategy == "FIRST":
            meta[fname] = values[0]
        elif strategy == "LIST_CONCATENATE":
            acc: list = []
            for v in values:
                acc.extend(list(v))
            meta[fname] = acc
        elif strategy == "LIST_UNIQUE":
            acc, seen = [], set()
            for v in values:
                for item in list(v):
                    key = str(item)
                    if key not in seen:
                        seen.add(key)
                        acc.append(item)
            meta[fname] = acc
        # DROP: skip
    return meta


def _chunk_id(doc_id: str, text: str, index: int) -> str:
    h = hashlib.sha256(f"{doc_id}\x00{text}\x00{index}".encode()).hexdigest()
    return h[:32]


def _split_table_rows(
    rows: list, opts: ChunkingOptions
) -> tuple[list[tuple[str, str]], int]:
    """(text, html) pairs for an oversized table, each a parseable
    ``<table>`` fragment with text and HTML describing the same cells.

    Port of the reference's _HtmlTableSplitter (base.py:1192-1393):
    whole rows while they fit, an oversized row splits on whole cells,
    an oversized cell splits on text with 33 chars (10 tokens) reserved
    for the ``<table><tr><td>`` wrapper. Leading header rows repeat on
    continuation chunks inside ``<thead>`` (cells as ``<th>``) unless a
    single header row would consume more than half the window
    (base.py:1323-1331). Returns (pairs, carried_over_header_row_count).
    """
    maxlen_hard = opts.max_characters
    header_rows = []
    if opts.repeat_table_headers:
        for r in rows:
            if not r.is_header:
                break
            header_rows.append(r)
    header_text = " ".join(t for r in header_rows for t in r.cell_texts)
    max_header_row_len = max(
        (opts.measure(r.text) for r in header_rows), default=0
    )
    should_repeat = bool(header_rows) and max_header_row_len <= (maxlen_hard + 1) // 2
    carried = len(header_rows) if should_repeat else 0
    header_text_len = opts.measure(header_text)
    thead_html = (
        "<thead>" + "".join(r.header_html for r in header_rows) + "</thead>"
        if should_repeat
        else ""
    )

    def maxlen(first: bool) -> int:
        if first or not should_repeat:
            return maxlen_hard
        # one separator between repeated header text and body text
        return max(1, maxlen_hard - header_text_len - 1)

    pairs: list[tuple[str, str]] = []
    first = [True]

    def emit(text: str, html: str) -> None:
        if not first[0] and should_repeat:
            text = f"{header_text} {text}" if header_text and text else (header_text or text)
            inner = html[len("<table>"):-len("</table>")]
            html = f"<table>{thead_html}{inner}</table>"
        first[0] = False
        pairs.append((text, html))

    def cell_splits(cell, limit: int):
        # 33 = len("<table><tr><td></td></tr></table>") HTML overhead
        if opts.length_unit == "tokens":
            frags = _split_oversized_tokens(cell.text, max(1, limit - 10), 0)
        else:
            frags = _split_oversized(cell.text, max(1, limit - 33), 0)
        for f in frags:
            yield f, f"<table><tr><td>{f}</td></tr></table>"

    def row_splits(row, limit: int):
        # _CellAccumulator (base.py:1627-1672); will_fit counts CHARS
        # (len), not measure-units, mirroring the reference
        cells: list = []

        def cells_fit(cell) -> bool:
            return limit - len(cells) - sum(len(c.text) for c in cells) >= len(cell.text)

        def flush_cells():
            if not cells:
                return
            text = " ".join(c.text for c in cells if c.text)
            tds = "".join(c.html for c in cells)
            cells.clear()
            yield text, f"<table><tr>{tds}</tr></table>"

        for cell in row.cells:
            if not cells_fit(cell):
                yield from flush_cells()
            if cells_fit(cell):
                cells.append(cell)
            else:
                yield from cell_splits(cell, limit)
        yield from flush_cells()

    # _RowAccumulator (base.py:1676-1726)
    acc_rows: list = []
    acc_len = [0]
    acc_max = [maxlen(True)]

    def row_len(row) -> int:
        return opts.measure(row.text)

    def rows_fit(row) -> bool:
        return acc_max[0] - len(acc_rows) - acc_len[0] >= row_len(row)

    def flush_rows():
        if not acc_rows:
            return
        text = " ".join(t for r in acc_rows for t in r.cell_texts)
        trs = "".join(r.html for r in acc_rows)
        acc_rows.clear()
        acc_len[0] = 0
        yield text, f"<table>{trs}</table>"

    for row in rows:
        if not rows_fit(row):
            for t, h in flush_rows():
                emit(t, h)
            acc_max[0] = maxlen(first[0])
        if rows_fit(row):
            acc_rows.append(row)
            acc_len[0] += row_len(row)
        else:
            for t, h in row_splits(row, maxlen(first[0])):
                emit(t, h)
            acc_max[0] = maxlen(first[0])
    for t, h in flush_rows():
        emit(t, h)
    return pairs, carried


def _split_table(row: dict, opts: ChunkingOptions, doc_id: str, out: list[dict], next_index: list[int]) -> None:
    """Table pre-chunk → one Table chunk if it fits, else TableChunk
    splits with table_id / chunk_index (reference _TableChunker,
    base.py:957-1184). With HTML present, text and HTML split in sync
    on row → cell → text boundaries (_split_table_rows); headers repeat
    with ``num_carried_over_header_rows`` stamped on continuations.
    """
    from unstructured_spark.operators.html_table import parse_html_table, table_html

    text = (row["text"] or "").strip()
    if not " ".join(text.split()):
        return  # whitespace-only table produces no chunks (base.py:979-981)
    rows_model = parse_html_table(row.get("text_as_html") or "")
    html = table_html(rows_model) if rows_model else ""
    table_id = row.get("element_id") or _chunk_id(doc_id, text, 0)

    if opts.measure(text) <= opts.max_characters and (
        not html or opts.measure(html) <= opts.max_characters
    ):
        chunk = dict(row)
        chunk["type"] = "Table"
        chunk["text"] = text
        chunk["text_as_html"] = html or None
        _emit(chunk, doc_id, out, next_index, orig=[row])
        return

    # text-only fallback: no parsable HTML, or window too small for the
    # 33-char <table> overhead per chunk (base.py:999-1004)
    min_html_threshold = 15 if opts.length_unit == "tokens" else 50
    if not html or opts.max_characters < min_html_threshold:
        pairs: list[tuple[str, str | None]] = [(f, None) for f in opts.split(text)]
        carried = 0
    else:
        pairs, carried = _split_table_rows(rows_model, opts)

    for i, (frag, frag_html) in enumerate(pairs):
        chunk = dict(row)
        chunk.update(
            type="TableChunk",
            text=frag,
            table_id=table_id,
            chunk_index=i,
            is_continuation=True if i > 0 else None,
            text_as_html=frag_html,
            num_carried_over_header_rows=carried if i > 0 else 0,
        )
        _emit(chunk, doc_id, out, next_index, orig=[row])


def _emit(chunk: dict, doc_id: str, out: list[dict], next_index: list[int], orig: list[dict]) -> None:
    idx = next_index[0]
    next_index[0] += 1
    chunk["doc_id"] = doc_id
    chunk["element_index"] = idx
    chunk["element_id"] = _chunk_id(doc_id, chunk.get("text") or "", idx)
    chunk["orig_element_ids"] = [
        r["element_id"] for r in orig if r.get("element_id") is not None
    ] or None
    out.append(chunk)


def _form_chunks(
    pre_chunk: list[dict],
    opts: ChunkingOptions,
    doc_id: str,
    out: list[dict],
    next_index: list[int],
    overlap_prefix: str = "",
) -> str:
    """Pre-chunk → 1..N CompositeElements (reference base.py:702-954).

    Returns the overlap tail to prefix onto the next pre-chunk when
    ``overlap_all`` is set (reference base.py:523-572, 724-732): tables
    neither receive nor produce inter-pre-chunk overlap.
    """
    if len(pre_chunk) == 1 and pre_chunk[0]["type"] in ("Table", "TableChunk"):
        _split_table(pre_chunk[0], opts, doc_id, out, next_index)
        return ""
    segments = [r["text"] for r in pre_chunk if r["text"]]
    if overlap_prefix:
        segments = [overlap_prefix, *segments]
    text = _SEP.join(segments)
    meta = _consolidate(pre_chunk)
    fragments = (
        opts.split(text)
        if opts.measure(text) > opts.max_characters
        else [text]
    )
    for i, frag in enumerate(fragments):
        chunk = {k: None for k in _OUT_COLUMNS}
        chunk.update(meta)
        chunk.update(
            type="CompositeElement",
            text=frag,
            is_continuation=True if i > 0 else None,
        )
        _emit(chunk, doc_id, out, next_index, orig=pre_chunk)
    if opts.overlap_all and opts.overlap:
        if opts.length_unit == "tokens":
            # overlap is measured in TOKENS here — a char slice would
            # carry ~5x less context than the intra-chunk split overlap
            # in the same run. Whole whitespace words keep the carry
            # word-aligned (BPE counts may differ by a few tokens; the
            # size guard re-measures the prefix downstream).
            return " ".join(text.split()[-opts.overlap :])
        return text[-opts.overlap :].strip()
    return ""


_OUT_COLUMNS = [f.name for f in ELEMENT_SCHEMA.fields]


def _pre_chunk_fold(
    rows: list[dict], opts: ChunkingOptions, by_title: bool
) -> Iterator[list[dict]]:
    """PreChunker: sequential accumulate-and-flush (base.py:428-650)."""
    acc: list[dict] = []
    acc_len = 0
    prev_page = None
    for row in rows:
        etype = row["type"]
        text = row["text"] or ""
        # element text is whitespace-normalized at chunking time —
        # EXCEPT CodeSnippet, which keeps its formatting (reference
        # _iter_text_segments, base.py:733-749); Tables keep raw text
        # too (the table chunker normalizes internally)
        if etype not in ("CodeSnippet", "Table", "TableChunk"):
            text = " ".join(text.strip().split())
            row = dict(row, text=text)
        if etype == "CheckBox" or text == "":
            continue
        sep_len = opts.sep_cost() if acc else 0
        boundary = False
        if etype == "Table":
            boundary = True
        if by_title and etype == "Title":
            boundary = True
        if (
            by_title
            and not opts.multipage_sections
            and prev_page is not None
            and row.get("page_number") is not None
            and row.get("page_number") != prev_page
        ):
            boundary = True
        # size flush: would exceed hard max, or soft max already reached
        if acc_len + sep_len + opts.measure(text) > opts.max_characters:
            boundary = True
        soft_max = (
            opts.new_after_n_chars
            if opts.new_after_n_chars is not None
            else opts.max_characters
        )
        if acc_len >= soft_max:
            boundary = True
        if boundary and acc:
            yield acc
            acc, acc_len = [], 0
        if etype == "Table":
            yield [row]  # tables always isolated (base.py:587-594)
            prev_page = row.get("page_number", prev_page)
            continue
        acc.append(row)
        acc_len += (opts.sep_cost() if acc_len else 0) + opts.measure(text)
        if row.get("page_number") is not None:
            prev_page = row.get("page_number")
    if acc:
        yield acc


def _combine_pre_chunks(
    pre_chunks: list[list[dict]], opts: ChunkingOptions
) -> list[list[dict]]:
    """by_title PreChunkCombiner: greedily merge adjacent small sections
    (base.py:1734-1809); never across tables."""
    out: list[list[dict]] = []
    for pc in pre_chunks:
        is_table = len(pc) == 1 and pc[0]["type"] == "Table"
        if out and not is_table:
            prev = out[-1]
            prev_is_table = len(prev) == 1 and prev[0]["type"] == "Table"
            prev_len = sum(opts.measure(r["text"] or "") for r in prev) + _sep_len(prev, opts)
            new_len = sum(opts.measure(r["text"] or "") for r in pc) + _sep_len(pc, opts)
            if (
                not prev_is_table
                and prev_len < (opts.combine_text_under_n_chars or 0)
                and prev_len + opts.sep_cost() + new_len <= opts.max_characters
            ):
                prev.extend(pc)
                continue
        out.append(pc)
    return out


def _sep_len(rows: list[dict], opts: ChunkingOptions) -> int:
    n = sum(1 for r in rows if r["text"])
    return opts.sep_cost() * max(0, n - 1)


def _chunk_doc(rows: list[dict], opts: ChunkingOptions, by_title: bool) -> list[dict]:
    """The per-document chunk fold over ordered element rows."""
    doc_id = str(rows[0]["doc_id"])
    # synthesized type='Error' rows (on_error='capture' diagnostics)
    # pass through VERBATIM: folding a parse-failure marker into a
    # CompositeElement would erase the one signal it exists to carry.
    # This also keeps the fused parse+chunk path (which never routes
    # capture rows through the fold) bit-identical to this operator
    # path under capture mode.
    errors = [r for r in rows if r.get("type") == "Error"]
    rows = [r for r in rows if r.get("type") != "Error"]
    if not rows:
        return errors
    pre_chunks = list(_pre_chunk_fold(rows, opts, by_title))
    if by_title:
        pre_chunks = _combine_pre_chunks(pre_chunks, opts)
    out: list[dict] = []
    next_index = [0]
    overlap_prefix = ""
    for pc in pre_chunks:
        overlap_prefix = _form_chunks(
            pc, opts, doc_id, out, next_index, overlap_prefix
        )
    return errors + out


def _make_batched_fold(opts: ChunkingOptions, by_title: bool):
    """mapInPandas fold over doc_id-clustered, order-sorted partitions.

    One pandas frame in/out per ~10k-row Arrow batch instead of one per
    document: with millions of small documents the per-group pandas
    overhead of ``groupBy().applyInPandas`` dominates the actual fold,
    while batching amortizes it ~1000×. A document may straddle two
    Arrow batches within the partition, so the tail doc is buffered and
    carried into the next batch.
    """

    def fold(batches) -> "pd.DataFrame":
        import pandas as _pd

        def finish(rows: list[dict]) -> list[dict]:
            for r in rows:
                for k, v in list(r.items()):
                    if v is None or (isinstance(v, float) and _pd.isna(v)):
                        r[k] = None
            return _chunk_doc(rows, opts, by_title)

        def to_frame(out: list[dict]) -> "_pd.DataFrame":
            res = _pd.DataFrame(out)
            for c in _OUT_COLUMNS:
                if c not in res.columns:
                    res[c] = None
            return res[_OUT_COLUMNS]

        carry: list[dict] = []
        for pdf in batches:
            if pdf.empty:
                continue
            rows = pdf.to_dict("records")
            out: list[dict] = []
            start = 0
            for i in range(1, len(rows)):
                if rows[i]["doc_id"] != rows[start]["doc_id"]:
                    doc = rows[start:i]
                    if carry and carry[0]["doc_id"] == doc[0]["doc_id"]:
                        doc = carry + doc
                        carry = []
                    elif carry:
                        out.extend(finish(carry))
                        carry = []
                    out.extend(finish(doc))
                    start = i
            tail = rows[start:]
            if carry and carry[0]["doc_id"] == tail[0]["doc_id"]:
                carry = carry + tail
            else:
                if carry:
                    out.extend(finish(carry))
                carry = tail
            if out:
                yield to_frame(out)
        if carry:
            yield to_frame(finish(carry))

    return fold


def _run_chunker(df: DataFrame, opts: ChunkingOptions, by_title: bool) -> DataFrame:
    clustered = df.repartition("doc_id").sortWithinPartitions(
        "doc_id", "element_index"
    )
    return clustered.mapInPandas(
        _make_batched_fold(opts, by_title), schema=ELEMENT_SCHEMA
    )


def chunk_elements(df: DataFrame, **kwargs) -> DataFrame:
    """``basic`` strategy (reference chunking/basic.py): size-only
    boundaries + table isolation."""
    return _run_chunker(df, ChunkingOptions(**kwargs), by_title=False)


def chunk_by_title(df: DataFrame, **kwargs) -> DataFrame:
    """``by_title`` strategy (reference chunking/title.py): semantic
    boundaries on Title/page + small-section re-combine."""
    return _run_chunker(df, ChunkingOptions(**kwargs), by_title=True)


# open strategy registry (reference chunking/dispatch.py:118-120
# register_chunking_strategy): plug-in chunkers dispatch by name the
# same way partitioners do (parsers.dispatch.register_partitioner)
_STRATEGIES: dict = {}


def register_chunking_strategy(name: str, fn) -> None:
    """Register ``fn(df, **kwargs) -> DataFrame`` under ``name`` for
    :func:`chunk` dispatch."""
    _STRATEGIES[name] = fn


def chunk(df: DataFrame, strategy: str = "basic", **kwargs) -> DataFrame:
    """Dispatch to a chunking strategy by name (reference
    chunking/dispatch.py chunk())."""
    try:
        fn = _STRATEGIES[strategy]
    except KeyError:
        raise ValueError(
            f"unregistered chunking strategy {strategy!r}; "
            f"known: {sorted(_STRATEGIES)}"
        ) from None
    return fn(df, **kwargs)


def reconstruct_table_from_chunks(df: DataFrame) -> DataFrame:
    """Inverse of table splitting (reference chunking/dispatch.py:146-325):
    group ``TableChunk`` rows by ``table_id``, order by ``chunk_index``,
    merge text and HTML back into one Table row per original table.

    Repeated header rows are removed before merging: continuation
    chunks carry them inside ``<thead>`` with ``th`` cells and stamp
    ``num_carried_over_header_rows`` (dispatch.py:200-232,290-325);
    the canonical ``<thead>`` leads the reconstructed table and the
    first chunk's matching leading ``td`` rows are dropped. The
    reference's row-text-signature cross-check is omitted — chunks
    produced by ``_split_table`` satisfy it by construction.

    Native plan: one hash aggregation with ``sort_array(collect_list(
    struct(...)))`` then higher-order array functions — the merge is
    string algebra over an ordered array, all JVM-side (no Python).
    """
    from pyspark.sql import functions as F

    chunks = df.filter(F.col("type") == "TableChunk")

    def _header_text(thead):
        # normalized cell text of a <thead> fragment
        return F.trim(
            F.regexp_replace(F.regexp_replace(thead, "<[^>]+>", " "), "\\s+", " ")
        )

    def _strip_text(p):
        """Remove the carried header-text prefix from a continuation
        chunk's text (dispatch.py:290-325)."""
        thead = F.regexp_extract(
            F.coalesce(p["text_as_html"], F.lit("")), "^<table>(<thead>.*?</thead>)", 1
        )
        ht = _header_text(thead)
        carried = (p["chunk_index"] > 0) & (
            F.coalesce(p["num_carried_over_header_rows"], F.lit(0)) > 0
        ) & (thead != "")
        body = F.when(p["text"] == ht, F.lit("")).when(
            p["text"].startswith(F.concat(ht, F.lit(" "))),
            F.substring(p["text"], F.length(ht) + 2, F.lit(2147483647)),
        ).otherwise(p["text"])
        return F.when(carried & (ht != ""), body).otherwise(p["text"])

    merged = (
        chunks.groupBy("doc_id", "table_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("chunk_index"),
                        F.col("text"),
                        F.col("text_as_html"),
                        F.col("num_carried_over_header_rows"),
                    )
                )
            ).alias("parts"),
            F.min("element_index").alias("element_index"),
            F.first("page_number", ignorenulls=True).alias("page_number"),
        )
        .withColumn(
            # canonical <thead> = the first continuation chunk's carried
            # header block (dispatch.py:233-257)
            "_thead",
            F.try_element_at(
                F.transform(
                    F.filter(
                        F.col("parts"),
                        lambda p: (p["chunk_index"] > 0)
                        & (F.coalesce(p["num_carried_over_header_rows"], F.lit(0)) > 0)
                        & F.coalesce(p["text_as_html"], F.lit("")).startswith("<table><thead>"),
                    ),
                    lambda p: F.regexp_extract(
                        p["text_as_html"], "^<table>(<thead>.*?</thead>)", 1
                    ),
                ),
                F.lit(1),
            ),
        )
        .withColumn(
            # the same header rows as they appear inline in the first
            # chunk (plain td cells)
            "_td_rows",
            F.when(
                F.col("_thead").isNotNull(),
                F.regexp_replace(
                    F.regexp_replace(F.col("_thead"), "^<thead>|</thead>$", ""),
                    "<(/?)th(?=[ />])",
                    "<$1td",
                ),
            ),
        )
        .select(
            "doc_id",
            F.col("table_id").alias("element_id"),
            "element_index",
            F.lit("Table").alias("type"),
            F.array_join(
                F.filter(
                    F.transform("parts", _strip_text), lambda t: t.isNotNull() & (t != "")
                ),
                " ",
            ).alias("text"),
            F.when(
                F.exists("parts", lambda p: p["text_as_html"].isNotNull()),
                F.concat(
                    F.lit("<table>"),
                    F.coalesce(F.col("_thead"), F.lit("")),
                    F.array_join(
                        F.transform(
                            "parts",
                            lambda p, i: F.when(
                                (i == 0)
                                & F.col("_td_rows").isNotNull()
                                & F.coalesce(p["text_as_html"], F.lit("")).startswith(
                                    F.concat(F.lit("<table>"), F.col("_td_rows"))
                                ),
                                # first chunk: drop its leading header
                                # rows (start = len("<table>") + len(td_rows) + 1)
                                F.substring(
                                    F.regexp_replace(p["text_as_html"], "</table>$", ""),
                                    F.length(F.col("_td_rows")) + 8,
                                    F.lit(2147483647),
                                ),
                            ).otherwise(
                                F.regexp_replace(
                                    F.regexp_replace(
                                        F.coalesce(p["text_as_html"], F.lit("")),
                                        "^<table><thead>.*?</thead>",
                                        "<table>",
                                    ),
                                    "</?table>",
                                    "",
                                )
                            ),
                        ),
                        "",
                    ),
                    F.lit("</table>"),
                ),
            ).alias("text_as_html"),
            "page_number",
        )
        .drop("_thead", "_td_rows")
    )
    return merged


_STRATEGIES.update({"basic": chunk_elements, "by_title": chunk_by_title})
