"""Plain-text → elements: the one text partitioner, run inside the
auto-router UDF (reference ``partition/text.py:42-166``)."""

from __future__ import annotations

import re

from unstructured_spark.functions.patterns import _BULLET_CLASS
from unstructured_spark.parsers import classify

PARAGRAPH_RE = re.compile(r"\s*\n\s*")  # single-newline paragraph split
_DOUBLE_PARAGRAPH_RE = re.compile(r"(?:\s*\n\s*){2}")
_WS_RE = re.compile(r"\s+")

# newline-ratio dispatch threshold for auto paragraph grouping
# (reference auto_paragraph_grouper, cleaners/core.py:234-265)
_NEWLINE_RATIO_THRESHOLD = 0.1
_MAX_LINE_COUNT = 2000

# bullet run at block start / zero-width bullet split / OCR "e"-bullet
# (reference nlp/patterns.py:55-58)
_BULLET_RUN_RE = re.compile(rf"(?:[{_BULLET_CLASS}])(?![{_BULLET_CLASS}])")
_BULLET_SPLIT_RE = re.compile(rf"(?=[{_BULLET_CLASS}])(?<![{_BULLET_CLASS}])")
_E_BULLET_RE = re.compile(r"^e(?=\s)", re.MULTILINE)
# line splitter used by the all-short-lines check: bullets or newline
# runs not followed by a bullet / end (reference PARAGRAPH_PATTERN_RE,
# nlp/patterns.py:75-77 — capturing group kept so separators surface
# in the split, matching the reference's use of .split())
_LINE_SPLIT_RE = re.compile(
    rf"((?:[{_BULLET_CLASS}])|\s*\n\s*)(?![{_BULLET_CLASS}]|$)"
)


def group_bullet_paragraph(paragraph: str) -> list[str]:
    """Un-wrap hard-broken bullet paragraphs; one string per bullet
    (reference cleaners/core.py:107-133)."""
    paragraph = _E_BULLET_RE.sub("·", paragraph).strip()
    out = []
    for bullet in _BULLET_SPLIT_RE.split(paragraph):
        if bullet:
            out.append(PARAGRAPH_RE.sub(" ", bullet))
    return out


def group_broken_paragraphs(text: str) -> str:
    """Reference group_broken_paragraphs (cleaners/core.py:136-186):
    blank-line-separated blocks become paragraphs with internal
    newlines flattened to spaces — EXCEPT bullet blocks (split per
    bullet) and blocks whose lines are all short (< 5 words each,
    e.g. title/address stacks), which stay one element per line."""
    clean_paragraphs = []
    for paragraph in _DOUBLE_PARAGRAPH_RE.split(text):
        stripped = paragraph.strip()
        if not stripped:
            continue
        if _BULLET_RUN_RE.match(stripped) or _E_BULLET_RE.match(stripped):
            clean_paragraphs.extend(group_bullet_paragraph(paragraph))
            continue
        para_split = _LINE_SPLIT_RE.split(paragraph)
        all_lines_short = all(
            len(line.strip().split(" ")) < 5 for line in para_split if line is not None
        )
        if all_lines_short:
            clean_paragraphs.extend(
                line for line in para_split if line is not None and line.strip()
            )
        else:
            clean_paragraphs.append(PARAGRAPH_RE.sub(" ", paragraph))
    return "\n\n".join(clean_paragraphs)


def new_line_grouper(text: str) -> str:
    """One paragraph per nonempty line (reference cleaners/core.py:187-210)."""
    return "\n\n".join(ln for ln in text.splitlines() if ln.strip())


def auto_paragraph_group(text: str) -> str:
    """Reference auto_paragraph_grouper (cleaners/core.py:234-265):
    blank-line ratio over the first 2000 lines decides — few blank
    lines → every line is its own paragraph (new_line_grouper);
    otherwise blank-line blocks with un-wrapping (group_broken)."""
    lines = text.split("\n")
    if not lines:
        return text
    sample = lines[:_MAX_LINE_COUNT]
    empty = sum(1 for ln in sample if not ln.strip())
    ratio = empty / len(sample)
    if ratio < _NEWLINE_RATIO_THRESHOLD:
        return new_line_grouper(text)
    return group_broken_paragraphs(text)


def text_to_elements(
    text: str, paragraph_grouper: str | None = None
) -> list[dict]:
    """Split into paragraphs and classify each (no metadata pass).

    The final split is on SINGLE newlines (reference
    _split_by_paragraph, partition/text.py:214-216) — the groupers
    above have already flattened intra-paragraph newlines, so any
    remaining newline is a paragraph boundary."""
    if paragraph_grouper == "auto":
        text = auto_paragraph_group(text)
    elif paragraph_grouper == "group_broken":
        text = group_broken_paragraphs(text)
    out: list[dict] = []
    for para in PARAGRAPH_RE.split(text.strip()):
        # strip only — internal runs of spaces are preserved in element
        # text (reference keeps ctext.strip() verbatim, text.py:100-106)
        t = para.strip()
        if not t or re.fullmatch(rf"[{_BULLET_CLASS}]\s*", t):
            continue
        etype = classify.element_type_from_text(t)
        if etype == "ListItem" and classify.is_bulleted_text(t):
            # bulleted ListItems lose the bullet char (reference
            # partition/text.py:128-134 → clean_bullets)
            t = classify.clean_bullets_text(t)
        out.append({"type": etype, "text": t})
    return out
