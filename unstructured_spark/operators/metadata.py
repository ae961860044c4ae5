"""Metadata post-processing (reference ``partition/common/metadata.py``).

The reference wraps every partitioner with ``@apply_metadata`` which, in
order: detects languages, stamps provenance, assigns deterministic hash
ids, and assigns hierarchy (metadata.py:155-281). Here that pass is ONE
pure function over a document's ordered element rows,
:func:`py_finalize_doc`, run inside the partition UDF
(operators/partition_auto.py): a document is fully contained in one
input row, so ids, doc-level language and hierarchy cost no shuffle.

:func:`detect_language_expr` is the column form of the language rule,
for filtering element tables by language (pipelines.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

# category ruleset for hierarchy (reference metadata.py:36-60): maps a
# parent category to the child categories it may adopt. The ruleset
# trumps category_depth — depth only breaks ties within a category.
_CHILD_CATEGORIES = (
    "Text",
    "UncategorizedText",
    "NarrativeText",
    "ListItem",
    "BulletedText",
    "Table",
    "FigureCaption",
    "CheckBox",
)
_HIERARCHY_RULESET: dict[str, tuple[str, ...]] = {
    "Title": _CHILD_CATEGORIES,
    "Header": ("Title",) + _CHILD_CATEGORIES,
}


# ---------------------------------------------------------------------------
# Language detection — deterministic n-gram/stopword heuristic
# (stands in for the reference's langdetect seed=0 call,
# common/lang.py:412-560; model-free so it runs JVM-side).
# ---------------------------------------------------------------------------

_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "eng": ("the", "and", "of", "to", "is", "that", "for", "with"),
    "spa": ("el", "la", "los", "las", "que", "por", "una", "para"),
    "fra": ("le", "les", "des", "est", "une", "dans", "pour", "avec"),
    "deu": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "ita": ("il", "che", "di", "per", "con", "una", "sono", "questo"),
    "por": ("o", "que", "em", "um", "uma", "para", "com", "não"),
}


def detect_language_expr(text_col):
    """Score stopword hits per language over a lowercase token array and
    pick the argmax; <5 ASCII words → 'eng' fallback (reference
    common/lang.py:412-560 behavior shape).
    """
    toks = F.split(F.lower(F.trim(text_col)), "\\s+")
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(m) for m in markers])
        score = F.size(F.array_intersect(toks, marker_arr))
        scores.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return F.when(F.size(toks) < 5, F.lit("eng")).otherwise(best["lang"])


def py_detect_language(text: str) -> str:
    """Python mirror of :func:`detect_language_expr` (same markers, same
    argmax tie-break on (score, lang))."""
    toks = text.lower().split()
    if len(toks) < 5:
        return "eng"
    tokset = set(toks)
    return max(
        (len(tokset & set(markers)), lang)
        for lang, markers in _LANG_MARKERS.items()
    )[1]


def py_finalize_doc(
    rows: list[dict], *, doc_id: str, filename: str | None = None
) -> list[dict]:
    """Hash ids + doc language + hierarchy for one document's ordered
    element rows — the one ``apply_metadata`` rule (reference
    metadata.py:196-277 order), applied in place.

    - ``element_id``: sha256 of filename (else ``doc_id``) + text +
      page_number + sequence-on-page, truncated to 32 hex chars
      (reference elements.py:789-808, metadata.py:284-311);
    - ``languages``: the doc-level :func:`py_detect_language` over the
      joined text, filled only where the parser left none;
    - ``parent_id``: a stack fold in element order (reference
      metadata.py:99-147): the nearest preceding element of the same
      category at a strictly shallower depth, or of a different
      category whose ruleset admits this one. A parser-assigned
      parent is kept."""
    import hashlib

    lang = py_detect_language(" ".join(r.get("text") or "" for r in rows))
    fname = filename or doc_id
    seq_on_page: dict[int, int] = {}
    for r in rows:
        page = r.get("page_number")
        key = -1 if page is None else int(page)
        s = seq_on_page.get(key, 0)
        seq_on_page[key] = s + 1
        basis = (
            f"{fname}{r.get('text') or ''}"
            f"{'' if page is None else int(page)}{s}"
        )
        r["element_id"] = hashlib.sha256(basis.encode("utf-8")).hexdigest()[:32]
        if not r.get("languages"):
            r["languages"] = [lang]
    stack: list[tuple[str, int, str]] = []
    for r in rows:
        if r.get("parent_id") is not None:
            continue
        etype = r.get("type") or "Text"
        depth = r.get("category_depth")
        depth = int(depth) if depth is not None else 0
        parent = None
        while stack:
            top_cat, top_depth, top_id = stack[-1]
            if (top_cat == etype and top_depth < depth) or (
                top_cat != etype and etype in _HIERARCHY_RULESET.get(top_cat, ())
            ):
                parent = top_id
                break
            stack.pop()
        r["parent_id"] = parent
        stack.append((etype, depth, r["element_id"]))
    return rows
