"""Classifier predicates and the ``element_from_text`` decision tree —
the one classification rule every partitioner runs (through
``document_rows`` → ``py_finalize_doc``). Semantics follow reference
``partition/text_type.py``; the partition-spine oracle
(``q_partition_elements``) replays them in SQL.
"""

from __future__ import annotations

import functools
import os
import re

from unstructured_spark.functions import patterns

# ---------------------------------------------------------------------------
# Env-override resolution. Reference semantics read the UNSTRUCTURED_* env
# per call (text_type.py:70-81) — faithful for direct calls and tests, but
# inside the per-element parse loop 3-4 os.environ lookups + float() parses
# per element measurably slowed the partition spine (r7 bench regression).
# ``env_snapshot()`` freezes the PARSED overrides once per Arrow batch; the
# predicates consult the frozen dict when one is active and fall back to
# live per-call reads otherwise, so monkeypatched env in tests still takes
# effect immediately.
# ---------------------------------------------------------------------------

_ENV_PARSERS = {
    "UNSTRUCTURED_LANGUAGE_CHECKS": lambda v: v.lower() == "true",
    "UNSTRUCTURED_NARRATIVE_TEXT_CAP_THRESHOLD": float,
    "UNSTRUCTURED_NARRATIVE_TEXT_NON_ALPHA_THRESHOLD": float,
    "UNSTRUCTURED_TITLE_MAX_WORD_LENGTH": int,
    "UNSTRUCTURED_TITLE_NON_ALPHA_THRESHOLD": float,
}
_ENV_ACTIVE: dict | None = None


class env_snapshot:
    """Freeze classifier env overrides for the duration of a batch.

    Re-entrant (restores the previous snapshot on exit). Used by the
    ``partition_documents`` mapInPandas loop so the per-element
    predicates pay zero env/parse cost; workers are single-task so a
    module global is race-free.
    """

    def __enter__(self):
        global _ENV_ACTIVE
        self._prev = _ENV_ACTIVE
        _ENV_ACTIVE = {
            k: (p(os.environ[k]) if k in os.environ else None)
            for k, p in _ENV_PARSERS.items()
        }
        return _ENV_ACTIVE

    def __exit__(self, *exc):
        global _ENV_ACTIVE
        _ENV_ACTIVE = self._prev
        return False


def _env_override(key: str):
    """Parsed env override for ``key``, or None when unset — from the
    active snapshot when one is installed, else a live read."""
    snap = _ENV_ACTIVE
    if snap is not None:
        return snap[key]
    v = os.environ.get(key)
    return _ENV_PARSERS[key](v) if v is not None else None

BULLETED_RE = re.compile(patterns.BULLETED_TEXT)
NUMBERED_RE = re.compile(patterns.NUMBERED_LIST)
EMAIL_RE = re.compile(f"^{patterns.EMAIL_ADDRESS}$")
ZIP_RE = re.compile(f"^{patterns.US_CITY_STATE_ZIP}$")
PHONE_RE = re.compile(patterns.US_PHONE)
NUMERIC_RE = re.compile(r"^[0-9.,$%() \-]+$")
SENTENCE_SPLIT_RE = re.compile(r"[.!?] |[.!?]$|[。！？։؟۔।።]")
VERB_SUFFIX_RE = re.compile(r"(?i)\b[^\W\d_]{3,}(ing|ed)\b")

_COMMON_VERBS = frozenset(
    "is are was were be been being am has have had do does did will would "
    "can could shall should may might must get got make made take took go "
    "went see saw said say use used need needs provide provides include "
    "includes require requires show shows contain contains".split()
)


def word_count(text: str) -> int:
    return len(text.strip().split())


def sentence_count(text: str, min_length: int | None = None) -> int:
    parts = [p for p in SENTENCE_SPLIT_RE.split(text) if p.strip()]
    if min_length:
        parts = [p for p in parts if len(p.strip().split()) >= min_length]
    return len(parts)


# every codepoint str.isspace() accepts (Unicode bidirectional WS/B/S
# classes + the Zs category) — a delete-translation table so the
# non-space projection runs in C instead of a per-char Python loop
_ISSPACE_DELETE = {
    cp: None
    for cp in (
        *range(0x09, 0x0E), *range(0x1C, 0x21), 0x85, 0xA0, 0x1680,
        *range(0x2000, 0x200B), 0x2028, 0x2029, 0x202F, 0x205F, 0x3000,
    )
}
assert all(chr(cp).isspace() for cp in _ISSPACE_DELETE)


def under_non_alpha_ratio(text: str, threshold: float = 0.5) -> bool:
    """ACCEPT condition: alpha/non-space >= threshold (the reference's
    under_non_alpha_ratio returns the REJECT side).

    Hot path (runs over the FULL text of every element): the non-space
    projection is a C-level translate and the alpha count a C-level
    ``map(str.isalpha, ...)`` — identical semantics to the per-char
    loop, ~5x faster (this function dominated the r7 partition-spine
    profile)."""
    non_space = text.translate(_ISSPACE_DELETE)
    if not non_space:
        return False
    alpha = sum(map(str.isalpha, non_space))
    return (alpha / len(non_space)) >= threshold


def exceeds_cap_ratio(text: str, threshold: float = 0.5) -> bool:
    """Reference text_type.py:236-267: multi-sentence exemption,
    all-caps always exceeds, no-alpha-tokens exceeds, capitalized =
    istitle-or-isupper over alpha-only tokens."""
    if sentence_count(text, 3) > 1:
        return False
    if text.isupper():
        return True
    tokens = [w for w in text.strip().split() if w.isalpha()]
    if not tokens:
        return True
    caps = sum(1 for w in tokens if w.istitle() or w.isupper())
    return (caps / len(tokens)) > threshold


def is_bulleted_text(text: str) -> bool:
    return bool(BULLETED_RE.match(text))


def clean_bullets_text(text: str) -> str:
    """Strip one leading bullet char + whitespace (reference
    cleaners/core.py:37-53; applied to bulleted ListItems by
    partition_text's element_from_text, partition/text.py:128-134)."""
    if not BULLETED_RE.match(text):
        return text
    return BULLETED_RE.sub("", text, 1).strip()


def is_possible_numbered_list(text: str) -> bool:
    return bool(NUMBERED_RE.match(text))


def is_email_address(text: str) -> bool:
    return bool(EMAIL_RE.match(text.strip()))


def is_us_city_state_zip(text: str) -> bool:
    return bool(ZIP_RE.match(text.strip()))


def is_numeric(text: str) -> bool:
    t = text.strip()
    return bool(NUMERIC_RE.match(t)) and any(c.isdigit() for c in t)


_VERB_SUFFIX_FALSE_POSITIVES = frozenset(
    # -ed/-ing words that are (almost) always nominal/adjectival in
    # documents; the reference's POS tagger resolves these by context
    "united kindred hundred sacred naked wicked rugged ragged beloved "
    "standing outstanding "
    "everything anything nothing something king ring spring string "
    "thing wing sterling darling duckling sibling".split()
)

# Penn Treebank verb tags (reference text_type.py:22)
POS_VERB_TAGS = ("VB", "VBG", "VBD", "VBN", "VBP", "VBZ")

# POS tagger plug point. The reference tags with spaCy en_core_web_sm
# (nlp/tokenize.py:23,115,181-185: exclude ner/lemmatizer/
# attribute_ruler, Penn ``token.tag_``). The exact replay is an
# EXPLICIT registration — ``enable_spacy_pos()`` or
# ``set_pos_tagger(fn)`` — never an import-probe: like every other
# model plug in this repo (layout/OCR/STT/translator/rasterizer),
# engine output must be a function of configuration, not of which
# optional packages happen to be importable (an auto-probe would also
# silently break the q_partition_elements oracle hash on hosts with
# spacy installed). Without a registered tagger ``contains_verb`` uses
# the deterministic lexicon heuristic.
_POS_TAGGER = None


def set_pos_tagger(fn) -> None:
    """Register ``fn(text) -> [(word, tag)]`` (Penn tags) as the POS
    backend for ``contains_verb``; ``None`` restores the lexicon."""
    global _POS_TAGGER
    _POS_TAGGER = fn
    _pos_tag.cache_clear()


def enable_spacy_pos(model: str = "en_core_web_sm"):
    """Load spaCy with the reference's exclude set and register it as
    the POS tagger — reference-exact ``contains_verb`` in one call.
    Import-gated on the optional 'spacy' package + model."""
    try:
        import spacy  # type: ignore

        nlp = spacy.load(
            model, exclude=["ner", "lemmatizer", "attribute_ruler"]
        )
    except ImportError as e:  # pragma: no cover - not in container
        raise ImportError(
            "enable_spacy_pos needs the optional 'spacy' package plus the "
            f"'{model}' model; python -m unstructured_spark.doctor lists "
            "this gate"
        ) from e

    def tag(text: str):
        return [(t.text, t.tag_) for t in nlp(str(text))]

    set_pos_tagger(tag)
    return tag


@functools.lru_cache(maxsize=4096)
def _pos_tag(text: str):
    """Cached POS tags (reference pos_tag's lru_cache,
    nlp/tokenize.py:180-185). Only called when a tagger is registered."""
    return tuple(_POS_TAGGER(text))


def contains_verb(text: str) -> bool:
    if _POS_TAGGER is not None:
        # reference text_type.py:180-187: lowercase all-caps text, any
        # Penn verb tag counts
        if text.isupper():
            text = text.lower()
        return any(tag in POS_VERB_TAGS for _, tag in _pos_tag(text))
    lowered = text.lower().split()
    if _COMMON_VERBS.intersection(lowered):
        return True
    for m in VERB_SUFFIX_RE.finditer(text):
        if m.group(0).lower() not in _VERB_SUFFIX_FALSE_POSITIVES:
            return True
    return False


def _env_language_checks(language_checks: bool) -> bool:
    """UNSTRUCTURED_LANGUAGE_CHECKS takes precedence over the kwarg
    (reference text_type.py:53-56, 117-119).

    Cluster note: these predicates run inside partition UDFs on
    EXECUTORS, so the env var must be visible there — set it via
    ``spark.executorEnv.UNSTRUCTURED_*`` on a real cluster."""
    v = _env_override("UNSTRUCTURED_LANGUAGE_CHECKS")
    return v if v is not None else language_checks


@functools.lru_cache(maxsize=1)
def _english_lexicon() -> frozenset[str]:
    from unstructured_spark.functions.english_words import ENGLISH_WORDS
    from unstructured_spark.operators.text_analysis import STOPWORDS

    return ENGLISH_WORDS | frozenset(STOPWORDS) | _COMMON_VERBS


def contains_english_word(text: str) -> bool:
    """Any split token (lowercased, stripped to [a-z], len>1) found in
    the vendored common-English word list — the reference's language
    sanity check (text_type.py:190-205 over its nltk-derived list;
    functions/english_words.py documents the coverage contract)."""
    lexicon = _english_lexicon()
    for word in re.split(r"[\s\-,.!?_\/]+", text.lower()):
        word = re.sub(r"[^a-z]", "", word)
        if len(word) > 1 and word in lexicon:
            return True
    return False


def is_possible_narrative_text(
    text: str,
    cap_threshold: float = 0.5,
    non_alpha_threshold: float = 0.5,
    languages: list[str] | None = None,
    language_checks: bool = False,
) -> bool:
    languages = ["eng"] if languages is None else languages
    t = text.strip()
    if not t or is_numeric(t):
        return False
    if (
        "eng" in languages
        and _env_language_checks(language_checks)
        and not contains_english_word(t)
    ):
        return False
    # env overrides take precedence over the kwargs (reference
    # text_type.py:70-81) — per-call live, or batch-frozen (env_snapshot)
    _cap = _env_override("UNSTRUCTURED_NARRATIVE_TEXT_CAP_THRESHOLD")
    if _cap is not None:
        cap_threshold = _cap
    # exceeds_cap_ratio carries the reference's exemptions itself
    # (multi-sentence False, all-caps True) — no caller-side bypass
    if exceeds_cap_ratio(t, cap_threshold):
        return False
    _na = _env_override("UNSTRUCTURED_NARRATIVE_TEXT_NON_ALPHA_THRESHOLD")
    if _na is not None:
        non_alpha_threshold = _na
    if not under_non_alpha_ratio(t, non_alpha_threshold):
        return False
    # reference: "eng" verb gate applies only when under 2 sentences of
    # >=3 words (text_type.py:85-88)
    return contains_verb(t) or sentence_count(t, 3) >= 2


def is_possible_title(
    text: str,
    sentence_min_length: int = 5,
    title_max_word_length: int = 12,
    non_alpha_threshold: float = 0.5,
    languages: list[str] | None = None,
    language_checks: bool = False,
) -> bool:
    languages = ["eng"] if languages is None else languages
    _mw = _env_override("UNSTRUCTURED_TITLE_MAX_WORD_LENGTH")
    if _mw is not None:
        title_max_word_length = _mw
    _na = _env_override("UNSTRUCTURED_TITLE_NON_ALPHA_THRESHOLD")
    if _na is not None:
        non_alpha_threshold = _na
    t = text.strip()
    if not t or word_count(t) > title_max_word_length:
        return False
    # all-caps ending in punctuation is a sentence shout, not a title
    # (reference text_type.py:125-126, ENDS_IN_PUNCT patterns.py:110)
    if t.isupper() and re.search(r"[^\w\s]\Z", t):
        return False
    if sentence_count(t, sentence_min_length) > 1:
        return False
    if is_numeric(t) or not under_non_alpha_ratio(t, non_alpha_threshold):
        return False
    if (
        "eng" in languages
        and _env_language_checks(language_checks)
        and not contains_english_word(t)
    ):
        return False
    return not t.endswith(",")


def element_type_from_text_docx(text: str) -> str:
    """The docx paragraph text-derivation (reference
    partition/docx.py:939-952): zip → email → narrative, else Text —
    deliberately NO Title branch (style-based Titles only)."""
    t = text.strip()
    if len(t) < 2:
        return "Text"
    if is_us_city_state_zip(t):
        return "Address"
    if is_email_address(t):
        return "EmailAddress"
    if is_possible_narrative_text(t):
        return "NarrativeText"
    return "Text"


def element_type_from_text_xlsx(text: str) -> str:
    """The xlsx single-cell derivation (reference
    partition/xlsx.py:441-452): bullet → numbered → narrative → title,
    else Text — deliberately NO email/address branches."""
    t = text.strip()
    if is_bulleted_text(t):
        return "ListItem"
    if is_possible_numbered_list(t):
        return "ListItem"
    if is_possible_narrative_text(t):
        return "NarrativeText"
    if is_possible_title(t):
        return "Title"
    return "Text"


def element_type_from_text(text: str) -> str:
    """The element_from_text decision tree (reference partition/text.py:111-166)."""
    t = text.strip()
    if is_bulleted_text(t):
        return "ListItem"
    if is_email_address(t):
        return "EmailAddress"
    if is_us_city_state_zip(t):
        return "Address"
    if is_possible_numbered_list(t):
        return "ListItem"
    if is_possible_narrative_text(t):
        return "NarrativeText"
    if is_possible_title(t):
        return "Title"
    return "Text"
