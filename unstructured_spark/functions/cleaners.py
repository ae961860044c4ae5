"""Cleaner column functions (semantics of reference ``cleaners/core.py``).

Each function takes and returns a pyspark ``Column`` so cleaners compose
the way the reference composes them via ``Text.apply(*cleaners)``
(reference elements.py:903-916), but JVM-side: ``df.withColumn("text",
clean(col("text"), extra_whitespace=True, bullets=True))``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from unstructured_spark.functions.patterns import _BULLET_CLASS

# Ligature -> expansion map (reference cleaners/core.py:76-104 semantics).
LIGATURES: dict[str, str] = {
    "\u00e6": "ae",
    "\u00c6": "AE",
    "\ufb00": "ff",
    "\ufb01": "fi",
    "\ufb02": "fl",
    "\ufb03": "ffi",
    "\ufb04": "ffl",
    "\ufb05": "ft",
    "\u02aa": "ls",
    "\u0153": "oe",
    "\u0152": "OE",
    "\u0239": "qp",
    "\ufb06": "st",
    "\u02a6": "ts",
}

# cp1252/unicode quote artifacts -> standard forms, replayed VERBATIM
# and IN ORDER from reference cleaners/core.py:271-303 (insertion order
# = application order; the bare catch-all runs second-to-last, so the
# final "â\x80s'" entry can never fire -- replayed anyway for parity).
# The reference keys are the single codepoint U+00E2 + "\x80" + ONE
# third codepoint (verified against the reference's raw source bytes:
# core.py:285 is ['0xe2','0x80','0x99'] -> "'").
_M = "\u00e2\x80"  # the reference's "â\x80" prefix, verbatim
UNICODE_QUOTE_FIXES: dict[str, str] = {
    "\x91": "\u2018",
    "\x92": "\u2019",
    "\x93": "\u201c",
    "\x94": "\u201d",
    "&apos;": "'",
    _M + "\x99": "'",
    _M + "\u201c": "\u2014",
    _M + "\u201d": "\u2013",
    _M + "\u02dc": "\u2018",
    _M + "\xa6": "\u2026",
    _M + "\u2122": "\u2019",
    _M + "\u0153": "\u201c",
    _M + "?": "\u201d",
    _M + "\u0165": "\u201d",
    _M + "\u015b": "\u201c",
    _M + "\xa8": "\u2014",
    _M + "\u0142": "\u2033",
    _M + "\u017d": "",
    _M + "\u201a": "",
    _M + "\u2030": "",
    _M + "\u2039": "",
    _M: "",
    _M + "s'": "",
}


def clean_extra_whitespace(col: Column) -> Column:
    """NBSP/newlines -> space, collapse runs, trim (core.py:325-334)."""
    c = F.regexp_replace(col, "[\\xa0\\n]", " ")
    c = F.regexp_replace(c, " {2,}", " ")
    return F.trim(c)


def clean_bullets(col: Column) -> Column:
    """Strip one leading bullet char + following spaces (core.py:37-53)."""
    return F.ltrim(F.regexp_replace(col, f"^[{_BULLET_CLASS}] *", ""))


def clean_dashes(col: Column) -> Column:
    """Dashes (incl. unicode en-dash) -> space, then trim (core.py:337-348)."""
    return F.trim(F.regexp_replace(col, "[-\u2013]", " "))


def clean_trailing_punctuation(col: Column) -> Column:
    """Strip trailing ASCII punctuation (core.py:351-360)."""
    return F.regexp_replace(col, "[.,:;]+$", "")


def clean_non_ascii_chars(col: Column) -> Column:
    """Drop all non-ASCII codepoints (core.py:25-34)."""
    return F.regexp_replace(col, "[^\\x00-\\x7F]", "")


def clean_ligatures(col: Column) -> Column:
    """Expand typographic ligatures (core.py:76-104)."""
    for lig, rep in LIGATURES.items():
        col = F.replace(col, F.lit(lig), F.lit(rep))
    return col


def replace_unicode_quotes(col: Column) -> Column:
    """Normalize cp1252 mojibake quotes (core.py:271-303)."""
    for bad, good in UNICODE_QUOTE_FIXES.items():
        col = F.replace(col, F.lit(bad), F.lit(good))
    return col


def remove_punctuation(col: Column) -> Column:
    """Drop all Unicode punctuation (core.py:306-313); \\p{P} is Java-regex."""
    return F.regexp_replace(col, "\\p{P}", "")


def clean_prefix(col: Column, pattern: str, ignore_case: bool = False, strip: bool = True) -> Column:
    """Remove a prefix matching ``pattern`` (core.py:363-381)."""
    pat = f"(?i)^{pattern}" if ignore_case else f"^{pattern}"
    out = F.regexp_replace(col, pat, "")
    return F.ltrim(out) if strip else out


def clean_postfix(col: Column, pattern: str, ignore_case: bool = False, strip: bool = True) -> Column:
    """Remove a suffix matching ``pattern`` (core.py:384-400)."""
    pat = f"(?i){pattern}$" if ignore_case else f"{pattern}$"
    out = F.regexp_replace(col, pat, "")
    return F.rtrim(out) if strip else out


def clean(
    col: Column,
    *,
    extra_whitespace: bool = False,
    dashes: bool = False,
    bullets: bool = False,
    trailing_punctuation: bool = False,
    lowercase: bool = False,
) -> Column:
    """Composed cleaner, same order as reference ``clean()`` (core.py:403-429)."""
    if bullets:
        col = clean_bullets(col)
    if extra_whitespace:
        col = clean_extra_whitespace(col)
    if dashes:
        col = clean_dashes(col)
    if trailing_punctuation:
        col = clean_trailing_punctuation(col)
    if lowercase:
        col = F.lower(col)
    return F.trim(col)


def bytes_string_to_string(col: Column, encoding: str = "utf-8") -> Column:
    """Repair mojibake: reinterpret each codepoint as a raw byte, then
    decode those bytes with ``encoding`` (reference core.py:432-437:
    ``bytes([ord(c) for c in text]).decode(encoding)``). The
    codepoint→byte step is exactly a latin-1 encode — encoding with the
    TARGET charset instead would round-trip every string unchanged and
    never repair anything.

    Rows containing codepoints > U+00FF cannot be reinterpreted as raw
    bytes — the reference raises ValueError there (``bytes([ord(c)...])``
    overflows). Java's charset layer would instead substitute '?' and
    silently corrupt the text, so such rows pass through UNCHANGED here
    (the closest non-corrupting column semantics to a per-row raise)."""
    return F.when(
        col.rlike("[^\\x00-\\xff]"), col
    ).otherwise(F.decode(F.encode(col, "ISO-8859-1"), encoding))


def clean_ordered_bullets(col: Column) -> Column:
    """Strip a leading ordered-bullet token like "1.1.2" / "a.ii"
    (reference cleaners/core.py:52-73 exactly): the FIRST whitespace
    token must contain a '.' (no '..') and its first dot segment must
    be <= 2 chars — a bare number or word is NOT a bullet ('5 apples'
    keeps its 5). On a match the whole first token is dropped and the
    remainder rejoined with single spaces; otherwise the text is
    returned unchanged."""
    toks = F.split(F.trim(col), "\\s+")
    first = F.element_at(toks, 1)
    head = F.regexp_replace(first, r"\.$", "")
    sec = F.element_at(F.split(head, "\\."), 1)
    valid = (
        first.contains(".") & ~first.contains("..") & (F.length(sec) <= 2)
    )
    rest = F.array_join(
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))), " "
    )
    return F.when(valid, rest).otherwise(col)


def replace_mime_encodings(col: Column, encoding: str = "utf-8") -> Column:
    """Decode quoted-printable =XX escapes (reference core.py:358-366).
    Pure-column form: repeated hex unescape via conv/chr would not
    handle multibyte sequences, so this uses a vectorized pandas UDF —
    the reference decodes bytes the same way."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _decode(s):
        import quopri

        return s.map(
            lambda t: quopri.decodestring(t.encode("ascii", "ignore")).decode(
                encoding, errors="replace"
            )
            if t is not None
            else None
        )

    # set real type objects: `from __future__ import annotations` above
    # stringifies inline hints, which pandas_udf can't infer from
    _decode.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_decode, "string")(col)


_TRANSLATOR = None


def set_translator(fn) -> None:
    """Register the batch translation callable
    ``fn(texts: list[str], target_lang: str) -> list[str]`` — the plug
    point for the reference's HF opus-mt pipeline
    (cleaners/translate.py:24-75). The callable ships to executors via
    closure pickle; for heavyweight models register a lazy loader that
    initializes per-process."""
    global _TRANSLATOR
    _TRANSLATOR = fn


def translate_text(col: Column, target_lang: str = "en") -> Column:
    """Machine translation (reference cleaners/translate.py:24-75).
    Runs as an Arrow-batched pandas UDF over the registered translator;
    without one it raises naming the dependency (model weights are not
    in this container)."""
    if _TRANSLATOR is None:
        raise NotImplementedError(
            "translate_text requires a translation model (reference uses "
            "helsinki-nlp opus-mt via transformers); register one with "
            "set_translator(fn) to run it as an Arrow-batched pandas UDF."
        )
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    fn = _TRANSLATOR

    def _translate(s):
        texts = ["" if t is None else str(t) for t in s]
        return pd.Series(fn(texts, target_lang), index=s.index)

    return pandas_udf(_translate, "string")(col)
