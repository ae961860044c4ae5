"""Regex corpus (semantics of reference ``unstructured/nlp/patterns.py``).

Patterns are written against Java regex (Spark's engine). Where a query
must also run on a DuckDB/RE2 oracle, keep to the common subset:
character classes, \\d, \\s, anchors — no lookaround or backreferences.
"""

# Unicode bullet characters that open a bulleted line
# (same character inventory as reference nlp/patterns.py UNICODE_BULLETS;
# re-derived from the Unicode bullet blocks, not copied).
UNICODE_BULLETS: tuple[str, ...] = (
    "",
    "•",  # bullet
    "‣",  # triangular bullet
    "⁃",  # hyphen bullet
    "⁌",
    "⁍",
    "∙",
    "▪",
    "▸",
    "●",
    "◦",
    "☙",
    "❥",
    "❧",
    "⦾",
    "⦿",
    "-",  # hyphen-minus
    "□",  # white square
    "·",  # middle dot
    "*",  # asterisk
    "․",
    "‥",
    "…",
    "‧",
)

_BULLET_CLASS = "".join(
    "\\" + c if c in "\\^]-*" else c for c in UNICODE_BULLETS if c
)

# bullet at start of text followed by space or end-of-string
BULLETED_TEXT = rf"^[{_BULLET_CLASS}]( |$)"

# numbered-list prefixes like "1. " / "23) "
NUMBERED_LIST = r"^\d{1,3}[.)] "

EMAIL_ADDRESS = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"

US_PHONE = r"(\+?1[-. ]?)?(\(?\d{3}\)?[-. ]?)?\d{3}[-. ]?\d{4}"

# linear-time form (no nested quantifiers — the naive ((\w+\s?)+,)+
# shape backtracks exponentially on long non-matching text)
US_CITY_STATE_ZIP = (
    r"[A-Za-z][A-Za-z .'-]{0,80},\s?(A[LKSZRAP]|C[AOT]|D[EC]|F[LM]|G[AU]|HI|"
    r"I[ADLN]|K[SY]|LA|M[ADEHINOPST]|N[CDEHJMVY]|O[HKR]|P[ARW]|RI|S[CD]|"
    r"T[NX]|UT|V[AIT]|W[AIVY])[,\s]+\d{5}(-\d{4})?"
)

IP_ADDRESS = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"

IMAGE_URL = r"https?://[^\s]+?\.(?:png|jpg|jpeg|gif|bmp|webp|tiff?)"

# sentence-ending punctuation used by the narrative/title heuristics
SENTENCE_TERMINATORS = (".", "!", "?")

# --- PII patterns (detection/redaction; RE2-compatible subset so the
# DuckDB oracle can replay counts verbatim) ---

# US social security number with mandatory dashes
SSN = r"\b\d{3}-\d{2}-\d{4}\b"

# candidate payment-card numbers: 13-19 digits, optional single space/dash
# separators. Deliberately loose — Luhn validation (operators/pii.py)
# is the precision filter, the regex only bounds the candidate set.
CREDIT_CARD_CANDIDATE = r"\b(?:\d[- ]?){12,18}\d\b"

# phone with REQUIRED separators/parens so plain digit runs (card
# numbers, ids) don't double-count as phones — unlike the permissive
# US_PHONE used for extraction parity with the reference
US_PHONE_STRICT = r"(\+?1[-. ])?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b"

# dotted host names like server.example.com (reference nlp/patterns.py
# IP_ADDRESS_NAME_PATTERN — deliberately loose, it matches any dotted
# triple)
IP_ADDRESS_NAME = r"[a-zA-Z0-9-]*\.[a-zA-Z]*\.[a-zA-Z]*"

# Outlook MAPI ids: dotted numeric quad ending in ';'
# (reference nlp/patterns.py MAPI_ID_PATTERN)
MAPI_ID = r"[0-9]*\.[0-9]*\.[0-9]*\.[0-9]*;"
