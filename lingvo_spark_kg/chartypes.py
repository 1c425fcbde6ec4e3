"""Character classification tables for the tokenizer/sentence-splitter/URL-detector.

Re-implements, from public Unicode data, the precomputed 65k-entry lookup tables the
reference builds at startup (reference: PosTagger/Lingvo.PosTagger.Tokenizing/core/xlat.cs:53-203
CHARTYPE_MAP / UPPER_INVARIANT_MAP; Tokenizer.cs:43-195 SPEC_CHARTYPE_MAP;
sentSplitting/SentSplitterModel.cs:197-277 SENTCHARTYPE_MAP).

Tables are NumPy uint16/uint32 arrays indexed by UTF-16 BMP code unit (0..0xFFFF), so the
hot loops can classify characters with ``TABLE[ord(ch)]`` / vectorized ``np.take``.
Characters above the BMP are rare in the target corpus and classified as `Other`
(the reference operates on UTF-16 code units and has the same blind spot).

Built once per process at import; in Spark these live inside the executor-side Python
workers (module import), mirroring the reference's pinned static tables.
"""

from __future__ import annotations

import unicodedata

import numpy as np

BMP = 0x10000

# --- CharType flags (xlat.cs:15-40) ---
IS_UPPER = 0x1
IS_LOWER = 1 << 1
IS_LETTER = 1 << 2
IS_DIGIT = 1 << 3
IS_WHITESPACE = 1 << 4
IS_PUNCTUATION = 1 << 5
IS_URL_BREAK = 1 << 6
IS_URI_SCHEMES_CHAR = 1 << 7
IS_QUOTE = 1 << 8
IS_QUOTE_LEFT = IS_QUOTE | (1 << 9)
IS_QUOTE_RIGHT = IS_QUOTE | (1 << 10)
IS_QUOTE_DOUBLE_SIDED = IS_QUOTE | (1 << 11)
IS_BRACKET = 1 << 12
IS_BRACKET_LEFT = IS_BRACKET | (1 << 13)
IS_BRACKET_RIGHT = IS_BRACKET | (1 << 14)
IS_HYPHEN = 1 << 15

HYPHENS = "-—–"
QUOTES_LEFT = "«‹„“"
QUOTES_RIGHT = "»›”‟"
QUOTE_LEFT_RIGHT = '"'
QUOTES_DOUBLE_SIDED = "‛‚‘’'\""
BRACKETS_LEFT = "(‹{["
BRACKETS_RIGHT = ")›}]"

# .NET Char.IsWhiteSpace set (latin-1 + Unicode Zs/Zl/Zp + control whitespaces)
_WS_EXTRA = {0x09, 0x0A, 0x0B, 0x0C, 0x0D, 0x85, 0xA0}

# --- SpecialCharType flags (Tokenizer.cs:29-38) ---
SCT_INTERPRETE_AS_WHITESPACE = 0x1
SCT_BETWEEN_LETTER_OR_DIGIT = 1 << 1
SCT_BETWEEN_DIGIT = 1 << 2
SCT_TOKENIZE_DIFFERENT_SEPARATELY = 1 << 3
SCT_DOT_CHAR = 1 << 4

INCLUDE_INTERPRETE_AS_WHITESPACE = "¤¦§¶"
# Tokenizer.cs:75-92 (EN variant is the one actually used — Tokenizer.cs:263)
BETWEEN_LETTER_OR_DIGIT = "&-_­‒–—―‘‛"
# Tokenizer.cs:93-100
BETWEEN_DIGIT = "\",:〃"
# Tokenizer.cs:101-145
TOKENIZE_DIFFERENT_SEPARATELY = (
    "‒–—―‘’‛“”„‟…"
    "!\"&'(),-〃:;?"
    "՚՛՝[]_״{}¡«­"
    "»¿/¥©®€™°№$%<>"
)

# --- SentCharType flags (SentSplitterModel.cs:96-110) ---
SENT_UNCONDITIONAL = 0x1
SENT_SMILE_BEGIN = 1 << 1
SENT_EXCLUDE_IN_BRACKET_AND_QUOTE = 1 << 2
SENT_DOT = 1 << 3
SENT_THREE_DOT = 1 << 4
SENT_ROMAN_DIGIT = 1 << 5
SENT_AFTER_THREE_DOT_ALLOWED_PUNCT = 1 << 6
SENT_AFTER_BRACKET_ALLOWED_PUNCT_4QMEP = 1 << 7


def _is_uri_schemes_char(cp: int) -> bool:
    # xlat.cs:239-252
    ch = chr(cp)
    return ("a" <= ch <= "z") or ("A" <= ch <= "Z") or ch == "-"


def _build_chartype_map() -> np.ndarray:
    m = np.zeros(BMP, dtype=np.uint16)
    for cp in range(BMP):
        cat = unicodedata.category(chr(cp))
        v = 0
        if cat == "Lu":
            v |= IS_UPPER
        elif cat == "Ll":
            v |= IS_LOWER
        elif cat == "Lt":
            # .NET: titlecase counts as upper for IsUpper? No — Char.IsUpper is Lu only.
            pass
        if cat.startswith("L"):
            v |= IS_LETTER
        if cat == "Nd":
            v |= IS_DIGIT
        is_ws = cat in ("Zs", "Zl", "Zp") or cp in _WS_EXTRA
        if is_ws:
            v |= IS_WHITESPACE
        is_punct = cat.startswith("P")
        if is_punct:
            v |= IS_PUNCTUATION
        # xlat.cs:113-121 is-url-break
        if is_ws or (is_punct and cp > 127) or cp == 0:
            v |= IS_URL_BREAK
        if _is_uri_schemes_char(cp):
            v |= IS_URI_SCHEMES_CHAR
        m[cp] = v
    for ch in HYPHENS:
        m[ord(ch)] |= IS_HYPHEN
    for ch in QUOTES_LEFT:
        m[ord(ch)] |= IS_QUOTE_LEFT
    for ch in QUOTES_RIGHT:
        m[ord(ch)] |= IS_QUOTE_RIGHT
    for ch in QUOTES_DOUBLE_SIDED:
        m[ord(ch)] |= IS_QUOTE_DOUBLE_SIDED
    m[ord(QUOTE_LEFT_RIGHT)] |= IS_QUOTE_LEFT | IS_QUOTE_RIGHT
    for ch in BRACKETS_LEFT:
        m[ord(ch)] |= IS_BRACKET_LEFT
    for ch in BRACKETS_RIGHT:
        m[ord(ch)] |= IS_BRACKET_RIGHT
    return m


def _build_upper_map() -> np.ndarray:
    """UPPER_INVARIANT_MAP (xlat.cs:161-187): per-char ToUpperInvariant with ё/Ё → Е."""
    m = np.arange(BMP, dtype=np.uint32)
    for cp in range(BMP):
        ch = chr(cp)
        if ch == "ё" or ch == "Ё":
            m[cp] = ord("Е")
            continue
        u = ch.upper()
        # char-level invariant upper: multi-char expansions (ß→SS) stay unchanged in .NET
        if len(u) == 1 and ord(u) < BMP:
            m[cp] = ord(u)
    return m


def _build_lower_map() -> np.ndarray:
    """Create_LOWER_INVARIANT_MAP (xlat.cs:288-316): per-char lower with ё/Ё → е."""
    m = np.arange(BMP, dtype=np.uint32)
    for cp in range(BMP):
        ch = chr(cp)
        if ch == "ё" or ch == "Ё":
            m[cp] = ord("е")
            continue
        lo = ch.lower()
        if len(lo) == 1 and ord(lo) < BMP:
            m[cp] = ord(lo)
    return m


def _build_spec_chartype_map(ctm: np.ndarray) -> np.ndarray:
    """SPEC_CHARTYPE_MAP (Tokenizer.cs:148-193). Order of assignment matters: the
    TOKENIZE_DIFFERENT_SEPARATELY set *overwrites* the punctuation default, and the
    dot is DotChar *only*."""
    m = np.zeros(BMP, dtype=np.uint8)
    m[(ctm & IS_PUNCTUATION) != 0] = SCT_INTERPRETE_AS_WHITESPACE
    for ch in INCLUDE_INTERPRETE_AS_WHITESPACE:
        m[ord(ch)] = SCT_INTERPRETE_AS_WHITESPACE
    for ch in TOKENIZE_DIFFERENT_SEPARATELY:
        m[ord(ch)] = SCT_TOKENIZE_DIFFERENT_SEPARATELY
    for ch in BETWEEN_LETTER_OR_DIGIT:
        m[ord(ch)] |= SCT_BETWEEN_LETTER_OR_DIGIT
    for ch in BETWEEN_DIGIT:
        m[ord(ch)] |= SCT_BETWEEN_DIGIT
    m[ord(".")] = SCT_DOT_CHAR
    return m


def _build_sentchartype_map(ctm: np.ndarray) -> np.ndarray:
    """SENTCHARTYPE_MAP (SentSplitterModel.cs:197-243)."""
    m = np.zeros(BMP, dtype=np.uint8)
    m[ord("!")] |= SENT_EXCLUDE_IN_BRACKET_AND_QUOTE
    m[ord("?")] |= SENT_EXCLUDE_IN_BRACKET_AND_QUOTE
    m[ord("…")] |= SENT_EXCLUDE_IN_BRACKET_AND_QUOTE | SENT_THREE_DOT
    m[ord("\n")] = SENT_UNCONDITIONAL
    m[ord(".")] = SENT_DOT
    m[ord(";")] |= SENT_AFTER_THREE_DOT_ALLOWED_PUNCT
    m[ord(":")] |= SENT_AFTER_THREE_DOT_ALLOWED_PUNCT | SENT_AFTER_BRACKET_ALLOWED_PUNCT_4QMEP
    m[ord(",")] |= SENT_AFTER_THREE_DOT_ALLOWED_PUNCT | SENT_AFTER_BRACKET_ALLOWED_PUNCT_4QMEP
    hyphen_mask = (ctm & IS_HYPHEN) != 0
    m[hyphen_mask] |= SENT_AFTER_THREE_DOT_ALLOWED_PUNCT | SENT_AFTER_BRACKET_ALLOWED_PUNCT_4QMEP
    quote_mask = ((ctm & IS_QUOTE) == IS_QUOTE) & ~hyphen_mask
    m[quote_mask] |= SENT_AFTER_THREE_DOT_ALLOWED_PUNCT
    for ch in "IVXCLM":
        m[ord(ch)] |= SENT_ROMAN_DIGIT
    return m


_CACHE_VERSION = 1
_CACHE_PATH = __file__.rsplit(".", 1)[0] + "_cache.npz"


def _load_or_build() -> tuple[np.ndarray, ...]:
    """Building the five 65k tables costs ~0.35 s of per-process import time — paid by
    every Spark Python worker. A generated npz cache (committed with the repo) cuts
    worker cold-start to ~15 ms, which matters for scaling efficiency at high
    parallelism (more workers = more cold-starts)."""
    try:
        z = np.load(_CACHE_PATH)
        if int(z["version"][0]) == _CACHE_VERSION:
            return z["ctm"], z["uim"], z["lim"], z["sctm"], z["sent_ctm"]
    except (OSError, KeyError):
        pass
    ctm = _build_chartype_map()
    uim = _build_upper_map()
    lim = _build_lower_map()
    sctm = _build_spec_chartype_map(ctm)
    sent_ctm = _build_sentchartype_map(ctm)
    try:
        np.savez_compressed(_CACHE_PATH, version=np.array([_CACHE_VERSION]), ctm=ctm,
                            uim=uim, lim=lim, sctm=sctm, sent_ctm=sent_ctm)
    except OSError:
        pass
    return ctm, uim, lim, sctm, sent_ctm


CTM, UIM, LIM, SCTM, SENT_CTM = _load_or_build()

# plain-list views for the per-char hot loops: Python list indexing returns native
# ints with no numpy-scalar boxing (~2× faster than ndarray[int] in the state machines)
CTM_LIST: list[int] = CTM.tolist()
SCTM_LIST: list[int] = SCTM.tolist()
SENT_CTM_LIST: list[int] = SENT_CTM.tolist()

# translation dicts for fast str.translate (codepoint -> codepoint), identity entries
# omitted; built via numpy nonzero (fast) rather than a 65k python loop
_idx = np.nonzero(UIM != np.arange(BMP, dtype=np.uint32))[0]
_UPPER_TRANS = dict(zip(_idx.tolist(), UIM[_idx].tolist()))
_idx = np.nonzero(LIM != np.arange(BMP, dtype=np.uint32))[0]
_LOWER_TRANS = dict(zip(_idx.tolist(), LIM[_idx].tolist()))
del _idx


def to_upper_invariant(s: str) -> str:
    """valueUpper projection (Tokenizer.cs:939-949 via xlat UPPER_INVARIANT_MAP)."""
    return s.translate(_UPPER_TRANS)


def to_lower_invariant(s: str) -> str:
    return s.translate(_LOWER_TRANS)
