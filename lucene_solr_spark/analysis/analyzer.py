"""StandardAnalyzer-equivalent tokenization.

Reference semantics (Lucene/Solr 4.4):
- StandardTokenizer: UAX#29 word-break rules, token types ALPHANUM/NUM/
  IDEOGRAPHIC/KATAKANA/... (reference StandardTokenizer.java:59-103,
  StandardTokenizerImpl.jflex:118-190).
- max token length 255; longer tokens are dropped (StandardAnalyzer.java:58,98-100).
- LowerCaseFilter: per-codepoint Character.toLowerCase (LowerCaseFilter.java:53-57).
- StopFilter: 33 English stopwords (StopAnalyzer.java:51-57); position
  increments are preserved, i.e. stopwords consume positions
  (StopFilter.java:124-125), and the doc length used for norms counts the
  tokens actually emitted, post-stop (DocInverterPerField.java:172).

Two implementations:

1. **JVM hot path** (`token_array`, `tokens_with_positions`): Spark built-in
   `regexp_extract_all` + `filter`, which stays inside whole-stage codegen —
   no Python in the loop. The token regex reproduces UAX#29 word segmentation
   for the ALPHANUM/NUM classes (letter/digit runs joined across internal
   apostrophes and dots, the MidLetter / MidNumLet rules WB6-WB12), which is
   exact for Latin-script web text. This is the production tokenizer.

2. **Fidelity path** (`standard_tokenize`, `tokenize_fidelity_udf`): a Python
   implementation adding the non-Latin UAX#29 behaviors Lucene exhibits —
   one token per Han/Hiragana ideograph, Katakana runs kept whole, and
   Java-compatible per-codepoint lowercasing (e.g. U+0130 'İ' → 'i', where
   Python's full case mapping would yield 'i̇'). Shipped as an Arrow-batched
   pandas UDF for when the corpus needs it; asserted equivalent to the JVM
   path on Latin-script fixtures.

The same regex is valid under Java's regex engine (Spark) and RE2 (DuckDB),
so oracle SQL can tokenize identically.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

# StopAnalyzer.ENGLISH_STOP_WORDS_SET (reference StopAnalyzer.java:51-57).
ENGLISH_STOP_WORDS = frozenset(
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with".split()
)

MAX_TOKEN_LENGTH = 255  # StandardAnalyzer.DEFAULT_MAX_TOKEN_LENGTH (:58)

# Letter/digit runs, joined across a single internal apostrophe (UAX#29
# MidLetter, WB6/WB7 — "o'brien"), right single quote, or dot (MidNumLet —
# "3.14", "u.s.a"). Combining marks (\p{M}) extend a run per UAX#29 WB4
# (Extend attaches to the preceding char) — Devanagari matras, Arabic
# harakat, Hebrew points stay word-internal. Valid in both Java regex and
# RE2 (the DuckDB oracle uses the same shape — gate._regex_literal).
TOKEN_REGEX = (
    r"[\p{L}\p{N}][\p{L}\p{N}\p{M}]*"
    r"(?:['’.][\p{L}\p{N}][\p{L}\p{N}\p{M}]*)*"
)

# EnglishPossessiveFilter.java:59-68 — trailing apostrophe (' U+2019 U+FF07)
# + s/S. Valid in Java regex and RE2, so the oracle can strip identically.
POSSESSIVE_REGEX = "['’＇][sS]$"

# Same pattern for Python `re`, which lacks \p{..}: [^\W_] == \w minus '_'
# (Unicode letters+digits). CJK handled by separate alternatives below.
_CJK_IDEO = "一-鿿㐀-䶿豈-﫿"
_HIRA = "぀-ゟ"
_KATA = "゠-ヿ"
def _mark_class() -> str:
    """BMP combining-mark ranges (Mn/Mc/Me) as a regex class body — the
    Python-re stand-in for \\p{M}. Marks beyond the BMP (musical symbols)
    are Java-path-only, like the documented CJK divergence."""
    import unicodedata

    ranges: list[tuple[int, int]] = []
    start = prev = None
    for cp in range(0x10000):
        if unicodedata.category(chr(cp)).startswith("M"):
            if start is None:
                start = cp
            prev = cp
        elif start is not None:
            ranges.append((start, prev))
            start = None
    if start is not None:
        ranges.append((start, prev))
    return "".join(
        f"\\u{a:04x}-\\u{b:04x}" if b > a else f"\\u{a:04x}"
        for a, b in ranges
    )


_PY_MARK = _mark_class()
_PY_WORD_CHAR = rf"(?:(?![{_CJK_IDEO}{_HIRA}{_KATA}])[^\W_])"
# run continuation: word chars OR combining marks (UAX#29 WB4 Extend)
_PY_WORD_CONT = rf"(?:{_PY_WORD_CHAR}|[{_PY_MARK}])"
_PY_TOKEN_RE = re.compile(
    rf"([{_CJK_IDEO}])"  # one token per ideograph (StandardTokenizer.java:83)
    rf"|([{_KATA}]+)"  # Katakana runs join (UAX#29 WB13)
    rf"|([{_HIRA}])"  # Hiragana: no join rule -> one token per char
    # word runs: joined across ' \u2019 . (MidLetter/MidNumLet) and across a
    # comma when flanked by digits (MidNum, UAX#29 WB11/WB12 -- "1,000")
    rf"|({_PY_WORD_CHAR}{_PY_WORD_CONT}*"
    rf"(?:['\u2019.]{_PY_WORD_CHAR}{_PY_WORD_CONT}*"
    rf"|(?<=\d),(?=\d){_PY_WORD_CHAR}{_PY_WORD_CONT}*)*)"
)


# Python `re` form of TOKEN_REGEX: [^\W_] is \p{L}\p{N} (Unicode letters and
# digits), _PY_MARK the BMP part of \p{M}. Unlike _PY_TOKEN_RE it has no CJK
# alternatives, so an ideograph run stays one token as the JVM path keeps it.
_PY_JVM_RUN = rf"[^\W_](?:[^\W_]|[{_PY_MARK}])*"
_PY_JVM_TOKEN_RE = re.compile(rf"{_PY_JVM_RUN}(?:['\u2019.]{_PY_JVM_RUN})*")


def _java_lower(s: str) -> str:
    """Per-codepoint lowercase approximating java.lang.Character.toLowerCase.

    Python's str.lower applies full case mappings (one-to-many); Java's
    Character.toLowerCase applies the *simple* one-to-one mapping
    (LowerCaseFilter.java:53-57). Taking the FIRST codepoint of the full
    mapping equals the simple mapping: the only lowercase full-mapping
    expansion is U+0130 'İ' → 'i' + U+0307 whose first codepoint IS the
    simple mapping, and the contextual rules (Final_Sigma, locale) cannot
    trigger on per-character mapping. Verified EXHAUSTIVELY over all
    0x110000 codepoints against Java 17's Character.toLowerCase
    (`tools/lowercase_audit.py`): 0 semantic divergences; the 40 diffs are
    Unicode-version skew (mappings added after the JVM's Unicode 13).
    """
    out = []
    for ch in s:
        low = ch.lower()
        out.append(low if len(low) == 1 else low[0])
    return "".join(out)


def standard_tokenize(text: str | None) -> list[tuple[int, str]]:
    """Fidelity tokenizer: returns [(position, token)] post-stop.

    Positions are pre-stop token indices, so stopwords consume positions
    exactly as StopFilter's enablePositionIncrements=true does — a phrase
    across a removed stopword does NOT match at distance 1.
    """
    if not text:
        return []
    out: list[tuple[int, str]] = []
    pos = 0
    for m in _PY_TOKEN_RE.finditer(text):
        tok = m.group(0)
        if len(tok) > MAX_TOKEN_LENGTH:
            # dropped entirely; Lucene's too-long tokens never reach the
            # stream, and they do not consume a position
            continue
        tok = _java_lower(tok)
        if tok not in ENGLISH_STOP_WORDS:
            out.append((pos, tok))
        pos += 1
    return out


@F.pandas_udf(ArrayType(StringType()))
def tokenize_fidelity_udf(texts: pd.Series) -> pd.Series:
    """Arrow-batched fidelity tokenizer: text → array<string> (post-stop)."""
    return texts.map(lambda t: [tok for _, tok in standard_tokenize(t)])


@F.pandas_udf(ArrayType(StringType()))
def tokenize_fidelity_prestop_udf(texts: pd.Series) -> pd.Series:
    """Arrow-batched fidelity tokenizer, PRE-stop: every UAX#29 token
    (stopwords included) lowercased with the Java simple mapping — the
    fidelity twin of `token_array`, so the index build's inversion kernel
    (which applies the stop/length filters itself, with stopwords consuming
    positions) can run on either tokenizer."""

    def toks(t):
        if not t:
            return []
        return [_java_lower(m.group(0)) for m in _PY_TOKEN_RE.finditer(t)]

    return texts.map(toks)


@F.pandas_udf(ArrayType(StringType()))
def tokenize_icu_prestop_udf(texts: pd.Series) -> pd.Series:
    """Arrow-batched ICUTokenizer, PRE-stop: script-run dispatch with the
    Khmer/Lao/Myanmar RBBI syllable grammars and the Hebrew quote
    tailorings (analysis/icu_segmentation.py), everything else UAX#29.
    Tokens arrive lowercased; the inverter's default branch applies the
    stop/length filters downstream (chain: ICUTokenizer → lower → stop)."""
    from .icu_segmentation import icu_tokenize

    return texts.map(icu_tokenize)


def token_array_for(text: Column, tokenizer: str = "jvm") -> Column:
    """Pre-stop token array under the chosen tokenizer: 'jvm' (codegen
    regex, exact for Latin-script text), 'fidelity' (Arrow UDF adding the
    CJK/Java-lowercase behaviors), or 'english' (jvm + possessive strip;
    the Porter stem runs post-stop inside the inverter — see
    analysis/english.py for the chain-order proof)."""
    if tokenizer == "jvm":
        return token_array(text)
    if tokenizer == "fidelity":
        return tokenize_fidelity_prestop_udf(text)
    if tokenizer == "english":
        # possessive strip BEFORE the stop filter ("it's" → "it" → stopped,
        # EnglishAnalyzer.java:95-116 chain order); stays in codegen
        return F.transform(
            token_array(text),
            lambda t: F.regexp_replace(t, POSSESSIVE_REGEX, ""),
        )
    if tokenizer == "folding":
        # standard chain + ASCIIFoldingFilter BEFORE the stop filter
        # (declared chain order: 'às' folds to the stopword 'as' and is
        # dropped; the stop/length filters downstream in the inverter see
        # the FOLDED form). Pure codegen (translate + regexp chain).
        from .asciifolding import fold_token_array

        return fold_token_array(token_array(text))
    if tokenizer == "icu_folding":
        # standard chain + ICUFoldingFilter AFTER the stop filter
        # (chain: Standard → lower → stop → ICUFolding): tokenization and
        # stop stay pure codegen; the fold runs inside the inverter once
        # per DISTINCT surface form (the factorized hook, build.py) —
        # so the pre-stop array is just the standard one.
        return token_array(text)
    if tokenizer == "icu":
        # ICUTokenizer (script-run RBBI dispatch) — Python is unavoidable
        # for the no-space-script grammars, so this is an Arrow UDF like
        # the fidelity path; Latin-script runs take the same UAX#29 regex
        # the JVM path compiles.
        return tokenize_icu_prestop_udf(text)
    if tokenizer == "preanalyzed":
        # PreAnalyzedField: the column holds a SERIALIZED token stream
        # (JSON or simple format) — parse it, position increments become
        # "" placeholder slots for the inverter's prefiltered path
        return tokenize_preanalyzed_udf(text)
    raise ValueError(f"unknown tokenizer '{tokenizer}'")


@F.pandas_udf(ArrayType(StringType()))
def tokenize_preanalyzed_udf(vals: pd.Series) -> pd.Series:
    """Arrow-batched PreAnalyzedField parser (analysis/preanalyzed.py):
    serialized stream → placeholder token array (one slot per position)."""
    from .preanalyzed import preanalyzed_placeholder_tokens

    return vals.map(preanalyzed_placeholder_tokens)


def jvm_analyze(text: str | None) -> list[tuple[int, str]]:
    """Query-side twin of `token_array` (tokenizer='jvm', the default index
    chain): [(pre-stop position, token)] from the same token regex over the
    whole-string-lowercased text, with the stop/length filters the inverter
    applies. CJK and Katakana runs stay whole, exactly as the index keeps
    them; every regex match consumes a position, as in
    `tokens_with_positions`."""
    if not text:
        return []
    return [
        (pos, tok)
        for pos, tok in enumerate(m.group(0) for m in _PY_JVM_TOKEN_RE.finditer(text.lower()))
        if tok not in ENGLISH_STOP_WORDS and len(tok) <= MAX_TOKEN_LENGTH
    ]


def folding_analyze(text: str | None) -> list[tuple[int, str]]:
    """Query-side twin of tokenizer='folding': [(pre-stop position, folded
    token)] with the stop/length filters applied to the folded form —
    exactly what the inverter indexes from token_array_for('folding')."""
    from .asciifolding import fold_str

    if not text:
        return []
    out: list[tuple[int, str]] = []
    pos = 0
    for m in _PY_TOKEN_RE.finditer(text):
        tok = fold_str(_java_lower(m.group(0)))
        if tok not in ENGLISH_STOP_WORDS and len(tok) <= MAX_TOKEN_LENGTH:
            out.append((pos, tok))
        pos += 1
    return out


def icu_folding_analyze(text: str | None) -> list[tuple[int, str]]:
    """Query-side twin of tokenizer='icu_folding': [(pre-stop position,
    ICU-folded token)] — the stop/length filters apply to the UNfolded
    lowercase form (fold is post-stop in this chain), then each surviving
    surface folds through the utr30 normalizer; a token folded away
    entirely (bare modifier letter) yields no term but keeps its
    position."""
    from .icu import fold as icu_fold

    if not text:
        return []
    out: list[tuple[int, str]] = []
    pos = 0
    for m in _PY_TOKEN_RE.finditer(text):
        tok = _java_lower(m.group(0))
        if tok not in ENGLISH_STOP_WORDS and len(tok) <= MAX_TOKEN_LENGTH:
            folded = icu_fold(tok)
            if folded:
                out.append((pos, folded))
        pos += 1
    return out


def icu_analyze(text: str | None) -> list[tuple[int, str]]:
    """Query-side twin of tokenizer='icu': [(pre-stop position, token)]
    with the stop/length filters applied — exactly what the inverter
    indexes from token_array_for('icu'). Every ICU segment (incl. a
    Khmer/Lao/Myanmar syllable) consumes one position; status-0 chars
    between syllables never enter the stream (ICUTokenizer.java:210)."""
    from .icu_segmentation import icu_tokenize

    out: list[tuple[int, str]] = []
    for pos, tok in enumerate(icu_tokenize(text)):
        if tok not in ENGLISH_STOP_WORDS and len(tok) <= MAX_TOKEN_LENGTH:
            out.append((pos, tok))
    return out


def doc_length_col_for(text: Column, tokenizer: str = "jvm") -> Column:
    """Post-stop doc length under the chosen tokenizer."""
    return F.size(
        F.filter(
            token_array_for(text, tokenizer),
            lambda t: _not_stopword(t) & (F.length(t) <= MAX_TOKEN_LENGTH),
        )
    )


def token_array(text: Column, lowercase: bool = True) -> Column:
    """JVM-side tokenizer: text → array<string>, pre-stop, lowercased.

    Stays in whole-stage codegen (regexp_extract_all + lower are built-ins).
    Lowercasing the whole string first is equivalent to per-token lowering
    for scripts where case mapping does not change letter-ness (all Latin,
    Greek, Cyrillic); the fidelity UDF covers the exceptions.
    """
    col = F.lower(text) if lowercase else text
    return F.regexp_extract_all(col, F.lit(TOKEN_REGEX), 0)


def _not_stopword(tok: Column) -> Column:
    return ~tok.isin(*sorted(ENGLISH_STOP_WORDS))


def post_stop_tokens(text: Column) -> Column:
    """text → array<string> with stopwords and >255-char tokens removed."""
    return F.filter(
        token_array(text),
        lambda t: _not_stopword(t) & (F.length(t) <= MAX_TOKEN_LENGTH),
    )


def doc_length_col(text: Column) -> Column:
    """Field length for norms = number of tokens emitted post-stop
    (DocInverterPerField.java:172; BM25Similarity.java:138-141)."""
    return F.size(post_stop_tokens(text))


def tokens_with_positions(
    df: DataFrame, text_col: str = "text", keep_cols: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """Explode a corpus into (keep_cols..., pos, term) rows, post-stop.

    `pos` is the pre-stop position (stopwords consume positions). This is the
    doc-inversion step (DocInverterPerField.java:92-172) as a narrow
    projection + explode — Catalyst prunes `text` out of downstream scans.
    """
    toks = df.select(*keep_cols, F.posexplode(token_array(F.col(text_col))).alias("pos", "term"))
    return toks.where(_not_stopword(F.col("term")) & (F.length("term") <= MAX_TOKEN_LENGTH))


def field_analysis(text: str | None, tokenizer: str = "standard") -> list[dict]:
    """FieldAnalysisRequestHandler (solr/core/src/java/org/apache/solr/
    handler/FieldAnalysisRequestHandler.java:61-160): the per-stage token
    stream a text produces under the index chain — one dict per stage with
    the stage name and its [(position, token, start, end)] output, so a
    user can see exactly where a token was length-dropped, lowercased,
    stop-removed, or stemmed.

    Driver-side diagnostics over ONE string (the /analysis/field handler's
    job) — the corpus path stays in the JVM/Arrow analyzers."""
    stages: list[dict] = []
    if not text:
        return [{"stage": "tokenizer", "tokens": []}]

    raw = [
        (i, m.group(0), m.start(), m.end())
        for i, m in enumerate(_PY_TOKEN_RE.finditer(text))
    ]
    stages.append({"stage": "tokenizer (UAX#29)", "tokens": raw})

    kept = [t for t in raw if len(t[1]) <= MAX_TOKEN_LENGTH]
    stages.append({"stage": f"maxTokenLength({MAX_TOKEN_LENGTH})", "tokens": kept})

    if tokenizer == "folding":
        from .asciifolding import fold_str as fold_ascii_py

        kept = [(p, fold_ascii_py(t), s, e) for p, t, s, e in kept]
        stages.append({"stage": "ASCIIFoldingFilter", "tokens": kept})

    lowered = [(p, _java_lower(t), s, e) for p, t, s, e in kept]
    stages.append({"stage": "LowerCaseFilter", "tokens": lowered})

    if tokenizer == "english":
        from .english import porter_stem, strip_possessive

        lowered = [(p, strip_possessive(t), s, e) for p, t, s, e in lowered]
        stages.append({"stage": "EnglishPossessiveFilter", "tokens": lowered})
        stopped = [t for t in lowered if t[1] not in ENGLISH_STOP_WORDS]
        stages.append({"stage": "StopFilter", "tokens": stopped})
        stemmed = [(p, porter_stem(t), s, e) for p, t, s, e in stopped]
        stages.append({"stage": "PorterStemFilter", "tokens": stemmed})
    elif tokenizer == "icu_folding":
        from .icu import fold as icu_fold

        stopped = [t for t in lowered if t[1] not in ENGLISH_STOP_WORDS]
        stages.append({"stage": "StopFilter", "tokens": stopped})
        folded = [
            (p, ft, s, e)
            for p, t, s, e in stopped
            if (ft := icu_fold(t))
        ]
        stages.append({"stage": "ICUFoldingFilter", "tokens": folded})
    else:
        stopped = [t for t in lowered if t[1] not in ENGLISH_STOP_WORDS]
        stages.append({"stage": "StopFilter", "tokens": stopped})
    return stages
