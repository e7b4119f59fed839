"""Text-analysis functions for training-data pipelines, all JVM-side.

No reference analogue (json-sKema constrains structure, not content);
these extend the engine the way ``format`` extends ``type`` — content-level
predicates. Every function returns a ``Column`` built purely from
``pyspark.sql.functions`` so it rides whole-stage codegen; nothing here
drops to Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# small per-language stopword marker sets for the n-gram heuristic
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "des", "dans", "que"],
    "es": ["el", "la", "los", "y", "es", "no", "una", "por", "con", "para"],
    "hu": ["a", "az", "és", "hogy", "nem", "egy", "van", "de", "is", "meg"],
}


def md5_hex_slice(col: Column, start: int, length: int, *,
                  seed: int | None = None) -> Column:
    """The repo's ONE cross-engine hash primitive: the decimal value of hex
    chars ``[start, start+length)`` of ``md5(col [|| str(seed)])`` — md5
    because it is bit-identical across Spark and DuckDB, so every consumer
    stays oracle-checkable (DuckDB twin:
    ``conv(substr(md5(x), start, length), 16, 10)``). Consumers:
    ``sampling.hash_fraction`` (1..8 seeded), ``dedup.simhash`` token votes
    (17..15 seeded), ``doc_fingerprint``'s rolling hash (17..15 unseeded).
    A change to the seed-concatenation or slicing convention here changes
    all three — update their oracle SQL twins together (review r05: the
    trick used to live open-coded in three files)."""
    x = col if seed is None else F.concat(col, F.lit(str(seed)))
    return F.conv(F.substring(F.md5(x.cast("binary")), start, length), 16, 10)


def tokens(col: Column) -> Column:
    """Whitespace tokens (lowercased)."""
    return F.filter(F.split(F.lower(F.trim(col)), r"\s+"), lambda t: t != "")


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def language_id(col: Column) -> Column:
    """n-gram/stopword-ratio language guess over the marker sets; returns the
    language with the highest stopword hit count, 'und' (undetermined) if no
    hits."""
    toks = tokens(col)

    def hits(words):
        # single-arg lambda: pyspark passes the index too if the lambda
        # declares a second parameter, so the word list must close over
        ws = list(words)
        return F.size(F.filter(toks, lambda t: t.isin(*ws)))

    scores = [(lang, hits(words)) for lang, words in _STOPWORDS.items()]
    best_score = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    # iterate reversed so earlier languages win ties deterministically
    for lang, s in reversed(scores):
        out = F.when((s == best_score) & (best_score > 0), F.lit(lang)).otherwise(out)
    return out


def quality_score(col: Column) -> Column:
    """Heuristic document quality in [0,1]: weighted blend of length band
    (0.3), alpha ratio (0.3), mean-word-length band (0.2), and punctuation
    band (0.2) — Gopher-rules-style thresholds. Mean word length counts
    only non-whitespace characters (``n_chars/n_tok`` would charge every
    token ~1 extra character for its separating space and misband
    short-word documents near the 3.0 boundary). Alpha/punct classes are
    UNICODE letter/number categories (``\\p{L}``/``\\p{N}`` — identical in
    Java regex and DuckDB's RE2): the previous ASCII ``[A-Za-z]``/``\\w``
    counted every accented letter as punctuation AND as non-alpha,
    systematically scoring clean non-English documents (the same languages
    ``language_id`` supports) ~0.2-0.3 below identical English text
    (review r05c)."""
    n_chars = F.length(col)
    n_alpha = F.regexp_count(col, F.lit(r"\p{L}"))
    n_punct = F.regexp_count(col, F.lit(r"[^\p{L}\p{N}_\s]"))
    n_wchars = F.length(F.regexp_replace(col, r"\s+", ""))
    toks = tokens(col)
    n_tok = F.size(toks)
    mean_wl = F.when(n_tok > 0, n_wchars.cast("double") / n_tok).otherwise(F.lit(0.0))
    alpha_ratio = F.when(n_chars > 0, n_alpha.cast("double") / n_chars).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(F.lit(0.0))
    len_band = F.when((n_chars >= 100) & (n_chars <= 20000), F.lit(1.0)) \
        .when(n_chars > 0, F.lit(0.5)).otherwise(F.lit(0.0))
    wl_band = F.when((mean_wl >= 3.0) & (mean_wl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.4))
    punct_band = F.when(punct_ratio <= 0.2, F.lit(1.0)).otherwise(F.lit(0.3))
    return F.round(
        0.3 * len_band + 0.3 * alpha_ratio + 0.2 * wl_band + 0.2 * punct_band, 6)


_URL_RE = r"https?://[^\s]+|www\.[^\s]+"
_EMAIL_SCRUB_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def _lit_replacement(replacement: str) -> str:
    """Escape Java regex group references: regexp_replace treats ``$`` and
    ``\\`` in the replacement as group syntax, so an un-escaped literal
    like ``<$URL>`` throws IllegalArgumentException on the first matching
    row (review r04). Callers pass literals; escape for them."""
    return replacement.replace("\\", "\\\\").replace("$", "\\$")


def remove_urls(col: Column, replacement: str = "") -> Column:
    """Strip http(s)/www URLs (training-data scrubbing)."""
    return F.regexp_replace(col, _URL_RE, _lit_replacement(replacement))


def remove_emails(col: Column, replacement: str = "") -> Column:
    """Strip email addresses (PII scrubbing)."""
    return F.regexp_replace(col, _EMAIL_SCRUB_RE, _lit_replacement(replacement))


_PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"


def remove_phones(col: Column, replacement: str = "") -> Column:
    """Strip NANP-style phone numbers (PII scrubbing)."""
    return F.regexp_replace(col, _PHONE_RE, _lit_replacement(replacement))


def normalize_whitespace(col: Column) -> Column:
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def clean_text(col: Column) -> Column:
    """Standard scrub pipeline: URLs -> emails -> whitespace."""
    return normalize_whitespace(remove_emails(remove_urls(col)))


def scrub_pii(col: Column) -> Column:
    """Full PII scrub: URLs -> emails -> phone numbers -> whitespace."""
    return normalize_whitespace(remove_phones(remove_emails(remove_urls(col))))


def pii_counts(col: Column) -> tuple[Column, Column, Column]:
    """(n_urls, n_emails, n_phones) occurrence counts — the detection side
    of the scrub; all ``regexp_count``, codegen-side."""
    return (F.regexp_count(col, F.lit(_URL_RE)),
            F.regexp_count(col, F.lit(_EMAIL_SCRUB_RE)),
            F.regexp_count(col, F.lit(_PHONE_RE)))


def repetition_ratio(col: Column) -> Column:
    """distinct-token / total-token ratio (low = repetitive boilerplate —
    the Gopher-rules style repetition signal)."""
    toks = tokens(col)
    return F.when(F.size(toks) > 0,
                  F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
                  ).otherwise(F.lit(0.0))


def fingerprint(col: Column, *, modulus: int = (1 << 31) - 1, base: int = 257) -> Column:
    """Order-sensitive rolling polynomial hash over tokens (document
    fingerprint): ``h = (h*base + md5_60(token) mod p) mod p`` via
    ``aggregate``. The per-token hash is the top 60 bits of the lower half of
    ``md5(token)`` (hex chars 17..31) — chosen over ``xxhash64`` because md5
    is bit-identical across engines (DuckDB ``('0x'||substr(md5(t),17,15))``),
    making the whole fingerprint cross-engine oracle-checkable. Token hashes
    are reduced mod p *before* accumulating so ``acc*base + h`` never exceeds
    ~2^40 — ANSI-safe (Spark 4 overflows loudly on long arithmetic)."""
    toks = tokens(col)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(
            acc * F.lit(base)
            + F.pmod(md5_hex_slice(t, 17, 15).cast("long"), F.lit(modulus)),
            F.lit(modulus)),
    )
