"""Text analysis for corpus hygiene: tokenization, shingling, quality
stats, language-ID, simhash, fingerprinting.

All operators are pure JVM column expressions (split / md5 / conv /
higher-order array functions) — they run inside whole-stage codegen
with zero Python in the row path, so a 100 TB documents scan is
CPU-bound on hashing, not on serialization.

Hash primitive: ``u32(x) = int(md5(x)[:8], 16)`` — chosen because it
is reproducible in any engine with an md5() (the DuckDB oracle uses
``('0x' || substr(md5(x),1,8))::BIGINT``), unlike Spark's Murmur3
``hash()``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# small cross-language stopword lists for the lang-ID heuristic;
# order = tie-break precedence (first match wins on equal score)
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans"],
}

# a BPE-ish pre-tokenizer: letter runs | digit runs | any other non-space
BPE_PATTERN = r"[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9\s]"


def u32(c: Column) -> Column:
    """First 32 bits of md5 as an unsigned int in a long."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def tokens(c: Column) -> Column:
    """Whitespace tokens (trimmed; multi-space safe)."""
    return F.split(F.trim(c), r"\s+")


def word_shingles(c: Column, n: int = 3) -> Column:
    """Overlapping word n-grams (empty array when fewer than n tokens)."""
    t = tokens(c)
    return F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(t, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def char_shingles(c: Column, n: int = 16) -> Column:
    """Overlapping character n-grams (empty when text shorter than n).
    Uses ``Column.substr`` (accepts a column start position, unlike
    ``F.substring``)."""
    return F.when(
        F.length(c) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(c) - (n - 1)),
            lambda i: c.substr(i, F.lit(n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def bpe_token_count(c: Column) -> Column:
    """Count of BPE-ish pre-tokens (regexp matches)."""
    return F.size(F.regexp_extract_all(c, F.lit(BPE_PATTERN), F.lit(0)))


def stopword_hits(c: Column, lang: str) -> Column:
    """How many tokens are in ``lang``'s stopword list (with repeats)."""
    vocab = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens(c), lambda t: F.array_contains(vocab, t)))


def predicted_lang(c: Column) -> Column:
    """Arg-max language by stopword hits; precedence order of STOPWORDS
    breaks ties (deterministic)."""
    scores = {lang: stopword_hits(c, lang) for lang in STOPWORDS}
    langs = list(STOPWORDS)
    expr = F.lit(langs[-1])
    for lang in reversed(langs[:-1]):
        later = [scores[l2] for l2 in langs[langs.index(lang) + 1:]]
        expr = F.when(scores[lang] >= F.greatest(*later) if len(later) > 1
                      else scores[lang] >= later[0], F.lit(lang)).otherwise(expr)
    return expr


def quality_stats(c: Column) -> dict[str, Column]:
    """Deterministic quality signals, integer-quantized (basis points)."""
    t = tokens(c)
    n_tok = F.size(t)
    n_chr = F.length(c)
    distinct_ratio_bps = F.floor(
        F.size(F.array_distinct(t)) * 10000 / n_tok
    ).cast("long")
    avg_tok_len_x100 = F.floor(
        (n_chr - (n_tok - 1)) * 100 / n_tok
    ).cast("long")  # chars minus single separators, over token count
    stop_bps = F.floor(stopword_hits(c, "en") * 10000 / n_tok).cast("long")
    return {
        "n_tokens": n_tok.cast("long"),
        "n_chars_calc": n_chr.cast("long"),
        "distinct_ratio_bps": distinct_ratio_bps,
        "avg_tok_len_x100": avg_tok_len_x100,
        "stopword_bps": stop_bps,
        "quality_ok": (n_tok >= 20) & (n_tok <= 2000) & (distinct_ratio_bps >= 1000),
    }


def simhash16(c: Column) -> Column:
    """16-bit SimHash over whitespace tokens.

    bit_j = sign of Σ_tokens (±1 by bit j of u32(token)); packed LSB
    first. Token hashes are computed once into an array, then folded
    per bit — O(|tokens| + 16·|tokens|) long ops, all codegen'd.
    """
    hs = F.transform(tokens(c), lambda t: u32(t))
    bit = lambda j: F.when(  # noqa: E731
        F.aggregate(
            hs,
            F.lit(0).cast("long"),
            lambda acc, h: acc + (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1),
        )
        > 0,
        F.lit(1 << j).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    out = F.lit(0).cast("long")
    for j in range(16):
        out = out + bit(j)
    return out


def simhash16_df(df, text_col: str = "text", id_col: str = "doc_id"):
    """SimHash via explode → 16 conditional sums in one codegen'd
    hash aggregate (the scale shape — see minhash_signatures_df for
    why nested higher-order folds don't scale). Same values as
    :func:`simhash16`. Output: id_col, simhash16."""
    ex = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__tok"))
    h = u32(F.col("__tok"))
    aggs = [
        F.sum(F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"b{j}")
        for j in range(16)
    ]
    sig = ex.groupBy(id_col).agg(*aggs)
    out = F.lit(0).cast("long")
    for j in range(16):
        out = out + F.when(F.col(f"b{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return sig.select(F.col(id_col), out.alias("simhash16"))


def fingerprint(c: Column, n: int = 16) -> Column:
    """Rolling-hash document fingerprint: min md5 over all character
    n-gram windows (a 1-window winnowing sketch; equal fingerprints ⇒
    shared n-char substring with high probability).

    This scalar form is the DEFAULT/hot form: a single non-nested
    ``transform(…, md5)`` evaluates cheaply per row, needs no shuffle
    (embarrassingly parallel per document), and measured 1.27-1.75×
    faster than the explode→min-agg rewrite in a same-session
    alternating A/B at sf0.1, both orderings
    (BENCH/AB_FINGERPRINT.json). The
    interpreted-HOF penalty that made explode 44× faster for MinHash
    applies to NESTED HOF trees, not this one-level map."""
    return F.array_min(F.transform(char_shingles(c, n), lambda s: F.md5(s)))


def fingerprint_df(df, text_col: str = "text", id_col: str = "doc_id",
                   n: int = 16):
    """Explode→min-agg form of :func:`fingerprint`: explode the char
    n-gram windows and fold with a map-side-combined ``min(md5)``
    aggregate. RETIRED as the default after the same-session A/B above
    measured it consistently SLOWER than the scalar form at sf0.1 —
    kept because its values are bit-identical (equivalence-gated in the
    A/B harness and pytest) and it composes where a per-window frame is
    already materialized. ``explode_outer`` keeps sub-``n``-char docs
    as a NULL fingerprint, matching ``array_min`` on an empty array.
    Output: id_col, fp."""
    ex = df.select(
        F.col(id_col),
        F.explode_outer(char_shingles(F.col(text_col), n)).alias("__sh"),
    )
    return ex.groupBy(id_col).agg(F.min(F.md5(F.col("__sh"))).alias("fp"))
