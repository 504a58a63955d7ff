"""Text analysis operators for training-data pipelines — all built-in
``pyspark.sql.functions`` (whole-stage codegen, no UDFs) so every one is
DuckDB-oracle-able.

- token counting (whitespace + a BPE-ish sub-token estimate),
- quality scoring (length / punctuation / digit / short-token ratios),
- language id (token-evidence voting; the evidence extractor is a regex
  profile — deployments swap in real per-language stopword/char-gram
  profiles, the aggregation shape is identical),
- document fingerprinting (normalized sha256).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Explicit whitespace class shared by the Spark expressions and the DuckDB
#: oracle SQL: Java regex ``\s`` includes vertical tab ``\x0b`` while RE2's
#: does not, so a bare ``\s`` in a regex both engines run is a latent parity
#: break on any text containing ``\x0b``. This class means the same bytes on
#: both engines (and matches Java's default ``\s`` exactly).
WS_CLASS = r" \t\n\x0b\f\r"
_WS1 = rf"[{WS_CLASS}]"
_WSP = rf"[{WS_CLASS}]+"


def token_count(text: str | Column = "text") -> Column:
    """Whitespace token count (0 for empty)."""
    c = F.col(text) if isinstance(text, str) else text
    trimmed = F.trim(c)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, _WSP))
    ).cast("long")


def subtoken_estimate(text: str | Column = "text", chars_per_token: float = 4.0) -> Column:
    """BPE-ish token estimate: ceil(chars / 4) — the standard planning
    heuristic when no tokenizer is attached."""
    c = F.col(text) if isinstance(text, str) else text
    return F.ceil(F.length(c) / F.lit(chars_per_token)).cast("long")


def bpe_token_count(text: str | Column = "text") -> Column:
    """BPE-ish REGEX token count: runs of letters, runs of digits, and
    runs of other non-space symbols each count as one token — the
    word/number/punct segmentation every byte-pair tokenizer starts from
    (GPT-2's pre-tokenizer minus the lookahead rules, which RE2-family
    engines cannot express). Complements the ceil(len/4) planning
    estimate with an actual segmentation count; both are JVM-side and
    DuckDB-oracle-able."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(
        F.regexp_extract_all(
            c, F.lit(rf"\p{{L}}+|\p{{N}}+|[^{WS_CLASS}\p{{L}}\p{{N}}]+"), 0
        )
    ).cast("long")


def punct_ratio(text: str | Column = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(c, rf"[^\p{{L}}\p{{N}}{WS_CLASS}]", "")
    return F.when(F.length(c) > 0,
                  (F.length(c) - F.length(stripped)) / F.length(c)).otherwise(F.lit(0.0))


def digit_ratio(text: str | Column = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    digits = F.length(c) - F.length(F.regexp_replace(c, r"[0-9]", ""))
    return F.when(F.length(c) > 0, digits / F.length(c)).otherwise(F.lit(0.0))


def mean_token_len(text: str | Column = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    n = token_count(c)
    no_space = F.length(F.regexp_replace(c, _WSP, ""))
    return F.when(n > 0, no_space / n).otherwise(F.lit(0.0))


def quality_score(text: str | Column = "text") -> Column:
    """Deterministic [0,1] heuristic: penalize extreme length, high
    punctuation/digit density, and degenerate token lengths — the
    standard cheap pre-filter before model-based quality scoring."""
    c = F.col(text) if isinstance(text, str) else text
    n_tok = token_count(c)
    len_ok = F.when((n_tok >= 50) & (n_tok <= 5000), F.lit(1.0)).otherwise(
        F.when(n_tok > 0, F.lit(0.5)).otherwise(F.lit(0.0))
    )
    mt = mean_token_len(c)
    tok_ok = F.when((mt >= 2.0) & (mt <= 12.0), F.lit(1.0)).otherwise(F.lit(0.5))
    p_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(c) * 4)
    d_pen = F.greatest(F.lit(0.0), F.lit(1.0) - digit_ratio(c) * 4)
    return F.round(len_ok * 0.4 + tok_ok * 0.2 + p_pen * 0.2 + d_pen * 0.2, 6)


def lang_id(text: str | Column = "text", langs: tuple[str, ...] = ("en", "fr", "es", "de", "zh")) -> Column:
    """argmax over evidence counts; ties broken by lang order; 'und' if no
    evidence."""
    c = F.col(text) if isinstance(text, str) else text
    evs = []
    for lang in langs:
        pattern = rf"\b{lang}w"
        cnt = F.greatest(F.size(F.split(c, pattern)) - 1, F.lit(0))
        evs.append((lang, cnt))
    best = F.lit("und")
    best_cnt = F.lit(0)
    for lang, cnt in evs:
        take = cnt > best_cnt
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_cnt = F.when(take, cnt).otherwise(best_cnt)
    return best


def doc_fingerprint(text: str | Column = "text") -> Column:
    """Normalized content fingerprint: lowercase, collapse whitespace,
    sha256 — stable across trivial reformatting."""
    c = F.col(text) if isinstance(text, str) else text
    norm = F.trim(F.regexp_replace(F.lower(c), _WSP, " "))
    return F.sha2(norm, 256)


def text_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    c = F.col(text_col)
    return docs.select(
        F.col(id_col),
        token_count(c).alias("n_tokens"),
        subtoken_estimate(c).alias("n_subtokens"),
        bpe_token_count(c).alias("n_bpe_tokens"),
        F.round(mean_token_len(c), 6).alias("mean_token_len"),
        F.round(punct_ratio(c), 6).alias("punct_ratio"),
        F.round(digit_ratio(c), 6).alias("digit_ratio"),
        quality_score(c).alias("quality"),
        lang_id(c).alias("lang_guess"),
        doc_fingerprint(c).alias("fingerprint"),
    )
