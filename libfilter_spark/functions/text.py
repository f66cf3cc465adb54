"""Text analysis — all pure JVM column expressions (whole-stage
codegen; no UDFs), each with a DuckDB-translatable formula so the
driver oracle can replay them exactly.

Ops: token counting (whitespace + BPE-ish subword estimate), quality
scoring (length/punct/digit/token-shape ratios), language ID (marker
n-gram heuristic), document fingerprinting (sha256 content key is in
spark/keys.py; a winnowing fingerprint kernel lives in dedup.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# occurrence counting via the length-difference trick — identical
# semantics in Spark and DuckDB (both count non-overlapping literal
# replacements), unlike regexp dialects
def _occurrences(col: Column, needle: str) -> Column:
    return ((F.length(col) - F.length(F.replace(col, F.lit(needle),
                                                F.lit(""))))
            / len(needle)).cast("long")


def token_count(col: Column) -> Column:
    """Whitespace tokens: count of space-separated words (documents
    use single-space separation; general whitespace handled by trim)."""
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        _occurrences(t, " ") + 1)


def subword_estimate(col: Column) -> Column:
    """BPE-ish token estimate: chars/4 heuristic plus word boundaries —
    the standard cheap proxy for LLM token budgeting."""
    return F.floor(F.length(col) / 4 + token_count(col) / 2).cast("long")


def digit_count(col: Column) -> Column:
    return F.length(F.regexp_replace(col, "[^0-9]", ""))


def punct_count(col: Column) -> Column:
    return F.length(F.regexp_replace(col, "[^.,;:!?]", ""))


def quality_score(col: Column) -> Column:
    """Deterministic [0,1] quality heuristic: longer docs with moderate
    token length and low digit/punct noise score higher. Formula is
    pure integer counts + IEEE doubles, identical across engines."""
    n_chars = F.length(col).cast("double")
    n_tok = token_count(col).cast("double")
    avg_tok = F.when(n_tok > 0, n_chars / n_tok).otherwise(F.lit(0.0))
    digit_ratio = F.when(n_chars > 0,
                         digit_count(col) / n_chars).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0,
                         punct_count(col) / n_chars).otherwise(F.lit(0.0))
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    tok_score = F.when((avg_tok >= 3) & (avg_tok <= 10), F.lit(1.0)) \
        .otherwise(F.lit(0.5))
    return (F.lit(0.4) * len_score + F.lit(0.3) * tok_score
            + F.lit(0.15) * (F.lit(1.0) - F.least(digit_ratio * 5, F.lit(1.0)))
            + F.lit(0.15) * (F.lit(1.0) - F.least(punct_ratio * 5, F.lit(1.0))))


def quality_score_e9(col: Column) -> Column:
    """Integer-exact quality score scaled by 1e9 — same heuristic as
    quality_score but every term is integer arithmetic, so Spark and any
    ANSI-SQL oracle produce bit-identical BIGINTs regardless of double
    rounding/evaluation order. Term-by-term mapping:
      0.4 * min(n_chars/500, 1)      -> 800_000 * least(n_chars, 500)
      0.3|0.15 tok_score             -> 3*n_tok <= n_chars <= 10*n_tok
                                        (integer form of 3<=avg_tok<=10)
      0.15 * (1 - min(5*d/n, 1))     -> (150e6 * (n - least(5d, n))) DIV n
    n_chars == 0 gives len 0, tok 0.5, digit/punct terms 1.0 each.
    """
    n = F.length(col).cast("long")
    n_tok = token_count(col).cast("long")
    d = digit_count(col).cast("long")
    p = punct_count(col).cast("long")
    len_term = F.lit(800000).cast("long") * F.least(n, F.lit(500).cast("long"))
    tok_term = F.when((n_tok > 0) & (n >= 3 * n_tok) & (n <= 10 * n_tok),
                      F.lit(300000000).cast("long")) \
        .otherwise(F.lit(150000000).cast("long"))
    # exact integer floor-division for non-negative longs without DIV
    # dialect differences: (a - a % b) is exactly divisible, and the
    # double division of exactly-divisible int64s < 2^53 is exact IEEE
    def idiv(numer: Column, denom: Column) -> Column:
        return ((numer - numer % denom) / denom).cast("long")

    digit_i = F.when(n > 0,
                     idiv(F.lit(150000000).cast("long")
                          * (n - F.least(5 * d, n)), n)) \
        .otherwise(F.lit(150000000).cast("long"))
    punct_i = F.when(n > 0,
                     idiv(F.lit(150000000).cast("long")
                          * (n - F.least(5 * p, n)), n)) \
        .otherwise(F.lit(150000000).cast("long"))
    return len_term + tok_term + digit_i + punct_i


# language-ID markers: high-frequency function words per language,
# counted with the space-padded length-difference trick
LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " et ", " les "],
    "es": [" el ", " y ", " los "],
}


def lang_marker_score(col: Column, lang: str) -> Column:
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    score = F.lit(0).cast("long")
    for m in LANG_MARKERS[lang]:
        score = score + _occurrences(padded, m)
    return score


def lang_id(col: Column) -> Column:
    """argmax over marker scores, deterministic tie-break by language
    name order; 'und' (undetermined) when all scores are zero."""
    scores = {lang: lang_marker_score(col, lang) for lang in LANG_MARKERS}
    best = F.lit("und")
    best_score = F.lit(0).cast("long")
    for lang in sorted(LANG_MARKERS):  # later wins only on strict >
        s = scores[lang]
        cond = s > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, s).otherwise(best_score)
    return best


def oracle_sql_snippets(text_col: str = "text") -> dict[str, str]:
    """DuckDB-SQL equivalents of each expression, kept in one place so
    __spark_entry__ oracles stay in sync with the column definitions."""
    t = text_col
    occ = lambda s, needle: (  # noqa: E731
        f"CAST((length({s}) - length(replace({s}, '{needle}', '')))"
        f" / {len(needle)} AS BIGINT)")
    tok = (f"CASE WHEN length(trim({t})) = 0 THEN 0 "
           f"ELSE {occ(f'trim({t})', ' ')} + 1 END")
    digits = f"length(regexp_replace({t}, '[^0-9]', '', 'g'))"
    punct = f"length(regexp_replace({t}, '[^.,;:!?]', '', 'g'))"
    marker_exprs = {}
    for lang, markers in LANG_MARKERS.items():
        padded = f"(' ' || {t} || ' ')"
        marker_exprs[lang] = " + ".join(occ(padded, m) for m in markers)
    # argmax with later-strictly-greater semantics over sorted langs
    lang_case = "'und'"
    score_case = "CAST(0 AS BIGINT)"
    for lang in sorted(LANG_MARKERS):
        s = f"({marker_exprs[lang]})"
        lang_case = f"CASE WHEN {s} > ({score_case}) THEN '{lang}' " \
                    f"ELSE ({lang_case}) END"
        score_case = f"CASE WHEN {s} > ({score_case}) THEN {s} " \
                     f"ELSE ({score_case}) END"
    quality = (
        f"0.4 * least(length({t}) / 500.0, 1.0) "
        f"+ 0.3 * (CASE WHEN ({tok}) > 0 "
        f"AND length({t}) / CAST(({tok}) AS DOUBLE) >= 3 "
        f"AND length({t}) / CAST(({tok}) AS DOUBLE) <= 10 "
        f"THEN 1.0 ELSE 0.5 END) "
        f"+ 0.15 * (1.0 - least((({digits}) / CAST(length({t}) AS DOUBLE))"
        f" * 5, 1.0)) "
        f"+ 0.15 * (1.0 - least((({punct}) / CAST(length({t}) AS DOUBLE))"
        f" * 5, 1.0))")
    # integer-exact quality*1e9 — mirrors quality_score_e9 term by term;
    # (a - a % b)/b is exact for non-negative int64 < 2^53 in IEEE double
    n = f"CAST(length({t}) AS BIGINT)"
    sql_idiv = lambda a, b: (  # noqa: E731
        f"CAST((({a}) - ({a}) % ({b})) / ({b}) AS BIGINT)")
    d5 = f"(5 * CAST({digits} AS BIGINT))"
    p5 = f"(5 * CAST({punct} AS BIGINT))"
    quality_e9 = (
        f"(800000 * least({n}, 500) "
        f"+ CASE WHEN ({tok}) > 0 AND {n} >= 3 * ({tok}) "
        f"AND {n} <= 10 * ({tok}) THEN 300000000 ELSE 150000000 END "
        f"+ CASE WHEN {n} > 0 THEN "
        f"{sql_idiv(f'150000000 * ({n} - least({d5}, {n}))', n)} "
        f"ELSE 150000000 END "
        f"+ CASE WHEN {n} > 0 THEN "
        f"{sql_idiv(f'150000000 * ({n} - least({p5}, {n}))', n)} "
        f"ELSE 150000000 END)")
    return {
        "n_tokens": tok,
        "n_subwords": f"CAST(floor(length({t}) / 4.0 + ({tok}) / 2.0) "
                      f"AS BIGINT)",
        "quality": quality,
        "quality_e9": quality_e9,
        "lang_pred": lang_case,
    }
