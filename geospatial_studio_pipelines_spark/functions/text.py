"""Text-analysis scalar functions — pure Catalyst column expressions with
DuckDB-SQL twins (for the driver's oracle gate).

Large-scale training-data-pipeline ops over the ``documents`` table:
language-ID (marker-word heuristic), quality scoring (length / punctuation /
stopword ratios), token counting (whitespace + word-regex), document
fingerprinting (md5-based — md5 is bit-identical across Spark and DuckDB).

Every function here has an ``*_sql`` twin generating the equivalent DuckDB
expression; semantics are chosen to be engine-portable (no banker's
rounding, no engine-specific regex classes, no hash() whose seed differs).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# marker words per language (heuristic n-gram language ID; the engine ships
# the mechanism — swap marker tables for a real model via the same column)
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "es": [" el ", " la ", " de "],
    "fr": [" le ", " la ", " et "],
    "de": [" der ", " die ", " und "],
}

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]


def token_count(text: Column) -> Column:
    """Whitespace tokenization count (empty string → 0)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def token_count_sql(col: str) -> str:
    return (
        f"CASE WHEN length(trim({col})) = 0 THEN 0 "
        f"ELSE length(string_split(regexp_replace(trim({col}), '\\s+', ' ', 'g'), ' ')) END"
    )


def word_count(text: Column) -> Column:
    """BPE-ish word-regex count: runs of [a-zA-Z0-9]+ (sub-word pieces split
    on every non-alphanumeric, the cheap analog of a BPE pre-tokenizer)."""
    stripped = F.regexp_replace(text, r"[a-zA-Z0-9]+", "x")
    return F.length(stripped) - F.length(F.regexp_replace(stripped, "x", ""))


def word_count_sql(col: str) -> str:
    return (
        f"length(regexp_replace({col}, '[a-zA-Z0-9]+', 'x', 'g')) - "
        f"length(regexp_replace(regexp_replace({col}, '[a-zA-Z0-9]+', 'x', 'g'), 'x', '', 'g'))"
    )


def _count_occurrences(text: Column, marker: str) -> Column:
    return (F.length(text) - F.length(F.replace(text, F.lit(marker), F.lit("")))) / len(marker)


def _count_occurrences_sql(col: str, marker: str) -> str:
    m = marker.replace("'", "''")
    return f"((length({col}) - length(replace({col}, '{m}', ''))) / {len(marker)})"


def lang_scores(text: Column) -> dict[str, Column]:
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    return {
        lang: sum(_count_occurrences(padded, m) for m in markers)
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """argmax language score; 'und' when all scores are 0; ties broken by
    language code ascending (deterministic, mirrored in SQL)."""
    scores = lang_scores(text)
    best = None
    for lang in sorted(scores):  # ascending code → first max wins
        cond = (scores[lang] > 0) & F.lit(True)
        for other in sorted(scores):
            if other == lang:
                continue
            op = scores[other] <= scores[lang] if other > lang else scores[other] < scores[lang]
            cond = cond & op
        best = F.when(cond, F.lit(lang)) if best is None else best.when(cond, F.lit(lang))
    return best.otherwise(F.lit("und"))


def lang_id_sql(col: str) -> str:
    padded = f"(' ' || lower({col}) || ' ')"
    score = {
        lang: "(" + " + ".join(_count_occurrences_sql(padded, m) for m in markers) + ")"
        for lang, markers in LANG_MARKERS.items()
    }
    clauses = []
    for lang in sorted(score):
        conds = [f"{score[lang]} > 0"]
        for other in sorted(score):
            if other == lang:
                continue
            op = "<=" if other > lang else "<"
            conds.append(f"{score[other]} {op} {score[lang]}")
        clauses.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + " ELSE 'und' END"


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are .,;:!? (guarded for empty text)."""
    n = F.length(text)
    p = n - F.length(F.regexp_replace(text, r"[.,;:!?]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(p.cast("double") / n.cast("double"))


def punct_ratio_sql(col: str) -> str:
    return (
        f"CASE WHEN length({col}) = 0 THEN 0.0 ELSE "
        f"CAST(length({col}) - length(regexp_replace({col}, '[.,;:!?]', '', 'g')) AS DOUBLE)"
        f" / CAST(length({col}) AS DOUBLE) END"
    )


def stopword_ratio(text: Column) -> Column:
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    hits = None
    for w in STOPWORDS:
        c = _count_occurrences(padded, f" {w} ")
        hits = c if hits is None else hits + c
    toks = token_count(text)
    return F.when(toks == 0, F.lit(0.0)).otherwise(hits.cast("double") / toks.cast("double"))


def stopword_ratio_sql(col: str) -> str:
    padded = f"(' ' || lower({col}) || ' ')"
    hits = " + ".join(_count_occurrences_sql(padded, f" {w} ") for w in STOPWORDS)
    toks = token_count_sql(col)
    return f"CASE WHEN ({toks}) = 0 THEN 0.0 ELSE CAST(({hits}) AS DOUBLE) / CAST(({toks}) AS DOUBLE) END"


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation +
    stopword presence. Deterministic floor-based bucketing (portable)."""
    n = F.length(text).cast("double")
    len_score = F.least(n / F.lit(200.0), F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(text) * 5.0)
    stop_score = F.least(stopword_ratio(text) * 5.0, F.lit(1.0))
    raw = len_score * 0.4 + punct_pen * 0.3 + stop_score * 0.3
    return F.floor(raw * 1000.0) / 1000.0


def quality_score_sql(col: str) -> str:
    n = f"CAST(length({col}) AS DOUBLE)"
    len_score = f"least({n} / 200.0, 1.0)"
    punct_pen = f"greatest(0.0, 1.0 - ({punct_ratio_sql(col)}) * 5.0)"
    stop_score = f"least(({stopword_ratio_sql(col)}) * 5.0, 1.0)"
    return f"FLOOR(({len_score} * 0.4 + {punct_pen} * 0.3 + {stop_score} * 0.3) * 1000.0) / 1000.0"


def fingerprint(text: Column) -> Column:
    """Full 128-bit document fingerprint = the md5 hex digest (md5 agrees
    bit-for-bit across Spark/DuckDB; near-dup shingle hashing is in dedup).

    Deliberately NOT truncated: a 64-bit fingerprint at the 10^12-doc design
    scale expects ~C(n,2)/2^64 ≈ 2.7e4 birthday collisions, each one a unique
    document silently deleted by the keeper semi-join. The streaming dedup
    state (streaming/events.py) made the same call in r4; this keeps the
    batch path (exact_duplicates, corpus_clean*) at the same width."""
    return F.md5(text.cast("string"))


def fingerprint_sql(col: str) -> str:
    return f"md5({col})"


# ---------------------------------------------- portable shingle hashing

SHINGLE_K = 4
_POW31 = [31**p for p in range(SHINGLE_K)]  # little-endian powers


def shingle_hashes_sql(col: str) -> str:
    """DuckDB list<bigint> of the polynomial hash of every k-char shingle,
    h(i) = Σ_j ascii(substr(t, i+j, 1)) · 31^(k-1-j) — the oracle twin of
    the engine's Arrow hash (``operators.dedup._kgram_hashes``). Texts
    shorter than k give an empty list: ``generate_series(1, 0)`` is empty."""
    terms = " + ".join(
        f"ascii(substr({col}, i + {j}, 1)) * {_POW31[SHINGLE_K - 1 - j]}" for j in range(SHINGLE_K)
    )
    return (
        f"list_transform(generate_series(1, greatest(length({col}) - {SHINGLE_K - 1}, 0)), "
        f"i -> CAST({terms} AS BIGINT))"
    )
