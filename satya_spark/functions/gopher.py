"""Gopher/MassiveText document-quality and repetition filters
(Rae et al. 2021, "Scaling Language Models: ... Gopher", Table A1) —
the remaining half of the Gopher battery (duplicate-LINE fractions
live in functions/lines.py, TTR + top-bigram share in functions/
text.py's ``with_repetition``).

Two operators, two very different 100 TB plan shapes:

* :func:`gopher_quality` — the doc-LOCAL quality signals (word count
  bounds, mean word length, symbol-to-word ratios, bullet/ellipsis
  line fractions, alpha-word fraction, required-stopword count).
  ZERO shuffle: every signal is computable from the row alone, so
  :func:`with_gopher_quality` adds the whole battery as columns of
  the caller's frame (``clean`` filters on them with no join), and
  ``gopher_quality`` is a select over it. The token and line arrays
  are projected to real columns first (the n+1-tokenizations rule,
  decontam.py); the array-HOF lambdas only touch their ELEMENT (a
  line / a word), so there is no quadratic re-scan trap.

* :func:`gopher_ngram_repetition` — the within-doc n-gram repetition
  signals (top n-gram character fraction for n=2..4, duplicated
  n-gram character fraction for n=5..10). A pure expression would be
  O(tokens²) per row; this is the DISTRIBUTED linear shape of
  ``text.ngram_stats`` (shared with ``with_repetition`` and
  ``clean``): ONE lambda-free explode of all nine gram sizes →
  map-side-combining ``groupBy(id, n, gram)`` → tiny
  ``groupBy(id, n)`` → ``groupBy(id)`` widen → left join back on the
  doc id, and :func:`ngram_repetition_cols` turns the widened masses
  into fractions. Hot boilerplate grams combine map-side; AQE handles
  residual skew.

Exact fraction definitions (pinned so the DuckDB twin is
byte-identical; published implementations vary in the denominator
and in overlap handling):

* character mass of a gram = its count × its non-space character
  length; ``total_chars`` = non-space characters of the normalized
  text (= sum of token lengths).
* ``top_{n}gram_char_frac`` = max over grams of (count × chars) /
  total_chars — the duplicated-character mass of the HEAVIEST gram.
  (Gopher says "most frequently-occurring n-gram"; taking the max
  of the product instead is deterministic under count ties across
  engines and equals the Gopher value whenever the most frequent
  gram also carries the most characters.)
* ``dup_{n}gram_char_frac`` = Σ over grams with count ≥ 2 of
  (count × chars) / total_chars, capped at 1.0 — the NeMo-Curator-
  style overlap-overcounting approximation of DataTrove's
  position-marking measure (an upper bound on it).

Thresholds (Table A1): 50 ≤ words ≤ 100,000; mean word length in
[3, 10]; hash and ellipsis symbol-to-word ratios ≤ 0.1; ≤ 90% of
lines bullet-started; ≤ 30% ellipsis-ended; ≥ 80% of words with an
alphabetic character; ≥ 2 of the 8 required stop words; top n-gram
fractions ≤ 0.20 / 0.18 / 0.16 (n = 2/3/4); duplicated n-gram
fractions ≤ 0.15 / 0.14 / 0.13 / 0.12 / 0.11 / 0.10 (n = 5..10).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import (
    fresh_col,
    ngram_stats,
    norm_text_sql,
    token_chars,
    tokens_ws,
    tokens_ws_sql,
)

# Gopher's 8 required stop words (Table A1: "must contain at least 2")
REQUIRED_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

BULLET_RE = "^[•‣▪*-]"
ELLIPSIS_RE = r"(\.\.\.|…)$"

MIN_WORDS, MAX_WORDS = 50, 100_000
MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN = 3.0, 10.0
MAX_SYMBOL_RATIO = 0.1
MAX_BULLET_FRAC = 0.90
MAX_ELLIPSIS_FRAC = 0.30
MIN_ALPHA_FRAC = 0.80
MIN_REQUIRED_STOPWORDS = 2

TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
DUP_NGRAM_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
NGRAM_NS = tuple(TOP_NGRAM_MAX) + tuple(DUP_NGRAM_MAX)


def _r6(c: Column) -> Column:
    return F.round(c, 6)


def with_gopher_quality(
    df: DataFrame, tokens_col: str, text_col: str = "text"
) -> DataFrame:
    """``df`` plus the doc-local Gopher signal columns (``n_words`` …
    ``n_required_stopwords``) and the composite ``gopher_keep``.
    ``tokens_col`` holds ``tokens_ws(coalesce(text, ''))``, so the
    caller's one tokenization is reused.

    Narrow projections over the caller's frame; zero shuffle. NULL
    text is treated as empty (all count signals 0, fractions NULL, keep
    false — it fails the word-count bound). Helper columns get names
    no column of ``df`` has and are dropped again.
    """
    txt_c, lines_c = fresh_col(df, "__txt"), fresh_col(df, "__lines")
    txt = F.coalesce(F.col(text_col), F.lit(""))
    d = df.withColumns({txt_c: txt, lines_c: F.split(txt, "\n")})
    t, x, lines = F.col(tokens_col), F.col(txt_c), F.col(lines_c)
    n_words = F.size(t).cast("long")
    n_lines = F.size(lines).cast("long")
    # mean word length stays pure codegen: non-space chars / words
    mean_wl = F.when(n_words > 0, _r6(token_chars(t).cast("double") / n_words))
    n_hash = F.length(x) - F.length(F.replace(x, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(x) - F.length(F.replace(x, F.lit("…"), F.lit("")))
    ) + (
        F.length(x) - F.length(F.replace(x, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    hash_ratio = F.when(n_words > 0, _r6(n_hash.cast("double") / n_words))
    ellipsis_ratio = F.when(n_words > 0, _r6(n_ellipsis.cast("double") / n_words))
    n_bullet = F.size(
        F.filter(lines, lambda l: F.ltrim(l).rlike(BULLET_RE))
    ).cast("long")
    n_ell_end = F.size(
        F.filter(lines, lambda l: F.rtrim(l).rlike(ELLIPSIS_RE))
    ).cast("long")
    bullet_frac = _r6(n_bullet.cast("double") / n_lines)  # split() ⇒ ≥1 line
    ell_frac = _r6(n_ell_end.cast("double") / n_lines)
    n_alpha = F.size(F.filter(t, lambda w: w.rlike("[a-z]"))).cast("long")
    alpha_frac = F.when(n_words > 0, _r6(n_alpha.cast("double") / n_words))
    # a stop word occurs in the single-space-joined text iff it is a token
    n_req = sum(
        F.when(F.array_contains(t, w), 1).otherwise(0) for w in REQUIRED_STOPWORDS
    ).cast("int")
    sig = d.withColumns(
        {
            "n_words": n_words,
            "mean_word_len": mean_wl,
            "hash_ratio": hash_ratio,
            "ellipsis_ratio": ellipsis_ratio,
            "bullet_line_frac": bullet_frac,
            "ellipsis_line_frac": ell_frac,
            "alpha_word_frac": alpha_frac,
            "n_required_stopwords": n_req,
        }
    )
    keep = (
        (F.col("n_words") >= MIN_WORDS)
        & (F.col("n_words") <= MAX_WORDS)
        & (F.col("mean_word_len") >= MIN_MEAN_WORD_LEN)
        & (F.col("mean_word_len") <= MAX_MEAN_WORD_LEN)
        & (F.col("hash_ratio") <= MAX_SYMBOL_RATIO)
        & (F.col("ellipsis_ratio") <= MAX_SYMBOL_RATIO)
        & (F.col("bullet_line_frac") <= MAX_BULLET_FRAC)
        & (F.col("ellipsis_line_frac") <= MAX_ELLIPSIS_FRAC)
        & (F.col("alpha_word_frac") >= MIN_ALPHA_FRAC)
        & (F.col("n_required_stopwords") >= MIN_REQUIRED_STOPWORDS)
    )
    return sig.withColumn("gopher_keep", F.coalesce(keep, F.lit(False))).drop(
        txt_c, lines_c
    )


def gopher_quality(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, signal columns, gopher_keep): :func:`with_gopher_quality`
    over the (id, text, tokens) projection."""
    toks = tokens_ws(F.coalesce(F.col(text_col), F.lit("")))
    d = df.select(id_col, text_col, toks.alias("__t"))
    return with_gopher_quality(d, "__t", text_col).drop(text_col, "__t")


def gopher_quality_sql(table: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    """DuckDB twin of :func:`gopher_quality` (lists are 1-indexed;
    string_split on chr(10); same rounding)."""
    txt = f"coalesce({text_col}, '')"
    norm = norm_text_sql(txt)
    toks = tokens_ws_sql(txt)
    sws = " + ".join(
        f"(CASE WHEN contains(' ' || __norm || ' ', ' {w} ') THEN 1 ELSE 0 END)"
        for w in REQUIRED_STOPWORDS
    )
    keep = (
        f"n_words >= {MIN_WORDS} AND n_words <= {MAX_WORDS}"
        f" AND mean_word_len >= {MIN_MEAN_WORD_LEN}"
        f" AND mean_word_len <= {MAX_MEAN_WORD_LEN}"
        f" AND hash_ratio <= {MAX_SYMBOL_RATIO}"
        f" AND ellipsis_ratio <= {MAX_SYMBOL_RATIO}"
        f" AND bullet_line_frac <= {MAX_BULLET_FRAC}"
        f" AND ellipsis_line_frac <= {MAX_ELLIPSIS_FRAC}"
        f" AND alpha_word_frac >= {MIN_ALPHA_FRAC}"
        f" AND n_required_stopwords >= {MIN_REQUIRED_STOPWORDS}"
    )
    return (
        f"SELECT {id_col}, n_words, mean_word_len, hash_ratio,"
        " ellipsis_ratio, bullet_line_frac, ellipsis_line_frac,"
        " alpha_word_frac, n_required_stopwords,"
        f" coalesce(({keep}), FALSE) AS gopher_keep FROM (\n"
        f"SELECT {id_col},\n"
        " CAST(len(__t) AS BIGINT) AS n_words,\n"
        " CASE WHEN len(__t) > 0 THEN round(CAST(length(__norm)"
        " - greatest(len(__t) - 1, 0) AS DOUBLE) / len(__t), 6) END"
        " AS mean_word_len,\n"
        " CASE WHEN len(__t) > 0 THEN round(CAST(length(__txt)"
        " - length(replace(__txt, '#', '')) AS DOUBLE) / len(__t), 6) END"
        " AS hash_ratio,\n"
        " CASE WHEN len(__t) > 0 THEN round(((length(__txt)"
        " - length(replace(__txt, '…', '')))"
        " + (length(__txt) - length(replace(__txt, '...', ''))) / 3.0)"
        " / len(__t), 6) END AS ellipsis_ratio,\n"
        " round(CAST(len(list_filter(__lines,"
        f" l -> regexp_matches(ltrim(l), '{BULLET_RE}'))) AS DOUBLE)"
        " / len(__lines), 6) AS bullet_line_frac,\n"
        " round(CAST(len(list_filter(__lines,"
        " l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$'))) AS DOUBLE)"
        " / len(__lines), 6) AS ellipsis_line_frac,\n"
        " CASE WHEN len(__t) > 0 THEN round(CAST(len(list_filter(__t,"
        " w -> regexp_matches(w, '[a-z]'))) AS DOUBLE) / len(__t), 6) END"
        " AS alpha_word_frac,\n"
        f" CAST({sws} AS INT) AS n_required_stopwords\n"
        f"FROM (SELECT {id_col}, {norm} AS __norm, {toks} AS __t,"
        f" string_split({txt}, chr(10)) AS __lines, {txt} AS __txt"
        f" FROM {table})\n)"
    )


def ngram_repetition_cols(toks: Column) -> dict:
    """``top_{2,3,4}gram_char_frac``, ``dup_{5..10}gram_char_frac`` and
    ``rep_keep`` as expressions over a token array and the
    ``text.ngram_stats(ns=NGRAM_NS)`` columns (left-joined: a doc with
    no gram reads NULL masses, i.e. 0.0 fractions)."""
    tc = token_chars(toks)

    def frac(mass: str) -> Column:
        return F.when(
            tc > 0,
            _r6(
                F.least(
                    F.coalesce(F.col(mass), F.lit(0)).cast("double") / tc,
                    F.lit(1.0),
                )
            ),
        ).otherwise(F.lit(0.0))

    top = {n: frac(f"ng{n}_top_mass") for n in TOP_NGRAM_MAX}
    dup = {n: frac(f"ng{n}_dup_mass") for n in DUP_NGRAM_MAX}
    keep = [top[n] <= t for n, t in TOP_NGRAM_MAX.items()]
    keep += [dup[n] <= t for n, t in DUP_NGRAM_MAX.items()]
    return {
        **{f"top_{n}gram_char_frac": c for n, c in top.items()},
        **{f"dup_{n}gram_char_frac": c for n, c in dup.items()},
        "rep_keep": reduce(operator.and_, keep),
    }


def gopher_ngram_repetition(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-doc n-gram repetition signals: ``top_{2,3,4}gram_char_frac``
    and ``dup_{5..10}gram_char_frac`` (definitions in the module
    docstring) + composite ``rep_keep``.

    Distributed linear shape: ``text.ngram_stats`` over all nine gram
    sizes (one lambda-free explode → groupBy(id, n, gram) → groupBy(id,
    n) → groupBy(id) widen), left-joined back so gram-less (short or
    empty) docs report 0.0 fractions.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    base = df.select(F.col(id_col), tokens_ws(txt).alias("__t"))
    stats = ngram_stats(base, "__t", id_col, NGRAM_NS)
    sig = ngram_repetition_cols(F.col("__t"))
    return base.join(stats, id_col, "left").select(
        id_col, *[c.alias(k) for k, c in sig.items()]
    )


def _grams_from_toks_sql(t: str, n: int) -> str:
    return (
        f"CASE WHEN len({t}) >= {n} THEN "
        f"list_transform(range(1, len({t}) - {n} + 2), "
        f"i -> array_to_string(list_slice({t}, i, i + {n - 1}), ' ')) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )


def gopher_ngram_repetition_sql(
    table: str, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB twin of :func:`gopher_ngram_repetition` (UNION ALL over
    the nine gram sizes replaces the padded single explode; the oracle
    does not need that optimization)."""
    txt = f"coalesce({text_col}, '')"
    gram_union = "\nUNION ALL\n".join(
        f"SELECT {id_col}, {n} AS n, unnest({_grams_from_toks_sql('__t', n)}) AS g"
        " FROM __toks"
        for n in NGRAM_NS
    )
    tops = ",\n".join(
        f" CASE WHEN total_chars > 0 THEN"
        f" round(least(CAST(coalesce(top{n}, 0) AS DOUBLE)"
        f" / total_chars, 1.0), 6) ELSE 0.0 END AS top_{n}gram_char_frac"
        for n in TOP_NGRAM_MAX
    )
    dups = ",\n".join(
        f" CASE WHEN total_chars > 0 THEN"
        f" round(least(CAST(coalesce(dup{n}, 0) AS DOUBLE)"
        f" / total_chars, 1.0), 6) ELSE 0.0 END AS dup_{n}gram_char_frac"
        for n in DUP_NGRAM_MAX
    )
    keep = " AND ".join(
        [f"top_{n}gram_char_frac <= {t}" for n, t in TOP_NGRAM_MAX.items()]
        + [f"dup_{n}gram_char_frac <= {t}" for n, t in DUP_NGRAM_MAX.items()]
    )
    wide_cols = ",\n".join(
        [
            f" max(CASE WHEN n = {n} THEN top_mass END) AS top{n}"
            for n in TOP_NGRAM_MAX
        ]
        + [
            f" max(CASE WHEN n = {n} THEN dup_mass END) AS dup{n}"
            for n in DUP_NGRAM_MAX
        ]
    )
    return (
        f"SELECT {id_col},"
        f"{tops},\n{dups},\n ({keep}) AS rep_keep FROM (\n"
        f"WITH __toks AS (SELECT {id_col},"
        f" {tokens_ws_sql(txt)} AS __t, {norm_text_sql(txt)} AS __norm"
        f" FROM {table}),\n"
        f"__docs AS (SELECT {id_col}, CAST(length(__norm)"
        f" - greatest(len(__t) - 1, 0) AS BIGINT) AS total_chars"
        " FROM __toks),\n"
        f"__g AS ({gram_union}),\n"
        f"__cnt AS (SELECT {id_col}, n, g, count(*) AS cnt FROM __g"
        " GROUP BY 1, 2, 3),\n"
        f"__mass AS (SELECT {id_col}, n, cnt,"
        " cnt * (length(g) - (n - 1)) AS m FROM __cnt),\n"
        f"__pern AS (SELECT {id_col}, n, max(m) AS top_mass,"
        f" sum(CASE WHEN cnt >= 2 THEN m END) AS dup_mass FROM __mass"
        " GROUP BY 1, 2),\n"
        f"__wide AS (SELECT {id_col},\n{wide_cols}\n FROM __pern GROUP BY 1)\n"
        f"SELECT d.{id_col}, d.total_chars,"
        f" {', '.join(f'w.top{n}' for n in TOP_NGRAM_MAX)},"
        f" {', '.join(f'w.dup{n}' for n in DUP_NGRAM_MAX)}"
        f" FROM __docs d LEFT JOIN __wide w USING ({id_col})\n)"
    )
