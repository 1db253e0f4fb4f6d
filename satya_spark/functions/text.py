"""Text-analysis kernels over document/transcript text.

Everything here is a pure ``Column`` builder (JVM-side, codegen) with
a DuckDB-SQL twin for the differential oracle — same design as the
constraint compiler (satya_spark/compiler.py). No Python in the data
plane.

Kernels: whitespace + BPE-ish token counting, punctuation/stopword
ratios, a composite quality score, n-gram-heuristic language ID, and
md5 document fingerprinting (the deterministic, portable stand-in for
a rolling hash).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
PUNCT_CLASS = r"[.,!?;:]"

# tiny per-language stopword lists for the n-gram/stopword heuristic
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "is", "in", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "nicht", "mit", "ich"),
    "fr": ("le", "la", "et", "est", "un", "une", "de", "que", "pas", "pour"),
    "es": ("el", "la", "es", "un", "una", "que", "de", "no", "por", "los"),
}
CJK_PATTERN = r"[一-鿿]"


def norm_text(col: Column) -> Column:
    """Whitespace-normalized lowercase text (dedup canonical form)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def norm_text_sql(name: str) -> str:
    return f"trim(regexp_replace(lower({name}), '\\s+', ' ', 'g'))"


def tokens_ws(col: Column) -> Column:
    """Whitespace tokens of the normalized text (empty text → [])."""
    return F.when(F.length(norm_text(col)) == 0, F.array().cast("array<string>")).otherwise(
        F.split(norm_text(col), " ")
    )


def tokens_ws_sql(name: str) -> str:
    n = norm_text_sql(name)
    return (
        f"CASE WHEN length({n}) = 0 THEN CAST([] AS VARCHAR[]) "
        f"ELSE string_split({n}, ' ') END"
    )


def token_count_ws(col: Column) -> Column:
    return F.size(tokens_ws(col))


def token_count_ws_sql(name: str) -> str:
    return f"len({tokens_ws_sql(name)})"


def token_count_bpe(col: Column) -> Column:
    """BPE-ish token count: regex pre-tokenization match count."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_PATTERN), F.lit(0)))


def token_count_bpe_sql(name: str) -> str:
    return f"len(regexp_extract_all({name}, '{BPE_PATTERN}'))"


def punct_ratio(col: Column) -> Column:
    """Punctuation chars / total chars (0 for empty)."""
    n = F.length(col)
    p = n - F.length(F.regexp_replace(col, PUNCT_CLASS, ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(p.cast("double") / n, 6)
    )


def punct_ratio_sql(name: str) -> str:
    return (
        f"CASE WHEN length({name}) = 0 THEN 0.0 ELSE "
        f"round(CAST(length({name}) - length(regexp_replace({name}, '{PUNCT_CLASS}', '', 'g')) AS DOUBLE)"
        f" / length({name}), 6) END"
    )


def stopword_hits(col: Column, lang: str = "en") -> Column:
    """# tokens that are stopwords of ``lang``.

    Implemented as a regexp count, NOT a higher-order ``F.filter``
    lambda: array lambdas are CodegenFallback and poison the entire
    enclosing projection into interpreted eval (~10× — measured,
    BENCH.md plan-shape rules), and ``lang_id`` evaluates this 4×.
    Token-exact counting via regex: every inter-token space of the
    normalized text is doubled, the whole string padded with one space
    each side, so every token is surrounded by its own spaces and
    ``' (w1|w2|…) '`` matches exactly the stopword tokens with no
    overlap (adjacent stopwords can't share a separator)."""
    words = STOPWORDS[lang]
    padded = F.concat(
        F.lit(" "), F.regexp_replace(norm_text(col), " ", "  "), F.lit(" ")
    )
    return F.regexp_count(padded, F.lit(" (" + "|".join(words) + ") "))


def stopword_hits_sql(name: str, lang: str = "en") -> str:
    words = "|".join(STOPWORDS[lang])
    n = norm_text_sql(name)
    return (
        f"len(regexp_extract_all(' ' || regexp_replace({n}, ' ', '  ', 'g')"
        f" || ' ', ' ({words}) '))"
    )


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    return stopword_ratio_from_hits(col, stopword_hits(col, lang))


def stopword_ratio_from_hits(col: Column, hits: Column) -> Column:
    """stopword_ratio over a PRE-PROJECTED hit count (attribute
    reference) — the structural-reuse form; see ``with_stopword_hits``."""
    n = token_count_ws(col)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(hits.cast("double") / n, 6)
    )


def stopword_ratio_sql(name: str, lang: str = "en") -> str:
    return (
        f"CASE WHEN {token_count_ws_sql(name)} = 0 THEN 0.0 ELSE "
        f"round(CAST({stopword_hits_sql(name, lang)} AS DOUBLE)"
        f" / {token_count_ws_sql(name)}, 6) END"
    )


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + low punct +
    nonzero stopword signal. Deterministic arithmetic only."""
    return quality_score_from_hits(col, stopword_hits(col, "en"))


def quality_score_from_hits(col: Column, hits_en: Column) -> Column:
    """``quality_score`` with the English stopword hit count supplied
    as a pre-projected attribute reference (``with_stopword_hits``) —
    avoids re-deriving the padded-stopword regexp subtree inside the
    score expression."""
    n = F.length(col)
    len_ok = F.when((n >= 50) & (n <= 5000), F.lit(0.5)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(col) < 0.1, F.lit(0.25)).otherwise(F.lit(0.0))
    stop_ok = F.when(
        stopword_ratio_from_hits(col, hits_en) > 0.02, F.lit(0.25)
    ).otherwise(F.lit(0.0))
    return F.when(F.coalesce(n, F.lit(0)) == 0, F.lit(0.0)).otherwise(
        F.round(len_ok + punct_ok + stop_ok, 2)
    )


def quality_score_sql(name: str) -> str:
    # CAST to DOUBLE: bare decimal literals make DuckDB produce
    # DECIMAL(_,2) ('1.00') where Spark produces DOUBLE ('1.0')
    return (
        f"CASE WHEN coalesce(length({name}), 0) = 0 THEN 0.0 ELSE "
        f"round(CAST((CASE WHEN length({name}) BETWEEN 50 AND 5000 THEN 0.5 ELSE 0.0 END)"
        f" + (CASE WHEN {punct_ratio_sql(name)} < 0.1 THEN 0.25 ELSE 0.0 END)"
        f" + (CASE WHEN {stopword_ratio_sql(name, 'en')} > 0.02 THEN 0.25 ELSE 0.0 END) AS DOUBLE), 2) END"
    )


LANGS = ("en", "de", "fr", "es")


def with_stopword_hits(df, text_col: str = "text", prefix: str = "hits_"):
    """ONE projection hoisting the per-language stopword hit counts as
    attribute columns (``hits_en`` … ``hits_es``). This makes the
    no-duplicate-work property STRUCTURAL instead of resting on
    Catalyst common-subexpression elimination: downstream ``lang_id``
    / ``quality_score`` consume attribute references, so each
    language's padded-stopword regexp_count appears exactly once in
    the physical plan (pinned by tests/test_plans.py). CollapseProject
    will not inline a non-cheap expression referenced more than once,
    so the two-Project shape survives optimization."""
    c = F.col(text_col)
    return df.withColumns({f"{prefix}{l}": stopword_hits(c, l) for l in LANGS})


def lang_id(col: Column) -> Column:
    """Heuristic language ID: CJK chars → zh, else argmax of
    per-language stopword hits (ties broken by fixed language order
    en>de>fr>es; no hits → 'und')."""
    return lang_id_from_hits(col, {l: stopword_hits(col, l) for l in LANGS})


def lang_id_from_hits(col: Column, hits: dict[str, Column]) -> Column:
    """``lang_id`` over pre-projected hit columns (attribute refs from
    ``with_stopword_hits``) — the structural-reuse form."""
    best = F.greatest(*hits.values())
    out = F.when(col.rlike(CJK_PATTERN), F.lit("zh")).when(best == 0, F.lit("und"))
    for l in LANGS:
        out = out.when(hits[l] == best, F.lit(l))
    return out


def lang_id_sql(name: str) -> str:
    h = {l: stopword_hits_sql(name, l) for l in ("en", "de", "fr", "es")}
    best = f"greatest({h['en']}, {h['de']}, {h['fr']}, {h['es']})"
    branches = "".join(
        f" WHEN {h[l]} = {best} THEN '{l}'" for l in ("en", "de", "fr", "es")
    )
    return (
        f"CASE WHEN regexp_matches({name}, '{CJK_PATTERN}') THEN 'zh'"
        f" WHEN {best} = 0 THEN 'und'{branches} END"
    )


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized
    text (portable across engines, unlike xxhash64)."""
    return F.md5(norm_text(col))


def fingerprint_sql(name: str) -> str:
    return f"md5({norm_text_sql(name)})"


# --- repetition signals (Gopher-style quality rules) ------------------------

def fresh_col(df, base: str) -> str:
    """``base`` prefixed with underscores until no column of ``df``
    matches it (case-insensitively, as the analyzer resolves names),
    so a helper column never shadows a caller's column."""
    taken = {c.lower() for c in df.columns}
    while base.lower() in taken:
        base = "_" + base
    return base


def token_chars(toks: Column) -> Column:
    """Non-space characters of a ``tokens_ws`` array (the sum of its
    token lengths; 0 for [])."""
    return F.length(F.array_join(toks, ""))


def ngram_stats(df, toks_col: str, id_col: str = "doc_id", ns=(2,)):
    """Per-document word n-gram statistics for every size in ``ns``,
    from ONE explode and one aggregation chain. For each ``n``:
    ``ng{n}_top`` (count of the most frequent gram), ``ng{n}_count``
    (grams in the doc), ``ng{n}_top_mass`` (max over grams of count ×
    non-space chars) and ``ng{n}_dup_mass`` (that mass summed over
    grams with count ≥ 2; NULL when none repeats).

    Lambda-free: size ``n`` is an ``arrays_zip`` of ``n`` shifted
    slices of the token array, padded to ``max(ns)`` fields with
    ``array_repeat(NULL)`` and tagged with an ``array_repeat(n)``
    field, so every size has one struct type, ``concat`` joins them
    and ``concat_ws`` (which skips NULLs) builds the gram. Then
    ``groupBy(id, n, gram)`` (map-side combine carries hot grams) →
    ``groupBy(id, n)`` → ``groupBy(id)`` widen. Docs with no gram of
    any size are absent; callers left-join by id."""
    t, w = F.col(toks_col), max(ns)
    null = F.lit(None).cast("string")

    def zipped(n: int) -> Column:
        # greatest(...,0): slice length must be non-negative under ANSI
        c = F.greatest(F.size(t) - (n - 1), F.lit(0))
        return F.arrays_zip(
            F.array_repeat(F.lit(n), c).alias("n"),
            *[F.slice(t, k, c).alias(f"t{k}") for k in range(1, n + 1)],
            *[F.array_repeat(null, c).alias(f"t{k}") for k in range(n + 1, w + 1)],
        )

    z = F.concat(*[zipped(n) for n in ns]) if len(ns) > 1 else zipped(ns[0])
    grams = df.select(F.col(id_col), F.explode(z).alias("__z")).select(
        id_col,
        F.col("__z.n").alias("__n"),
        F.concat_ws(" ", *[F.col(f"__z.t{k}") for k in range(1, w + 1)]).alias("__g"),
    )
    counted = grams.groupBy(id_col, "__n", "__g").agg(F.count(F.lit(1)).alias("__c"))
    # non-space chars of the gram = length minus its n-1 separators
    m = F.col("__c") * (F.length("__g") - (F.col("__n") - 1))
    per_n = counted.groupBy(id_col, "__n").agg(
        F.max("__c").alias("top"),
        F.sum("__c").alias("count"),
        F.max(m).alias("top_mass"),
        F.sum(F.when(F.col("__c") >= 2, m)).alias("dup_mass"),
    )
    return per_n.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("__n") == n, F.col(s))).alias(f"ng{n}_{s}")
            for n in ns
            for s in ("top", "count", "top_mass", "dup_mass")
        ]
    )


def repetition_cols(toks: Column) -> dict:
    """The :func:`with_repetition` signals as expressions over a token
    array and the ``ng2_*`` columns of :func:`ngram_stats` (left-joined,
    so a doc without bigrams reads NULL there)."""
    n = F.size(toks).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    top, cnt = F.col("ng2_top"), F.col("ng2_count")
    return {
        "n_tokens": n,
        "n_distinct": n_distinct,
        "ttr": F.when(n > 0, F.round(n_distinct.cast("double") / n, 6)),
        "top_bigram_count": F.coalesce(top, F.lit(0)).cast("long"),
        "top_bigram_frac": F.when(cnt > 0, F.round(top.cast("double") / cnt, 6)),
    }


def with_repetition(df, text_col: str = "text", id_col: str = "doc_id"):
    """Per-document repetition signals for training-data filtering
    (the Gopher/MassiveText repetition rules re-expressed Spark-first):

    * ``n_tokens`` / ``n_distinct`` / ``ttr`` — type-token ratio
      (low TTR = heavy word repetition), computed per row in one
      codegen projection (``array_distinct`` is a regular expression,
      not a lambda HOF);
    * ``top_bigram_count`` / ``top_bigram_frac`` — the most frequent
      bigram's share of all bigrams, from :func:`ngram_stats` with
      ``ns=(2,)`` (one explode, map-side-combining aggregation, left
      join back by id) — linear in corpus size, never the per-row
      O(tokens²) array-scan shape a pure-expression version would
      force. ``clean`` reads the same columns off its shared n-gram
      aggregation through :func:`repetition_cols`.

    NULL text yields NULL token counts (the DuckDB twin agrees). Ties
    on the top bigram resolve identically everywhere because only the
    COUNT is reported, never an arbitrary winning bigram.
    """
    base = df.select(F.col(id_col), tokens_ws(F.col(text_col)).alias("__t"))
    sig = repetition_cols(F.col("__t"))
    return base.join(ngram_stats(base, "__t", id_col), id_col, "left").select(
        id_col, *[c.alias(k) for k, c in sig.items()]
    )


def repetition_sql(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    standalone: bool = True,
) -> str:
    """DuckDB twin of :func:`with_repetition` (1-indexed lists).
    ``standalone=False`` emits a leading ``,`` so the CTEs chain onto
    an existing WITH clause (e.g. the docs fixture's)."""
    norm = norm_text_sql(text_col)
    return (
        ("WITH " if standalone else ", ")
        + f"__toks AS (SELECT {id_col}, "
        f"CASE WHEN length({norm}) = 0 THEN CAST([] AS VARCHAR[]) "
        f"ELSE string_split({norm}, ' ') END AS t FROM {table}), "
        "__bg AS (SELECT "
        f"{id_col}, unnest(list_transform(range(1, len(t)),"
        " i -> t[i] || ' ' || t[i+1])) AS g FROM __toks WHERE len(t) >= 2), "
        f"__cnt AS (SELECT {id_col}, g, count(*) AS c FROM __bg GROUP BY 1, 2), "
        f"__top AS (SELECT {id_col}, max(c) AS top_c, sum(c) AS n_bg"
        " FROM __cnt GROUP BY 1) "
        f"SELECT k.{id_col}, CAST(len(k.t) AS BIGINT) AS n_tokens, "
        "CAST(len(list_distinct(k.t)) AS BIGINT) AS n_distinct, "
        "CASE WHEN len(k.t) > 0 THEN"
        " round(CAST(len(list_distinct(k.t)) AS DOUBLE) / len(k.t), 6)"
        " END AS ttr, "
        "CAST(coalesce(p.top_c, 0) AS BIGINT) AS top_bigram_count, "
        "CASE WHEN p.n_bg > 0 THEN"
        " round(CAST(p.top_c AS DOUBLE) / p.n_bg, 6) END AS top_bigram_frac "
        f"FROM __toks k LEFT JOIN __top p USING ({id_col})"
    )
