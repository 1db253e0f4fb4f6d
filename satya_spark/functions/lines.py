"""Line-level corpus hygiene: C4-style line filtering, global
line-level deduplication, and Gopher duplicate-line repetition
signals — the line-granularity half of the training-data cleaning
battery (document-granularity dedup lives in dedup.py, benchmark
decontamination in decontam.py, document repetition/TTR in text.py).

Reference semantics: the C4 cleaning rules (Raffel et al. 2020, §2.2 —
keep lines ending in terminal punctuation with ≥ a minimum word count
and no "javascript"; drop pages containing "lorem ipsum" or a curly
brace or too few surviving lines) and the Gopher/MassiveText
repetition filters (Rae et al. 2021, table A1 — duplicate-line
fraction and duplicate-line *character* fraction per document).

Plan-shape rules (the 100 TB design decisions):

* **Doc-local ops stay narrow.** ``with_clean_lines`` adds columns
  to the caller's frame: ``split`` → ``filter`` (array HOF), and
  ``clean_lines`` filters and ``array_join``s them. The HOF lambda
  is CodegenFallback (interpreted eval, ~10× on the expression —
  BENCH.md plan-shape rules), but the work is linear per row and the
  alternative — explode every line of a 100 TB corpus, shuffle it,
  and group it back per doc — moves the entire corpus through an
  Exchange for an operation that never needed cross-row state.
  Interpreted-but-narrow beats codegen-plus-corpus-shuffle here; the
  per-element work only touches the ELEMENT (a line), so there is no
  quadratic re-scan trap (contrast decontam.py's n-gram lambda rule,
  where the lambda body referenced the whole-text tokenization).

* **Cross-doc ops shuffle 8-byte keys, aggregate before joining.**
  ``dedup_lines`` explodes to (id, idx, line) once, reduces to a
  first-occurrence winner per line hash with a map-side-combining
  ``groupBy(hash).agg(min(struct(id, idx)))`` — an aggregation, not a
  window, because hot boilerplate lines (cookie banners, empty lines)
  make the per-hash group enormous and a window would sort the whole
  hot partition on one task while partial aggregation defuses the
  skew map-side. The winner table joins back by the same 8-byte
  equi key (AQE skew-join handles residual hot hashes).

* **Within-doc repetition is linear, not per-row quadratic.** A pure
  expression for "count occurrences of each line in this doc" is
  O(lines²) per row; ``line_repetition`` uses the same distributed
  explode → groupBy(id, hash) shape as text.py's top-bigram, which is
  linear and combines map-side.

Every operator has a DuckDB SQL twin for the differential oracle;
join/partition keys are md5-derived 63-bit ints (portable_hash64) so
both engines compute byte-identical keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import portable_hash64, portable_hash64_sql

# C4 defaults (Raffel et al. 2020 §2.2)
MIN_WORDS_PER_LINE = 5
MIN_KEPT_LINES = 3
TERMINAL_RE = '[.!?"]$'  # after rtrim; plain char class → Java regex ≡ RE2


def line_keep(line: Column, min_words: int = MIN_WORDS_PER_LINE) -> Column:
    """C4 per-line keep predicate: terminal punctuation, ≥min_words
    whitespace words, no 'javascript' (case-insensitive)."""
    return (
        F.rtrim(line).rlike(TERMINAL_RE)
        & (F.size(F.split(F.trim(line), r"\s+")) >= min_words)
        & ~F.lower(line).contains("javascript")
    )


def line_keep_sql(name: str, min_words: int = MIN_WORDS_PER_LINE) -> str:
    return (
        f"(regexp_matches(rtrim({name}), '{TERMINAL_RE}')"
        f" AND len(regexp_split_to_array(trim({name}), '\\s+')) >= {min_words}"
        f" AND NOT contains(lower({name}), 'javascript'))"
    )


def with_clean_lines(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = MIN_WORDS_PER_LINE,
    min_lines: int = MIN_KEPT_LINES,
) -> DataFrame:
    """``df`` plus the C4 page cleaning as two columns, zero shuffle:
    ``c4_lines`` — the lines :func:`line_keep` keeps — and
    ``c4_page_keep`` — false for a page containing 'lorem ipsum' (ci)
    or '{', with < ``min_lines`` surviving lines, or with NULL text.
    ``clean`` rewrites its text from these columns with no join."""
    t = F.col(text_col)
    kept = df.withColumn(
        "c4_lines", F.filter(F.split(t, "\n"), lambda l: line_keep(l, min_words))
    )
    page = (
        ~F.lower(t).contains("lorem ipsum")
        & ~t.contains("{")
        & (F.size("c4_lines") >= min_lines)
    )
    return kept.withColumn("c4_page_keep", F.coalesce(page, F.lit(False)))


def clean_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = MIN_WORDS_PER_LINE,
    min_lines: int = MIN_KEPT_LINES,
) -> DataFrame:
    """C4 page cleaning: the pages :func:`with_clean_lines` keeps, as
    (id, n_lines, n_kept, text_clean)."""
    return (
        with_clean_lines(df.select(id_col, text_col), text_col, min_words, min_lines)
        .filter("c4_page_keep")
        .select(
            id_col,
            F.size(F.split(text_col, "\n")).cast("long").alias("n_lines"),
            F.size("c4_lines").cast("long").alias("n_kept"),
            F.array_join("c4_lines", "\n").alias("text_clean"),
        )
    )


def clean_lines_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = MIN_WORDS_PER_LINE,
    min_lines: int = MIN_KEPT_LINES,
) -> str:
    """DuckDB twin of :func:`clean_lines` (list_filter lambda)."""
    keep = line_keep_sql("l", min_words)
    return f"""
SELECT {id_col}, CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept,
       array_to_string(kept, chr(10)) AS text_clean
FROM (
  SELECT {id_col}, lines, list_filter(lines, l -> {keep}) AS kept,
         contains(lower({text_col}), 'lorem ipsum') AS lorem,
         contains({text_col}, '{{') AS brace
  FROM (SELECT {id_col}, {text_col},
               string_split({text_col}, chr(10)) AS lines FROM {table})
)
WHERE NOT lorem AND NOT brace AND len(kept) >= {min_lines}
"""


def _exploded(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_lines, line_idx, line, __h) — one posexplode, the
    per-doc line count carried through as a constant (narrow)."""
    lines = F.split(F.col(text_col), "\n")
    return df.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        F.posexplode(lines).alias("line_idx", "line"),
    ).withColumn("__h", portable_hash64(F.col("line"), "ln"))


def dedup_lines(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-global line deduplication (the C4 'discard all but one
    of any three-sentence span' idea at line granularity, as used in
    most LLM pipelines): every distinct line keeps exactly its FIRST
    occurrence in (id, line_idx) order; later occurrences anywhere in
    the corpus are removed.

    Returns (id, n_lines, n_dropped, text_dedup) for documents that
    keep ≥1 line. A document whose every line first appeared elsewhere
    (e.g. an exact duplicate of an earlier page) keeps nothing and is
    absent from the output — page-level dedup falls out for free.

    Shape: explode once → groupBy(hash).agg(min(struct)) (map-side
    combine defuses hot-line skew) → equi join back on the 8-byte
    hash → one groupBy(id) to rebuild text in line order.
    """
    ex = _exploded(df, id_col, text_col)
    winners = ex.groupBy("__h").agg(
        F.min(F.struct(id_col, "line_idx")).alias("__w")
    )
    kept = (
        ex.join(winners, "__h")
        .filter(
            (F.col(id_col) == F.col("__w")[id_col])
            & (F.col("line_idx") == F.col("__w")["line_idx"])
        )
    )
    rebuilt = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("line_idx", "line"))),
            lambda s: s["line"],
        ),
        "\n",
    )
    return (
        kept.groupBy(id_col, "n_lines")
        .agg(
            F.count(F.lit(1)).alias("__n_kept"),
            rebuilt.alias("text_dedup"),
        )
        .select(
            id_col,
            F.col("n_lines").cast("long").alias("n_lines"),
            (F.col("n_lines") - F.col("__n_kept")).cast("long").alias("n_dropped"),
            "text_dedup",
        )
    )


def dedup_lines_sql(
    table: str, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB twin of :func:`dedup_lines`. row_number over
    (hash, id, idx) ≡ Spark's min(struct(id, idx)) winner; DuckDB's
    1-based line index preserves the same relative order as Spark's
    0-based posexplode, so the winners coincide."""
    h = portable_hash64_sql("line", "ln")
    return f"""
SELECT {id_col}, CAST(n_lines AS BIGINT) AS n_lines,
       CAST(n_lines - count(*) AS BIGINT) AS n_dropped,
       string_agg(line, chr(10) ORDER BY line_idx) AS text_dedup
FROM (
  SELECT {id_col}, n_lines, line_idx, line,
         row_number() OVER (PARTITION BY {h}
                            ORDER BY {id_col}, line_idx) AS rn
  FROM (
    SELECT {id_col}, n_lines, i AS line_idx, lines[i] AS line
    FROM (SELECT {id_col}, lines, len(lines) AS n_lines,
                 unnest(range(1, len(lines) + 1)) AS i
          FROM (SELECT {id_col},
                       string_split({text_col}, chr(10)) AS lines
                FROM {table}))
  )
)
WHERE rn = 1
GROUP BY {id_col}, n_lines
"""


def line_repetition(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher duplicate-line signals per document (Rae et al. 2021
    table A1): ``dup_line_frac`` = fraction of lines whose line value
    occurs more than once in the document (all occurrences counted),
    ``dup_line_char_frac`` = fraction of line characters contained in
    such lines. Gopher drops documents with dup_line_frac > 0.30 or
    dup_line_char_frac > 0.20.

    Distributed: explode → groupBy(id, line-hash) with map-side
    combine (linear; a pure-expression form would be O(lines²) per
    row) → one groupBy(id). Line length rides along as max() — equal
    lines have equal length, so max is exact, and the line string
    itself never shuffles twice.
    """
    ex = _exploded(df, id_col, text_col).select(
        id_col, "__h", F.length("line").alias("__len")
    )
    per_line = ex.groupBy(id_col, "__h").agg(
        F.count(F.lit(1)).alias("__c"), F.max("__len").alias("__len")
    )
    dup = F.col("__c") > 1
    return (
        per_line.groupBy(id_col)
        .agg(
            F.sum("__c").cast("long").alias("n_lines"),
            F.sum(F.when(dup, F.col("__c")).otherwise(0)).alias("__dup_n"),
            F.sum(F.col("__c") * F.col("__len")).alias("__chars"),
            F.sum(F.when(dup, F.col("__c") * F.col("__len")).otherwise(0)).alias(
                "__dup_chars"
            ),
        )
        .select(
            id_col,
            "n_lines",
            F.round(F.col("__dup_n").cast("double") / F.col("n_lines"), 6).alias(
                "dup_line_frac"
            ),
            F.when(
                F.col("__chars") > 0,
                F.round(
                    F.col("__dup_chars").cast("double") / F.col("__chars"), 6
                ),
            )
            .otherwise(0.0)
            .alias("dup_line_char_frac"),
        )
    )


def line_repetition_sql(
    table: str, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB twin of :func:`line_repetition`."""
    h = portable_hash64_sql("line", "ln")
    return f"""
SELECT {id_col}, CAST(sum(c) AS BIGINT) AS n_lines,
       round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
             / sum(c), 6) AS dup_line_frac,
       CASE WHEN sum(c * l) > 0 THEN
         round(CAST(sum(CASE WHEN c > 1 THEN c * l ELSE 0 END) AS DOUBLE)
               / sum(c * l), 6)
       ELSE 0.0 END AS dup_line_char_frac
FROM (
  SELECT {id_col}, {h} AS hh, count(*) AS c, max(length(line)) AS l
  FROM (
    SELECT {id_col}, unnest(string_split({text_col}, chr(10))) AS line
    FROM {table}
  )
  GROUP BY 1, 2
)
GROUP BY {id_col}
"""
