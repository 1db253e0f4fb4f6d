"""Deduplication kernels for training-data pipelines.

Four tiers, all deterministic and (except the LSH scale path)
oracle-checkable against DuckDB:

* **exact** — md5 fingerprint of normalized text, hash groupBy.
  At 100 TB this is the one-shuffle baseline (fingerprints are tiny;
  map-side combine collapses most groups).
* **n-gram Jaccard** — token-set Jaccard over *blocked* candidate
  pairs (same language + token-count band). Blocking bounds the
  quadratic term; the block key is the shuffle key.
* **MinHash + LSH** — k portable hash functions (md5-derived 63-bit
  ints, identical in Spark and DuckDB), banded into b buckets;
  candidate pairs share a band bucket; verified with true Jaccard.
  This is the scale path: cost is O(n·k) + one shuffle per band join.
* **SimHash** — 16-bit sign-of-weighted-sum signature via one
  explode + groupBy (all codegen'd aggregates); near-dups = pairs at
  hamming distance ≤ d within a block.

Embedding-cosine near-dup lives in similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .bounded import CollectBoundExceeded, bounded_collect
from .text import fingerprint, norm_text, tokens_ws

MINHASH_K = 8  # signature length
MINHASH_BANDS = 4  # bands of 2 rows each


def portable_hash64(col: Column, seed: str) -> Column:
    """Deterministic 63-bit integer hash identical in Spark and
    DuckDB: first 15 hex chars of md5(seed || token)."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(seed), col)), 1, 15), 16, 10).cast(
        "long"
    )


def portable_hash64_sql(expr: str, seed: str) -> str:
    return f"('0x' || substring(md5('{seed}' || {expr}), 1, 15))::BIGINT"


# --- exact ---------------------------------------------------------------


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(fingerprint, n_docs, canonical_id) for every duplicated
    normalized text. canonical = min id (keep-first policy)."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# --- n-gram Jaccard ------------------------------------------------------


def _jaccard(a: str, b: str) -> Column:
    """Jaccard of two DISTINCT arrays, rounded to 6 places. Union via
    |A|+|B|−|A∩B| instead of array_distinct(concat(...)): half the
    per-pair set work. Two empty (or NULL) sets give 0/0, guarded to
    a NULL that fails every threshold filter; under ANSI mode an
    unguarded divide would abort the job instead."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.round(F.when(union > 0, inter.cast("double") / union), 6)


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    band_width: int = 5,
) -> DataFrame:
    """Near-dup pairs by token-set Jaccard ≥ threshold, blocked by
    (lang, token-count band) with COMPLETE recall: Jaccard ≥ t forces
    the smaller token count ≥ t × the larger, so the larger-count side
    of every qualifying pair is emitted into every band a qualifying
    smaller partner could occupy — bands floor(t·c/w)..floor(c/w) —
    and joined by EQUALITY on (lang, band). This is the similarity-join
    length filter: symmetric (no id-order dependence — the round-1
    ±1-band version silently dropped pairs where the lower id had the
    higher count), exactly-once (orientation fixed by the (count, id)
    lexicographic order), and a true equi-join, so the shuffle
    partitions on (lang, band) instead of degrading to a
    within-language all-pairs filter. Returns (id_a, id_b, jac),
    id_a < id_b."""
    t = df.select(
        F.col(id_col),
        F.col(lang_col).alias("lang"),
        F.array_distinct(tokens_ws(F.col(text_col))).alias("toks"),
    ).withColumn("tc", F.size("toks"))
    # floor explicitly: Spark CAST(double AS INT) truncates while
    # DuckDB rounds — floor makes both dialects agree
    small = t.select(
        F.col(id_col).alias("id_s"),
        F.col("lang"),
        F.col("toks").alias("toks_s"),
        F.col("tc").alias("tc_s"),
        F.floor(F.col("tc") / F.lit(band_width)).cast("int").alias("band"),
    )
    lo = F.floor(F.lit(float(threshold)) * F.col("tc") / F.lit(band_width)).cast("int")
    hi = F.floor(F.col("tc") / F.lit(band_width)).cast("int")
    big = t.select(
        F.col(id_col).alias("id_l"),
        F.col("lang"),
        F.col("toks").alias("toks_l"),
        F.col("tc").alias("tc_l"),
        F.explode(F.sequence(lo, hi)).alias("band"),
    )
    joined = big.join(small, ["lang", "band"]).filter(
        (F.col("tc_s") < F.col("tc_l"))
        | ((F.col("tc_s") == F.col("tc_l")) & (F.col("id_s") < F.col("id_l")))
    )
    return (
        joined.select(
            F.least("id_s", "id_l").alias("id_a"),
            F.greatest("id_s", "id_l").alias("id_b"),
            _jaccard("toks_s", "toks_l").alias("jac"),
        )
        .filter(F.col("jac") >= threshold)
    )


# --- MinHash + LSH ---------------------------------------------------------


def _seeded_hasher(seed: str):
    # NB: must be a 1-arg callable — a 2-parameter lambda (even with a
    # default) makes F.transform pass the ARRAY INDEX as 2nd argument,
    # silently clobbering the seed.
    return lambda t: portable_hash64(t, seed)


def minhash_signature(toks: Column, k: int = MINHASH_K) -> list[Column]:
    """k min-hash values over the token set (empty set → nulls)."""
    out = []
    for i in range(k):
        hashed = F.transform(toks, _seeded_hasher(f"mh{i}:"))
        out.append(F.array_min(hashed).alias(f"mh{i}"))
    return out


def _token_sets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, __toks): each document's distinct token set. Projected to
    a real column so the k minhash transforms read it: passing the
    tokenization expression straight into them would re-tokenize k
    times per row (the transform INPUT is evaluated per call; see
    decontam.word_ngrams_from_tokens for the per-element variant of
    the same trap)."""
    return df.select(
        F.col(id_col),
        F.array_distinct(tokens_ws(F.col(text_col))).alias("__toks"),
    )


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = MINHASH_K
) -> DataFrame:
    t = _token_sets(df, id_col, text_col)
    return t.select(F.col(id_col), *minhash_signature(F.col("__toks"), k))


def _lsh_bands(toks: Column, k: int, bands: int) -> Column:
    """The ``bands`` LSH band buckets of a token-set column, as an
    array indexed by band: md5 of each band's slice of the k-row
    minhash signature. ``toks`` must be a projected column: each of
    the k transforms reads it."""
    if bands <= 0 or k % bands != 0:
        raise ValueError(
            f"k ({k}) must be divisible by bands ({bands}); otherwise the"
            " trailing signature rows would be silently ignored, changing"
            " recall (simhash_pairs enforces the same for bits/chunks)"
        )
    r = k // bands
    sig = [c.cast("string") for c in minhash_signature(toks, k)]
    return F.array(*(F.md5(F.concat_ws(",", *sig[b * r:(b + 1) * r])) for b in range(bands)))


def _lsh_band_buckets(
    df: DataFrame, id_col: str, text_col: str, k: int, bands: int
) -> DataFrame:
    """(id, band, bucket) — one row per document per band. Shared by
    the candidate join and the oversized-bucket report so both see
    identical buckets."""
    return _token_sets(df, id_col, text_col).select(
        id_col, F.posexplode(_lsh_bands(F.col("__toks"), k, bands)).alias("band", "bucket")
    )


def _cap_buckets(buckets: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """The rows of an (id, band, bucket) frame whose bucket has at most
    ``max_bucket_size`` members (all rows when None). The window count
    shares the (band, bucket) shuffle with the join that follows."""
    if max_bucket_size is None:
        return buckets
    w = Window.partitionBy("band", "bucket")
    return buckets.withColumn("__bsz", F.count(F.lit(1)).over(w)).filter(
        F.col("__bsz") <= max_bucket_size
    ).drop("__bsz")


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate pairs sharing ≥1 LSH band bucket. Band bucket =
    md5 of the band's signature slice. One self-join per run, keyed
    by (band_idx, bucket) — the classic shuffle-bounded LSH join.

    ``max_bucket_size`` is standard LSH hygiene for duplicate-heavy
    corpora: a band bucket with b members emits b² candidate rows, so
    one templated clique can dominate the verify join. With a cap,
    buckets larger than ``max_bucket_size`` are EXCLUDED from the
    self-join — never silently: use :func:`lsh_oversized_buckets`
    (same arguments) to report exactly which (band, bucket, size)
    groups were dropped, and log that count next to the result.
    Default None = exact candidate set (the oracle-gated config)."""
    # materialize the (id, band, bucket) frame ONCE before the
    # self-join: its two sides plan as independent subtrees, so the
    # tokenize + k-seed md5 minhash pipeline would otherwise run
    # twice (probe side + broadcast build). Fixed-width rows
    # (id + int + 32-char bucket) at any corpus size. Measured r6:
    # dedup_minhash 3.8->3.3 s, conv_neardup 3.9->3.3 s at sf0.1.
    exploded = _lsh_band_buckets(df, id_col, text_col, k, bands).localCheckpoint()
    exploded = _cap_buckets(exploded, max_bucket_size)
    a = exploded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b_ = exploded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        a.join(b_, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_oversized_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """(band, bucket, size) rows for every LSH band bucket whose size
    exceeds ``max_bucket_size`` — the 'no silent cap' companion to
    ``lsh_candidate_pairs(max_bucket_size=...)``: run this, log the
    rows, THEN cap. A bucket this hot is either a templated clique
    (:func:`minhash_dedup_pairs` collapses equal token sets before
    banding, so exact-token-set copies count once there) or a
    degenerate band (e.g. the all-empty-token bucket)."""
    return (
        _lsh_band_buckets(df, id_col, text_col, k, bands)
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("size"))
        .filter(F.col("size") > max_bucket_size)
    )


def minhash_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """LSH candidates verified with true token-set Jaccard — the
    scalable near-dup pipeline (candidates are a tiny fraction of
    n²). Returns (id_a, id_b, jac), id_a < id_b. ``k``/``bands``
    are the recall/cost banding knob: per-band collision probability
    is s^(k/bands), so fewer, wider bands collapse low-similarity
    false candidates (the verify step's cost is linear in candidate
    pairs) at the price of recall near the threshold.

    DEFAULT-banding decision (recorded): the default stays the
    RECALL-FIRST config (bands=4, rows=2 — collision prob s² per
    band). A dedup library's default must not silently drop
    near-threshold duplicates; cost is the tunable, recall is the
    contract. On dup-heavy corpora the verify join dominates and
    ``bands=2`` (rows=4, s⁴ per band) is ~1.9× cheaper end-to-end
    (measured, BENCH.md) — that is the recommended PRODUCTION
    setting when the corpus is known to be duplicate-rich, and it is
    oracle-gated separately (``dedup_minhash_tight``)."""
    # Every quantity below (the signature, hence the band buckets and
    # candidacy, and the verified Jaccard) is a function of the
    # document's distinct token set, so documents with equal token
    # sets are collapsed into one group before any of it runs: cost
    # follows the number of distinct token sets, not of documents
    # (templated transcripts collapse 30x), and the pairs are fanned
    # back to ids at the end. The group key and the verify side are
    # the sorted xxhash64 token set: |A∩B| and |A∪B| over injectively
    # mapped sets equal the string-set counts, and a false match needs
    # two distinct tokens with equal xxhash64 (≲ V²/2⁶⁵ for V distinct
    # tokens corpus-wide). The signature stays seeded on the token
    # strings (the DuckDB twin's hash), taken from any member.
    groups = (
        _token_sets(df, id_col, text_col)
        .groupBy(F.array_sort(F.transform("__toks", lambda t: F.xxhash64(t))).alias("toks"))
        .agg(
            F.min(id_col).alias("g"),
            F.collect_list(id_col).alias("m"),
            F.first("__toks").alias("__toks"),
        )
    )
    # one checkpointed row per group: the text is scanned and
    # tokenized once, and the band self-join and both verify sides
    # read it
    docs = groups.select("g", "toks", "m", _lsh_bands(F.col("__toks"), k, bands).alias("bb"))
    docs = docs.localCheckpoint()
    buckets = docs.select(
        "g", (F.size("m") > 1).alias("dup"), F.posexplode("bb").alias("band", "bucket")
    )
    # A group is its own candidate when it has two or more members.
    # The verify and the fan-out run in the partitions of the distinct
    # exchange, and their work follows the pair count, not the few
    # bytes of candidates that adaptive execution would coalesce into
    # one task: so the exchange gets one partition per core
    # (REPARTITION_BY_NUM is never coalesced). Measured on sf0.1: the
    # conv_neardup input 9.0 s → 6.2 s per call; verifying inside the
    # band join instead ran sf0.1 documents in 65 s against 20 s.
    g_a, g_b = F.col("g_a"), F.col("g_b")
    cands = (
        buckets.withColumnRenamed("g", "g_a")
        .join(buckets.select("band", "bucket", F.col("g").alias("g_b")), ["band", "bucket"])
        .filter((g_a < g_b) | ((g_a == g_b) & F.col("dup")))
        .select("g_a", "g_b")
        .repartition(df.sparkSession.sparkContext.defaultParallelism, "g_a", "g_b")
        .distinct()
    )

    def side(s: str) -> DataFrame:
        return docs.select(*(F.col(c).alias(f"{c}_{s}") for c in ("g", "toks", "m")))

    pairs = (
        cands.join(side("a"), "g_a")
        .join(side("b"), "g_b")
        .select("g_a", "g_b", "m_a", "m_b", _jaccard("toks_a", "toks_b").alias("jac"))
        .filter(F.col("jac") >= threshold)
        .select("g_a", "g_b", "m_b", "jac", F.explode("m_a").alias("x"))
        .select("g_a", "g_b", "x", "jac", F.explode("m_b").alias("y"))
    )
    return pairs.filter((g_a < g_b) | (F.col("x") < F.col("y"))).select(
        F.least("x", "y").alias("id_a"), F.greatest("x", "y").alias("id_b"), "jac"
    )


def _components_frame(spark, rows: list, ntype) -> DataFrame:
    """Exact driver union-find over ``(a, b)`` rows, as the ``(doc_id,
    cluster_id)`` frame :func:`dup_clusters` returns: every node that
    appears in a row, labelled with the min id of its component. Each
    union hangs the larger root under the smaller, so a root is always
    its component's min id."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    schema = StructType(
        [
            StructField("doc_id", ntype, False),
            StructField("cluster_id", ntype, False),
        ]
    )
    return spark.createDataFrame([(x, find(x)) for x in parent], schema)


def _cc_finish_driver(labels: DataFrame, und: DataFrame, max_rows: int) -> DataFrame:
    """Exact driver-side finish for :func:`dup_clusters` once the
    CONTRACTED graph fits ``max_rows``: union-find over the collected
    ``(node, label)`` rows PLUS the contracted edges, min member id per
    component. Both collects are bounded; past ``max_rows`` rows in
    total it raises :class:`~.bounded.CollectBoundExceeded`.

    The ``(node, label)`` unions are load-bearing, not decoration:
    labels can carry multi-hop chains (label(u)=v while label(v)=w),
    and the contracted edge set alone does not encode u~v — a
    union-find over edges only misses exactly those label-chain
    merges (the defect that sank the unguarded driver-finish idea in
    r6's round log). Unioning every labels row restores them: each
    original edge (u, x) appears as the contracted (label(u),
    label(x)) union plus the u~label(u) / x~label(x) chain unions, so
    components equal the original components restricted to
    pair-participating nodes. Label values and contracted endpoints
    are themselves label-table keys, so the output has exactly one
    row per node."""
    edge_rows = bounded_collect(
        und, max_rows, "dup_clusters: contracted edges", "finish_collect_max"
    )
    lab_rows = bounded_collect(
        labels,
        max_rows - len(edge_rows),
        "dup_clusters: labels",
        "finish_collect_max - contracted edges",
    )
    return _components_frame(
        labels.sparkSession, lab_rows + edge_rows, labels.schema["node"].dataType
    )


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    assume_distinct: bool = False,
    contract_min_edges: int = 65536,
    finish_collect_max: int = 200_000,
) -> DataFrame:
    """Near-dup pairs → duplicate CLUSTERS: connected components over
    the pair graph, labelling every member with the minimum id of its
    component. Output: (doc_id, cluster_id) for every id appearing in
    ≥ 1 pair — the keep-one-per-cluster policy is then a trivial
    ``filter(doc_id != cluster_id)`` drop list. Ids absent from
    ``pairs`` are their own singleton cluster by definition and are
    not emitted.

    This is the missing step between LSH pair generation
    (:func:`minhash_dedup_pairs`, :func:`simhash_pairs`) and an
    actual dedup decision: near-duplication is not transitive, but
    dropping per-PAIR double-deletes chains (a~b, b~c: dropping b
    from the first pair and c from the second deletes 2 of 3 docs
    where keep-one-per-component keeps 1 of 3 correctly).

    Scale shape (100 TB design point): iterative min-label
    propagation with two accelerators —

    * **pointer jumping** (label ← label's label each round, the
      path-halving trick from parallel union-find — cf. Kiveris et
      al., "Connected Components in MapReduce and Beyond", SoCC'14),
      so chains converge in O(log diameter) rounds, not O(diameter);
    * **edge contraction**: after each round both endpoints of every
      remaining edge are rewritten to their labels, self-loops drop,
      duplicates collapse. Near-dup pair graphs are CLIQUE-heavy
      (a template family of c docs emits c² pairs), and a clique
      collapses to self-loops after ONE round — so the c² pair mass
      is shuffled once, not once per round (measured at sf0.1:
      4.45 M pairs over 4.7 k nodes, 6 propagation-only rounds vs
      2 heavy + small tail with contraction).

    Every per-round structure is a fixed-width (node, label) or
    (src, dst) row — never the documents — and ``localCheckpoint``
    cuts the growing lineage so round N's plan does not replay rounds
    1..N-1. The driver loop coordinates ROUNDS (each a distributed
    job), never rows; the per-round convergence check is a 1-row
    count of changed labels. Raises after ``max_iter`` rounds instead
    of returning a partial labelling.

    Three paths, all exact, chosen by ``finish_collect_max``:

    * **round-0 driver shortcut**: when the distinct pair list has at
      most ``finish_collect_max`` rows, one bounded collect reads it
      and a driver union-find labels it. Labels are still the identity
      at round 0, so the edges alone are exact. The near-dup graphs
      of typical ``clean`` passes are this small, and the rounds would
      spend about 20 jobs of fixed cost on them.
    * **distributed rounds** (the propagation above) for larger
      graphs;
    * **post-contraction driver finish** (:func:`_cc_finish_driver`):
      once a contraction leaves labels plus contracted edges within
      ``finish_collect_max`` rows, the remaining rounds are replaced by
      a driver union-find over both, which also unions the label
      chains the rounds left behind.

    Every driver read is bounded by ``finish_collect_max`` rows, so
    neither driver path fires on a corpus-sized graph.
    ``finish_collect_max=0`` keeps every non-empty graph on the
    distributed rounds.
    """
    dd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    if not assume_distinct:
        # callers whose pair source is provably duplicate-free (e.g.
        # minhash_dedup_pairs: its candidates are distinct before the
        # verify join) pass assume_distinct=True and skip this
        # exchange; duplicate edges would not change the components,
        # only per-round shuffle mass, so the flag is a pure
        # cost knob — but the default stays safe for arbitrary input.
        dd = dd.distinct()
    # the UNDIRECTED pair list is what gets materialized — half the
    # rows/bytes of a both-directions edge list; every consumer
    # explodes the two orientations inline (a narrow two-struct
    # explode over the checkpoint scan, NOT a self-union: a re-
    # analyzed union branch defeats sameResult/cache matching and
    # recomputed the entire LSH+verify pipeline per branch — measured
    # 14.3 s vs 1.5 s for the explode shape at sf0.1). No
    # repartition — the per-round joins let AQE pick the strategy
    # from runtime sizes (labels broadcast at test scale, exchange at
    # cluster scale).
    und = dd.localCheckpoint()
    # bound: the driver reads at most finish_collect_max + 1 pairs;
    # a graph with more stays on the distributed rounds. One partition
    # makes the limit one job: over several, it scans them in rounds.
    rows = und.coalesce(1).limit(finish_collect_max + 1).collect()
    if len(rows) <= finish_collect_max:
        # round-0 labels are the identity: no label chains to union
        return _components_frame(und.sparkSession, rows, und.schema["src"].dataType)

    def _both(e: DataFrame) -> DataFrame:
        return e.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                )
            ).alias("e")
        ).select("e.src", "e.dst")

    n_edges = None  # unknown-large until the first contraction counts
    n_nodes_min = 0  # lower bound on the node count, fixed from round 0
    edges = _both(und)
    labels = None
    for rnd in range(max_iter):
        if rnd == 0:
            # round 0 needs NO labels frame: labels are the identity,
            # so min-label-of-neighbors is min(src) per dst over the
            # both-directions view — one map-side-combining groupBy,
            # no join over the (clique-heavy, largest-of-the-run)
            # edge set, and the node set falls out as the groupBy
            # keys (every node appears as a dst), replacing the
            # former distinct+checkpoint labels-build job.
            prop = edges.groupBy(F.col("dst").alias("node")).agg(
                F.min("src").alias("__nl")
            ).select(
                "node",
                F.col("node").alias("__old"),
                F.least("node", "__nl").alias("label"),
            )
        elif n_edges > 0:
            nbr = (
                edges.join(labels, edges.src == labels.node)
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min("label").alias("__nl"))
            )
            prop = labels.join(nbr, "node", "left").select(
                "node",
                F.col("label").alias("__old"),
                F.least("label", F.coalesce("__nl", "label")).alias("label"),
            )
        else:
            # edges fully contracted away: label-flattening rounds only
            prop = labels.select(
                "node", F.col("label").alias("__old"), "label"
            )
        # pointer jump: follow one hop of the label chain (label is
        # always some node's id, so the self-join always resolves).
        # A double jump per round was tried (r6) and measured SLOWER
        # (7.3 vs 5.9 s at sf0.1): the extra join per round costs
        # more than the tail round it occasionally saves.
        hop = prop.select(
            F.col("node").alias("__ln"), F.col("label").alias("__ll")
        )
        jumped = (
            prop.join(hop, prop.label == hop.__ln, "left")
            .select(
                "node",
                "__old",
                F.coalesce("__ll", "label").alias("label"),
            )
            .localCheckpoint()
        )
        changed = jumped.filter(F.col("__old") != F.col("label")).count()
        labels = jumped.drop("__old")
        if changed == 0:
            return labels.select(
                F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
            )
        if rnd == 0 or (n_edges is not None and n_edges > contract_min_edges):
            # contract: an edge (u, v) implies label(u) ~ label(v);
            # rewriting endpoints through the fresh labels preserves
            # connectivity while self-loops (intra-cluster mass) drop.
            # Contraction is an ACCELERATOR, not required for
            # convergence (propagation+jumping over static edges is
            # complete) — below ``contract_min_edges`` the per-round
            # nbr join is already trivial and the contraction's two
            # joins + distinct + checkpoint + count cost more jobs
            # than they save, so small graphs skip it after the
            # round-0 clique collapse.
            # contraction runs over the UNDIRECTED list (half the
            # probe mass); the directed view for later rounds is the
            # same narrow explode over the contracted checkpoint
            lsrc = labels.select(
                F.col("node").alias("src"), F.col("label").alias("__ls")
            )
            ldst = labels.select(
                F.col("node").alias("dst"), F.col("label").alias("__ld")
            )
            und = (
                und.join(lsrc, "src")
                .join(ldst, "dst")
                .select(F.col("__ls").alias("src"), F.col("__ld").alias("dst"))
                .filter(F.col("src") != F.col("dst"))
                .distinct()
                .localCheckpoint()
            )
            n_edges = und.count() * 2
            edges = _both(und)
            # size-guarded driver finish: once the CONTRACTED graph is
            # tiny, every further round is pure fixed cost (plan +
            # checkpoint + count jobs over a few-hundred-row frame —
            # measured 3 tail rounds x ~0.5 s on a 455-edge graph at
            # sf0.1 while the union-find itself is microseconds). The
            # guard bounds BOTH collected frames by row count, so the
            # path never fires when the label table is corpus-sized —
            # at 100 TB the distributed loop simply continues.
            # The node set is fixed from round 0 on: a finish that
            # finds too many labels raises that set's lower bound, so
            # later rounds retry only once the edges leave room.
            if n_nodes_min + n_edges // 2 <= finish_collect_max:
                try:
                    return _cc_finish_driver(labels, und, finish_collect_max)
                except CollectBoundExceeded:
                    n_nodes_min = finish_collect_max - n_edges // 2 + 1
    raise RuntimeError(
        f"dup_clusters did not converge in {max_iter} rounds — the pair "
        "graph has pathological diameter; raise max_iter"
    )


def dup_clusters_sql(pairs_sql: str, id_a: str = "id_a", id_b: str = "id_b") -> str:
    """DuckDB twin of :func:`dup_clusters`: transitive closure via a
    recursive CTE (min reachable id per node). Exponential-ish at
    corpus scale, exact at oracle scale — the point is differential
    verification of the iterative Spark labelling, not a second
    production path. ``pairs_sql`` may itself carry a WITH clause
    (nested CTEs are legal in a CTE body)."""
    return (
        f"WITH RECURSIVE pairs AS ({pairs_sql}), "
        f"edges AS (SELECT {id_a} AS a, {id_b} AS b FROM pairs "
        f"UNION SELECT {id_b}, {id_a} FROM pairs), "
        "nodes AS (SELECT DISTINCT a AS node FROM edges), "
        "reach(node, lab) AS ("
        "SELECT node, node FROM nodes "
        "UNION "
        "SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.lab) "
        "SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node"
    )


# --- SimHash -----------------------------------------------------------------

SIMHASH_BITS = 16


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """``bits``-bit SimHash: per bit, sign of Σ_tokens (±1 by
    token-hash bit). One explode + one groupBy with ``bits`` codegen'd
    sums — no per-row Python, no HOF in the aggregate. bits ≤ 62 (the
    signature is summed into a signed long)."""
    assert bits <= 62
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens_ws(F.col(text_col)))).alias("tok"),
    ).withColumn("h", portable_hash64(F.col("tok"), "sh:"))
    bit_sums = [
        F.sum(
            (F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*bit_sums)
    sig = None
    for b in range(bits):
        bit = F.when(F.col(f"s{b}") >= 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(
            2**b
        )
        sig = bit if sig is None else sig + bit
    return agg.select(F.col(id_col), sig.cast("long").alias("simhash"))


SIMHASH_PAIR_BITS = 60  # production default: 15-bit chunks, see below
SIMHASH_PAIR_CHUNKS = 4


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    bits: int = SIMHASH_PAIR_BITS,
    chunks: int = SIMHASH_PAIR_CHUNKS,
    lang_col: str | None = None,
) -> DataFrame:
    """Near-dup pairs at hamming distance ≤ max_hamming, blocked by
    SimHash CHUNKS (pigeonhole: two sigs within hamming d < chunks
    must agree exactly on ≥1 of the ``chunks`` bit-chunks), the same
    banding trick as MinHash-LSH. Replaces the round-1 version that
    blocked by language only — an n² join within one language, which
    at 100 TB is ~the whole corpus. Here the join is equi on
    (chunk_idx, chunk_value); recall is exact (guaranteed by
    pigeonhole), verification is the cheap bit_count filter.
    Returns (id_a, id_b, hamming), id_a < id_b.

    Scale knobs (the 100 TB defaults): ``bits=60, chunks=4`` → 15-bit
    chunk values, 4 × 32,768 = 131k distinct (chunk_idx, value) join
    keys — buckets stay ~n/32k per chunk. bits=32/chunks=4 (8-bit
    chunks, 1,024 keys total) is a TEST-SCALE config only: at 10^11
    docs its buckets are monsters. Ceiling: ``bits ≤ 62`` (the
    signature is assembled by summing bit·2^b into a signed long —
    bit 62 is the last that can't overflow) and ``bits % chunks == 0``
    (62 itself pairs only with chunks ∈ {2, 31}; 60 is the largest
    value divisible by 4). ``bits``/``chunks`` are keyword-only so the
    round-1 positional call shape (5th arg = lang_col) fails loudly
    instead of silently reinterpreting; ``lang_col`` is accepted and
    IGNORED for that same migration (blocking is by signature chunks
    now — strictly stronger than language blocking)."""
    assert max_hamming < chunks and bits % chunks == 0 and bits <= 62
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    # materialize signatures ONCE before the self-join: a self-join
    # plans its two sides as independent subtrees, so without this the
    # token-explode + per-token md5 + 'bits' bit-sums pipeline runs
    # TWICE (once for the probe side, once to build the broadcast).
    # The signature frame is fixed-width (id + one long) — 16 bytes a
    # document at any corpus size, the cheapest thing in the pipeline
    # to pin. (localCheckpoint blocks are executor-local; for long
    # cluster runs where executor loss matters, swap for a reliable
    # checkpoint dir — same note as dup_clusters.)
    sigs = simhash_signatures(df, id_col, text_col, bits=bits).localCheckpoint()
    chunked = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("ci"),
                        F.shiftright(F.col("simhash"), ci * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("cv"),
                    )
                    for ci in range(chunks)
                ]
            )
        ).alias("ch"),
    ).select(id_col, "simhash", "ch.ci", "ch.cv")
    right = chunked.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "ci", "cv"
    )
    # hamming filter BEFORE the distinct: bit_count is one codegen'd
    # instruction per candidate occurrence (≤ chunks per pair), while
    # the distinct is a shuffle — filtering first shrinks the exchange
    # from every bucket-join emission to only the pairs that pass the
    # hamming bound (sf0.1: ~8k rows instead of all candidates), and
    # drops the two 8-byte signature columns from the shuffled rows.
    ham = F.bit_count(F.col("simhash").bitwiseXOR(F.col("sim_b"))).cast("int")
    return (
        chunked.join(right, ["ci", "cv"])
        .filter(F.col(id_col) < F.col("id_b"))
        .select(F.col(id_col).alias("id_a"), "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --- corpus-wide duplicated spans (ExactSubstr-flavored) ------------------


def duplicated_spans(
    df: DataFrame,
    n: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "span",
) -> DataFrame:
    """Per-document report of corpus-wide duplicated token spans — the
    signal behind exact-substring dedup (Lee et al. 2021,
    arXiv:2107.06499 "Deduplicating Training Data Makes Language
    Models Better", §4.1 ExactSubstr, which removes repeated 50-token
    substrings): a position's n-gram is DUPLICATED when the same
    n-gram occurs anywhere else in the corpus (another doc or another
    position of the same doc). Returns (id, n_grams, n_shared,
    shared_frac, n_runs, max_run_len): how many gram positions are
    duplicated, and the merged contiguous runs of them (the spans an
    ExactSubstr pass would cut).

    100 TB plan shape (a suffix array is the single-node answer; this
    is the shuffle-native one): ONE posexplode of the corpus n-grams
    projected to 8-byte md5 keys — the shuffle rows are (id, pos,
    hash), ~24 bytes each, never the gram text; groupBy(hash) with
    map-side combine finds grams with corpus count ≥ 2 (hot
    boilerplate grams partial-aggregate before the wire); the hit set
    joins back by the same 8-byte key; run-merging is the classic
    pos − row_number() grouping inside a PER-DOC window (bounded by
    doc length, never corpus-wide)."""
    from .decontam import word_ngrams_from_tokens

    toks = df.select(F.col(id_col), tokens_ws(F.col(text_col)).alias("__t"))
    pos = toks.select(
        F.col(id_col),
        F.posexplode(word_ngrams_from_tokens(F.col("__t"), n)).alias(
            "pos", "g"
        ),
    ).select(id_col, "pos", portable_hash64(F.col("g"), seed).alias("h"))
    dup = (
        pos.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("h")
    )
    hits = pos.join(dup, "h").select(id_col, "pos")
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    runs = hits.withColumn(
        "run", F.col("pos") - F.row_number().over(w)
    ).groupBy(id_col, "run").agg(F.count(F.lit(1)).alias("rl"))
    per_doc = runs.groupBy(id_col).agg(
        F.sum("rl").alias("n_shared"),
        F.count(F.lit(1)).alias("n_runs"),
        F.max("rl").alias("max_run_len"),
    )
    base = toks.select(
        id_col,
        F.greatest(F.size("__t") - (n - 1), F.lit(0))
        .cast("long")
        .alias("n_grams"),
    )
    ng = F.col("n_grams")
    return base.join(per_doc, id_col, "left").select(
        id_col,
        "n_grams",
        F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared"),
        F.when(
            ng > 0,
            F.round(
                F.coalesce(F.col("n_shared"), F.lit(0)).cast("double") / ng, 6
            ),
        ).otherwise(F.lit(0.0)).alias("shared_frac"),
        F.coalesce(F.col("n_runs"), F.lit(0)).cast("long").alias("n_runs"),
        F.coalesce(F.col("max_run_len"), F.lit(0))
        .cast("long")
        .alias("max_run_len"),
    )


def duplicated_spans_sql(
    table: str,
    n: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "span",
    *,
    standalone: bool = True,
) -> str:
    """DuckDB twin of :func:`duplicated_spans` (0-based positions via
    range; same md5-derived keys and run-merge rule).
    ``standalone=False`` emits a leading ``,`` so the CTEs chain onto
    an existing WITH clause (the docs fixture's)."""
    from .text import tokens_ws_sql

    t = tokens_ws_sql(text_col)
    gram = f"array_to_string(list_slice(t, i + 1, i + {n}), ' ')"
    return (
        ("WITH " if standalone else ", ")
        + f"__toks AS (SELECT {id_col}, {t} AS t FROM {table}), "
        f"__pos AS (SELECT {id_col}, CAST(i AS INT) AS pos, "
        f"{portable_hash64_sql(gram, seed)} AS h "
        f"FROM __toks, unnest(range(0, greatest(len(t) - {n} + 1, 0)))"
        " AS u(i)), "
        "__dup AS (SELECT h FROM __pos GROUP BY h HAVING count(*) >= 2), "
        f"__hits AS (SELECT {id_col}, pos FROM __pos JOIN __dup USING (h)), "
        f"__runs AS (SELECT {id_col}, pos - row_number()"
        f" OVER (PARTITION BY {id_col} ORDER BY pos) AS run"
        " FROM __hits), "
        f"__rl AS (SELECT {id_col}, run, count(*) AS rl FROM __runs"
        " GROUP BY 1, 2), "
        f"__per AS (SELECT {id_col}, sum(rl) AS n_shared, count(*) AS n_runs,"
        f" max(rl) AS max_run_len FROM __rl GROUP BY 1) "
        f"SELECT b.{id_col}, b.n_grams,"
        " CAST(coalesce(p.n_shared, 0) AS BIGINT) AS n_shared,"
        " CASE WHEN b.n_grams > 0 THEN"
        " round(CAST(coalesce(p.n_shared, 0) AS DOUBLE) / b.n_grams, 6)"
        " ELSE 0.0 END AS shared_frac,"
        " CAST(coalesce(p.n_runs, 0) AS BIGINT) AS n_runs,"
        " CAST(coalesce(p.max_run_len, 0) AS BIGINT) AS max_run_len"
        f" FROM (SELECT {id_col}, CAST(greatest(len(t) - {n} + 1, 0)"
        " AS BIGINT) AS n_grams FROM __toks) b"
        f" LEFT JOIN __per p USING ({id_col})"
    )


def remove_duplicated_spans(
    df: DataFrame,
    n: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "span",
) -> DataFrame:
    """ExactSubstr-style span REMOVAL (the cut that
    :func:`duplicated_spans` reports): for every n-gram occurring ≥ 2
    times corpus-wide, the FIRST occurrence in (id, pos) order
    survives and every other occurrence's n token positions are cut
    from their documents. Returns (id, n_tokens, n_removed,
    text_dedup) for every input document — a fully-duplicated doc
    keeps the row with empty ``text_dedup``.

    Semantics notes (pinned, matching the published practice of
    cutting duplicated byte ranges): overlapping losing spans merge
    (a token cut once is cut once), and a winning occurrence's tokens
    CAN still be cut when a DIFFERENT losing span overlaps them — the
    guarantee is that every removed token sat inside some duplicated
    span whose first occurrence survives. The rebuilt text is in
    normalized token space (lowercase, single-spaced — the same
    canonical form span identity is computed on).

    Shape: the same 8-byte-key explode/groupBy as duplicated_spans
    (winner = ``min(struct(id, pos))`` with map-side combine — never
    a corpus-wide window over hash partitions, hot boilerplate grams
    would serialize onto one task); covered token indices explode n
    rows per LOSING occurrence only; the rebuild is one
    ``groupBy(id)`` of (idx, token) structs sorted per doc."""
    from .decontam import word_ngrams_from_tokens

    toks = df.select(F.col(id_col), tokens_ws(F.col(text_col)).alias("__t"))
    pos = toks.select(
        F.col(id_col),
        F.posexplode(word_ngrams_from_tokens(F.col("__t"), n)).alias(
            "pos", "g"
        ),
    ).select(id_col, "pos", portable_hash64(F.col("g"), seed).alias("h"))
    winners = (
        pos.groupBy("h")
        .agg(
            F.min(F.struct(id_col, "pos")).alias("__w"),
            F.count(F.lit(1)).alias("__c"),
        )
        .filter(F.col("__c") >= 2)
        .select("h", "__w")
    )
    losers = pos.join(winners, "h").filter(
        (F.col(id_col) != F.col("__w")[id_col])
        | (F.col("pos") != F.col("__w")["pos"])
    )
    covered = losers.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias(
            "ti"
        ),
    ).distinct()
    tok_rows = toks.select(
        F.col(id_col), F.posexplode(F.col("__t")).alias("ti", "tok")
    )
    kept = tok_rows.join(covered, [id_col, "ti"], "left_anti")
    rebuilt = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ti", "tok"))),
            lambda s: s["tok"],
        ),
        " ",
    )
    agg = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n_kept"), rebuilt.alias("text_dedup")
    )
    base = toks.select(
        id_col, F.size("__t").cast("long").alias("n_tokens")
    )
    return base.join(agg, id_col, "left").select(
        id_col,
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("__n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
    )


def remove_duplicated_spans_sql(
    table: str,
    n: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "span",
    *,
    standalone: bool = True,
) -> str:
    """DuckDB twin of :func:`remove_duplicated_spans` (row_number over
    (h ORDER BY id, pos) ≡ Spark's min(struct) winner; the 0-based
    token index comes from a range unnest + list subscript — this
    DuckDB build lacks WITH ORDINALITY)."""
    from .text import tokens_ws_sql

    t = tokens_ws_sql(text_col)
    gram = f"array_to_string(list_slice(t, i + 1, i + {n}), ' ')"
    return (
        ("WITH " if standalone else ", ")
        + f"__rtoks AS (SELECT {id_col}, {t} AS t FROM {table}), "
        f"__rpos AS (SELECT {id_col}, CAST(i AS INT) AS pos, "
        f"{portable_hash64_sql(gram, seed)} AS h "
        f"FROM __rtoks, unnest(range(0, greatest(len(t) - {n} + 1, 0)))"
        " AS u(i)), "
        f"__rlose AS (SELECT {id_col}, pos FROM ("
        f"SELECT {id_col}, pos,"
        f" row_number() OVER (PARTITION BY h ORDER BY {id_col}, pos) AS rn,"
        " count(*) OVER (PARTITION BY h) AS c FROM __rpos)"
        " WHERE c >= 2 AND rn > 1), "
        f"__rcov AS (SELECT DISTINCT {id_col}, CAST(j AS INT) AS ti"
        f" FROM __rlose, unnest(range(pos, pos + {n})) AS v(j)), "
        f"__rtok AS (SELECT {id_col}, CAST(i AS INT) AS ti, t[i + 1] AS tok"
        " FROM __rtoks, unnest(range(0, len(t))) AS w(i)), "
        f"__rkept AS (SELECT k.{id_col}, k.ti, k.tok FROM __rtok k"
        f" ANTI JOIN __rcov c USING ({id_col}, ti)), "
        f"__ragg AS (SELECT {id_col}, count(*) AS n_kept,"
        " string_agg(tok, ' ' ORDER BY ti) AS text_dedup FROM __rkept"
        " GROUP BY 1) "
        f"SELECT b.{id_col}, CAST(len(b.t) AS BIGINT) AS n_tokens,"
        " CAST(len(b.t) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,"
        " coalesce(a.text_dedup, '') AS text_dedup"
        f" FROM __rtoks b LEFT JOIN __ragg a USING ({id_col})"
    )


def _path_exists(spark, path: str) -> bool:
    """Whether ``path`` exists, on any Hadoop filesystem. An incremental
    store is absent only when its directory is: a store that exists
    but cannot be read must fail the batch, not silently turn dedup
    off and then be appended to."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def incremental_exact_dedup(
    df: DataFrame,
    store_path: str,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Append-only incremental exact dedup — the daily-drop operating
    shape (same pattern as the validate CLI's file manifest): a
    persisted parquet STORE holds the fingerprint of every text ever
    kept; each new batch drops rows whose fingerprint is already in
    the store (cross-batch dups) or claimed by a smaller id in the
    same batch (within-batch dups), writes survivors to ``out_path``,
    and appends exactly the survivors' fingerprints to the store.

    Returns {"rows_in", "rows_kept", "dropped_in_batch",
    "dropped_vs_store"}.

    Scale shape: the join key is the 32-char md5 fingerprint — the
    store side is read as plain parquet so at 10^11 docs the anti-join
    is a fingerprint-only shuffle (16-byte keys), and bucketing the
    store by ``fp`` (io.write_bucketed) upgrades it to a co-located
    join. The store append is the survivors' fingerprints only —
    O(batch), never a rewrite of history. NOT DuckDB-oracle-able (the
    store is mutable state across calls); covered by batch-sequence
    tests instead."""
    spark = df.sparkSession
    fps = df.withColumn("fp", fingerprint(F.col(text_col)))
    winners = fps.groupBy("fp").agg(F.min(id_col).alias("__w"))
    batch_kept = fps.join(winners, "fp").filter(F.col(id_col) == F.col("__w"))
    kept = batch_kept
    if _path_exists(spark, store_path):  # else the first batch
        kept = kept.join(spark.read.parquet(store_path).select("fp"), "fp", "left_anti")
    # sever lineage before touching the store: `kept` is lazy and its
    # plan READS store_path — appending to the store and then running
    # another action would re-execute the anti-join against the
    # mutated store (reading a directory being appended to is also a
    # listing race). localCheckpoint materializes the survivors once.
    kept = kept.localCheckpoint(eager=True)
    kept.drop("__w").write.mode("append").parquet(out_path)
    n_in = df.count()
    n_batch_kept = batch_kept.count()
    n_kept = kept.count()
    kept.select("fp").write.mode("append").parquet(store_path)
    return {
        "rows_in": n_in,
        "rows_kept": n_kept,
        "dropped_in_batch": n_in - n_batch_kept,
        "dropped_vs_store": n_batch_kept - n_kept,
    }


def incremental_minhash_dedup(
    df: DataFrame,
    store_path: str,
    out_path: str,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    max_bucket_size: int | None = None,
) -> dict:
    """Append-only incremental NEAR-dup dedup — the MinHash-LSH
    companion to :func:`incremental_exact_dedup`, for the crawl-drop
    operating shape where each new batch must be deduplicated against
    everything ever kept WITHOUT re-running LSH over the corpus.

    A persisted store holds, for every kept document, its LSH band
    buckets (``store_path/buckets``: id, band, bucket) and its
    distinct token set (``store_path/toks``: id, toks). Each batch:

    1. drops within-batch near-dups first (greedy pairwise: the
       larger id of any verified pair loses — same winner rule as the
       batch pipeline's ``min(id)`` convention);
    2. joins the remaining docs' band buckets against the STORE's
       buckets — candidates are store docs sharing ≥1 band bucket
       with a batch doc, the same shuffle-bounded (band, bucket) key
       as :func:`lsh_candidate_pairs`, never batch × store;
    3. verifies candidates with true token-set Jaccard against the
       store's token sets and drops batch docs matching any kept doc
       at ≥ ``threshold``;
    4. writes survivors to ``out_path`` and appends exactly their
       bucket rows + token sets to the store — O(batch), never a
       rewrite of history.

    Returns {"rows_in", "rows_kept", "dropped_in_batch",
    "dropped_vs_store"}.

    Scale shape: the store-side joins are keyed by (band, bucket)
    (step 2 — ``bands`` rows per stored doc) and by id (step 3 —
    only candidate store docs' token sets are shuffled after the
    semi-join). Bucketing both store tables (io.write_bucketed on the
    join keys) upgrades them to co-located joins at 10^11 docs.
    ``max_bucket_size`` caps the STORE bucket fan-in the same way
    ``lsh_candidate_pairs`` caps its self-join (report the cut with
    :func:`lsh_oversized_buckets` over the batch — never silent);
    within-batch pairs come from :func:`minhash_dedup_pairs`, which
    collapses equal token sets first. NOT DuckDB-oracle-able (the store is mutable state across calls);
    covered by batch-sequence tests instead (same policy as
    incremental_exact_dedup)."""
    spark = df.sparkSession
    bucket_store = store_path.rstrip("/") + "/buckets"
    toks_store = store_path.rstrip("/") + "/toks"

    n_in = df.count()
    batch_pairs = minhash_dedup_pairs(
        df, threshold, id_col, text_col, k=k, bands=bands
    )
    losers = batch_pairs.select(F.col("id_b").alias(id_col)).distinct()
    batch_kept = df.join(losers, id_col, "left_anti")
    n_batch_kept = batch_kept.count()

    if _path_exists(spark, bucket_store):  # else the first batch
        old_buckets = spark.read.parquet(bucket_store)
        new_buckets = _lsh_band_buckets(batch_kept, id_col, text_col, k, bands)
        cand = (
            new_buckets.withColumnRenamed(id_col, "new_id")
            .join(
                _cap_buckets(old_buckets, max_bucket_size).withColumnRenamed(id_col, "old_id"),
                ["band", "bucket"],
            )
            .select("new_id", "old_id")
            .distinct()
        )
        new_toks = _token_sets(batch_kept, id_col, text_col).withColumnsRenamed(
            {id_col: "new_id", "__toks": "toks_a"}
        )
        old_toks = spark.read.parquet(toks_store).select(
            F.col(id_col).alias("old_id"), F.col("toks").alias("toks_b")
        )
        j = cand.join(new_toks, "new_id").join(old_toks, "old_id")
        dropped = (
            j.filter(_jaccard("toks_a", "toks_b") >= threshold)
            .select(F.col("new_id").alias(id_col))
            .distinct()
        )
        kept = batch_kept.join(dropped, id_col, "left_anti")
    else:
        kept = batch_kept
    # sever lineage before touching the store (same trap as
    # incremental_exact_dedup: the plan reads the store dirs)
    kept = kept.localCheckpoint(eager=True)
    n_kept = kept.count()
    kept.write.mode("append").parquet(out_path)
    _lsh_band_buckets(kept, id_col, text_col, k, bands).write.mode(
        "append"
    ).parquet(bucket_store)
    _token_sets(kept, id_col, text_col).withColumnRenamed("__toks", "toks").write.mode(
        "append"
    ).parquet(toks_store)
    return {
        "rows_in": n_in,
        "rows_kept": n_kept,
        "dropped_in_batch": n_in - n_batch_kept,
        "dropped_vs_store": n_batch_kept - n_kept,
    }
