"""Similarity search over embedding columns (array<float>).

* **Brute-force cosine top-k** — the exact baseline. The query set is
  broadcast (it's small by definition); similarity is a codegen'd
  fold over the zipped arrays; top-k via window row_number with a
  deterministic tie-break. The corpus side streams through executors
  with NO shuffle — only the broadcast and the final per-query top-k
  (tiny) move.
* **Approximate search and embedding dedup** — LSH sign sketches
  (deterministic md5-derived planes), IVF (k-means lists, optionally
  persisted partitioned by list id) and SemDeDup. Every one of them
  runs its vector arithmetic as numpy float64 matmuls inside
  ``mapInArrow``: one Arrow pass assigns, probe-filters, scores and
  keeps a per-batch local top-k, so no corpus×query pair set forms
  and no expression tree grows with dims (inlined plane/centroid
  constants pass Janino's 64 KB method limit at ~500 terms). Cosines
  are rounded to 6 decimals with fixed tie-breaks, so every result is
  SQL-expressible and the DuckDB oracles in ``__spark_entry__`` gate
  it; brute force is the quality reference.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..crossrow import salted_topn
from .bounded import bounded_collect

# Upper bound on a query batch collected to the driver: every ANN
# search ships its queries to each task inside the scoring closure.
MAX_QUERY_ROWS = 10_000


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i as an ordered left fold (deterministic FP order —
    reproducible and engine-portable)."""
    return F.aggregate(
        F.zip_with(_to_double(a), _to_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _rank_topk(
    scored: DataFrame,
    query_id_col: str,
    id_col: str,
    k: int,
    salt_buckets: int = 32,
) -> DataFrame:
    """Exact, deterministic per-query top-k over (query_id, id,
    cos_sim) candidate rows — with a BOUNDED reduce task: the
    two-phase :func:`~satya_spark.crossrow.salted_topn` salted on the
    candidate id, so a query whose probe set is 10^10 candidates fans
    out over ``salt_buckets`` tasks each emitting ≤ k survivors.
    Lossless — identical output to the single-window rank. Ties
    break on ascending id so the result is total-order deterministic
    (and matches the SQL oracles' ORDER BY)."""
    return salted_topn(
        scored,
        [query_id_col],
        [F.desc("cos_sim"), F.asc(id_col)],
        k,
        F.xxhash64(F.col(id_col)),
        salt_buckets,
        rank_name="rank",
    ).select(query_id_col, "rank", id_col, "cos_sim")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine. Returns
    (query_id, rank, vec_id, cos_sim). Ties broken by vec_id so the
    result is total-order deterministic."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col), F.col(vec_col).alias("__qvec")
        )
    )
    j = corpus.crossJoin(q).filter(F.col(query_id_col) != F.col(id_col))
    sim = F.round(cosine(F.col(vec_col), F.col("__qvec")), 6)
    return _rank_topk(
        j.select(F.col(query_id_col), F.col(id_col), sim.alias("cos_sim")),
        query_id_col,
        id_col,
        k,
    )


# --- LSH scale path --------------------------------------------------------


def _plane_component(seed: str, plane: int, dim: int) -> float:
    """Deterministic pseudo-random plane component in [-1, 1)."""
    import hashlib

    h = hashlib.md5(f"{seed}:p{plane}:d{dim}".encode()).digest()
    v = int.from_bytes(h[:8], "big")
    return (v / 2**63) - 1.0


def sketch_buckets_np(
    df: DataFrame,
    n_planes: int,
    dims: int,
    seeds: list[str],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched sign-sketch: one numpy float64 matmul per batch
    against the stacked (len(seeds)·n_planes, dims) plane matrix,
    emitting one (id, band, bucket) row per band, where bit_p =
    [vec · plane_p > 0] and bucket = Σ bit_p·2^p. The matmul stays one
    small operator at any dims × planes; inlining the n_planes×dims
    plane constants as Catalyst expressions passes Janino's 64 KB
    method limit at ~500 terms and drops to interpreted eval."""
    import numpy as np
    import pyarrow as pa
    from typing import Iterator

    planes = np.array(
        [
            [
                [_plane_component(seed, p, d) for d in range(dims)]
                for p in range(n_planes)
            ]
            for seed in seeds
        ]
    )  # (bands, n_planes, dims)
    pow2 = 2 ** np.arange(n_planes)
    bands = len(seeds)

    # mapInArrow (r6): flat values buffer → one reshape, no pandas
    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for b in batches:
            n = b.num_rows
            if not n:
                continue
            x = _vec_matrix_np(b.column(1), n)  # (n, dims)
            ids = b.column(0)
            for bi in range(bands):
                s = x @ planes[bi].T  # (n, n_planes)
                bucket = ((s > 0) * pow2).sum(axis=1).astype(np.int32)
                yield pa.RecordBatch.from_arrays(
                    [
                        ids,
                        pa.array(
                            np.full(n, bi, dtype=np.int32), type=pa.int32()
                        ),
                        pa.array(bucket, type=pa.int32()),
                    ],
                    names=[id_col, "band", "bucket"],
                )

    return df.select(id_col, vec_col).mapInArrow(
        run, schema=f"{id_col} long, band int, bucket int"
    )


def _collect_queries(
    queries: DataFrame, query_id_col: str, vec_col: str, caller: str
) -> list[tuple]:
    """Bounded driver collect of a query batch → [(query_id, float64
    vector)]. A batch over ``MAX_QUERY_ROWS`` fails with a
    :class:`~.bounded.CollectBoundExceeded` (a ValueError) naming
    ``caller``; split it into smaller batches."""
    import numpy as np

    rows = bounded_collect(
        queries.select(F.col(query_id_col), F.col(vec_col)),
        MAX_QUERY_ROWS,
        f"{caller}: query batch",
        "MAX_QUERY_ROWS",
    )
    return [(r[0], np.asarray(r[1], dtype=np.float64)) for r in rows]


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket, then exact cosine rank within the bucket. With 2^p
    buckets the scanned fraction is ~2^-p of the corpus.

    ``multiprobe=1`` additionally probes every bucket at hamming
    distance 1 from the query's (one sign-bit flip) — the standard
    multi-probe LSH recall knob: a near neighbor lost to a single
    straddled hyperplane is recovered at (n_planes+1)× probe cost,
    still a tiny fraction of the corpus. Only the QUERY side fans out;
    the corpus keeps one bucket per vector.

    Runs as the same single numpy Arrow pass as IVF (``_ivf_score_np``
    with the sign sketch as the assigner): bucket, probe-filter, score,
    and per-batch local top-k in one scan, no pair set."""
    if multiprobe not in (0, 1):
        raise ValueError("multiprobe supports 0 or 1 bit flips")
    import numpy as np

    planes = np.array(
        [
            [_plane_component("ann", p, d) for d in range(dims)]
            for p in range(n_planes)
        ]
    )
    pow2 = 2 ** np.arange(n_planes)

    def assign(x, xn):
        return ((x @ planes.T > 0) * pow2).sum(axis=1)

    qinfo = []
    for qid, v in _collect_queries(queries, query_id_col, vec_col, "lsh_topk"):
        b0 = int(((v @ planes.T > 0) * pow2).sum())
        probes = {b0} | (
            {b0 ^ (1 << p) for p in range(n_planes)} if multiprobe else set()
        )
        qinfo.append((qid, v, np.array(sorted(probes), dtype=np.int64)))
    return _ivf_score_np(
        corpus, qinfo, k, id_col, vec_col, query_id_col, assign=assign
    )


# --- IVF (inverted-file) index ---------------------------------------------


def _vec_matrix_np(col, n_rows: int):
    """pyarrow list<float> column → (n_rows, dims) float64 matrix.

    Zero-copy shape: the Arrow list column is ONE contiguous values
    buffer plus offsets (guide §4.2's re-slice property) — when every
    row has the same length and no nulls, the matrix is a single
    ``reshape`` over the flattened values, no per-row boxing. Ragged /
    null rows fall back to the row-by-row path (same behavior the
    previous ``np.stack(pandas)`` conversion had)."""
    import numpy as np

    try:
        if col.null_count == 0 and n_rows > 0:
            lengths = col.value_lengths().to_numpy(zero_copy_only=False)
            if (lengths == lengths[0]).all() and lengths[0] > 0:
                dims = int(lengths[0])
                vals = col.flatten().to_numpy(zero_copy_only=False)
                return vals.astype(np.float64).reshape(n_rows, dims)
    except (AttributeError, ValueError):  # exotic layout → row path
        pass
    return np.stack([np.asarray(v, dtype=np.float64) for v in col.to_pylist()])


def _assign_lists_np(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "__list",
) -> DataFrame:
    """Arrow-batched IVF centroid assignment: ONE numpy float64 matmul
    per Arrow batch against the (k, dims) centroid matrix. Cosines are
    rounded to 6 decimals before the argmax and ties break to the
    SMALLEST centroid index (numpy argmax returns the first occurrence
    of the max) — the rule the SQL oracles replicate.

    ``mapInArrow``, not ``mapInPandas`` (r6, guide §4.1/4.2): the
    embedding column stays a flat Arrow values buffer end to end —
    matrix via one reshape (``_vec_matrix_np``), pass-through without
    per-row list boxing, and the worker imports numpy+pyarrow only
    (no pandas), which also shrinks the cold-start this build pays as
    the session's first Python stage."""
    import numpy as np
    import pyarrow as pa
    from typing import Iterator

    C = np.asarray(centroids, dtype=np.float64)  # (k, dims)
    cn = np.sqrt((C * C).sum(axis=1))
    cn[cn == 0] = 1.0

    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for b in batches:
            n = b.num_rows
            if not n:
                continue
            x = _vec_matrix_np(b.column(1), n)
            xn = np.sqrt((x * x).sum(axis=1))
            xn[xn == 0] = 1.0
            sims = np.round(x @ C.T / (xn[:, None] * cn[None, :]), 6)
            lists = pa.array(sims.argmax(axis=1).astype(np.int32))
            yield pa.RecordBatch.from_arrays(
                [b.column(0), b.column(1), lists],
                names=[id_col, vec_col, out_col],
            )

    return df.select(id_col, vec_col).mapInArrow(
        run, schema=f"{id_col} long, {vec_col} array<float>, {out_col} int"
    )


def _probes_driver_np(
    qrows: list[tuple], centroids: list[list[float]], nprobe: int
) -> list[tuple]:
    """Driver-side probe selection for a ``_collect_queries`` batch:
    each query's ``nprobe`` closest lists by 6-decimal cosine, ties to
    the LARGEST centroid index. Returns ``_ivf_score_np``'s ``qinfo``."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    cn = np.sqrt((C * C).sum(axis=1))
    cn[cn == 0] = 1.0
    idx = np.arange(C.shape[0])
    out = []
    for qid, v in qrows:
        vn = np.sqrt((v * v).sum()) or 1.0
        sims = np.round(C @ v / (cn * vn), 6)
        order = np.lexsort((-idx, -sims))[:nprobe]
        out.append((qid, v, np.sort(order).astype(np.int64)))
    return out


def _ivf_score_np(
    corpus: DataFrame,
    qinfo: list[tuple],
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    centroids: list[list[float]] | None = None,
    list_col: str = "__list",
    assign: "object" = None,
) -> DataFrame:
    """ONE Arrow pass over the corpus: (optionally) assign each row's
    IVF list via the centroid matmul, then score every query against
    the rows of its probed lists with a numpy matmul and emit only the
    per-batch LOCAL top-k per query. The global exact top-k is the
    window over that union (≤ batches × queries × k candidate rows —
    tiny), so no (corpus × query) pair set ever materializes and no
    interpreted per-pair cosine fold (~9 µs/pair, BENCH.md r4) runs.

    ``qinfo``: [(query_id, np.ndarray vec, np.ndarray probe_lists)]
    collected driver-side by ``_collect_queries`` — at most
    ``MAX_QUERY_ROWS`` queries.

    List membership per corpus row comes from (in precedence order):
    ``assign(x, xn) -> int array`` (an arbitrary numpy bucketing —
    the LSH sign sketch uses this), else the nearest-``centroids``
    argmax, else a pre-existing ``list_col`` column (the persisted
    index layout)."""
    import numpy as np
    import pyarrow as pa
    from typing import Iterator

    if assign is None and centroids is not None:
        C = np.asarray(centroids, dtype=np.float64)
        cn = np.sqrt((C * C).sum(axis=1))
        cn[cn == 0] = 1.0

        def assign(x, xn):  # noqa: F811 — the IVF default assigner
            return np.round(
                x @ C.T / (xn[:, None] * cn[None, :]), 6
            ).argmax(axis=1)

    has_list = assign is None

    # mapInArrow (r6): the embedding column reaches numpy via one
    # flatten+reshape instead of per-row pandas list boxing, and the
    # worker needs no pandas import — same scores, same tie-breaks.
    def run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for b in batches:
            n = b.num_rows
            if not n:
                continue
            x = _vec_matrix_np(b.column(1), n)
            xn = np.sqrt((x * x).sum(axis=1))
            xn[xn == 0] = 1.0
            ids = b.column(0).to_numpy(zero_copy_only=False)
            if has_list:
                lists = b.column(2).to_numpy(zero_copy_only=False)
            else:
                lists = assign(x, xn)
            out_q, out_i, out_s = [], [], []
            for qid, qv, probes in qinfo:
                mask = np.isin(lists, probes) & (ids != qid)
                if not mask.any():
                    continue
                sel = np.nonzero(mask)[0]
                qn = np.sqrt((qv * qv).sum()) or 1.0
                sims = np.round(x[sel] @ qv / (xn[sel] * qn), 6)
                order = np.lexsort((ids[sel], -sims))[:k]
                out_q.append(np.full(len(order), qid, dtype=np.int64))
                out_i.append(ids[sel][order])
                out_s.append(sims[order])
            if out_q:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(out_q), type=pa.int64()),
                        pa.array(
                            np.concatenate(out_i).astype(np.int64),
                            type=pa.int64(),
                        ),
                        pa.array(np.concatenate(out_s), type=pa.float64()),
                    ],
                    names=[query_id_col, id_col, "cos_sim"],
                )

    cols = [id_col, vec_col] + ([list_col] if has_list else [])
    local = corpus.select(*cols).mapInArrow(
        run, schema=f"{query_id_col} long, {id_col} long, cos_sim double"
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "cos_sim")
    )


def train_centroids(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic mini k-means, DataFrame-native: initial
    centroids are the k id-stride vectors; each iteration assigns by
    max cosine (``_assign_lists_np``) and recomputes means via
    posexplode + groupBy(centroid, dim) — the per-dimension mean is one
    map-side-combinable aggregation, so training scales to any corpus
    size while centroids (k×dims floats) stay driver-side."""
    n = corpus.count()
    stride = max(1, n // k)
    cents = [
        [float(x) for x in r[0]]
        for r in corpus.filter(F.pmod(F.col(id_col), F.lit(stride)) == 0)
        .orderBy(id_col)
        .limit(k)
        .select(vec_col)
        .collect()
    ]
    for _ in range(iters):
        assigned = _assign_lists_np(
            corpus, cents, id_col=id_col, vec_col=vec_col, out_col="__c"
        )
        means = (
            assigned.select(
                "__c", F.posexplode(F.col(vec_col)).alias("dim", "val")
            )
            .groupBy("__c", "dim")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        new = {}
        for r in means:
            new.setdefault(r["__c"], {})[r["dim"]] = r["m"]
        cents = [
            [new.get(c, {}).get(d, cents[c][d]) for d in range(len(cents[c]))]
            for c in range(len(cents))
        ]
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF search: corpus rows carry their nearest-centroid list id;
    each query probes its ``nprobe`` closest lists. The probed
    fraction is ~nprobe/k of the corpus; within-list ranking is exact
    cosine. At scale the list id is a partition column and probing is
    partition pruning (``build_ivf_index`` / ``ivf_topk_indexed``).

    Assignment, probe-filtered scoring, and per-batch local top-k run
    in ONE numpy mapInArrow pass over the corpus (``_ivf_score_np``):
    no corpus×query pair set, one scan."""
    qinfo = _probes_driver_np(
        _collect_queries(queries, query_id_col, vec_col, "ivf_topk"),
        centroids,
        nprobe,
    )
    return _ivf_score_np(
        corpus, qinfo, k, id_col, vec_col, query_id_col,
        centroids=centroids,
    )


def build_ivf_index(
    corpus: DataFrame,
    centroids: list[list[float]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Persist the corpus PHYSICALLY PARTITIONED by its IVF list id —
    the 100 TB serving layout (the sandbox parquet stand-in for an
    Iceberg identity-partition on ``__list``). Each inverted list is
    its own partition directory, so probing ``nprobe`` lists becomes
    PARTITION PRUNING at the scan: a query batch touches ~nprobe/k of
    the bytes and the assignment matmul runs ONCE at build time, not
    per query batch (``ivf_topk`` recomputes it per job). Pruning is
    pinned at plan level in tests/test_plans.py."""
    assigned = _assign_lists_np(corpus, centroids, id_col=id_col, vec_col=vec_col)
    # cluster rows by list BEFORE the partitioned write: without it
    # every input task writes a sliver into every list directory
    # (tasks × k small files — a probe then pays k× the file-open
    # cost it should). A deterministic per-row salt widens the write
    # when there are fewer lists than cores (k=16 lists on 32 cores
    # left half the writers idle): each list becomes ≤ `w` compact
    # files, with w derived from the session's parallelism so it
    # degrades to 1 as k outgrows the cluster — at production k
    # (thousands of lists) the layout is one-file-per-list again.
    # Deterministic (xxhash64 of the id), never rand() — guide §2.5.
    k_lists = max(len(centroids), 1)
    dp = corpus.sparkSession.sparkContext.defaultParallelism
    w = max(1, dp // k_lists)
    assigned.repartition(
        F.col("__list"), F.pmod(F.xxhash64(F.col(id_col)), F.lit(w))
    ).write.mode(mode).partitionBy("__list").parquet(path)


def ivf_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF search over a :func:`build_ivf_index` layout. The probed
    list ids are applied as a LITERAL partition filter on the scan —
    static partition pruning, visible as ``PartitionFilters`` in the
    physical plan. The probed set has at most len(centroids) ids
    regardless of query-batch size. Within the pruned scan, queries
    are scored in one numpy Arrow pass with per-batch local top-k
    (``_ivf_score_np``)."""
    qinfo = _probes_driver_np(
        _collect_queries(queries, query_id_col, vec_col, "ivf_topk_indexed"),
        centroids,
        nprobe,
    )
    probed = sorted({int(li) for _, _, pr in qinfo for li in pr})
    c = spark.read.parquet(index_path).filter(F.col("__list").isin(probed))
    return _ivf_score_np(c, qinfo, k, id_col, vec_col, query_id_col)


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.98,
    n_planes: int = 6,
    dims: int = 64,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "nd",
) -> DataFrame:
    """Embedding-cosine near-duplicates via MULTI-BAND sign-sketch
    LSH: each vector is emitted into ``bands`` independent sketches
    (distinct plane seeds, ``sketch_buckets_np``); candidates collide
    in ≥1 band (union of per-band equi-joins), fixing the single-band
    recall hole where a near-identical pair straddles one hyperplane.
    More planes per band shrink buckets (cost); more bands recover
    recall — the standard banding trade also used by the MinHash path.
    Candidate dedup shuffles only (id_a, id_b); vectors are joined back
    by id for the exact-cosine verify. Returns (id_a, id_b, cos_sim),
    id_a < id_b."""
    b = sketch_buckets_np(
        df, n_planes, dims, [f"{seed}{bi}" for bi in range(bands)],
        id_col=id_col, vec_col=vec_col,
    )
    r = b.select(F.col(id_col).alias("id_b"), "band", "bucket")
    cand = (
        b.join(r, ["band", "bucket"])
        .filter(F.col(id_col) < F.col("id_b"))
        .select(F.col(id_col).alias("id_a"), "id_b")
        .distinct()
    )
    vecs = df.select(F.col(id_col), F.col(vec_col))
    j = (
        cand.join(
            vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a")),
            "id_a",
        )
        .join(
            vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b")),
            "id_b",
        )
    )
    return _pair_cosine_verify(j, threshold)


def _pair_cosine_verify(j: DataFrame, threshold: float) -> DataFrame:
    """Exact-cosine verify of candidate pairs carrying (id_a, id_b,
    vec_a, vec_b): returns (id_a, id_b, cos_sim) for pairs with
    6-decimal-rounded cosine ≥ threshold, as ONE numpy batch op per
    Arrow batch."""
    import numpy as np
    import pyarrow as pa
    from typing import Iterator

    # mapInArrow (r6): both vector columns land as flat buffers →
    # two reshapes, no per-row pandas boxing; same values out.
    def verify(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            a = _vec_matrix_np(rb.column(2), n)
            b = _vec_matrix_np(rb.column(3), n)
            an = np.sqrt((a * a).sum(axis=1))
            bn = np.sqrt((b * b).sum(axis=1))
            an[an == 0] = 1.0
            bn[bn == 0] = 1.0
            sims = np.round(
                np.einsum("ij,ij->i", a, b) / (an * bn), 6
            )
            m = sims >= threshold
            if m.any():
                idx = np.nonzero(m)[0]
                yield pa.RecordBatch.from_arrays(
                    [
                        rb.column(0).take(pa.array(idx)),
                        rb.column(1).take(pa.array(idx)),
                        pa.array(sims[m], type=pa.float64()),
                    ],
                    names=["id_a", "id_b", "cos_sim"],
                )

    return j.select("id_a", "id_b", "vec_a", "vec_b").mapInArrow(
        verify, schema="id_a long, id_b long, cos_sim double"
    )


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    deduplication by k-means clustering + within-cluster exact cosine:
    an item is DROPPED when its cosine to some LOWER-ID item in the
    SAME cluster is ≥ threshold (the published reference code's upper-
    triangular max rule, with id order as the index order, so the
    survivor set is deterministic and engine-portable). Returns one
    row per dropped item: (``id_col``, kept_id, max_cos) where
    kept_id is the smallest colliding lower id and max_cos the
    largest qualifying cosine.

    100 TB plan shape: centroid assignment is NARROW (one numpy matmul
    per Arrow batch, ``_assign_lists_np``). The within-cluster
    self-join is equi on the cluster id — the quadratic blowup is
    bounded by the cluster size, which is the method's own contract:
    k MUST scale with the corpus (SemDeDup uses ~100k clusters at web
    scale) so N/k stays ~10³–10⁴; AQE skew-join splits residual hot
    clusters. The only corpus-wide shuffles are that equi-join and the
    final 8-byte groupBy(id).
    """
    assigned = _assign_lists_np(
        df, centroids, id_col=id_col, vec_col=vec_col, out_col="__c"
    )
    # materialize the assignment ONCE before the in-cluster self-join:
    # its two sides plan as independent subtrees, so the centroid-
    # assignment pass (a Python mapInArrow stage) would otherwise run
    # twice — same self-join recompute defect fixed across the dedup
    # tier this round (r6).
    assigned = assigned.localCheckpoint()
    a = assigned.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"), "__c"
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"), "__c"
    )
    j = a.join(b, "__c").filter(F.col("id_a") < F.col("id_b"))
    pairs = _pair_cosine_verify(j, threshold)
    return pairs.groupBy("id_b").agg(
        F.min("id_a").alias("kept_id"), F.max("cos_sim").alias("max_cos")
    ).select(F.col("id_b").alias(id_col), "kept_id", "max_cos")
