"""Training-data pipeline operators: text analytics, dedup family,
similarity search, multimodal plumbing."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from satya_spark.functions import text as tx
from satya_spark.functions import dedup
from satya_spark.functions import similarity as sim
from satya_spark.functions import multimodal as mm


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


# --- text ------------------------------------------------------------------

def test_token_counts(spark):
    df = spark.createDataFrame(
        [("hello world foo",), ("  spaced   out  ",), ("",), ("ab12 c!",)], ["t"]
    )
    out = df.select(
        tx.token_count_ws(F.col("t")).alias("ws"),
        tx.token_count_bpe(F.col("t")).alias("bpe"),
    ).collect()
    assert [r["ws"] for r in out] == [3, 2, 0, 2]
    # bpe: [ab][12] [c][!] -> 4 ; hello/world/foo -> 3
    assert out[0]["bpe"] == 3 and out[3]["bpe"] == 4


def test_punct_and_quality(spark):
    long_clean = "the cat sat on the mat and it is a fine day for all of us " * 3
    punchy = "a!!!, ..;;::!!" + "x" * 40
    df = spark.createDataFrame([(long_clean,), (punchy,), ("",)], ["t"])
    rows = df.select(
        tx.punct_ratio(F.col("t")).alias("p"),
        tx.quality_score(F.col("t")).alias("q"),
    ).collect()
    assert rows[0]["p"] == 0.0 and rows[0]["q"] == 1.0
    assert rows[1]["p"] > 0.1 and rows[1]["q"] <= 0.5
    assert rows[2]["p"] == 0.0 and rows[2]["q"] == 0.0


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat is in the house and it is fine",),
            ("der hund ist nicht mit der katze und ich",),
            ("le chat est une belle bête pour la maison",),
            ("你好世界 这是中文",),
            ("qwzx gleeb norp",),
        ],
        ["t"],
    )
    preds = [r[0] for r in df.select(tx.lang_id(F.col("t"))).collect()]
    assert preds == ["en", "de", "fr", "zh", "und"]


def test_stopword_hits_token_exact(spark):
    # the regexp-count implementation must count exactly the TOKENS
    # that equal a stopword: adjacent stopwords don't share separators,
    # punctuation-attached words don't count, substrings don't count
    cases = [
        ("the the the", 3),            # adjacent repeats (overlap trap)
        ("a of the", 3),               # all-stopword run
        ("the. cat", 0),               # punctuation-attached
        ("theory and android", 1),     # substring traps: only 'and'
        ("The  Cat IS in THE house", 4),  # case/extra-space normalize
        ("", 0),
        ("nostopwordshere whatsoever", 0),
    ]
    df = spark.createDataFrame(cases, ["t", "want"])
    rows = df.select("want", tx.stopword_hits(F.col("t"), "en").alias("got")).collect()
    for r in rows:
        assert r["got"] == r["want"], (r["want"], r["got"])


def test_text_kernel_plans_are_pure_codegen(spark):
    """Regression for the round-1 HOF trap: stopword counting via
    F.filter(lambda) was CodegenFallback and forced the whole text
    projection into interpreted eval. Every Project in the text_stats /
    text_langid plans must be inside a WholeStageCodegen span
    (the '*(n)' prefix) with no lambda and no Python eval."""
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat", "en"), (2, "der hund ist gut", "de")],
        ["doc_id", "text", "lang"],
    )
    c = F.col("text")
    outs = [
        df.select(
            "doc_id",
            tx.token_count_ws(c).alias("n_tok_ws"),
            tx.token_count_bpe(c).alias("n_tok_bpe"),
            tx.punct_ratio(c).alias("punct_ratio"),
            tx.quality_score(c).alias("quality"),
        ),
        df.select("doc_id", "lang", tx.lang_id(c).alias("lang_pred")),
    ]
    for out in outs:
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan
        assert "lambdafunction" not in plan
        for line in plan.splitlines():
            if "Project [" in line:
                assert "*(" in line, f"interpreted Project:\n{line}"


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame([("Hello   World",), ("hello world",)], ["t"])
    fps = [r[0] for r in df.select(tx.fingerprint(F.col("t"))).collect()]
    assert fps[0] == fps[1]
    assert fps[0] == hashlib.md5(b"hello world").hexdigest()


# --- dedup -------------------------------------------------------------------

def test_exact_dup_groups(spark):
    df = _docs(
        spark,
        [(1, "a b c", "en"), (2, "A  b C", "en"), (3, "unique text", "en")],
    )
    out = dedup.exact_dup_groups(df).collect()
    assert len(out) == 1
    assert out[0]["n_docs"] == 2 and out[0]["canonical_id"] == 1


def test_jaccard_pairs(spark):
    df = _docs(
        spark,
        [
            (1, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10", "en"),
            (2, "w1 w2 w3 w4 w5 w6 w7 w8 w9 zz", "en"),  # jac 9/11
            (3, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10", "en"),
            (4, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10", "fr"),  # other block
        ],
    )
    pairs = {(r["id_a"], r["id_b"]): r["jac"] for r in dedup.jaccard_pairs(df, 0.6).collect()}
    assert (1, 2) in pairs and abs(pairs[(1, 2)] - round(9 / 11, 6)) < 1e-9
    assert (1, 3) not in pairs
    assert all(a != 4 and b != 4 for a, b in pairs)  # lang-blocked


def test_jaccard_pairs_symmetric_banding(spark):
    # round-1 regression: the one-sided ±1 band join dropped pairs
    # where the LOWER id had MORE tokens — recall depended on id order
    long_text = " ".join(f"w{i}" for i in range(14))  # band 2
    short_text = " ".join(f"w{i}" for i in range(11))  # band 2→ jac 11/14
    df = _docs(spark, [(1, long_text, "en"), (2, short_text, "en")])
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.jaccard_pairs(df, 0.6).collect()}
    assert (1, 2) in pairs
    # and with the band boundary actually crossed (counts 9 vs 14:
    # bands 1 vs 2, jac 9/14 ≈ 0.643 ≥ 0.6) in BOTH id orders
    df2 = _docs(
        spark,
        [
            (1, " ".join(f"a{i}" for i in range(14)), "en"),
            (2, " ".join(f"a{i}" for i in range(9)), "en"),
            (11, " ".join(f"b{i}" for i in range(9)), "en"),
            (12, " ".join(f"b{i}" for i in range(14)), "en"),
        ],
    )
    pairs2 = {(r["id_a"], r["id_b"]) for r in dedup.jaccard_pairs(df2, 0.6).collect()}
    assert (1, 2) in pairs2 and (11, 12) in pairs2


def test_jaccard_pairs_complete_vs_bruteforce(spark):
    # the threshold-derived band window must find EVERY pair the
    # brute-force all-pairs Jaccard finds (length filter is lossless)
    docs, toks = [], {}
    for i in range(12):
        n = 3 + (i * 7) % 17
        t = [f"t{j}" for j in range(n)] + [f"u{i}"]
        docs.append((i, " ".join(t), "en"))
        toks[i] = set(t)
    df = _docs(spark, docs)
    truth = set()
    for a in toks:
        for b in toks:
            if a < b:
                jac = len(toks[a] & toks[b]) / len(toks[a] | toks[b])
                if round(jac, 6) >= 0.6:
                    truth.add((a, b))
    got = {(r["id_a"], r["id_b"]) for r in dedup.jaccard_pairs(df, 0.6).collect()}
    assert got == truth and truth  # non-vacuous


def _py_minhash(tokens, i):
    return min(
        int(hashlib.md5(f"mh{i}:{t}".encode()).hexdigest()[:15], 16) for t in tokens
    )


def test_minhash_matches_ground_truth(spark):
    # regression for the F.transform 2-arg lambda trap: the seed must
    # actually be the seed, not the array index
    toks = ["alpha", "beta", "gamma", "delta"]
    df = _docs(spark, [(1, " ".join(toks), "en")])
    row = dedup.minhash_signatures(df).collect()[0]
    for i in range(dedup.MINHASH_K):
        assert row[f"mh{i}"] == _py_minhash(toks, i), f"mh{i}"


def test_minhash_dedup_finds_near_dups(spark):
    base = " ".join(f"tok{i}" for i in range(30))
    df = _docs(
        spark,
        [(1, base, "en"), (2, base + " extra", "en"), (3, "совсем other words", "en")],
    )
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.minhash_dedup_pairs(df, 0.6).collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_minhash_verify_jaccard_matches_string_sets(spark):
    # the verify step intersects 64-bit token HASHES (r6 optimization);
    # the emitted jac must equal the exact string-token-set jaccard
    texts = {
        1: "a b c d e f",
        2: "a b c d e g",  # 5/7 with 1
        3: "a b x y z q",  # 3/9 with 1
        4: "a b c d e f",  # exact dup of 1
    }
    df = _docs(spark, [(i, t, "en") for i, t in texts.items()])
    got = {
        (r["id_a"], r["id_b"]): r["jac"]
        for r in dedup.minhash_dedup_pairs(df, threshold=0.0).collect()
    }
    for (a, b), jac in got.items():
        sa, sb = set(texts[a].split()), set(texts[b].split())
        assert jac == round(len(sa & sb) / len(sa | sb), 6), (a, b)
    assert got[(1, 4)] == 1.0 and got[(1, 2)] == round(5 / 7, 6)


def _collapsed_equiv_fixture(spark):
    base = " ".join(f"tok{i}" for i in range(30))
    other = " ".join(f"w{i}" for i in range(25))
    rows = [
        # exact-dup clique of 4 (templated transcripts)
        (1, base, "en"),
        (2, base, "en"),
        (5, base, "en"),
        (9, base, "en"),
        # the clique's token set in other bytes: reordered, upper-case,
        # extra whitespace
        (11, "  TOK29\t" + " ".join(reversed(base.split()[:29])) + "  ", "en"),
        # near-dup of the clique (cross-group edge)
        (3, base + " extra", "en"),
        # a clique of 3, unrelated text, whose ids interleave with the
        # first clique's
        (0, other, "en"),
        (4, other, "en"),
        (8, other, "en"),
        # singleton, unrelated
        (6, "совсем other words", "en"),
        # identical EMPTY-token texts: their jaccard is 0/0, so no pair
        (7, "   ", "en"),
        (10, "   ", "en"),
        # NULL text pairs with nothing
        (12, None, "en"),
    ]
    return _docs(spark, rows)


def test_minhash_pairs_pin_on_collapsed_fixture(spark):
    # equal token sets pair at 1.0 whatever their bytes, a near-dup of
    # a clique pairs with every member, interleaved ids come out as
    # (least, greatest), and empty and NULL texts pair with nothing
    from itertools import combinations

    clique, near = (1, 2, 5, 9, 11), round(30 / 31, 6)
    want = {(a, b, 1.0) for a, b in combinations(clique, 2)}
    want |= {(a, b, 1.0) for a, b in combinations((0, 4, 8), 2)}
    want |= {(min(i, 3), max(i, 3), near) for i in clique}
    got = [
        (r["id_a"], r["id_b"], r["jac"])
        for r in dedup.minhash_dedup_pairs(_collapsed_equiv_fixture(spark), 0.6).collect()
    ]
    assert len(got) == len(set(got))
    assert set(got) == want


def test_minhash_pairs_are_not_cached(spark):
    """The pipeline leaves nothing pinned in the session's cache."""
    spark.catalog.clearCache()
    dedup.minhash_dedup_pairs(_collapsed_equiv_fixture(spark), 0.6).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_lsh_bucket_cap_drops_reported_buckets(spark):
    base = " ".join(f"tok{i}" for i in range(30))
    df = _docs(
        spark,
        [(i, base, "en") for i in range(1, 8)]
        + [(20, "unrelated words here", "en"), (21, "unrelated words here", "en")],
    )
    # the 7-doc clique lands in one bucket per band; cap at 5 drops it
    oversized = dedup.lsh_oversized_buckets(df, max_bucket_size=5).collect()
    assert oversized and all(r["size"] == 7 for r in oversized)
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(df, max_bucket_size=5).collect()
    }
    assert (20, 21) in capped  # small bucket survives
    assert not any(a < 8 and b < 8 for a, b in capped)  # clique dropped
    # no cap → exact candidate set includes the clique
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(df).collect()
    }
    assert (1, 2) in uncapped


def test_lsh_rejects_indivisible_banding(spark):
    # k=8, bands=3 would silently drop the last two signature rows,
    # changing recall — must raise instead (like simhash bits/chunks)
    df = _docs(spark, [(1, "a b c", "en")])
    with pytest.raises(ValueError, match="divisible"):
        dedup.lsh_candidate_pairs(df, k=8, bands=3)
    with pytest.raises(ValueError, match="divisible"):
        dedup.minhash_dedup_pairs(df, 0.6, k=8, bands=3)


def _py_simhash(tokens):
    sums = [0] * dedup.SIMHASH_BITS
    for t in set(tokens):
        h = int(hashlib.md5(f"sh:{t}".encode()).hexdigest()[:15], 16)
        for b in range(dedup.SIMHASH_BITS):
            sums[b] += 1 if (h >> b) & 1 else -1
    return sum((1 if s >= 0 else 0) << b for b, s in enumerate(sums))


def test_simhash_matches_ground_truth(spark):
    toks = ["red", "green", "blue", "cyan", "magenta"]
    df = _docs(spark, [(1, " ".join(toks), "en")])
    row = dedup.simhash_signatures(df).collect()[0]
    assert row["simhash"] == _py_simhash(toks)


def test_simhash_pairs_near_dups(spark):
    base = " ".join(f"w{i}" for i in range(40))
    df = _docs(
        spark,
        [(1, base, "en"), (2, base + " tail", "en"), (3, "x y z q r s", "en")],
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_pairs(df, max_hamming=4, bits=32, chunks=8).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 4


def test_simhash_pairs_chunk_blocking_is_exact(spark):
    # candidates are blocked on signature chunks (NOT language /
    # all-pairs): verify against the brute-force hamming ground truth
    docs = [(i, " ".join(f"t{i}_{j}" for j in range(12)), "en") for i in range(8)]
    docs.append((100, docs[3][1] + " x", "en"))  # near-dup of id 3
    docs.append((101, docs[3][1], "en"))  # exact dup of id 3
    df = _docs(spark, docs)
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_signatures(df, bits=32).collect()
    }
    ids = sorted(sigs)
    truth = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_pairs(df, max_hamming=3, bits=32, chunks=4).collect()
    }
    assert got == truth and (3, 101) in got and got[(3, 101)] == 0


# --- similarity ---------------------------------------------------------------

def _py_bucket(vec, n_planes, dims, seed):
    """Reference sign sketch in plain Python: bit p is set when the
    left-to-right dot with plane p (``_plane_component``) is > 0."""
    bucket = 0
    for p in range(n_planes):
        s = 0.0
        for d in range(dims):
            s += float(vec[d]) * sim._plane_component(seed, p, d)
        if s > 0:
            bucket += 2**p
    return bucket


def _py_cos(a, b):
    """Reference 6-decimal-rounded cosine (zero norms count as 1)."""
    import math

    num = sum(float(x) * float(y) for x, y in zip(a, b))
    na = math.sqrt(sum(float(x) * float(x) for x in a)) or 1.0
    nb = math.sqrt(sum(float(y) * float(y) for y in b)) or 1.0
    return round(num / (na * nb), 6)


def test_sketch_buckets_np_matches_expression_path(spark):
    """The numpy sketch equals a plain-Python sign sketch over the
    same md5 planes, bucket by bucket and band by band."""
    import math

    vecs = [[math.sin(i * 0.71 + d * 0.13) for d in range(16)] for i in range(80)]
    df = _emb(spark, vecs)
    seeds = ["nd0", "nd1", "nd2"]
    stored = {r["vec_id"]: r["embedding"] for r in df.collect()}
    ref = {
        (i, bi, _py_bucket(v, 5, 16, seed))
        for i, v in stored.items()
        for bi, seed in enumerate(seeds)
    }
    np_rows = {
        (r["vec_id"], r["band"], r["bucket"])
        for r in sim.sketch_buckets_np(df, 5, 16, seeds).collect()
    }
    assert np_rows == ref


def _py_near_dup_pairs(stored, threshold, n_planes, dims, bands, seed="nd"):
    """Reference embedding near-dup: pairs colliding in >= 1 band's
    sign-sketch bucket, kept when the rounded cosine >= threshold."""
    keys = {
        i: [(bi, _py_bucket(v, n_planes, dims, f"{seed}{bi}")) for bi in range(bands)]
        for i, v in stored.items()
    }
    out = {}
    for a in stored:
        for b in stored:
            if a < b and set(keys[a]) & set(keys[b]):
                c = _py_cos(stored[a], stored[b])
                if c >= threshold:
                    out[(a, b)] = c
    return out


def test_embedding_near_dup_impls_agree(spark):
    """embedding_near_dup_pairs equals a plain-Python band-collision
    reference plus cosine verify. threshold=-1 keeps every candidate,
    which pins the band buckets themselves, not just the near dups."""
    import math

    vecs = [[math.sin(i * 0.47 + d) for d in range(8)] for i in range(50)]
    vecs.append(list(vecs[7]))  # exact dup
    df = _emb(spark, vecs)
    stored = {r["vec_id"]: r["embedding"] for r in df.collect()}
    kw = dict(n_planes=4, dims=8, bands=3)
    for threshold in (0.95, -1.0):
        got = {
            (r["id_a"], r["id_b"]): r["cos_sim"]
            for r in sim.embedding_near_dup_pairs(df, threshold=threshold, **kw).collect()
        }
        assert got == _py_near_dup_pairs(stored, threshold, **kw)
        assert got[(7, 50)] == 1.0


def _emb(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def test_incremental_exact_dedup_batches(spark, tmp_path):
    from satya_spark.functions.dedup import incremental_exact_dedup

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta")],
        "doc_id long, text string",
    )
    s1 = incremental_exact_dedup(b1, store, out)
    assert s1 == {"rows_in": 3, "rows_kept": 2,
                  "dropped_in_batch": 1, "dropped_vs_store": 0}
    b2 = spark.createDataFrame(
        [(4, "gamma delta"), (5, "epsilon zeta"), (6, "epsilon zeta")],
        "doc_id long, text string",
    )
    s2 = incremental_exact_dedup(b2, store, out)
    # 4 dups batch 1's doc 2 (store hit); 6 dups 5 (within batch)
    assert s2 == {"rows_in": 3, "rows_kept": 1,
                  "dropped_in_batch": 1, "dropped_vs_store": 1}
    kept_ids = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept_ids == {1, 2, 5}
    # idempotence: replaying batch 2 keeps nothing new
    s3 = incremental_exact_dedup(b2, store, out)
    assert s3["rows_kept"] == 0
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1, 2, 5}


def test_incremental_minhash_dedup_batches(spark, tmp_path):
    from satya_spark.functions.dedup import incremental_minhash_dedup

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    base = "the quick brown fox jumps over a lazy dog today"
    b1 = spark.createDataFrame(
        [
            (1, base),
            # one token swapped: jac = 9/11 ≈ 0.818 ≥ 0.6 and the
            # seeded LSH bands collide (deterministic fixture)
            (2, base.replace("dog", "cat")),
            (3, "completely different text about spark executors"),
        ],
        "doc_id long, text string",
    )
    s1 = incremental_minhash_dedup(b1, store, out)
    assert s1 == {"rows_in": 3, "rows_kept": 2,
                  "dropped_in_batch": 1, "dropped_vs_store": 0}
    b2 = spark.createDataFrame(
        [
            # another near-variant of doc 1 → store hit
            (4, base.replace("quick", "swift")),
            (5, "fresh unseen content with new tokens entirely"),
            # same token SET as 5, reordered → within-batch near-dup
            (6, "new tokens entirely with fresh unseen content"),
        ],
        "doc_id long, text string",
    )
    s2 = incremental_minhash_dedup(b2, store, out)
    assert s2 == {"rows_in": 3, "rows_kept": 1,
                  "dropped_in_batch": 1, "dropped_vs_store": 1}
    kept_ids = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept_ids == {1, 3, 5}
    # idempotence: replaying batch 2 keeps nothing new (5 now matches
    # its own stored token set at jac 1.0)
    s3 = incremental_minhash_dedup(b2, store, out)
    assert s3["rows_kept"] == 0
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {1, 3, 5}


@pytest.mark.parametrize("fn,table", [
    ("incremental_exact_dedup", ""),
    ("incremental_minhash_dedup", "buckets"),
])
def test_incremental_dedup_raises_on_corrupt_store(spark, tmp_path, fn, table):
    # a store that exists but cannot be read fails the batch; it must
    # not be taken for a first batch and then appended to
    bad = tmp_path / "store" / table
    bad.mkdir(parents=True)
    (bad / "part-00000.parquet").write_bytes(b"not a parquet file")
    batch = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
    with pytest.raises(Exception, match="(?i)parquet|footer"):
        getattr(dedup, fn)(batch, str(tmp_path / "store"), str(tmp_path / "out"))
    assert sorted(p.name for p in bad.iterdir()) == ["part-00000.parquet"]
    assert not (tmp_path / "out").exists()


def test_remove_duplicated_spans_hand_computed(spark):
    from satya_spark.functions.dedup import remove_duplicated_spans

    df = spark.createDataFrame(
        [
            (1, "x1 x2 x3 x4 x5"),      # first occurrence: survives whole
            (2, "a1 x2 x3 x4 a5"),      # loses the shared 3-gram span
            (3, "a b c a b c a b"),      # self-repeat: 2nd+ spans cut
            (4, "u1 u2 u3 u4"),          # untouched
            (5, "x1 x2 x3 x4 x5"),      # exact dup of 1: fully removed
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in remove_duplicated_spans(df, n=3).collect()}
    assert out[1]["n_removed"] == 0 and out[1]["text_dedup"] == "x1 x2 x3 x4 x5"
    assert out[2]["n_removed"] == 3 and out[2]["text_dedup"] == "a1 a5"
    # winners at pos 0/1/2 keep tokens 0..2; losing spans cover 3..7
    assert out[3]["n_removed"] == 5 and out[3]["text_dedup"] == "a b c"
    assert out[4]["n_removed"] == 0
    assert out[5]["n_removed"] == 5 and out[5]["text_dedup"] == ""


def test_classifier_score_hand_computed(spark):
    from satya_spark.functions.classify import classifier_score

    docs = spark.createDataFrame(
        [(1, "good good bad"), (2, "bad"), (3, ""), (4, "unseen words")],
        "doc_id long, text string",
    )
    w = spark.createDataFrame(
        [("good", 2.0), ("bad", -3.0)], "token string, weight double"
    )
    out = {r["doc_id"]: r for r in
           classifier_score(docs, w, bias=0.5, threshold=0.0).collect()}
    # doc 1: (2 + 2 - 3)/3 + 0.5
    assert out[1]["logit"] == round(1 / 3 + 0.5, 6) and out[1]["clf_keep"]
    assert out[2]["logit"] == -2.5 and not out[2]["clf_keep"]
    # empty doc scores bias alone; unseen tokens contribute 0
    assert out[3]["n_tokens"] == 0 and out[3]["logit"] == 0.5
    assert out[4]["logit"] == 0.5
    # the model side must be a broadcast join, never a shuffle join
    plan = (
        classifier_score(docs, w)._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


def test_duplicated_spans_hand_computed(spark):
    from satya_spark.functions.dedup import duplicated_spans

    df = spark.createDataFrame(
        [
            (1, "x1 x2 x3 x4 x5 x6"),       # shares "x2 x3 x4" with 2
            (2, "y1 x2 x3 x4 y5"),
            (3, "a b c a b c a b"),          # self-repeating: all 6 grams dup
            (4, "u1 u2 u3 u4 u5"),           # nothing duplicated
            (5, "t1 t2"),                    # shorter than n -> 0 grams
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in duplicated_spans(df, n=3).collect()}
    assert (out[1]["n_grams"], out[1]["n_shared"], out[1]["n_runs"],
            out[1]["max_run_len"]) == (4, 1, 1, 1)
    assert out[2]["n_shared"] == 1 and out[2]["shared_frac"] == round(1 / 3, 6)
    # doc 3: abc/bca/cab each occur twice -> every position duplicated,
    # one contiguous run of 6
    assert (out[3]["n_shared"], out[3]["n_runs"], out[3]["max_run_len"],
            out[3]["shared_frac"]) == (6, 1, 6, 1.0)
    assert out[4]["n_shared"] == 0 and out[4]["shared_frac"] == 0.0
    assert out[5]["n_grams"] == 0 and out[5]["shared_frac"] == 0.0


def test_semantic_dedup_drop_rule(spark):
    # two well-separated clusters; ids 0/1/4 near-collinear around
    # x-axis, ids 2/3 around y-axis; 5 is an exact dup of 2
    df = _emb(
        spark,
        [[1, 0.0], [0.99, 0.05], [0.0, 1], [0.05, 0.99], [0.98, 0.02],
         [0.0, 1]],
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    out = {r["vec_id"]: r for r in
           sim.semantic_dedup(df, cents, threshold=0.99).collect()}
    # lower id wins: 0 survives; 1 and 4 drop against 0; 3 and 5 drop
    # against 2 (cross-cluster pairs never compared)
    assert set(out) == {1, 3, 4, 5}
    assert out[1]["kept_id"] == 0 and out[4]["kept_id"] == 0
    assert out[3]["kept_id"] == 2 and out[5]["kept_id"] == 2
    assert out[5]["max_cos"] == 1.0


def test_brute_force_topk(spark):
    corpus = _emb(spark, [[1, 0], [0.9, 0.1], [0, 1], [1, 0.05]])
    queries = corpus.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.brute_force_topk(corpus, queries, k=2).collect()
    assert [(r["rank"], r["vec_id"]) for r in out] == [(1, 3), (2, 1)]
    assert all(0 <= r["cos_sim"] <= 1 for r in out)


def test_lsh_topk_recall(spark):
    import math

    vecs = []
    for i in range(60):
        vecs.append([math.sin(i * 0.37 + d) for d in range(8)])
    corpus = _emb(spark, vecs)
    queries = corpus.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in sim.brute_force_topk(corpus, queries, k=3).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in sim.lsh_topk(corpus, queries, k=3, n_planes=2, dims=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5  # deterministic given fixed planes
    # multi-probe (1 bit flip) must dominate single-probe recall
    multi = {
        (r["query_id"], r["vec_id"])
        for r in sim.lsh_topk(
            corpus, queries, k=3, n_planes=2, dims=8, multiprobe=1
        ).collect()
    }
    # guaranteed: multi's candidate set supersets single's, and a true
    # top-k member can only be displaced by another true top-k member
    recall_multi = len(exact & multi) / len(exact)
    assert recall_multi >= recall


def test_embedding_near_dup_pairs(spark):
    corpus = _emb(
        spark,
        [[1, 0, 0], [0.999, 0.001, 0], [0, 1, 0], [0, 0, 1]],
    )
    pairs = {(r["id_a"], r["id_b"]) for r in
             sim.embedding_near_dup_pairs(corpus, threshold=0.99, n_planes=4, dims=3).collect()}
    assert (0, 1) in pairs and len(pairs) == 1


def test_ivf_topk_recall(spark):
    import math

    vecs = [[math.sin(i * 0.37 + d) for d in range(8)] for i in range(80)]
    corpus = _emb(spark, vecs)
    cents = sim.train_centroids(corpus, k=4, iters=2)
    assert len(cents) == 4 and len(cents[0]) == 8
    queries = corpus.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in sim.brute_force_topk(corpus, queries, k=3).collect()
    }
    # full probe (nprobe=k) must recover brute force exactly
    full = {
        (r["query_id"], r["vec_id"])
        for r in sim.ivf_topk(corpus, queries, cents, k=3, nprobe=4).collect()
    }
    assert full == exact
    # partial probe trades recall for scan fraction
    part = {
        (r["query_id"], r["vec_id"])
        for r in sim.ivf_topk(corpus, queries, cents, k=3, nprobe=2).collect()
    }
    assert len(exact & part) / len(exact) >= 0.5


# --- multimodal -----------------------------------------------------------------

def test_media_features_plumbing(spark):
    media = mm.synthesize_media(spark, 30)
    feats = mm.extract_features(media, dim=4)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r["feature"]) == 4 for r in rows)
    assert all(r["n_bytes"] > 0 for r in rows)
    # deterministic across runs
    again = {r["media_id"]: r["feature"] for r in mm.extract_features(media, dim=4).collect()}
    assert all(again[r["media_id"]] == r["feature"] for r in rows)


def test_frame_sample_plan(spark):
    media = mm.synthesize_media(spark, 30)
    plan = mm.frame_sample_plan(media, every_ms=1000)
    rows = plan.collect()
    assert rows and all(r["ts_ms"] % 1000 == 0 for r in rows)


@pytest.mark.skipif(mm.pil_available(), reason="PIL installed: decode is real")
def test_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"xx")


@pytest.mark.skipif(not mm.pil_available(), reason="PIL not in this sandbox")
def test_decode_resize_pil_contract():
    """When PIL exists, decode+resize honors the byte-grid contract:
    out_w·out_h grayscale bytes (same schema the stand-in emits)."""
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("L", (16, 8), color=127).save(buf, format="PNG")
    thumb = mm.decode_resize_pil(buf.getvalue(), 4, 4)
    assert isinstance(thumb, bytes) and len(thumb) == 16
    assert set(thumb) == {127}


def test_simhash_pairs_keyword_only_knobs(spark):
    """review r2: bits/chunks are keyword-only (the round-1 5th
    positional was lang_col — silently reinterpreting it as bits would
    corrupt results); lang_col is accepted and ignored."""
    import pytest

    from satya_spark.functions.dedup import simhash_pairs

    df = spark.createDataFrame(
        [(i, " ".join(f"t{i}_{j}" for j in range(8))) for i in range(6)],
        ["doc_id", "text"],
    )
    with pytest.raises(TypeError):
        simhash_pairs(df, 3, "doc_id", "text", "lang")  # old positional shape
    # lang_col keyword: ignored (chunk blocking is strictly stronger)
    out = simhash_pairs(df, max_hamming=3, bits=32, chunks=4, lang_col="lang")
    assert set(out.columns) == {"id_a", "id_b", "hamming"}


def test_simhash_pairs_production_defaults(spark):
    """The default config is the 100 TB one: 60-bit signatures in
    15-bit chunks (131k distinct join keys), ceiling bits<=62."""
    from satya_spark.functions.dedup import (
        SIMHASH_PAIR_BITS,
        SIMHASH_PAIR_CHUNKS,
        simhash_pairs,
    )

    assert SIMHASH_PAIR_BITS == 60 and SIMHASH_PAIR_CHUNKS == 4
    df = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta"),
            (1, "alpha beta gamma delta epsilon zeta"),  # exact dup
            (2, "totally different words entirely here now"),
        ],
        ["doc_id", "text"],
    )
    rows = simhash_pairs(df).collect()  # defaults: bits=60, chunks=4
    assert {(r["id_a"], r["id_b"], r["hamming"]) for r in rows} == {(0, 1, 0)}
    with pytest.raises(AssertionError):
        simhash_pairs(df, bits=64, chunks=4)  # over the signed-long ceiling


# --- Arrow-path IVF (production-dims scale path) ---------------------------

def _emb_df(spark, n=120, dims=16, seed=0.37):
    import math

    return spark.createDataFrame(
        [
            (i, [float(math.sin(i * seed + d * 0.11)) for d in range(dims)])
            for i in range(n)
        ],
        "vec_id long, embedding array<float>",
    )


def _py_assign(v, cents):
    """Reference IVF assignment: argmax of 6-decimal-rounded cosine,
    ties to the SMALLEST centroid index."""
    sims = [_py_cos(v, c) for c in cents]
    return max(range(len(cents)), key=lambda i: (sims[i], -i))


def test_ivf_arrow_assignment_parity_with_expr(spark):
    """The numpy matmul assignment equals a plain-Python argmax over
    6-decimal-rounded cosines (ties to the smallest index), vector by
    vector."""
    from satya_spark.functions.similarity import _assign_lists_np, train_centroids

    emb = _emb_df(spark, n=150, dims=16)
    cents = train_centroids(emb, k=6, iters=1)
    # centroid 6 copies centroid 1 (an exact tie); centroid 7 is
    # centroid 3 nudged by 1e-7 (a tie only after 6-decimal rounding)
    cents += [list(cents[1]), [cents[3][0] + 1e-7] + cents[3][1:]]
    stored = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    ref = {i: _py_assign(v, cents) for i, v in stored.items()}
    # the tie centroids are live: their originals own rows
    assert {1, 3} <= set(ref.values())
    arrow = {
        r["vec_id"]: r["__list"] for r in _assign_lists_np(emb, cents).collect()
    }
    assert arrow == ref


def _py_ivf_topk(stored, qids, cents, k, nprobe):
    """Reference pruned IVF: rows live in their ``_py_assign`` list;
    each query probes its ``nprobe`` best lists by rounded cosine (ties
    to the LARGEST index) and ranks the probed rows, itself excluded,
    by (-cos, id)."""
    lists = {i: _py_assign(v, cents) for i, v in stored.items()}
    out = []
    for q in qids:
        sims = [_py_cos(stored[q], c) for c in cents]
        probes = sorted(range(len(cents)), key=lambda c: (-sims[c], -c))[:nprobe]
        cand = sorted(
            (-_py_cos(stored[q], v), i)
            for i, v in stored.items()
            if i != q and lists[i] in probes
        )[:k]
        out += [(q, r + 1, i, -neg) for r, (neg, i) in enumerate(cand)]
    return sorted(out)


def test_ivf_topk_arrow_parity_with_expr(spark):
    """ivf_topk equals a plain-Python pruned-IVF reference, row for
    row, on trained centroids and on two tie fixtures."""
    from satya_spark.functions.similarity import ivf_topk, train_centroids

    emb = _emb_df(spark, n=150, dims=16)
    base = train_centroids(emb, k=6, iters=1)
    queries = emb.filter("vec_id < 8").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    stored = {r["vec_id"]: r["embedding"] for r in emb.collect()}

    def check(corpus, rows, cents, k, nprobe):
        got = sorted(
            (r["query_id"], r["rank"], r["vec_id"], r["cos_sim"])
            for r in ivf_topk(corpus, queries, cents, k=k, nprobe=nprobe).collect()
        )
        assert got == _py_ivf_topk(rows, range(8), cents, k=k, nprobe=nprobe)
        return got

    assert len(check(emb, stored, base, k=5, nprobe=2)) == 8 * 5
    # Probe ties: every centroid gets a copy nudged by 1e-7, equal to
    # it only after 6-decimal rounding. Rows go to the original (ties
    # to the smallest index) and probes prefer the empty copy (ties to
    # the largest), so nprobe=3 scans a second real list only if a
    # rounding or tie rule is broken; k=30 returns every probed row.
    nudged = [[c[0] + 1e-7] + list(c[1:]) for c in base]
    check(emb, stored, base + nudged, k=30, nprobe=3)
    # Rank ties: every vector tripled (ids + 1000, + 2000) in ONE
    # partition. Each query's ranks 1-2 are its own copies (a tie the
    # final window breaks) and its rank-4 slot ties with rank 5 inside
    # one Arrow batch (a tie the per-batch top-k breaks); both keep
    # the smaller id.
    tripled = emb.union(
        emb.selectExpr("vec_id + 1000 AS vec_id", "embedding")
    ).union(
        emb.selectExpr("vec_id + 2000 AS vec_id", "embedding")
    ).coalesce(1)
    rows = {i + off: v for i, v in stored.items() for off in (0, 1000, 2000)}
    check(tripled, rows, base, k=4, nprobe=2)


def test_ann_query_batch_is_bounded(spark, monkeypatch):
    """Every ANN search collects its queries through one bounded
    helper: past MAX_QUERY_ROWS it raises, naming the caller."""
    emb = _emb_df(spark, n=20, dims=8)
    cents = sim.train_centroids(emb, k=2, iters=0)
    queries = emb.filter("vec_id < 4").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    monkeypatch.setattr(sim, "MAX_QUERY_ROWS", 3)
    calls = {
        "lsh_topk": lambda: sim.lsh_topk(emb, queries, dims=8),
        "ivf_topk": lambda: sim.ivf_topk(emb, queries, cents),
        "ivf_topk_indexed": lambda: sim.ivf_topk_indexed(
            spark, "/nonexistent/ivf_index", queries, cents
        ),
    }
    for name, call in calls.items():
        with pytest.raises(ValueError, match=rf"^{name}: .*MAX_QUERY_ROWS=3"):
            call()
    # at the bound the search runs
    assert sim.lsh_topk(emb, queries.limit(3), n_planes=1, dims=8).count() > 0


def test_ivf_arrow_wide_dims_matches_brute_force(spark):
    """dims=256 × k=16: assignment and scoring stay one matmul at
    production dims; with nprobe=k (full probe) the result provably
    equals brute force."""
    from satya_spark.functions.similarity import (
        brute_force_topk,
        ivf_topk,
        train_centroids,
    )

    emb = _emb_df(spark, n=200, dims=256)
    cents = train_centroids(emb, k=16, iters=1)
    queries = emb.filter("vec_id < 5").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    key = lambda rows: sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["cos_sim"]) for r in rows
    )
    bf = key(brute_force_topk(emb, queries, k=5).collect())
    ivf = key(ivf_topk(emb, queries, cents, k=5, nprobe=16).collect())
    assert ivf == bf and len(ivf) == 25


def test_resize_images_plumbing(spark):
    """Deterministic fake resize: image rows only, (out_w*out_h)-byte
    thumbs, stable across runs, nulls pass through; the original blob
    never appears in the output schema."""
    media = mm.synthesize_media(spark, 30)
    out = mm.resize_images(media, out_w=4, out_h=3)
    assert set(out.columns) == {"media_id", "out_w", "out_h", "thumb"}
    rows = {r["media_id"]: r for r in out.collect()}
    n_images = media.filter("kind = 'image'").count()
    assert len(rows) == n_images > 0
    for r in rows.values():
        assert r["out_w"] == 4 and r["out_h"] == 3
        assert r["thumb"] is not None and len(r["thumb"]) == 12
    again = {r["media_id"]: bytes(r["thumb"]) for r in
             mm.resize_images(media, out_w=4, out_h=3).collect()}
    assert {k: bytes(v["thumb"]) for k, v in rows.items()} == again
    # plan: Arrow-batched python (MapInPandas), no blob past it
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan


# --- PII detection/redaction (r4, training-data hygiene tier) ---------------

def test_pii_flags_and_redaction(spark):
    from satya_spark.functions import pii as px

    rows = [
        (1, "mail me: a.b+x@ex-1.co now"),
        (2, "ssn 123-45-6789."),
        (3, "call 555.123.4567"),
        (4, "ip 10.0.0.1 ok"),
        (5, "digits 1234-56-7890"),     # too many digits: no match
        (6, "8555-123-4567x"),          # no word boundary: no match
        (7, "v1.2.3.4a"),               # embedded in a word: no match
        (8, "a@b.co and 10.0.0.1"),     # two categories
        (9, None),
    ]
    out = {
        r["doc_id"]: r
        for r in px.with_pii(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert out[1]["pii_email"] and out[1]["text_redacted"] == "mail me: <EMAIL> now"
    assert out[2]["pii_ssn"] and out[2]["text_redacted"] == "ssn <SSN>."
    assert out[3]["pii_phone"] and not out[3]["pii_ipv4"]
    assert out[3]["text_redacted"] == "call <PHONE>"
    assert out[4]["pii_ipv4"] and out[4]["text_redacted"] == "ip <IPV4> ok"
    for i in (5, 6, 7):
        assert out[i]["pii_types"] == 0 and out[i]["text_redacted"] == rows[i - 1][1]
    assert out[8]["pii_types"] == 2
    assert out[8]["text_redacted"] == "<EMAIL> and <IPV4>"
    assert out[9]["text_redacted"] is None and out[9]["pii_types"] is None


def test_pii_plan_is_pure_codegen(spark):
    """PII kernels must stay JVM-side: no Python eval, every Project
    codegen'd — this is a full-corpus scrub at 100 TB."""
    from satya_spark.functions import pii as px

    df = spark.createDataFrame(
        [(1, "a@b.co"), (2, "nothing")], "doc_id long, text string"
    )
    out = px.with_pii(df)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    for line in plan.splitlines():
        if "Project [" in line:
            assert "*(" in line, f"interpreted Project:\n{line}"


def test_pii_duckdb_twin_parity(spark):
    """The SQL twins run the SAME regexes: differential check on a
    corpus covering every category, multi-category rows, and every
    no-match trap."""
    import duckdb

    from satya_spark.functions import pii as px

    texts = [
        "mail me: a.b+x@ex-1.co now", "ssn 123-45-6789.",
        "call 555.123.4567 or 555-123-4567", "ip 10.0.0.1 ok",
        "digits 1234-56-7890", "8555-123-4567x", "v1.2.3.4a",
        "a@b.co and 10.0.0.1 and 123-45-6789", "plain text", "",
    ]
    sdf = px.with_pii(
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
    ).orderBy("doc_id")
    got = [
        (r["pii_email"], r["pii_ssn"], r["pii_phone"], r["pii_ipv4"],
         r["pii_types"], r["text_redacted"])
        for r in sdf.collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in enumerate(texts))
        + ") AS v(doc_id, text)"
    )
    want = con.execute(
        f"SELECT {px.pii_flag_sql('text', 'email')}, "
        f"{px.pii_flag_sql('text', 'ssn')}, "
        f"{px.pii_flag_sql('text', 'phone')}, "
        f"{px.pii_flag_sql('text', 'ipv4')}, "
        f"{px.pii_count_types_sql('text')}, "
        f"{px.redact_sql('text')} FROM t ORDER BY doc_id"
    ).fetchall()
    assert got == [tuple(w) for w in want]


def test_repetition_signals(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),        # bigrams: [a b, b a]x -> top 'a b' = 3/5
            (2, "x y z w"),            # all bigrams unique -> top 1/3
            (3, "hello"),              # 1 token: no bigrams
            (4, ""),                   # empty: no tokens
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.with_repetition(df).collect()}
    assert out[1]["n_tokens"] == 6 and out[1]["n_distinct"] == 2
    assert out[1]["ttr"] == round(2 / 6, 6)
    assert out[1]["top_bigram_count"] == 3  # 'a b' at positions 1,3,5
    assert out[1]["top_bigram_frac"] == 0.6
    assert out[2]["top_bigram_count"] == 1
    assert out[2]["top_bigram_frac"] == round(1 / 3, 6)
    assert out[3]["top_bigram_count"] == 0 and out[3]["top_bigram_frac"] is None
    assert out[4]["n_tokens"] == 0 and out[4]["ttr"] is None


def test_repetition_duckdb_twin_parity(spark):
    import duckdb

    texts = [
        "a b a b a b", "x y z w", "hello", "",
        "the the the the", "a  b\t c", "one two one two one",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = sorted(map(tuple, tx.with_repetition(df).collect()))
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in enumerate(texts))
        + ") AS v(doc_id, text)"
    )
    want = sorted(map(tuple, con.execute(tx.repetition_sql("t")).fetchall()))
    assert got == want


def test_repetition_plan_shape(spark):
    """The per-row projection (TTR) must be codegen'd (array_distinct
    is not a lambda HOF) and the bigram aggregation must partial-
    aggregate before the exchange (map-side combine — the shape that
    survives 100 TB)."""
    df = spark.createDataFrame([(1, "a b c a b")], "doc_id long, text string")
    out = tx.with_repetition(df)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "lambdafunction" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_dup_clusters_chain_and_clique(spark):
    """Connected components over a pair graph: a 4-chain, a triangle
    clique, and an isolated pair each collapse to min-id labels; a
    doc in no pair is not emitted."""
    from satya_spark.functions.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),          # chain: diameter 3
            (10, 11), (11, 12), (10, 12),    # clique
            (20, 21),                        # isolated pair
        ],
        "id_a long, id_b long",
    )
    out = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert out == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_dup_clusters_r6_knobs(spark):
    """The r6 cost knobs must not change the labelling: duplicate
    input pairs under assume_distinct=True (dup edges are harmless to
    CC, only shuffle mass), and contract_min_edges=0 forcing
    contraction every round vs a huge value disabling it after
    round 0."""
    from satya_spark.functions.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 2), (3, 4), (10, 11), (2, 3)],
        "id_a long, id_b long",
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    # finish_collect_max=0 keeps the contraction variants on the
    # distributed loop; the driver finish would end them after round 0
    for kw in (
        {"assume_distinct": True},
        {"contract_min_edges": 0, "finish_collect_max": 0},
        {"contract_min_edges": 10**9, "finish_collect_max": 0},
    ):
        out = {
            r["doc_id"]: r["cluster_id"]
            for r in dup_clusters(pairs, **kw).collect()
        }
        assert out == want, kw


@pytest.mark.parametrize("n", [33, 257])
def test_dup_clusters_long_chain_pointer_jump(spark, n):
    """An n-node chain (diameter n-1) must converge within
    ceil(log2(n-1)) + 1 rounds — pointer jumping gives O(log diameter)
    rounds where plain propagation would need n-1 (Kiveris et al.,
    SoCC'14)."""
    import math

    from satya_spark.functions.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 100 + n - 1)], "id_a long, id_b long"
    )
    # finish_collect_max=0: the rounds under test are the distributed
    # ones, not the driver-side union-find finish
    max_iter = math.ceil(math.log2(n - 1)) + 1
    out = dup_clusters(pairs, max_iter=max_iter, finish_collect_max=0)
    assert {r["cluster_id"] for r in out.collect()} == {100}
    assert out.count() == n


def test_dup_clusters_string_ids_and_non_convergence(spark):
    """Works on string ids (conv_id payloads); max_iter exhaustion
    raises instead of returning a partial labelling."""
    import pytest

    from satya_spark.functions.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [("cA", "cB"), ("cB", "cC")], "id_a string, id_b string"
    )
    out = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert out == {"cA": "cA", "cB": "cA", "cC": "cA"}
    long_chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200, 230)], "id_a long, id_b long"
    )
    # finish_collect_max=0 pins the DISTRIBUTED loop's raise: with the
    # r6 driver finish enabled a graph this small completes exactly
    # instead of exhausting max_iter.
    with pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(long_chain, max_iter=1, finish_collect_max=0)


def test_vector_violations_battery(spark):
    """Embedding validation kernels (functions/vectors.py): each
    defect class fires exactly its own constraint; empty vectors
    skip the norm checks in both engines (DuckDB list_sum([]) is
    NULL); clean rows emit nothing."""
    from satya_spark.functions.vectors import vector_violations

    rows = [
        (1, [0.6, 0.8]),            # clean, norm 1.0
        (2, [3.0, 4.0]),            # norm 5.0 > 2.0
        (3, [0.1, 0.1]),            # norm ~0.141 < 0.5
        (4, [1.0]),                 # wrong dim (1 != 2)
        (5, [None, 1.0]),           # null item
        (6, [float("nan"), 1.0]),   # NaN
        (7, [float("inf"), 1.0]),   # Inf
        (8, None),                  # null vector
        (9, []),                    # wrong dim; norm checks skipped
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = vector_violations(df, dim=2, norm_min=0.5, norm_max=2.0)
    got = {
        (r["vec_id"], r["constraint_name"]): r["offending_value"]
        for r in out.collect()
    }
    assert got == {
        (2, "norm_high"): "5.000000",
        (3, "norm_low"): "0.141421",
        (4, "wrong_dim"): "1",
        (5, "null_item"): "null item",
        (6, "non_finite"): "non-finite item",
        (7, "non_finite"): "non-finite item",
        (8, "null_vector"): "null",
        (9, "wrong_dim"): "0",
    }
    # None-parameter constraints are skipped entirely
    no_norm = vector_violations(df, dim=None, norm_min=None, norm_max=None)
    names = {r["constraint_name"] for r in no_norm.collect()}
    assert names == {"null_item", "non_finite", "null_vector"}


def test_vector_violations_huge_norm_never_fails(spark):
    """ADVICE r5: a finite float32 vector with elements ~1e22 must
    produce a norm_high VIOLATION ROW, not an ANSI
    NUMERIC_VALUE_OUT_OF_RANGE abort from the DECIMAL(28,6) rendering
    cast — never-fail-fast is the module's contract."""
    from satya_spark.functions.vectors import vector_violations

    rows = [(1, [1e22, 1e22]), (2, [0.6, 0.8])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["vec_id"], r["constraint_name"]): r["offending_value"]
        for r in vector_violations(
            df, dim=2, norm_min=0.5, norm_max=2.0
        ).collect()
    }
    assert got == {(1, "norm_high"): ">1e22"}


def test_dup_clusters_driver_finish_parity(spark, monkeypatch):
    """The post-contraction driver finish (union-find over labels +
    contracted edges) must label identically to the round-0 driver
    shortcut and to the pure distributed loop — including on the
    label-CHAIN shape that breaks an edges-only union-find: after
    round 0 a path graph's label table carries multi-hop chains
    (label(u)=v while label(v)=w), and the contracted edges alone do
    not encode u~v; the (node, label) unions restore them. The finish
    is pinned explicitly: a bound one row below the pair count keeps
    round 0 distributed, and a spy checks that the finish ran on a
    label table with chains."""
    from satya_spark.functions import dedup

    # path graph (worst chain shape) + an 8-clique, which gives more
    # pairs than nodes so the contracted graph fits a bound the pair
    # list does not, + a triangle + a pair, with ids interleaved so
    # min-ids are non-trivial
    edges = (
        [(i, i + 1) for i in range(50, 66)]                    # 17-node path
        + [(a, b) for a in range(80, 88) for b in range(a + 1, 88)]  # clique
        + [(9, 30), (30, 41), (9, 41)]                         # triangle
        + [(70, 3)]                                            # min on right
    )
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    chains = []
    finish = dedup._cc_finish_driver

    def spy(labels, und, max_rows):
        lab = {r["node"]: r["label"] for r in labels.collect()}
        chains.append(sum(lab[v] != v for v in lab.values()))
        return finish(labels, und, max_rows)

    monkeypatch.setattr(dedup, "_cc_finish_driver", spy)

    def run(**kw):
        out = dedup.dup_clusters(pairs, **kw).collect()
        return {(r["doc_id"], r["cluster_id"]) for r in out}

    shortcut = run()  # the pair list fits: round-0 shortcut
    assert chains == []
    finished = run(finish_collect_max=len(edges) - 1)
    assert len(chains) == 1 and chains[0] > 0
    off = run(finish_collect_max=0)
    assert shortcut == finished == off
    assert {c for _, c in off} == {50, 80, 9, 3}


def test_dup_clusters_driver_finish_is_bounded(spark):
    """The post-contraction finish reads labels and contracted edges
    with bounded collects: within the bound it labels exactly (the
    label chain 2 -> 1 plus the edge 1~3), past it it raises the typed
    error that sends dup_clusters back to its distributed rounds."""
    from satya_spark.functions.bounded import CollectBoundExceeded
    from satya_spark.functions.dedup import _cc_finish_driver

    labels = spark.createDataFrame([(1, 1), (2, 1), (3, 3)], "node long, label long")
    und = spark.createDataFrame([(1, 3)], "src long, dst long")
    got = _cc_finish_driver(labels, und, 4).collect()
    assert sorted(map(tuple, got)) == [(1, 1), (2, 1), (3, 1)]
    with pytest.raises(CollectBoundExceeded, match="^dup_clusters: labels .*=2 rows"):
        _cc_finish_driver(labels, und, 3)


def test_dup_clusters_empty_and_self_pairs(spark):
    """Empty pair set -> empty labelling (schema intact); a self-pair
    degenerates to a singleton cluster."""
    from satya_spark.functions.dedup import dup_clusters

    empty = spark.createDataFrame([], "id_a long, id_b long")
    out = dup_clusters(empty)
    assert out.columns == ["doc_id", "cluster_id"]
    assert out.count() == 0
    selfp = spark.createDataFrame([(7, 7)], "id_a long, id_b long")
    assert [tuple(r) for r in dup_clusters(selfp).collect()] == [(7, 7)]
