"""Unit tests for the LLM-pipeline operators (dedup / similarity /
text / multimodal) on tiny hand-built frames — semantics, not scale.
The sf0.01 oracle differential (tools/check_oracle.py) is the
integration gate; these pin the operator behavior on known inputs.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from bd_spark.operators import dedup, multimodal, similarity
from bd_spark.operators import text as T
from bd_spark.operators.hashing import P31, h60, minhash_coefficients


def h31_py(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % P31


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat sat on the mat and the dog sat too"),
        (2, "the cat sat on the mat and the dog sat too"),          # exact dup of 1
        (3, "the cat sat on the mat and the dog slept too"),        # near dup of 1
        (4, "completely different words about spark and shuffles"),
        (5, "a b"),                                                 # shorter than shingle width
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_h60_matches_python_md5(spark, docs):
    got = docs.select(h60(F.col("text")).alias("h")).where(F.col("doc_id").isNotNull()).collect()
    want = [int(hashlib.md5(r.text.encode()).hexdigest()[:15], 16)
            for r in docs.collect()]
    assert sorted(r.h for r in got) == sorted(want)


def test_tokens_and_shingles(spark):
    df = spark.createDataFrame([("  The  cat\tsat ",)], ["text"])
    row = df.select(
        T.tokens(F.col("text")).alias("t"),
        T.word_shingles(T.tokens(F.col("text")), 2).alias("s2"),
        T.word_shingles(T.tokens(F.col("text")), 5).alias("s5"),
        T.char_ngrams(F.lit("abcd"), 3).alias("g3"),
    ).first()
    assert row.t == ["the", "cat", "sat"]
    assert row.s2 == ["the cat", "cat sat"]
    assert row.s5 == []          # shorter than n -> empty, not sequence-descend
    assert row.g3 == ["abc", "bcd"]


def test_exact_dedup(spark, docs):
    out = dedup.exact_dedup(docs, "doc_id", "text").collect()
    by_keep = {r.keep_id: r.n_copies for r in out}
    assert by_keep[1] == 2      # docs 1 and 2 collapse
    assert by_keep[3] == 1 and by_keep[4] == 1
    assert len(out) == 4


def test_minhash_signature_deterministic(spark, docs):
    sig = dedup.minhash_signature(docs, "doc_id", "text").collect()
    rows = {r.id: r for r in sig}
    assert rows[1].sig == rows[2].sig          # identical text, identical sig
    assert rows[1].sig != rows[4].sig
    assert rows[5].sig is None                 # no 3-shingles -> null sig
    # spot-check sig[0] against a pure-python reimplementation
    a, b = minhash_coefficients(dedup.MINHASH_K)
    shingles = set(rows[1].shingles)
    want0 = min((a[0] * h31_py(s) + b[0]) % P31 for s in shingles)
    assert rows[1].sig[0] == want0


def test_minhash_lsh_finds_near_dup_pair(spark, docs):
    pairs = dedup.minhash_lsh_dedup(docs, "doc_id", "text", threshold=0.5).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in got                       # exact dup: jaccard 1.0
    jacc = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert jacc[(1, 2)] == 1.0
    assert all(p[0] < p[1] for p in got)


def test_simhash_near_dupes(spark, docs):
    pairs = dedup.simhash_near_dupes(docs, "doc_id", "text", max_hamming=3).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert got[(1, 2)] == 0                    # identical docs, distance 0
    assert (1, 4) not in got and (2, 4) not in got


def test_ngram_jaccard_blocked(spark, docs):
    blocked = docs.withColumn("blk", F.lit(1))
    pairs = dedup.ngram_jaccard_pairs(
        blocked, "doc_id", "text", ["blk"], n=5, threshold=0.9
    ).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert got[(1, 2)] == 1.0
    assert (1, 4) not in got


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_ngram_freq_broadcast_guard_both_directions(spark, docs):
    """The gram-frequency broadcast hint must appear when the size
    estimate fits the threshold and must NOT appear when it doesn't
    (the 100 TB degradation path)."""
    blocked = docs.withColumn("blk", F.lit(1))
    small = dedup.ngram_jaccard_pairs(
        blocked, "doc_id", "text", ["blk"], n=5, threshold=0.9,
        freq_broadcast_threshold=1 << 30,
    )
    assert "broadcast" in _optimized_plan(small).lower()
    big = dedup.ngram_jaccard_pairs(
        blocked, "doc_id", "text", ["blk"], n=5, threshold=0.9,
        freq_broadcast_threshold=0,
    )
    assert "hints=[broadcast]" not in _optimized_plan(big).lower()
    # both directions produce identical results
    assert sorted(map(tuple, small.collect())) == sorted(map(tuple, big.collect()))


def test_cosine_and_topk(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [0.70710678, 0.70710678, 0.0]),
        ],
        ["vec_id", "embedding"],
    )
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.brute_force_topk(emb, q, k=3).collect()
    assert [r.neighbor_id for r in out] == [0, 1, 3]
    assert [r.rank for r in out] == [1, 2, 3]
    assert out[0].cos == 1.0 and out[1].cos == 1.0
    assert abs(out[2].cos - 0.707107) < 1e-6


def test_embedding_near_dupes_bucketed(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0] * 8),
            (1, [1.0] * 8),                    # identical -> same bucket, cos 1
            (2, [-1.0] * 8),                   # opposite bucket
        ],
        ["vec_id", "embedding"],
    )
    pairs = similarity.embedding_near_dupes(emb, dim=8, threshold=0.9).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, 1)}
    assert pairs[0].cos == 1.0


def test_embedding_near_dupes_recall_vs_brute_force(spark, sf_dir):
    """Banded sign-LSH (4 bands x 8 planes) must recover nearly all
    TRUE near-duplicate pairs at the operator's real operating point
    (cos >= 0.95) — the recall guarantee that motivates multi-band
    over a single wider table (miss prob (1-p^r)^b; at cos ~0.99 the
    per-plane agreement p ~ 0.955 gives banded recall ~0.99 where a
    single 32-plane table would score p^32 ~ 0.23).

    The synthetic corpus is near-orthogonal (max pairwise cos ~0.5),
    so true near-dups are PLANTED: each corpus vector gets a
    deterministically perturbed twin with cos ~0.98-0.995.
    """
    import math

    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n = emb.count()
    # twin id = vec_id + n; perturbation d of dim j derived from the
    # same LCG stream as the hyperplanes (deterministic, seed-free)
    from bd_spark.operators.hashing import _LCG_A, _LCG_C

    pert = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda x, j: x
        + 0.08
        * (((F.lit(_LCG_A) * (F.col("vec_id") * 64 + j)
             + F.lit(_LCG_C)) % F.lit(similarity.P31))
           / F.lit(float(similarity.P31)) - 0.5),
    )
    twins = emb.select(
        (F.col("vec_id") + n).alias("vec_id"), pert.alias("embedding")
    )
    corpus = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")).union(twins)
    threshold = 0.95
    l = corpus.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    r = corpus.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    true_pairs = {
        (row.id_a, row.id_b)
        for row in l.crossJoin(r)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", similarity.cosine(F.col("va"), F.col("vb")).alias("cos")
        )
        .where(F.col("cos") >= threshold)
        .collect()
    }
    lsh_pairs = {
        (row.id_a, row.id_b)
        for row in similarity.embedding_near_dupes(
            corpus, dim=64, threshold=threshold
        ).collect()
    }
    assert lsh_pairs <= true_pairs  # verify step keeps LSH exact-precision
    assert len(true_pairs) >= n * 0.9, "planting failed to create near-dups"
    recall = len(lsh_pairs) / len(true_pairs)
    assert recall >= 0.85, f"recall {recall:.2f} below floor"

    # the WIDENED auto-tune geometries (what bigger corpora select)
    # must hold the same recall floor on the same planted pairs — the
    # equal-recall claim behind neardup_geometry (VERDICT r4 next #7)
    for bands, rows in [(7, 12), (12, 16)]:
        wide = {
            (row.id_a, row.id_b)
            for row in similarity.embedding_near_dupes(
                corpus, dim=64, threshold=threshold,
                bands=bands, rows_per_band=rows,
            ).collect()
        }
        assert wide <= true_pairs
        wrecall = len(wide) / len(true_pairs)
        assert wrecall >= 0.85, f"({bands}x{rows}) recall {wrecall:.2f}"


def test_neardup_geometry_ladder():
    """Stepped geometry: (4,8) at gate SFs — keeping the DuckDB
    oracle valid verbatim — then (7,12) and (12,16), bucket occupancy
    ~2^4 throughout."""
    from bd_spark.operators.similarity import neardup_geometry

    assert neardup_geometry(200) == (4, 8)
    assert neardup_geometry(4096) == (4, 8)
    assert neardup_geometry(20_000) == (7, 12)
    assert neardup_geometry(65_536) == (7, 12)
    assert neardup_geometry(200_000) == (12, 16)
    assert neardup_geometry(10_000_000) == (12, 16)


def test_repetition_metrics_hand_computed(spark):
    from bd_spark.operators import text as T
    from pyspark.sql import functions as F

    rows = [
        (1, "a b a b a b"),        # 2-grams: [ab,ba,ab,ba,ab] -> top 3/5
        (2, "x x x x y"),          # run of 4 x's
        (3, "one two three four five one two three four five"),
        (4, ""),                   # empty doc -> zeros
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    m = T.repetition_metrics(F.col("text"))
    got = {
        r.id: (r.t2, r.d5, r.run)
        for r in df.select(
            "id", m["top2_frac"].alias("t2"), m["dup5_frac"].alias("d5"),
            m["max_tok_run"].alias("run")
        ).collect()
    }
    assert got[1] == (0.6, 0.0, 1)        # 5-grams [ababa, babab]: distinct
    assert got[2][2] == 4
    # doc 3: ten tokens, 5-grams [12345,23451,34512,45123,51234,12345]
    # -> 6 grams, 1 duplicate
    assert got[3] == (round(2 / 9, 6), round(1 / 6, 6), 1)
    assert got[4] == (0.0, 0.0, 0)


def test_redact_pii_examples(spark):
    from bd_spark.operators import text as T
    from pyspark.sql import functions as F

    rows = [
        (1, "mail me at jo.smith+x@sub.example.co.uk now"),
        (2, "server 192.168.0.1 and phone 555-123-4567 ok"),
        (3, "no pii here, just 3.14 and v1.2.3 and 12-34"),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    got = {r.id: r.t for r in df.select("id", T.redact_pii(F.col("text")).alias("t")).collect()}
    assert got[1] == "mail me at <EMAIL> now"
    assert got[2] == "server <IP> and phone <PHONE> ok"
    # decimals / versions / short digit pairs are NOT redacted
    assert got[3] == "no pii here, just 3.14 and v1.2.3 and 12-34"


def test_assign_splits_and_shuffle(spark):
    from pyspark.sql import functions as F

    from bd_spark.operators import text as T

    df = spark.createDataFrame([(i,) for i in range(2000)], ["id"])
    sp = T.assign_splits(df, "id")
    counts = {r.split: r.c for r in
              sp.groupBy("split").agg(F.count("*").alias("c")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 2000 - 0.9) < 0.05
    # stable under growth: the first 1000 ids keep their splits
    small = {r.id: r.split for r in
             T.assign_splits(df.where("id < 1000"), "id").collect()}
    big = {r.id: r.split for r in sp.where("id < 1000").collect()}
    assert small == big

    # shuffle: same seed -> identical permutation; new seed -> different
    o1 = [r.id for r in T.shuffle_deterministic(df, "id", "e0").collect()]
    o2 = [r.id for r in T.shuffle_deterministic(df, "id", "e0").collect()]
    o3 = [r.id for r in T.shuffle_deterministic(df, "id", "e1").collect()]
    assert o1 == o2 and sorted(o1) == list(range(2000))
    assert o1 != o3 and o1 != list(range(2000))


def test_bpe_matches_python_reference(spark):
    """bpe_train / bpe_apply against a classic in-memory BPE
    implementation (word-frequency dict, most-frequent adjacent pair,
    ties lexicographic) — merge list AND encodings must match."""
    from collections import Counter

    from pyspark.sql import functions as F

    from bd_spark.operators import text as T

    corpus = [
        "low lower lowest low low",
        "new newer newest new newer",
        "wide wider widest wide",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)],
                               ["doc_id", "text"])
    got_merges = T.bpe_train(df, "text", n_merges=6)

    # python reference
    vocab = Counter(w for t in corpus for w in t.lower().split())
    words = {w: list(w) for w in vocab}
    ref_merges = []
    for _ in range(6):
        pairs: Counter = Counter()
        for w, units in words.items():
            for a, b in zip(units, units[1:]):
                pairs[(a, b)] += vocab[w]
        if not pairs:
            break
        # max count; ties -> lexicographically smallest joined pair
        best = min(pairs, key=lambda p: (-pairs[p], p[0] + "\x1f" + p[1]))
        ref_merges.append(best)
        a, b = best
        for w, units in words.items():
            out, i = [], 0
            while i < len(units):
                if i + 1 < len(units) and units[i] == a and units[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(units[i])
                    i += 1
            words[w] = out
    assert got_merges == ref_merges

    enc = {r.doc_id: list(r.p) for r in df.select(
        "doc_id", T.bpe_apply(F.col("text"), got_merges).alias("p")
    ).collect()}
    for i, t in enumerate(corpus):
        want = [p for w in t.lower().split() for p in words[w]]
        assert enc[i] == want, (i, enc[i], want)


def test_redact_pii_edges(spark):
    from bd_spark.operators import text as T
    from pyspark.sql import functions as F

    rows = [
        (1, "a@b.co"),                       # whole string is an email
        (2, "x 1.2.3.4 255.255.255.255 y"),  # multiple IPs
        (3, "a@b.co b@c.io"),                # adjacent emails
        (4, "ip5.6.7.8.9 not an ip edge"),   # 5 octets: \\b still fires
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    got = {r.id: r.t for r in df.select(
        "id", T.redact_pii(F.col("text")).alias("t")).collect()}
    assert got[1] == "<EMAIL>"
    assert got[2] == "x <IP> <IP> y"
    assert got[3] == "<EMAIL> <EMAIL>"
    # documented behavior: the 4-octet prefix of a 5-octet run matches
    assert "<IP>" in got[4]


def test_dedup_lines_exact_boundary(spark):
    """Docs whose token count is an exact multiple of the line width
    produce no phantom empty line."""
    from bd_spark.operators import text as T

    df = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    out = T.dedup_lines(df, "doc_id", "text", line_tokens=2).collect()[0]
    assert out.n_lines == 2 and out.n_lines_kept == 2
    assert out.text == "a b c d"


def test_dedup_lines_first_occurrence_wins(spark):
    from bd_spark.operators import text as T

    # 2-token "lines"; the line "dup dup" appears in docs 1, 2 and
    # twice in doc 3 — only doc 1's copy (the corpus-first) survives
    rows = [
        (1, "dup dup keep one"),
        (2, "dup dup keep two"),
        (3, "dup dup dup dup solo bit"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in
           T.dedup_lines(df, "doc_id", "text", line_tokens=2).collect()}
    assert out[1].text == "dup dup keep one" and out[1].n_lines_kept == 2
    assert out[2].text == "keep two" and out[2].n_lines_kept == 1
    assert out[3].text == "solo bit" and out[3].n_lines_kept == 1
    assert out[4].text == "" and out[4].n_lines == 0 and out[4].n_lines_kept == 0
    assert out[3].n_lines == 3


def test_random_projection_preserves_cosine(spark, sf_dir):
    """JL sanity: 64->16 sign projection keeps pairwise cosines
    within the ~1/sqrt(16) band — the guarantee that makes projected
    ANN/near-dup meaningful."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).where(F.col("vec_id") < 40)
    proj = similarity.random_project(emb, 64, 16)
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in emb.collect()}
    pvecs = {r.vec_id: [float(x) for x in r.projected] for r in proj.collect()}

    import math

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    errs = [
        abs(cos(vecs[i], vecs[j]) - cos(pvecs[i], pvecs[j]))
        for i in range(10) for j in range(i + 1, 10)
    ]
    assert sum(errs) / len(errs) < 0.25     # mean error well inside band
    assert max(errs) < 0.75                 # no catastrophic distortion


def test_hashed_linear_score_contract(spark):
    """Deterministic, (0,1)-bounded, token-order-invariant under
    permutation of the same multiset, empty text -> exactly 0.5."""
    from bd_spark.operators import text as T
    from pyspark.sql import functions as F

    rows = [(1, "alpha beta gamma"), (2, "gamma alpha beta"), (3, "")]
    df = spark.createDataFrame(rows, ["id", "text"])
    got = {r.id: r.s for r in df.select(
        "id", F.round(T.hashed_linear_score(F.col("text")), 9).alias("s")
    ).collect()}
    assert got[1] == got[2]          # mean pool: order-free
    assert 0.0 < got[1] < 1.0
    assert got[3] == 0.5


def test_lang_id_and_quality(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is in the hat and it is flat"),
            (2, "el perro y la casa que es un gato en la calle"),
            (3, "xxyy zzqq ppmm"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in df.select(
        "doc_id",
        T.lang_id(F.col("text")).alias("lang"),
        F.round(T.quality_score(F.col("text")), 6).alias("q"),
    ).collect()}
    assert out[1].lang == "en"
    assert out[2].lang == "es"
    assert out[3].lang == "und"
    assert 0.0 <= out[3].q <= 1.0


def test_winnowing_fingerprints_subset_of_hashes(spark):
    df = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine ten")],
        ["doc_id", "text"],
    )
    row = df.select(
        T.winnowing_fingerprints(F.col("text"), k=2, w=2).alias("w"),
        T.fingerprint_minhash(F.col("text")).alias("fp"),
    ).first()
    toks = "one two three four five six seven eight nine ten".split()
    grams2 = [" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)]
    all_h = [h31_py(g) for g in grams2]
    assert set(row.w) <= set(all_h)
    assert row.w == sorted(set(row.w))
    grams5 = [" ".join(toks[i:i + 5]) for i in range(len(toks) - 4)]
    assert row.fp == min(h31_py(g) for g in grams5)


def test_multimodal_decode_fake(spark):
    docs = spark.createDataFrame([(7, "abc", "en", "s", 3)],
                                 ["doc_id", "text", "lang", "source", "n_chars"])
    out = multimodal.decode_assets(
        multimodal.assets_from_documents(docs), fake=True
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.asset_id == 7 and r.byte_len == 3
    assert r.byte_sum == ord("a") + ord("b") + ord("c")
    assert len(r.hist16) == 16 and sum(r.hist16) == 3


def test_multimodal_decode_real_in_band_errors(spark):
    """fake=False is REAL now (stdlib PNG/BMP/PNM/WAV codecs); a
    payload that is not decodable media yields an in-band err row —
    one bad document must never fail the task (same contract as every
    source).  Real decodes are covered in tests/test_codecs.py."""
    docs = spark.createDataFrame([(1, "x", "en", "s", 1)],
                                 ["doc_id", "text", "lang", "source", "n_chars"])
    rows = multimodal.decode_assets(
        multimodal.assets_from_documents(docs), fake=False
    ).collect()
    assert len(rows) == 1
    assert rows[0].err is not None  # text bytes are not valid media
    assert rows[0].fmt == "unknown"


def test_mm_resize_and_frames(spark, sf_dir):
    from bd_spark.catalog import table
    from bd_spark.operators import multimodal

    assets = multimodal.assets_from_documents(table(spark, "documents", sf_dir))
    rs = multimodal.resize_images(assets.limit(5), 8, 4)
    rows = rs.collect()
    assert all(len(r.payload) == 32 for r in rows)
    assert {(r.width, r.height) for r in rows} == {(8, 4)}

    fr = multimodal.sample_frames(assets.limit(5), frame_bytes=100, every_n=2)
    got = fr.collect()
    assert all(r.frame_idx % 2 == 0 for r in got)
    assert all(0 < r.frame_bytes <= 100 for r in got)
    # frame_sum equals the byte sum of the corresponding chunk
    one = table(spark, "documents", sf_dir).limit(1).collect()[0]
    payload = one.text.encode("utf-8")
    expect = sum(payload[0:100])
    first = [r for r in got if r.asset_id == one.doc_id and r.frame_idx == 0]
    assert first and first[0].frame_sum == expect


def _union_find_labels(nodes, edges) -> dict:
    """Ground truth for connected components: node -> its component's
    min id, by a plain union-find (singletons label themselves)."""
    parent = {x: x for x in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in nodes}


def _star_lanes(spark, nodes, edges) -> dict[str, dict]:
    """connected_components_star labels on both lanes: the default
    (small graphs take the driver union-find) and the distributed star
    loop forced by small_graph_limit=0."""
    ids = spark.createDataFrame([(i,) for i in nodes], "id long")
    pairs = spark.createDataFrame(edges or [(0, 0)], "id_a long, id_b long")
    if not edges:
        pairs = pairs.where("id_a != id_a")  # empty frame, same schema
    return {
        lane: {
            r.id: r.cluster
            for r in dedup.connected_components_star(
                ids, pairs, small_graph_limit=limit
            ).collect()
        }
        for lane, limit in (("driver", None), ("distributed", 0))
    }


def test_connected_components(spark):
    # components: {0,1,2,3} (chain), {5,6}, singletons 4 and 7
    edges = [(0, 1), (1, 2), (2, 3), (5, 6)]
    want = {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 7}
    assert _union_find_labels(range(8), edges) == want
    for lane, got in _star_lanes(spark, list(range(8)), edges).items():
        assert got == want, lane


def test_curate_composite_invariants(spark, sf_dir):
    """The composite curation pipeline's totals must reconcile with
    its own stages: every kept doc passed the quality gate, survived
    exact dedup, and is its near-dup cluster's representative."""
    from bd_spark.catalog import table
    from bd_spark.queries.pipeline import pipe_curate

    out = pipe_curate(spark, sf_dir).collect()
    assert out, "curation must keep at least one language bucket"
    assert sorted(out[0].asDict()) == [
        "avg_quality", "lang_pred", "n_docs", "total_tokens"
    ]
    kept_total = sum(r.n_docs for r in out)

    docs = table(spark, "documents", sf_dir)
    n_docs = docs.count()
    n_quality = docs.where(
        F.round(T.quality_score(F.col("text")), 6) >= 0.9
    ).count()
    n_unique_texts = (
        docs.where(F.round(T.quality_score(F.col("text")), 6) >= 0.9)
        .select("text").distinct().count()
    )
    assert 0 < kept_total <= n_unique_texts <= n_quality <= n_docs
    for r in out:
        assert 0.9 <= r.avg_quality <= 1.0


def test_connected_components_long_chain(spark):
    """Adversarial path graph: a 300-node chain has diameter 299, far
    past the star loop's max_iter=30 rounds if rounds grew with the
    diameter — star contraction's O(log n) rounds must still converge
    it to one component, plus keep an isolated node and a separate
    triangle correct."""
    n = 300
    chain = [(i, i + 1) for i in range(n - 1)]
    triangle = [(n, n + 1), (n + 1, n + 2), (n, n + 2)]
    nodes = list(range(n + 4))
    want = _union_find_labels(nodes, chain + triangle)
    assert all(want[i] == 0 for i in range(n))          # whole chain -> 0
    assert all(want[i] == n for i in (n, n + 1, n + 2))  # triangle -> n
    assert want[n + 3] == n + 3                          # singleton
    for lane, got in _star_lanes(spark, nodes, chain + triangle).items():
        assert got == want, lane


def test_star_contraction_adversarial_shapes(spark):
    """connected_components_star must equal the union-find ground truth
    on adversarial shapes: chain (high diameter), quasi-cliques (the
    LSH near-dup shape), a random sparse graph, and an empty edge set
    — on both lanes: the size guard may only pick a plan, never change
    labels."""
    import random

    rnd = random.Random(42)
    shapes = {
        "chain": [(i, i + 1) for i in range(49)],
        "cliques": [
            (a, b)
            for base in (100, 200, 300)
            for a in range(base, base + 6)
            for b in range(a + 1, base + 6)
        ],
        "random": [
            (rnd.randrange(60), rnd.randrange(60)) for _ in range(80)
        ],
        "empty": [],
    }
    for name, edges in shapes.items():
        nodes = sorted(
            {x for e in edges for x in e} | {400, 401}
        )  # plus guaranteed singletons
        want = _union_find_labels(nodes, edges)
        for lane, got in _star_lanes(spark, nodes, edges).items():
            assert got == want, f"label mismatch on {name} ({lane} lane)"


def test_decontaminate_broadcast_and_shuffle_paths_agree(spark):
    """The broadcast-set fast path and the shuffled-join fallback must
    produce identical flags/counts — the guard threshold only picks a
    plan, never a result."""
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated content with zero overlap here!"),
            (3, "xy"),  # shorter than n -> no grams -> clean
        ],
        ["doc_id", "text"],
    )
    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox is a benchmark sentence")],
        ["doc_id", "text"],
    )
    bc = {
        r.id: (r.n_hits, r.contaminated)
        for r in T.decontaminate(train, eval_df, "doc_id", "text", n=13).collect()
    }
    sh = {
        r.id: (r.n_hits, r.contaminated)
        for r in T.decontaminate(
            train, eval_df, "doc_id", "text", n=13, broadcast_threshold=0
        ).collect()
    }
    assert bc == sh
    assert bc[1][1] is True and bc[1][0] > 0   # shares "the quick brown fox"
    assert bc[2] == (0, False)
    assert bc[3] == (0, False)


def test_sample_by_hash_deterministic_and_stratified(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    a = T.sample_by_hash(docs, "doc_id", 0.5).collect()
    b = T.sample_by_hash(docs.repartition(7), "doc_id", 0.5).collect()
    # pure function of the id: identical sample under any partitioning
    assert {r.doc_id for r in a} == {r.doc_id for r in b}
    n = docs.count()
    assert 0.4 * n < len(a) < 0.6 * n
    strat = T.sample_by_hash(
        docs, "doc_id", 0.5, stratum_cols=["lang"],
        fractions={"en": 0.1, "zh": 0.9},
    )
    rates = {
        r["lang"]: r["kept"] / r["total"]
        for r in strat.groupBy("lang").agg(F.count("*").alias("kept"))
        .join(
            docs.groupBy("lang").agg(F.count("*").alias("total")), "lang"
        )
        .collect()
    }
    assert rates["en"] < 0.25 and rates["zh"] > 0.75


def test_star_contraction_random_graphs_vs_union_find(spark):
    """Property check on random graphs: connected_components_star must
    equal a plain union-find ground truth (min id per component) for
    arbitrary edge sets — stronger than the fixed adversarial shapes."""
    import random

    for seed in (1, 2, 3, 4, 5):
        rnd = random.Random(seed)
        n = rnd.randrange(5, 60)
        m = rnd.randrange(0, 2 * n)
        edges = [(rnd.randrange(n), rnd.randrange(n)) for _ in range(m)]
        want = _union_find_labels(range(n), edges)
        for lane, got in _star_lanes(spark, list(range(n)), edges).items():
            assert got == want, f"seed {seed}: mismatch ({lane})"


def test_token_budget_semantics(spark):
    """Greedy budget admission: docs enter in (quality desc, id asc)
    order while the budget is not exhausted BEFORE them — the last
    admitted doc may overflow the budget, the next one never enters."""
    from bd_spark.queries.pipeline import pipe_token_budget  # noqa: F401
    from pyspark.sql import Window

    docs = spark.createDataFrame(
        [
            (1, "en", 0.9, 40),
            (2, "en", 0.8, 50),   # cum 90 < 100 -> admitted (overflows to 90)
            (3, "en", 0.7, 30),   # cum before = 90 < 100 -> admitted, cum 120
            (4, "en", 0.6, 10),   # cum before = 120 >= 100 -> rejected
            (5, "zh", 0.5, 200),  # first in stratum always admitted
            (6, "zh", 0.4, 10),
        ],
        ["doc_id", "lang", "q", "n_tokens"],
    )
    w = Window.partitionBy("lang").orderBy(F.desc("q"), F.asc("doc_id"))
    out = (
        docs.withColumn("cum", F.sum("n_tokens").over(w))
        .where(F.col("cum") - F.col("n_tokens") < 100)
    )
    kept = {r.doc_id for r in out.collect()}
    assert kept == {1, 2, 3, 5}


def test_lm_score_bigram_model_hand_check(spark):
    """lm_score on a corpus tiny enough to compute by hand:
    tokens a:3 b:3 c:2, min_count=3 -> vocab {a, b}, c -> <unk>,
    V = 3, all conditioning contexts have count 3."""
    import math

    from bd_spark.operators.text import lm_score

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "c")],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in lm_score(docs, min_count=3, alpha=0.5).collect()
    }
    # doc 3 has a single token -> no bigrams -> no row
    assert set(out) == {1, 2}
    p_hi = (3 + 0.5) / (3 + 0.5 * 3)   # c(ctx)=3, cb=3: (a,b)
    p_lo = (1 + 0.5) / (3 + 0.5 * 3)   # cb=1: (b,a) and (b,<unk>)
    exp1 = -(2 * math.log(p_hi) + math.log(p_lo)) / 3
    exp2 = -(math.log(p_hi) + math.log(p_lo)) / 2
    assert out[1].n_bigrams == 3 and out[2].n_bigrams == 2
    assert abs(out[1].xent - round(exp1, 6)) < 1e-9
    assert abs(out[2].xent - round(exp2, 6)) < 1e-9


def test_bm25_hand_check(spark):
    """BM25 on a 3-doc corpus small enough to compute by hand."""
    import math

    from bd_spark.operators.text import bm25

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "a c"), (3, "c c c")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in bm25(docs, ["a"]).collect()}
    # df(a)=2, N=3, avgdl = (3+2+3)/3
    assert set(out) == {1, 2}
    idf = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1)
    avgdl = 8 / 3

    def s(tf, dl):
        return idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))

    assert out[1].n_hit == 1 and out[2].n_hit == 1
    assert abs(out[1].bm25 - round(s(2, 3), 6)) < 1e-9
    assert abs(out[2].bm25 - round(s(1, 2), 6)) < 1e-9


def test_dsir_selects_target_like_docs(spark):
    """DSIR must up-weight documents whose n-gram profile matches the
    target model: with a vocabulary split between target-ish and
    source-ish tokens, the top half of the selection should be
    dominated by target-like docs, and logw must be higher for a
    target-like doc than a source-like one."""
    from pyspark.sql import functions as F

    from bd_spark.operators.text import dsir_select

    rows = []
    for i in range(60):
        if i % 2 == 0:  # target-like content, flagged as target
            rows.append((i, "alpha beta gamma alpha beta", True))
        else:           # source-only content
            rows.append((i, "zork quux blarg zork quux", False))
    # plus unlabeled docs of both flavors — selection should prefer
    # the alpha-flavored ones
    rows += [(100, "alpha beta gamma beta alpha", False),
             (101, "zork quux blarg quux zork", False)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "is_t"])
    out = dsir_select(docs, "doc_id", "text", F.col("is_t"), m=16, k=20)
    got = {r.doc_id: r for r in out.collect()}
    assert len(got) == 20
    assert got, "selection is empty"
    # every selected doc carries the deterministic key fields
    assert all(r.n_grams > 0 for r in got.values())
    full = {
        r.doc_id: r.logw
        for r in dsir_select(
            docs, "doc_id", "text", F.col("is_t"), m=16, k=1000
        ).collect()
    }
    assert full[100] > full[101], (full[100], full[101])
    # target-like docs all share one logw, source-like another
    assert full[0] == full[2] and full[1] == full[3]
    assert full[0] > full[1]


def test_substring_dup_stats_hand_check(spark):
    """Two docs sharing a long verbatim span are mutually flagged;
    a unique doc has zero duplicated windows; a short doc (< k chars)
    produces no row."""
    from bd_spark.operators.dedup import substring_dup_stats

    shared = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "green bottles stand quietly on the old stone wall beside the "
        "river and the miller grinds wheat into flour all day long"
    )
    docs = spark.createDataFrame(
        [
            (1, shared + " tail one unique alpha beta gamma delta"),
            (2, "prefix two unique " + shared),  # DIFFERENT offset
            (3, "completely different text with no overlap whatsoever "
                "zork quux blarg etc etc etc"),
            (4, "tiny"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in
           substring_dup_stats(docs, "doc_id", "text", k=40, stride=10)
           .collect()}
    assert set(out) == {1, 2, 3}          # doc 4 anchors no window
    # content-defined anchors align on content, so the shared span is
    # detected even though its offset differs between the two docs
    # (0 vs 18 — a fixed-stride scheme would need offsets congruent
    # mod stride); a ~180-char span carries ~(L-k)/stride ≈ 14
    # expected anchors, so detection is near-certain
    assert out[1].n_dup > 0 and out[2].n_dup > 0
    assert out[3].n_dup == 0 and out[3].flagged is False
    assert out[1].dup_frac == round(out[1].n_dup / out[1].n_windows, 6)


def test_substring_dup_arrow_sql_lane_parity(spark):
    """The r8 Arrow/numpy window-hash scan must be BIT-identical to
    the pure-SQL expression lane (str_codes + poly + Horner — the
    DuckDB oracle's twin) on adversarial inputs: non-ASCII and
    non-BMP codepoints, whitespace trimming, upper-case folding,
    doc shorter than the window, doc shorter than the anchor gram,
    empty and NULL text."""
    from bd_spark.operators.dedup import substring_dup_stats

    shared = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "green bottles stand quietly on the old stone wall"
    )
    docs = spark.createDataFrame(
        [
            (1, shared + " alpha beta"),
            (2, "prefix " + shared),
            (3, "汉字漢字 émile naïve " + shared + " 日本語テキスト🙂🙂"),
            (4, "  UPPER Case " + shared + "   "),
            (5, "short"),
            (6, "x" * 39),     # one less than k
            (7, "seven"),      # less than anchor_n
            (8, ""),
            (9, None),
        ],
        "doc_id long, text string",
    )
    rows = lambda eng: sorted(  # noqa: E731
        [tuple(r) for r in substring_dup_stats(
            docs, "doc_id", "text", k=40, stride=10, engine=eng
        ).collect()]
    )
    assert rows("arrow") == rows("sql")


def test_multimodal_oracles_non_ascii(spark, tmp_path):
    """The mm/image/audio oracle SQL must track the ENGINE's UTF-8
    payload BYTES, not codepoints (r7 ADVICE: the old unicode(ch)
    oracles agreed only because sf* documents happen to be
    ASCII-only). Differential on a deliberately non-ASCII corpus."""
    import duckdb

    from bd_spark.queries import pipeline as P
    from bd_spark.queries import registry as R

    texts = [
        "héllo wörld " * 40,              # 2-byte UTF-8 seqs
        "日本語のテキストです。" * 30,      # 3-byte seqs
        "emoji 🎉 mix 🚀 " * 25,           # 4-byte seqs
        "plain ascii only " * 30,
        "héllo wörld " * 40,              # dup of 0 (near-dup pairs)
    ]
    rows = [
        (i, t, "xx", "src", len(t)) for i, t in enumerate(texts)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    )
    pq = str(tmp_path / "documents.parquet")
    docs.coalesce(1).write.parquet(pq)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{pq}/*.parquet'"
    )
    import test_extra_oracle as teo

    sqls = {**R.all_oracles(), **R.extra_oracles()}
    for name in (
        "pipe_mm_decode", "pipe_mm_frames",
        "pipe_image_neardup", "pipe_audio_neardup",
    ):
        fn = {**R.all_queries(), **R.extra_queries()}[name]
        df = fn(spark, str(tmp_path))
        sh = teo._table_hash(
            df.columns, [tuple(r) for r in df.collect()]
        )
        rel = con.sql(sqls[name])
        oh = teo._table_hash(
            [d[0] for d in rel.description], rel.fetchall()
        )
        assert sh == oh, f"{name}: spark {sh} != oracle {oh}"
    con.close()


def test_incremental_dedup_flags_and_losslessness(spark):
    """build_dedup_index + incremental_dedup (r9): a new shard is
    flagged against the corpus FINGERPRINT index only — exact dups by
    content hash (cross-block), near dups by hashed-gram Jaccard
    within blocks. Crafted docs exercise the lanes the parquet
    testdata doesn't (exact copies; shard grams unseen in the corpus,
    which must only widen the shard prefix, never drop a pair), and
    the prefix-filtered result must equal the naive all-pairs
    Jaccard (losslessness)."""
    from pyspark.sql import functions as F

    from bd_spark.operators import dedup
    from bd_spark.operators.hashing import h31
    from bd_spark.operators.text import char_ngrams

    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy dog again and AGAIN"
    corpus_rows = [
        (1, base, "en"),
        (2, "completely different corpus text about spark plans", "en"),
        (3, "short", "en"),             # < 5 grams edge
        (4, base, "de"),                # same text, other block
    ]
    shard_rows = [
        (10, base, "en"),               # exact dup of 1 AND 4; near of 1
        (11, near, "en"),               # near dup of 1 (casefolded -> high J)
        (12, "zzz totally novel unseen gram content xyzzy", "en"),  # novel
        (13, "shor", "en"),             # no grams at n=5
    ]
    cols = ["doc_id", "text", "lang"]
    corpus = spark.createDataFrame(corpus_rows, cols)
    shard = spark.createDataFrame(shard_rows, cols)
    idx = dedup.build_dedup_index(corpus, "doc_id", "text", ["lang"], n=5)
    out = {
        r.id: r
        for r in dedup.incremental_dedup(
            shard, idx, "doc_id", "text", ["lang"], n=5, threshold=0.6
        ).collect()
    }
    assert len(out) == 4
    # exact: content-hash match ignores blocks -> min(1, 4) = 1
    assert out[10].dup_exact and out[10].exact_src == 1
    assert out[10].near_src == 1 and out[10].jaccard == 1.0
    assert not out[11].dup_exact and out[11].exact_src is None
    assert out[11].near_src == 1 and out[11].jaccard >= 0.6
    assert not out[12].dup_exact and out[12].near_src is None
    assert out[13].near_src is None  # no grams -> no near lane
    # losslessness: naive blocked all-pairs Jaccard >= t gives the
    # same (id, best near_src) set
    def grams(df):
        return df.select(
            F.col("doc_id").alias("id"), "lang",
            F.array_distinct(
                F.transform(
                    F.array_distinct(char_ngrams(F.col("text"), 5)), h31
                )
            ).alias("g"),
        )
    a, b = grams(shard).alias("a"), grams(corpus).alias("b")
    inter = F.size(F.array_intersect(F.col("a.g"), F.col("b.g")))
    union = F.size("a.g") + F.size("b.g") - inter
    j = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    naive = (
        a.join(b, F.col("a.lang") == F.col("b.lang"))
        .select(
            F.col("a.id").alias("id"), F.col("b.id").alias("src"),
            F.round(j, 6).alias("jacc"),
        )
        .where(F.col("jacc") >= 0.6)
        .collect()
    )
    best = {}
    for r in naive:
        cur = best.get(r.id)
        if cur is None or (r.jacc, -r.src) > (cur[1], -cur[0]):
            best[r.id] = (r.src, r.jacc)
    got = {
        i: (r.near_src, r.jaccard)
        for i, r in out.items()
        if r.near_src is not None
    }
    assert got == best


def test_dedup_index_store_batch_matches_inline(spark, tmp_path):
    """DedupIndexStore (r10): the persisted-state batch path —
    freq + index prefix materialized once at write time — is
    row-identical to the inline-derivation path, including when the
    query threshold is HIGHER than the build threshold (the local
    rk-refilter); a query threshold BELOW the build threshold is
    refused (the stored prefix would be lossy); versions time-travel
    and stay self-consistent."""
    from bd_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy dog again and AGAIN"
    corpus_rows = [
        (1, base, "en"),
        (2, "completely different corpus text about spark plans", "en"),
        (3, "short", "en"),
        (4, base, "de"),
    ]
    shard_rows = [
        (10, base, "en"),
        (11, near, "en"),
        (12, "zzz totally novel unseen gram content xyzzy", "en"),
        (13, "shor", "en"),
    ]
    cols = ["doc_id", "text", "lang"]
    corpus = spark.createDataFrame(corpus_rows, cols)
    shard = spark.createDataFrame(shard_rows, cols)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    idx = dedup.build_dedup_index(corpus, "doc_id", "text", ["lang"], n=5)
    inline = rows(dedup.incremental_dedup(
        shard, idx, "doc_id", "text", ["lang"], n=5, threshold=0.6
    ))
    store = dedup.DedupIndexStore(spark, str(tmp_path / "st"))
    # build at a LOWER threshold: the stored prefix is longer than
    # the 0.6 query needs — dedup_batch must re-filter it losslessly
    v0 = store.write(corpus, "doc_id", "text", ["lang"],
                     n=5, threshold=0.5)
    assert v0 == 0 and store.current_version() == 0
    assert rows(store.dedup_batch(shard, "doc_id", "text",
                                  threshold=0.6)) == inline
    # build threshold == query threshold (the common case)
    v1 = store.write(corpus, "doc_id", "text", ["lang"],
                     n=5, threshold=0.6)
    assert v1 == 1
    assert rows(store.dedup_batch(shard, "doc_id", "text")) == inline
    # time-travel to v0 still works after the v1 commit
    assert rows(store.dedup_batch(shard, "doc_id", "text",
                                  threshold=0.6, version=0)) == inline
    # a query threshold below the build threshold is a hard error
    import pytest as _pytest
    with _pytest.raises(ValueError, match="threshold"):
        store.dedup_batch(shard, "doc_id", "text", threshold=0.4)
    spark.catalog.clearCache()


def test_dedup_index_store_scheme_and_orphan_vacuum(spark, tmp_path):
    """r11: (a) a store version stamped with a DIFFERENT gram-hash
    scheme is refused at read() — probing poly31 hashes against
    persisted md5-h31 values would silently produce empty joins;
    (b) vacuum drops sub-store versions by the parent manifest's
    EXPLICIT reference sets, so an orphan sub-version (crash between
    a sub-store write and the parent commit) can never push a
    still-referenced older sub-version out of a count-based keep
    window (ADVICE r10)."""
    import json as _json
    import os as _os

    import pytest as _pytest

    from bd_spark.operators import dedup

    cols = ["doc_id", "text", "lang"]
    corpus = spark.createDataFrame(
        [(1, "some corpus text body one", "en"),
         (2, "another corpus text body two", "en")], cols)
    shard = spark.createDataFrame(
        [(10, "some corpus text body one", "en")], cols)
    store = dedup.DedupIndexStore(spark, str(tmp_path / "st"))
    for _ in range(3):  # parent versions 0, 1, 2
        store.write(corpus, "doc_id", "text", ["lang"], n=5, threshold=0.6)

    # (a) scheme mismatch is a loud error
    mpath = _os.path.join(str(tmp_path / "st"), "_state.json")
    with open(mpath) as f:
        m = _json.load(f)
    assert all(e["gram_hash"] == "poly31" for e in m["versions"])
    m["versions"][0]["gram_hash"] = "md5h31"
    with open(mpath, "w") as f:
        _json.dump(m, f)
    with _pytest.raises(ValueError, match="gram-hash scheme"):
        store.read(version=0)
    m["versions"][0]["gram_hash"] = "poly31"
    with open(mpath, "w") as f:
        _json.dump(m, f)

    # (b) orphan sub-version: simulate a crash that committed an
    # index sub-version without a parent manifest entry
    orphan_v = store._index.write(
        dedup.build_dedup_index(corpus, "doc_id", "text", ["lang"], n=5)
    )
    assert orphan_v == 3
    dropped = store.vacuum(keep=2)
    assert dropped == [0]
    # the still-referenced sub-versions (parent entries 1 and 2)
    # survive even though the orphan inflated the sub-store's version
    # count — count-based retention (keep newest 2) would have
    # dropped sub-version 1 here
    assert store._index.read(1) is not None
    assert len(store.dedup_batch(shard, "doc_id", "text",
                                 version=1).collect()) == 1
    # the orphan is the sub-store's CURRENT version, so it is kept
    # (harmless disk) until the next write+vacuum cycle supersedes it
    store.write(corpus, "doc_id", "text", ["lang"], n=5, threshold=0.6)
    store.vacuum(keep=2)
    with _pytest.raises(ValueError):
        store._index.read(orphan_v)
    assert len(store.dedup_batch(shard, "doc_id", "text",
                                 version=2).collect()) == 1
    spark.catalog.clearCache()
