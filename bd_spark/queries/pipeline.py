"""LLM-data-pipeline queries (dedup / similarity / text / multimodal)
with exact DuckDB oracle twins.

Every hash, hyperplane, and heuristic constant is engine-portable
(bd_spark.operators.hashing), so the oracles reproduce the Spark
results bit-for-bit — these are full correctness gates, not
rows-only checks, even for MinHash-LSH and sign-LSH ANN.
"""

from __future__ import annotations

import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bd_spark.catalog import rebalance, table
from bd_spark.operators import dedup, multimodal, similarity
from bd_spark.operators import text as T
from bd_spark.operators.hashing import (
    P31, horner_window_duckdb, minhash_coefficients, poly_gram_hash_duckdb,
)

# ---------------------------------------------------------------- shared SQL

# tokenizer twin of operators.text.tokens (regex split + drop empties)
_TOKS = r"""[t for t in regexp_split_to_array(lower(trim(text)), '\s+') if t <> '']"""


def _h60(expr: str) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def _h31(expr: str) -> str:
    return f"({_h60(expr)} % {P31})"


_A32, _B32 = minhash_coefficients(dedup.MINHASH_K)


# ---------------------------------------------------------------- dedup

def pipe_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5-hash groupBy, keep min doc_id (map-side
    combinable single shuffle)."""
    return dedup.exact_dedup(table(spark, "documents", sf_dir), "doc_id", "text")


PIPE_DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash,
       min(doc_id) AS keep_id,
       count(*) AS n_copies
FROM documents GROUP BY 1
"""


def pipe_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + LSH(8 bands x 4 rows) near-dup pairs, exact
    Jaccard >= 0.7 verified on candidates only."""
    return dedup.minhash_lsh_dedup(
        table(spark, "documents", sf_dir), "doc_id", "text", threshold=0.7
    )


def _minhash_pairs_sql(src: str = "documents") -> str:
    """The MinHash-LSH pair query as a reusable fragment over any
    relation with (doc_id, text) — used standalone and inside the
    composite curation oracle."""
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS w FROM {src}
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(w[i+1:i+3], ' ')
                        for i in range(greatest(len(w) - 2, 0))]) AS shingles
  FROM toks
), hs AS (
  SELECT doc_id, shingles,
         [{_h31('s')} for s in shingles] AS hh,
         list_distinct([{_h31('s')} for s in shingles]) AS hset
  FROM sh
), sig AS (
  SELECT doc_id,
         [list_min([({_A32}[j+1] * h + {_B32}[j+1]) % {P31} for h in hh])
          for j in range(32)] AS sig
  FROM hs WHERE len(hh) > 0
), bands AS (
  SELECT doc_id, j AS band_idx,
         array_to_string([CAST(x AS VARCHAR) for x in sig[j*4+1:j*4+4]], '_') AS band_key
  FROM sig, range(8) t(j)
), cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bands l JOIN bands r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key
   AND l.doc_id < r.doc_id
)
SELECT id_a, id_b, jaccard FROM (
  SELECT id_a, id_b,
         round(CAST(len(list_intersect(a.hset, b.hset)) AS DOUBLE)
               / (len(a.hset) + len(b.hset)
                  - len(list_intersect(a.hset, b.hset))), 6) AS jaccard
  FROM cand JOIN hs a ON cand.id_a = a.doc_id
            JOIN hs b ON cand.id_b = b.doc_id
) WHERE jaccard >= 0.7
"""


PIPE_DEDUP_MINHASH_SQL = _minhash_pairs_sql()


def pipe_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit count-weighted SimHash near-dup pairs (Hamming <= 2)
    via 4x15-bit chunk bucketing (pigeonhole-complete for <= 3)."""
    return dedup.simhash_near_dupes(
        table(spark, "documents", sf_dir), "doc_id", "text", max_hamming=2
    )


PIPE_DEDUP_SIMHASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS w FROM documents
), th AS (
  SELECT doc_id, w, list_distinct(w) AS dt FROM toks
), sim AS (
  SELECT doc_id,
         CAST(coalesce(list_sum(
           [CASE WHEN CAST(coalesce(list_sum(
                  [CASE WHEN ({_h60('t')} >> i) & 1 = 1
                        THEN len([x for x in w if x = t])
                        ELSE -len([x for x in w if x = t]) END for t in dt]
                ), 0) AS BIGINT) > 0
                 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END for i in range(60)]
         ), 0) AS BIGINT) AS simhash
  FROM th
), chunks AS (
  SELECT doc_id, simhash, j AS chunk_idx,
         (simhash >> CAST(j * 15 AS INTEGER)) & 32767 AS chunk_val
  FROM sim, range(4) t(j)
), cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
                  l.simhash AS sa, r.simhash AS sb
  FROM chunks l JOIN chunks r
    ON l.chunk_idx = r.chunk_idx AND l.chunk_val = r.chunk_val
   AND l.doc_id < r.doc_id
)
SELECT id_a, id_b, hamming FROM (
  SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming FROM cand
) WHERE hamming <= 2
"""


def pipe_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact char-5-gram Jaccard >= 0.6 within (lang, length-bucket)
    blocks — the exact verifier; LSH is the at-scale candidate path."""
    docs = table(spark, "documents", sf_dir).withColumn(
        "len_bucket", F.floor(F.col("n_chars") / 100)
    )
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", ["lang", "len_bucket"], n=5, threshold=0.6
    )


# verify twin: Jaccard over P31-polynomial-hashed gram sets — the
# bit-identical DuckDB twin of hashing.poly_gram_hashes (r11; the
# md5-h31 form's generated code paid ~2.5 s of first-exec compile)
PIPE_DEDUP_NGRAM_SQL = f"""
WITH g AS (
  SELECT doc_id, lang, CAST(floor(n_chars / 100) AS BIGINT) AS len_bucket,
         list_distinct([{poly_gram_hash_duckdb('cs', 5)}
                        for i in range(greatest(len(cs) - 4, 0))]) AS grams
  FROM (SELECT doc_id, lang, n_chars,
               [unicode(ch) for ch in str_split(lower(trim(text)), '')] AS cs
        FROM documents)
)
SELECT id_a, id_b, round(j, 6) AS jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
           / (len(a.grams) + len(b.grams)
              - len(list_intersect(a.grams, b.grams))) AS j
  FROM g a JOIN g b
    ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
) WHERE j >= 0.6
"""


def pipe_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time cross-shard dedup (r9): docs with doc_id % 5 ==
    0 arrive as the NEW shard; the rest are the already-ingested
    corpus, represented ONLY by its fingerprint index
    (build_dedup_index: content hash + hashed 5-gram set per doc).
    Each new doc is flagged exact-dup (hash match anywhere) and/or
    near-dup (best gram-Jaccard >= 0.6 within (lang, len-bucket)
    blocks) without re-reading corpus text — the append-only corpus
    shape where every batch is a tiny fraction of 100 TB and a full
    re-dedup per batch is unaffordable. Prefix/size/positional
    filters are the lossless PPJoin family (ngram_jaccard_pairs)."""
    docs = table(spark, "documents", sf_dir).withColumn(
        "len_bucket", F.floor(F.col("n_chars") / 100)
    )
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    shard = docs.where(F.col("doc_id") % 5 == 0)
    idx = dedup.build_dedup_index(
        corpus, "doc_id", "text", ["lang", "len_bucket"], n=5
    )
    return dedup.incremental_dedup(
        shard, idx, "doc_id", "text", ["lang", "len_bucket"],
        n=5, threshold=0.6,
    )


PIPE_DEDUP_INCREMENTAL_SQL = f"""
WITH base AS (
  SELECT doc_id, lang, CAST(floor(n_chars / 100) AS BIGINT) AS len_bucket,
         md5(text) AS content_hash,
         list_distinct([{poly_gram_hash_duckdb('cs', 5)}
                        for i in range(greatest(len(cs) - 4, 0))]) AS grams
  FROM (SELECT doc_id, lang, n_chars, text,
               [unicode(ch) for ch in str_split(lower(trim(text)), '')] AS cs
        FROM documents)
), corpus AS (
  SELECT * FROM base WHERE doc_id % 5 <> 0
), shard AS (
  SELECT * FROM base WHERE doc_id % 5 = 0
), ex AS (
  SELECT s.doc_id AS id, min(c.doc_id) AS exact_src
  FROM shard s JOIN corpus c USING (content_hash)
  GROUP BY s.doc_id
), near AS (
  -- unrounded threshold filter BEFORE ranking (matches the Spark
  -- side's lossless-filter guarantee); rank + output on the rounded
  -- value (Spark's tie-break order)
  SELECT id, near_src, jaccard FROM (
    SELECT id, near_src, round(j, 6) AS jaccard,
           row_number() OVER (
             PARTITION BY id ORDER BY round(j, 6) DESC, near_src ASC
           ) AS rn
    FROM (
      SELECT s.doc_id AS id, c.doc_id AS near_src,
             CAST(len(list_intersect(s.grams, c.grams)) AS DOUBLE)
               / (len(s.grams) + len(c.grams)
                  - len(list_intersect(s.grams, c.grams))) AS j
      FROM shard s JOIN corpus c
        ON s.lang = c.lang AND s.len_bucket = c.len_bucket
       AND len(s.grams) + len(c.grams) > 0
    ) WHERE j >= 0.6
  ) WHERE rn = 1
)
SELECT s.doc_id AS id,
       ex.exact_src IS NOT NULL AS dup_exact,
       ex.exact_src AS exact_src,
       near.near_src AS near_src,
       near.jaccard AS jaccard
FROM shard s
LEFT JOIN ex ON ex.id = s.doc_id
LEFT JOIN near ON near.id = s.doc_id
"""


def pipe_dedup_incremental_persisted(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """The PERSISTED-STATE shape of pipe_dedup_incremental (r10,
    closing r9 VERDICT wrong #1): the corpus fingerprint index, its
    per-block gram-frequency table and its PPJoin prefix are built
    and committed ONCE (DedupIndexStore — one atomic versioned
    triple), then the batch runs against the committed snapshot in
    O(shard + candidates): no explode, window, or shuffle over the
    index side appears in the batch plan (tests/test_plans.py pins
    this). Hash-equal to pipe_dedup_incremental by construction.

    The store lives under a path keyed by (sf, corpus mtime) so
    repeated calls — bench reps, the correctness gate — reuse the
    committed state: the first call pays the build (the honest
    once-per-snapshot cost, visible as this query's cold time), later
    calls measure the batch phase alone, which is the operator's
    actual per-ingestion cost."""
    docs = table(spark, "documents", sf_dir).withColumn(
        "len_bucket", F.floor(F.col("n_chars") / 100)
    )
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    shard = docs.where(F.col("doc_id") % 5 == 0)
    src = os.path.join(sf_dir, "documents.parquet")
    try:
        stamp = int(os.path.getmtime(src))
    except OSError:
        stamp = 0
    key = re.sub(r"[^A-Za-z0-9._-]", "_", sf_dir.rstrip("/"))
    # fmt salt: bump when index/derivation semantics change, so a
    # stale on-disk store from an older code version is never reused
    # (f2: r11 gram-hash scheme poly31 — the store's own gram_hash
    # stamp would reject an f1 store loudly; the salt avoids even that)
    path = os.path.join(
        tempfile.gettempdir(), f"bd_spark_dedup_index_f2_{key}_{stamp}"
    )
    store = dedup.DedupIndexStore(spark, path)
    if store.current_version() is None:
        try:
            store.write(
                corpus, "doc_id", "text", ["lang", "len_bucket"],
                n=5, threshold=0.6,
            )
        except Exception:
            # check-then-write race (ADVICE r10): a concurrent process
            # won the first build and the loser's sub-store write
            # failed on errorifexists — use the winner's committed
            # state; re-raise only if nothing was committed
            if store.current_version() is None:
                raise
    return store.dedup_batch(shard, "doc_id", "text")


def pipe_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment: connected components by
    alternating star contraction (Kiveris et al.) over the
    MinHash-LSH pair graph; every doc gets its component's min doc_id
    as cluster label (the fixed point of min-label propagation, which
    the recursive-CTE oracle computes; both star lanes are pinned
    against a union-find ground truth in
    test_star_contraction_adversarial_shapes)."""
    docs = table(spark, "documents", sf_dir)
    pairs = dedup.minhash_lsh_dedup(docs, "doc_id", "text", threshold=0.7)
    return dedup.connected_components_star(
        docs.select(F.col("doc_id").alias("id")), pairs
    )


# the same component labels via a recursive CTE over the same pair
# graph (min reachable id == fixed point of min-label propagation)
PIPE_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({PIPE_DEDUP_MINHASH_SQL}) mh
), edges AS (
  SELECT id_a AS s, id_b AS t FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS t FROM pairs
), reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.s, reach.r FROM edges e JOIN reach ON reach.id = e.t
)
SELECT id, min(r) AS cluster FROM reach GROUP BY id
"""


def pipe_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding high-similarity pairs: multi-band sign-LSH blocking
    + exact cosine verify on candidates.  Geometry auto-tunes with
    corpus size (similarity.neardup_geometry): at the sf0.01 gate
    n=2000 keeps the (4 bands x 8 planes) baseline the oracle SQL
    encodes; larger corpora widen to (7x12)/(12x16), holding bucket
    occupancy — and so candidates/row — constant instead of the
    quadratic 4*n^2/2^8 growth (VERDICT r4 next #7).

    Threshold 0.3 (not the real-world near-dup 0.95) because the
    synthetic embeddings are near-orthogonal random vectors — max
    pairwise cosine in the corpus is ~0.51; 0.95 would be vacuous.
    """
    return similarity.embedding_near_dupes(
        table(spark, "embeddings", sf_dir), dim=64, threshold=0.3
    )


_HYPER = (
    "((CAST('0x' || substr(md5('hp:' || j || ':' || d), 1, 15) AS BIGINT)"
    f" % {P31}) / {P31}.0 - 0.5)"
)

# banded buckets: plane i of band b is global plane b*8+i, the same
# md5-derived formula as the Spark side's hyperplane() (component d
# of plane j = md5('hp:j:d') mod P31, centered); a pair is a candidate when
# it collides in ANY band (DISTINCT over the band join)
PIPE_EMBED_NEARDUP_SQL = f"""
WITH v AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings
), s AS (
  SELECT vec_id, v, CAST(j // 8 AS BIGINT) AS band, CAST(j % 8 AS INTEGER) AS bit,
         list_sum([v[d+1] * {_HYPER} for d in range(64)]) AS sgn
  FROM v, range(32) t(j)
), bk AS (
  SELECT vec_id, v, band,
         CAST(SUM(CASE WHEN sgn >= 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS bucket
  FROM s GROUP BY vec_id, v, band
), cand AS (
  SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b, l.v AS va, r.v AS vb
  FROM bk l JOIN bk r
    ON l.band = r.band AND l.bucket = r.bucket AND l.vec_id < r.vec_id
)
SELECT id_a, id_b, cos FROM (
  SELECT id_a, id_b,
         round(list_sum([va[i+1] * vb[i+1] for i in range(64)])
               / (sqrt(list_sum([x*x for x in va]))
                  * sqrt(list_sum([x*x for x in vb]))), 6) AS cos
  FROM cand
) WHERE cos >= 0.3
"""


# ---------------------------------------------------------------- similarity

def pipe_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for 8 query vectors: broadcast
    queries, one corpus scan, rank-shuffle of q*k rows only."""
    emb = table(spark, "embeddings", sf_dir)
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.brute_force_topk(emb, q, k=5)


PIPE_ANN_TOPK_SQL = """
WITH v AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 8
), scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_sum([c.v[i+1] * q.qv[i+1] for i in range(64)])
           / (sqrt(list_sum([x*x for x in c.v]))
              * sqrt(list_sum([x*x for x in q.qv]))) AS cos
  FROM v c CROSS JOIN q
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY round(cos, 9) DESC, neighbor_id
  ) AS rank FROM scored
) WHERE rank <= 5
"""


def pipe_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5 for 8 query vectors: 16 deterministic
    centroid lists, probe 4 — the at-scale ANN path (corpus scan
    fraction ~ nprobe/nlist; assignment is zero-shuffle)."""
    emb = table(spark, "embeddings", sf_dir)
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_topk(emb, q, k=5, nlist=16, nprobe=4)


PIPE_ANN_IVF_SQL = """
WITH v AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings
), c AS (
  SELECT vec_id AS cid, v AS cv, sqrt(list_sum([x*x for x in v])) AS cn
  FROM v WHERE vec_id < 16
), vc AS (
  SELECT v.vec_id, v.v, c.cid,
         round(list_sum([v.v[i+1] * c.cv[i+1] for i in range(64)])
               / (sqrt(list_sum([x*x for x in v.v])) * c.cn), 9) AS ccos
  FROM v CROSS JOIN c
), a AS (
  SELECT vec_id, v, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
    FROM vc
  ) WHERE rn = 1
), qp AS (
  SELECT vec_id AS query_id, v AS qv, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
    FROM vc WHERE vec_id < 8
  ) WHERE rn <= 4
), sc AS (
  SELECT qp.query_id, a.vec_id AS neighbor_id,
         list_sum([a.v[i+1] * qp.qv[i+1] for i in range(64)])
           / (sqrt(list_sum([x*x for x in a.v]))
              * sqrt(list_sum([x*x for x in qp.qv]))) AS cos
  FROM a JOIN qp ON a.cid = qp.cid
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY round(cos, 9) DESC, neighbor_id
  ) AS rank FROM sc
) WHERE rank <= 5
"""


def pipe_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 with k-MEANS-TRAINED centroids (VERDICT r4 missing
    #2): 2 deterministic spherical-Lloyd iterations from the lowest-id
    seeds (similarity.kmeans_fit), then the same zero-shuffle
    assign/probe/rank as pipe_ann_ivf. The oracle unrolls both
    training iterations in SQL — assignment (round-9 cosine argmax)
    and centroid update (round-6 per-dim mean, empty keeps previous)
    are hash-gated, not just the final ranking."""
    emb = table(spark, "embeddings", sf_dir)
    q = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_topk(emb, q, k=5, nlist=16, nprobe=4, train_iters=2)


_IVF_ASSIGN = """
, vc{o} AS (
  SELECT v.vec_id, v.v, c.cid,
         round(list_sum([v.v[i+1] * c.cv[i+1] for i in range(64)])
               / (sqrt(list_sum([x*x for x in v.v]))
                  * sqrt(list_sum([x*x for x in c.cv]))), 9) AS ccos
  FROM v CROSS JOIN c{i} c
), a{o} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
    FROM vc{o}
  ) WHERE rn = 1
), u{o} AS (
  SELECT a{o}.cid, e.dim, round(avg(e.x), 6) AS mx
  FROM a{o} JOIN (
    SELECT vec_id, CAST(generate_subscripts(v, 1) AS INT) AS dim,
           unnest(v) AS x
    FROM v
  ) e USING (vec_id)
  GROUP BY a{o}.cid, e.dim
), c{n} AS (
  SELECT c{i}.cid, coalesce(r.cv, c{i}.cv) AS cv
  FROM c{i} LEFT JOIN (
    SELECT cid, list(mx ORDER BY dim) AS cv FROM u{o} GROUP BY cid
  ) r USING (cid)
)"""

PIPE_ANN_IVF_TRAINED_SQL = (
    """
WITH v AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings
), c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
         v AS cv
  FROM (SELECT * FROM v ORDER BY vec_id LIMIT 16)
)"""
    + _IVF_ASSIGN.format(o=0, i=0, n=1)
    + _IVF_ASSIGN.format(o=1, i=1, n=2)
    + """
, vcf AS (
  SELECT v.vec_id, v.v, c.cid,
         round(list_sum([v.v[i+1] * c.cv[i+1] for i in range(64)])
               / (sqrt(list_sum([x*x for x in v.v]))
                  * sqrt(list_sum([x*x for x in c.cv]))), 9) AS ccos
  FROM v CROSS JOIN c2 c
), af AS (
  SELECT vec_id, v, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
    FROM vcf
  ) WHERE rn = 1
), qp AS (
  SELECT vec_id AS query_id, v AS qv, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
    FROM vcf WHERE vec_id < 8
  ) WHERE rn <= 4
), sc AS (
  SELECT qp.query_id, af.vec_id AS neighbor_id,
         list_sum([af.v[i+1] * qp.qv[i+1] for i in range(64)])
           / (sqrt(list_sum([x*x for x in af.v]))
              * sqrt(list_sum([x*x for x in qp.qv]))) AS cos
  FROM af JOIN qp ON af.cid = qp.cid
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY round(cos, 9) DESC, neighbor_id
  ) AS rank FROM sc
) WHERE rank <= 5
"""
)


def pipe_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) over the embeddings table:
    2-iteration k-means (16 clusters), then within-cluster cosine
    >= 0.3 flags later-id vectors as semantic duplicates (0.3, not
    the paper's ~0.95: the synthetic corpus is near-orthogonal). The
    oracle unrolls the identical training + assignment + pair
    verdicts in SQL."""
    emb = table(spark, "embeddings", sf_dir)
    return similarity.semantic_dedup(
        emb, k=16, threshold=0.3, train_iters=2
    ).select("vec_id", "cid", "is_dup")


PIPE_SEMANTIC_DEDUP_SQL = (
    """
WITH v AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings
), c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
         v AS cv
  FROM (SELECT * FROM v ORDER BY vec_id LIMIT 16)
)"""
    + _IVF_ASSIGN.format(o=0, i=0, n=1)
    + _IVF_ASSIGN.format(o=1, i=1, n=2)
    + """
, vcf AS (
  SELECT v.vec_id, v.v, c.cid,
         round(list_sum([v.v[i+1] * c.cv[i+1] for i in range(64)])
               / (sqrt(list_sum([x*x for x in v.v]))
                  * sqrt(list_sum([x*x for x in c.cv]))), 9) AS ccos
  FROM v CROSS JOIN c2 c
), af AS (
  SELECT vec_id, v, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
    FROM vcf
  ) WHERE rn = 1
), dups AS (
  SELECT DISTINCT b.vec_id
  FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE round(list_sum([a.v[i+1] * b.v[i+1] for i in range(64)])
              / (sqrt(list_sum([x*x for x in a.v]))
                 * sqrt(list_sum([x*x for x in b.v]))), 9) >= 0.3
)
SELECT af.vec_id, af.cid, (dups.vec_id IS NOT NULL) AS is_dup
FROM af LEFT JOIN dups ON af.vec_id = dups.vec_id
"""
)


def pipe_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (the training-pipeline 'class
    centroid' aggregation): posexplode to (label, dim, value) —
    uniform (label, dim) keys, fully map-side-combinable avg — then
    reassemble ordered arrays. No Python, no per-row UDF."""
    emb = table(spark, "embeddings", sf_dir)
    return (
        emb.select(
            "label", F.posexplode(F.col("embedding").cast("array<double>"))
        )
        .groupBy("label", "pos")
        .agg(
            F.round(F.avg("col"), 6).alias("centroid_val"),
            F.count("*").alias("n_vectors"),
        )
        .select("label", F.col("pos").cast("long").alias("dim"), "centroid_val", "n_vectors")
    )


PIPE_EMBED_CENTROIDS_SQL = """
WITH e AS (
  SELECT label,
         CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
)
SELECT label, dim, round(avg(x), 6) AS centroid_val, count(*) AS n_vectors
FROM e GROUP BY label, dim
"""


# ---------------------------------------------------------------- text

def pipe_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality metrics + composite score per document (Gopher/C4-style
    filters), all row-local codegen expressions."""
    docs = rebalance(table(spark, "documents", sf_dir))
    m = T.quality_metrics(F.col("text"))
    return docs.select(
        "doc_id",
        m["n_chars"].alias("n_chars_m"),
        m["n_tokens"].alias("n_tokens"),
        F.round(m["mean_token_len"], 6).alias("mean_token_len"),
        F.round(m["non_alpha_ratio"], 6).alias("non_alpha_ratio"),
        F.round(m["stopword_ratio"], 6).alias("stopword_ratio"),
        F.round(T.quality_score(F.col("text")), 6).alias("quality_score"),
    )


PIPE_TEXT_STATS_SQL = f"""
WITH t AS (
  SELECT doc_id, text, length(text) AS nc, {_TOKS} AS w FROM documents
), m AS (
  SELECT doc_id,
    CAST(nc AS BIGINT) AS n_chars_m,
    CAST(len(w) AS BIGINT) AS n_tokens,
    CASE WHEN len(w) > 0
         THEN CAST(coalesce(list_sum([length(t) for t in w]), 0) AS DOUBLE) / len(w)
         ELSE 0.0 END AS mean_token_len,
    CASE WHEN nc > 0
         THEN CAST(length(regexp_replace(lower(text), '[a-z ]', '', 'g')) AS DOUBLE) / nc
         ELSE 0.0 END AS non_alpha_ratio,
    CASE WHEN len(w) > 0
         THEN CAST(len([t for t in w if list_contains(['the','a','of','and','to','in','is','it'], t)]) AS DOUBLE) / len(w)
         ELSE 0.0 END AS stopword_ratio
  FROM t
)
SELECT doc_id, n_chars_m, n_tokens,
       round(mean_token_len, 6) AS mean_token_len,
       round(non_alpha_ratio, 6) AS non_alpha_ratio,
       round(stopword_ratio, 6) AS stopword_ratio,
       round(least(n_tokens / 20.0, 1.0)
             * (1.0 - least(non_alpha_ratio * 2, 1.0))
             * (CASE WHEN mean_token_len >= 2 AND mean_token_len <= 12
                     THEN 1.0 ELSE 0.5 END), 6) AS quality_score
FROM m
"""


def pipe_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language ID (argmax over 5 fixed lists)."""
    docs = rebalance(table(spark, "documents", sf_dir))
    scores = T.lang_scores(F.col("text"))
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_true"),
        T.lang_id(F.col("text")).alias("lang_pred"),
        F.round(scores["en"], 6).alias("en_score"),
    )


def _lang_list_sql(lang: str) -> str:
    words = ",".join(f"'{w}'" for w in T.LANG_STOPWORDS[lang])
    return (
        f"CASE WHEN len(w) > 0 THEN "
        f"CAST(len([t for t in w if list_contains([{words}], t)]) AS DOUBLE) / len(w) "
        f"ELSE 0.0 END"
    )


PIPE_TEXT_LANGID_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, {_TOKS} AS w FROM documents
), s AS (
  SELECT doc_id, lang,
    {_lang_list_sql('en')} AS s_en,
    {_lang_list_sql('es')} AS s_es,
    {_lang_list_sql('de')} AS s_de,
    {_lang_list_sql('fr')} AS s_fr,
    {_lang_list_sql('zh')} AS s_zh
  FROM t
)
SELECT doc_id, lang AS lang_true,
  CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) > 0 THEN
    CASE WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
         WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
         WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
         WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
         ELSE 'zh' END
  ELSE 'und' END AS lang_pred,
  round(s_en, 6) AS en_score
FROM s
"""


def pipe_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: global min-hash fingerprint + the
    winnowing fingerprint set (k=5 token shingles, window w=4)."""
    docs = rebalance(table(spark, "documents", sf_dir))
    return docs.select(
        "doc_id",
        T.fingerprint_minhash(F.col("text")).alias("fp"),
        # comma-joined (sorted, distinct) fingerprint set: scalar so the
        # driver's pandas canonicalizer can hash it
        F.array_join(
            T.winnowing_fingerprints(F.col("text"), k=5, w=4).cast("array<string>"),
            ",",
        ).alias("winnow"),
    )


PIPE_TEXT_FINGERPRINT_SQL = f"""
WITH toks AS (
  SELECT doc_id, text, {_TOKS} AS w FROM documents
), sh AS (
  SELECT doc_id, text,
         [array_to_string(w[i+1:i+5], ' ')
          for i in range(greatest(len(w) - 4, 0))] AS sh5
  FROM toks
), hs AS (
  SELECT doc_id, text, [{_h31('s')} for s in sh5] AS hh FROM sh
)
SELECT doc_id,
  CASE WHEN len(hh) > 0 THEN list_min(hh)
       ELSE (CAST('0x' || substr(md5(lower(trim(text))), 1, 15) AS BIGINT) % {P31})
  END AS fp,
  array_to_string(
    list_sort(list_distinct([list_min(hh[i+1:i+4])
                             for i in range(greatest(len(hh) - 3, 0))])),
    ',') AS winnow
FROM hs
"""


def pipe_text_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 terms per language by document frequency — the classic
    explode -> partial-agg -> top-k shape (the rank shuffle carries
    only per-language survivors)."""
    from pyspark.sql import Window

    docs = table(spark, "documents", sf_dir)
    df_ = (
        docs.select("lang", "doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
        .distinct()
        .groupBy("lang", "term")
        .agg(F.count("*").alias("doc_freq"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("doc_freq"), F.asc("term"))
    return (
        df_.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("lang", "term", "doc_freq", F.col("rank").cast("long").alias("rank"))
    )


PIPE_TEXT_TOPTERMS_SQL = f"""
WITH t AS (
  SELECT DISTINCT lang, doc_id, unnest({_TOKS}) AS term FROM documents
), df_ AS (
  SELECT lang, term, count(*) AS doc_freq FROM t GROUP BY lang, term
)
SELECT lang, term, doc_freq, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY lang ORDER BY doc_freq DESC, term
  ) AS rank FROM df_
) WHERE rank <= 10
"""


def pipe_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document: term frequencies and document
    frequencies are two independent map-side-combinable aggregations
    over one explode; the join back to docs is on uniform keys. The
    rank shuffle carries 3 rows per doc."""
    from pyspark.sql import Window

    docs = table(spark, "documents", sf_dir)
    toks = docs.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    dlen = toks.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    # n_docs stays in-plan: a broadcast 1-row aggregate folded into the
    # (already broadcast) idf side — no eager .count() action, no extra
    # scan of documents before the real job (VERDICT r01 item 6)
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    df_ = (
        toks.distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
    )
    score = F.round(
        (F.col("c") / F.col("n_tok")) * F.log(F.col("n_docs") / F.col("df")),
        6,
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        tf.join(dlen, "doc_id")
        .join(F.broadcast(df_), "term")
        .select("doc_id", "term", score.alias("tfidf"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf", F.col("rank").cast("long").alias("rank"))
    )


PIPE_TEXT_TFIDF_SQL = f"""
WITH t AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS c FROM t GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, count(*) AS n_tok FROM t GROUP BY doc_id
), dfq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY term
), s AS (
  SELECT tf.doc_id, tf.term,
         round((CAST(tf.c AS DOUBLE) / dl.n_tok)
               * ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) / dfq.df),
               6) AS tfidf
  FROM tf JOIN dl ON tf.doc_id = dl.doc_id JOIN dfq ON tf.term = dfq.term
)
SELECT doc_id, term, tfidf, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term
  ) AS rank FROM s
) WHERE rank <= 3
"""


# ---------------------------------------------------------------- multimodal

def pipe_mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode over binary payloads
    (deterministic fake codec; real codec stubbed, see
    operators.multimodal)."""
    assets = multimodal.assets_from_documents(table(spark, "documents", sf_dir))
    decoded = multimodal.decode_assets(assets, fake=True)
    # comma-joined histogram: scalar so the driver canonicalizer can hash it
    return decoded.withColumn(
        "hist16", F.array_join(F.col("hist16").cast("array<string>"), ",")
    )


PIPE_MM_DECODE_SQL = """
WITH c AS (
  -- UTF-8 BYTE values, matching the engine's encoded payload (r7
  -- ADVICE: codepoints only agreed on ASCII-only testdata)
  SELECT doc_id, text,
         [CAST(('0x' || substr(hex(encode(text)), 2*i+1, 2)) AS INT)
          for i in range(octet_length(encode(text)))] AS codes
  FROM documents
)
SELECT doc_id AS asset_id, 'image' AS media_type,
       CAST(len(codes) AS BIGINT) AS byte_len,
       CAST(coalesce(list_sum(codes), 0) AS BIGINT) AS byte_sum,
       array_to_string([CAST(len([x for x in codes if x % 16 = i]) AS BIGINT)
                        for i in range(16)], ',') AS hist16
FROM c
"""


def pipe_mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: 1->N mapInPandas fan-out (every 2nd 256-byte
    chunk of each payload as a 'frame')."""
    assets = multimodal.assets_from_documents(table(spark, "documents", sf_dir))
    return multimodal.sample_frames(assets, frame_bytes=256, every_n=2)


PIPE_MM_FRAMES_SQL = """
WITH c AS (
  -- frames are 256 PAYLOAD BYTES (512 hex chars of the UTF-8
  -- encoding), matching the engine's byte chunking (r7 ADVICE:
  -- character chunks only agreed on ASCII-only testdata)
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
), f AS (
  SELECT doc_id,
         unnest([i*2 for i in range(CAST(ceil(ceil(n/256.0)/2.0) AS BIGINT))])
           AS frame_idx,
         hx
  FROM c
), g AS (
  SELECT doc_id, frame_idx,
         substr(hx, CAST(frame_idx*512+1 AS BIGINT), 512) AS chunk
  FROM f
)
SELECT doc_id AS asset_id,
       CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(length(chunk) // 2 AS BIGINT) AS frame_bytes,
       CAST(coalesce(list_sum(
         [CAST(('0x' || substr(chunk, 2*i+1, 2)) AS INT)
          for i in range(length(chunk) // 2)]), 0) AS BIGINT)
         AS frame_sum
FROM g
"""


# ---------------------------------------------------------------- composite

def pipe_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship end-to-end curation pipeline — the operators above
    composed the way a pre-training corpus build actually runs:

      quality filter (Gopher/C4 heuristics, q >= 0.9)
      -> language ID (stopword argmax)
      -> exact dedup (md5 groupBy, keep min doc_id)
      -> near-dup collapse (MinHash-LSH pairs -> connected
         components, keep each cluster's min doc_id)
      -> per-language corpus stats.

    100 TB shape: the filter+langid stage is row-local codegen (no
    shuffle); exact dedup is one map-side-combinable shuffle; the
    LSH band join only ever compares within buckets; the final
    semi-joins are doc_id-keyed shuffles. Nothing is all-pairs and
    no stage needs a driver-side action.
    """
    docs = rebalance(table(spark, "documents", sf_dir))
    m = T.quality_metrics(F.col("text"))
    # r11: ONE materialization of the scored corpus (localCheckpoint)
    # feeds every downstream stage. Without it the giant quality/
    # langid regex trees sat in EVERY branch of every action's plan
    # (the exact-rep agg + the semi-join left side re-evaluated them,
    # and the composed pipeline paid ~1.3 s of pure driver
    # plan/analysis per rep — stageprof measured a 1.27 s stage-free
    # gap). Checkpointing truncates the lineage so the 7 downstream
    # jobs plan against a materialized scan (guide §3.3/§5); the
    # scorer runs exactly once. At cluster scale this is the worked-
    # example "fingerprints only" pass: materialize the decision
    # inputs, accept that executor loss forces a stage re-run.
    scored = docs.select(
        "doc_id",
        "text",
        T.lang_id(F.col("text")).alias("lang_pred"),
        m["n_tokens"].alias("n_tokens"),
        F.round(T.quality_score(F.col("text")), 6).alias("q"),
    ).localCheckpoint()
    kept = scored.where(F.col("q") >= 0.9)
    exact_reps = (
        kept.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # uniq feeds four consumers (minhash input, component seeds, the
    # final semi-join, and through pairs); persist so the scored
    # subtree's quality/langid expressions evaluate once
    uniq = kept.join(exact_reps, "doc_id", "left_semi").persist()
    pairs = dedup.minhash_lsh_dedup(uniq, "doc_id", "text", threshold=0.7)
    # r11: only the RELABELED nodes matter here — a doc survives iff
    # its id is its component's min, i.e. iff it never got a label.
    # labels_only + one anti join replaces the full component map +
    # reps filter + semi join (which re-scanned the uniq cache twice:
    # once for the ids frame, once for the final join). Same rows by
    # construction (see connected_components_star docstring).
    nonreps = dedup.connected_components_star(
        None, pairs, labels_only=True
    ).select(F.col("id").alias("doc_id"))
    final = uniq.join(nonreps, "doc_id", "left_anti")
    return final.groupBy("lang_pred").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("q"), 6).alias("avg_quality"),
    )


PIPE_CURATE_SQL = f"""
WITH RECURSIVE t AS (
  SELECT doc_id, text, length(text) AS nc, {_TOKS} AS w FROM documents
), m AS (
  SELECT doc_id, text, w,
    CAST(len(w) AS BIGINT) AS n_tokens,
    CASE WHEN len(w) > 0
         THEN CAST(coalesce(list_sum([length(tk) for tk in w]), 0) AS DOUBLE) / len(w)
         ELSE 0.0 END AS mtl,
    CASE WHEN nc > 0
         THEN CAST(length(regexp_replace(lower(text), '[a-z ]', '', 'g')) AS DOUBLE) / nc
         ELSE 0.0 END AS nar
  FROM t
), ls AS (
  SELECT doc_id, text, n_tokens, mtl, nar,
    {_lang_list_sql('en')} AS s_en,
    {_lang_list_sql('es')} AS s_es,
    {_lang_list_sql('de')} AS s_de,
    {_lang_list_sql('fr')} AS s_fr,
    {_lang_list_sql('zh')} AS s_zh
  FROM m
), scored AS (
  SELECT doc_id, text, n_tokens,
    CASE WHEN greatest(s_en, s_es, s_de, s_fr, s_zh) > 0 THEN
      CASE WHEN s_en = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
           WHEN s_es = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
           WHEN s_de = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
           WHEN s_fr = greatest(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
           ELSE 'zh' END
    ELSE 'und' END AS lang_pred,
    round(least(n_tokens / 20.0, 1.0)
          * (1.0 - least(nar * 2, 1.0))
          * (CASE WHEN mtl >= 2 AND mtl <= 12 THEN 1.0 ELSE 0.5 END), 6) AS q
  FROM ls
), kept AS (
  SELECT * FROM scored WHERE q >= 0.9
), exact_reps AS (
  SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)
), uniq AS (
  SELECT k.* FROM kept k JOIN exact_reps e ON k.doc_id = e.doc_id
), pairs AS (
  {{MINHASH_UNIQ}}
), edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b AS s, id_a AS d FROM pairs
), reach(id, r) AS (
  SELECT doc_id, doc_id FROM uniq
  UNION
  SELECT e.s, reach.r FROM edges e JOIN reach ON reach.id = e.d
), clusters AS (
  SELECT id, min(r) AS cluster FROM reach GROUP BY id
), final AS (
  SELECT u.* FROM uniq u
  JOIN clusters c ON u.doc_id = c.id AND c.cluster = u.doc_id
)
SELECT lang_pred, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(q), 6) AS avg_quality
FROM final GROUP BY 1
""".replace("{MINHASH_UNIQ}", _minhash_pairs_sql("uniq"))


def pipe_chunk_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence prep end-to-end: chunk every document into
    token-bounded overlapping windows (text.chunk_documents,
    max_tokens=32 overlap=4), then next-fit-pack the chunks into
    128-token training bins (text.pack_chunks, 1 shard so the packing
    is engine-portable — the sharded layout is covered by pytest
    invariants). Output: one row per chunk with its bin assignment,
    hash-compared to a DuckDB oracle that recomputes the chunking
    relationally and the packing as a recursive fold."""
    from bd_spark.operators.text import chunk_documents, pack_chunks

    docs = table(spark, "documents", sf_dir).select("doc_id", "text")
    chunks = chunk_documents(docs, "doc_id", "text", max_tokens=32, overlap=4)
    packed = pack_chunks(
        chunks.select("id", "chunk_id", "n_tokens"), budget=128, shards=1
    )
    return packed.select(
        F.col("id").alias("doc_id"),
        "chunk_id",
        "n_tokens",
        "bin_id",
        "bin_pos",
        "fill",
    )


PIPE_CHUNK_PACK_SQL = f"""
WITH RECURSIVE t AS (SELECT doc_id AS id, {_TOKS} AS w FROM documents),
tok0 AS (
  SELECT id,
         unnest([{{'pos': i - 1, 'tok': w[i]}} for i in range(1, len(w) + 1)]) AS s
  FROM t
),
tok AS (SELECT id, s.pos AS pos FROM tok0),
mem0 AS (
  SELECT id, pos,
         unnest([c for c in range(0, pos // 28 + 1)
                 if c >= greatest(CAST(ceil((pos - 31) / 28.0) AS BIGINT), 0)]) AS chunk_id
  FROM tok
),
chunks AS (
  SELECT id, chunk_id, count(*) AS n_tokens
  FROM mem0 GROUP BY id, chunk_id
),
-- materialized: the recursive fold joins kept once per step, and an
-- inlined kept re-ran the tokenize, unnest and window every step
kept AS MATERIALIZED (
  SELECT id, chunk_id, n_tokens,
         row_number() OVER (ORDER BY id, chunk_id) - 1 AS rn
  FROM chunks WHERE chunk_id = 0 OR n_tokens > 4
),
fold AS (
  SELECT rn, id, chunk_id, n_tokens, 0 AS bin_id, 0 AS bin_pos,
         least(n_tokens, 128) AS fill
  FROM kept WHERE rn = 0
  UNION ALL
  SELECT k.rn, k.id, k.chunk_id, k.n_tokens,
         CASE WHEN f.fill + least(k.n_tokens, 128) > 128
              THEN f.bin_id + 1 ELSE f.bin_id END,
         CASE WHEN f.fill + least(k.n_tokens, 128) > 128
              THEN 0 ELSE f.bin_pos + 1 END,
         CASE WHEN f.fill + least(k.n_tokens, 128) > 128
              THEN least(k.n_tokens, 128)
              ELSE f.fill + least(k.n_tokens, 128) END
  FROM fold f JOIN kept k ON k.rn = f.rn + 1
)
SELECT id AS doc_id, chunk_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(bin_id AS BIGINT) AS bin_id, CAST(bin_pos AS BIGINT) AS bin_pos,
       CAST(fill AS BIGINT) AS fill
FROM fold
"""


def pipe_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC approximate nearest neighbors (similarity.pq_topk):
    4 subspaces x 8 codes trained-stand-in from the lowest-id
    vectors, corpus encoded row-locally (~32x compression), queries
    ranked by summed lookup-table distances. Every distance rounds to
    9 digits before argmin/ranking, so the DuckDB oracle reproduces
    codes, ADC distances, and ranks exactly."""
    emb = table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    books = similarity.pq_codebooks(emb, m=4, ksub=8)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.pq_topk(emb, queries, k=8, codebooks=books)


PIPE_PQ_TOPK_SQL = """
WITH e AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings
),
cb AS (SELECT vec_id AS c, v AS cv FROM e WHERE vec_id < 8),
-- per (vector, subspace j, code c): squared L2 of the j-th subvector
d2 AS (
  SELECT e.vec_id, cb.c, j,
         round(list_sum([ (e.v[j*16 + d + 1] - cb.cv[j*16 + d + 1])
                          * (e.v[j*16 + d + 1] - cb.cv[j*16 + d + 1])
                          for d in range(16)]), 9) AS d2
  FROM e, cb, range(4) t(j)
),
-- encode: argmin code per (vector, subspace), ties -> lowest code
enc AS (
  SELECT vec_id, j, c AS code FROM (
    SELECT vec_id, j, c,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rk
    FROM d2
  ) WHERE rk = 1
),
-- ADC: query LUT rows are d2 of the QUERY vectors; corpus rows join
-- their code's LUT entry per subspace and sum
adc AS (
  SELECT q.vec_id AS query_id, enc.vec_id, round(sum(q.d2), 9) AS adc
  FROM enc JOIN d2 q ON q.vec_id < 5 AND q.j = enc.j AND q.c = enc.code
  GROUP BY 1, 2
)
SELECT query_id, vec_id AS neighbor_id, round(adc, 6) AS adc,
       CAST(rank AS BIGINT) AS rank
FROM (
  SELECT query_id, vec_id, adc,
         row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rank
  FROM adc
) WHERE rank <= 8
"""


def pipe_pq_topk_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC top-8 with k-MEANS-TRAINED codebooks (VERDICT r4
    missing #2): 2 deterministic Lloyd iterations of 4 independent
    per-subspace k-means from the lowest-id seeds
    (similarity.pq_codebooks train_iters), then the same row-local
    encode + broadcast-LUT ADC ranking as pipe_pq_topk. The oracle
    unrolls both iterations — per-subspace assignment (round-9
    squared-L2 argmin) and code update (round-6 per-dim mean, empty
    keeps previous) are hash-gated."""
    emb = table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    books = similarity.pq_codebooks(emb, m=4, ksub=8, train_iters=2)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.pq_topk(emb, queries, k=8, codebooks=books)


_PQ_ITER = """
, d2_{o} AS (
  SELECT e.vec_id, t.j, cb.c,
         round(list_sum([ (e.v[t.j*16 + d + 1] - cb.cv[t.j*16 + d + 1])
                          * (e.v[t.j*16 + d + 1] - cb.cv[t.j*16 + d + 1])
                          for d in range(16)]), 9) AS d2
  FROM e, cb{i} cb, range(4) t(j)
), enc{o} AS (
  SELECT vec_id, j, c AS code FROM (
    SELECT vec_id, j, c,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rk
    FROM d2_{o}
  ) WHERE rk = 1
), u{o} AS (
  SELECT enc{o}.j, enc{o}.code AS c, t.d,
         round(avg(e.v[enc{o}.j*16 + t.d + 1]), 6) AS mx
  FROM enc{o} JOIN e USING (vec_id), range(16) t(d)
  GROUP BY 1, 2, 3
), cb{n} AS (
  SELECT grid.c,
         list(coalesce(u{o}.mx, cb.cv[grid.j*16 + grid.d + 1])
              ORDER BY grid.j, grid.d) AS cv
  FROM grid
  JOIN cb{i} cb ON cb.c = grid.c
  LEFT JOIN u{o} ON u{o}.j = grid.j AND u{o}.c = grid.c AND u{o}.d = grid.d
  GROUP BY grid.c
)"""

PIPE_PQ_TOPK_TRAINED_SQL = (
    """
WITH e AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings
), cb0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS c, v AS cv
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)
), grid AS (
  SELECT rc.c, rj.j, rd.d
  FROM range(8) rc(c), range(4) rj(j), range(16) rd(d)
)"""
    + _PQ_ITER.format(o=0, i=0, n=1)
    + _PQ_ITER.format(o=1, i=1, n=2)
    + """
, d2f AS (
  SELECT e.vec_id, t.j, cb.c,
         round(list_sum([ (e.v[t.j*16 + d + 1] - cb.cv[t.j*16 + d + 1])
                          * (e.v[t.j*16 + d + 1] - cb.cv[t.j*16 + d + 1])
                          for d in range(16)]), 9) AS d2
  FROM e, cb2 cb, range(4) t(j)
), encf AS (
  SELECT vec_id, j, c AS code FROM (
    SELECT vec_id, j, c,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rk
    FROM d2f
  ) WHERE rk = 1
), adc AS (
  SELECT q.vec_id AS query_id, encf.vec_id, round(sum(q.d2), 9) AS adc
  FROM encf JOIN d2f q ON q.vec_id < 5 AND q.j = encf.j AND q.c = encf.code
  GROUP BY 1, 2
)
SELECT query_id, vec_id AS neighbor_id, round(adc, 6) AS adc,
       CAST(rank AS BIGINT) AS rank
FROM (
  SELECT query_id, vec_id, adc,
         row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rank
  FROM adc
) WHERE rank <= 8
"""
)


def pipe_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3-style 13-char-gram overlap):
    every 10th document stands in for the eval/benchmark set; train
    docs sharing any 13-gram with it are flagged. The eval gram set
    broadcasts (eval corpora are tiny next to the training corpus) —
    one map-side train scan, zero train shuffle."""
    docs = table(spark, "documents", sf_dir)
    # the train scan is the heavy side (13-char gram set per doc,
    # row-local): spread the one-file local scan (cluster no-op)
    train = rebalance(docs.where(F.col("doc_id") % 10 != 0))
    eval_df = docs.where(F.col("doc_id") % 10 == 0)
    return T.decontaminate(train, eval_df, "doc_id", "text", n=13)


PIPE_DECONTAMINATE_SQL = f"""
WITH g AS (
  SELECT doc_id,
         list_distinct([substr(s, i+1, 13)
                        for i in range(greatest(length(s) - 12, 0))]) AS grams
  FROM (SELECT doc_id, lower(trim(text)) AS s FROM documents)
), ev AS (
  SELECT DISTINCT unnest(grams) AS gh FROM g WHERE doc_id % 10 = 0
), evset AS (
  SELECT list(gh ORDER BY gh) AS gs FROM ev
)
SELECT g.doc_id AS id,
       CAST(len(list_intersect(g.grams, evset.gs)) AS BIGINT) AS n_hits,
       len(list_intersect(g.grams, evset.gs)) > 0 AS contaminated
FROM g, evset
WHERE g.doc_id % 10 <> 0
"""


def pipe_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted corpus selection (the data-mixing step of a
    training pipeline): per language, admit documents in
    quality-descending order until a 5000-token budget fills — the
    greedy knapsack every 'take the best N billion tokens per source'
    recipe uses. Deterministic ties by doc_id.

    100 TB shape — TWO-PHASE PREFIX SUM (a naive
    Window.partitionBy(lang) running sum would pull an entire
    language — tens of TB of "en" — through ONE sort task, and AQE
    cannot split window partitions):

      1. per-language quality-quantile boundaries (approx_percentile;
         accuracy only affects bucket BALANCE, never results — any
         boundary set partitions the quality-descending order into
         contiguous runs, so phase-4 sums are exact regardless),
      2. row-local bucket assignment (broadcast the tiny boundary
         table; ties share a bucket because assignment compares
         values, not ranks),
      3. per-(lang, bucket) token totals -> cumulative bucket offsets
         (a window over the K x #langs-row summary — trivially small),
      4. buckets whose offset already exceeds the budget are dropped
         WITHOUT sorting (cum - n_tokens >= offset >= budget for every
         doc in them); the within-bucket prefix-sum window — keyed by
         (lang, bucket), so one task never holds more than ~1/K of a
         language — runs only over the surviving ~budget-sized head.
    """
    from pyspark.sql import Window

    budget = 5000
    n_buckets = 16
    # quality/token metrics are the expensive row-local part; compute
    # them ONCE and persist the narrow (id, lang, q, n_tokens)
    # projection — phases 1/3/4 all read it (without this, the
    # two-phase design re-scans the corpus and re-runs the regex
    # metrics three times: measured 3.3x at sf0.1)
    docs = table(spark, "documents", sf_dir).select(
        "doc_id",
        "lang",
        F.round(T.quality_score(F.col("text")), 6).alias("q"),
        T.token_count(F.col("text")).cast("long").alias("n_tokens"),
    ).persist()
    probs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = docs.groupBy("lang").agg(
        F.percentile_approx("q", probs, 10000).alias("bs")
    )
    # bucket 0 = best quality; equal q always maps to the same bucket
    bucketed = docs.join(F.broadcast(bounds), "lang").select(
        "doc_id",
        "lang",
        "q",
        "n_tokens",
        F.size(F.filter("bs", lambda b: b > F.col("q"))).alias("bucket"),
    )
    bsums = bucketed.groupBy("lang", "bucket").agg(
        F.sum("n_tokens").alias("btoks")
    )
    w_off = (
        Window.partitionBy("lang")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bsums.select(
        "lang",
        "bucket",
        F.coalesce(F.sum("btoks").over(w_off), F.lit(0)).alias("off"),
    ).where(F.col("off") < budget)
    w_in = Window.partitionBy("lang", "bucket").orderBy(
        F.desc("q"), F.asc("doc_id")
    )
    cum = (F.col("off") + F.sum("n_tokens").over(w_in)).alias("cum_tokens")
    return (
        bucketed.join(F.broadcast(offsets), ["lang", "bucket"])
        .withColumn("cum_tokens", cum)
        .where(F.col("cum_tokens") - F.col("n_tokens") < budget)
        .select("doc_id", "lang", "q", "n_tokens", "cum_tokens")
    )


PIPE_TOKEN_BUDGET_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, text, length(text) AS nc, {_TOKS} AS w FROM documents
), m AS (
  SELECT doc_id, lang,
    CAST(len(w) AS BIGINT) AS n_tokens,
    CASE WHEN len(w) > 0
         THEN CAST(coalesce(list_sum([length(tk) for tk in w]), 0) AS DOUBLE) / len(w)
         ELSE 0.0 END AS mtl,
    CASE WHEN nc > 0
         THEN CAST(length(regexp_replace(lower(text), '[a-z ]', '', 'g')) AS DOUBLE) / nc
         ELSE 0.0 END AS nar,
    CASE WHEN len(w) > 0
         THEN CAST(len([tk for tk in w if list_contains(['the','a','of','and','to','in','is','it'], tk)]) AS DOUBLE) / len(w)
         ELSE 0.0 END AS sr
  FROM t
), q AS (
  SELECT doc_id, lang, n_tokens,
         round(least(n_tokens / 20.0, 1.0)
               * (1.0 - least(nar * 2, 1.0))
               * (CASE WHEN mtl >= 2 AND mtl <= 12 THEN 1.0 ELSE 0.5 END), 6) AS q
  FROM m
), c AS (
  SELECT doc_id, lang, q, n_tokens,
         sum(n_tokens) OVER (PARTITION BY lang ORDER BY q DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM q
)
SELECT doc_id, lang, q, n_tokens, cum_tokens
FROM c WHERE cum_tokens - n_tokens < 5000
"""


def pipe_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (top-2-gram fraction,
    duplicate-5-gram fraction, longest same-token run) — row-local
    codegen over documents (operators.text.repetition_metrics)."""
    docs = rebalance(table(spark, "documents", sf_dir))
    m = T.repetition_metrics(F.col("text"))
    return docs.select(
        "doc_id",
        m["top2_frac"].alias("top2_frac"),
        m["dup5_frac"].alias("dup5_frac"),
        m["max_tok_run"].alias("max_tok_run"),
    )


PIPE_TEXT_REPETITION_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS w FROM documents
), g AS (
  SELECT doc_id,
    [w[i+1] || ' ' || w[i+2]
     for i in range(greatest(len(w) - 1, 0))] AS sh2,
    [w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' || w[i+5]
     for i in range(greatest(len(w) - 4, 0))] AS sh5
  FROM t
), u AS (
  SELECT doc_id, unnest(w) AS tok, generate_subscripts(w, 1) AS idx FROM t
), r AS (
  SELECT doc_id, tok,
         idx - row_number() OVER (PARTITION BY doc_id, tok ORDER BY idx) AS grp
  FROM u
), mr AS (
  SELECT doc_id, CAST(max(cnt) AS BIGINT) AS max_tok_run FROM (
    SELECT doc_id, count(*) AS cnt FROM r GROUP BY doc_id, tok, grp
  ) GROUP BY doc_id
)
SELECT g.doc_id,
  round(CASE WHEN len(sh2) > 0
    THEN CAST(list_max([len(list_filter(sh2, x -> x = gg)) for gg in sh2]) AS DOUBLE)
         / len(sh2) ELSE 0.0 END, 6) AS top2_frac,
  round(CASE WHEN len(sh5) > 0
    THEN CAST(len(sh5) - len(list_distinct(sh5)) AS DOUBLE) / len(sh5)
    ELSE 0.0 END, 6) AS dup5_frac,
  coalesce(mr.max_tok_run, 0) AS max_tok_run
FROM g LEFT JOIN mr ON g.doc_id = mr.doc_id
"""


def pipe_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails / IPv4 / phone numbers -> typed
    placeholders). The synthetic corpus carries no PII, so the query
    INJECTS deterministic doc_id-derived PII first — the redaction
    regexes are then fully exercised and hash-gated byte-for-byte."""
    docs = table(spark, "documents", sf_dir)
    injected = F.concat(
        F.col("text"),
        F.lit(" contact u"), F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 call 555-123-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    return docs.select(
        "doc_id", T.redact_pii(injected).alias("text_redacted")
    )


PIPE_TEXT_REDACT_SQL = r"""
WITH t AS (
  SELECT doc_id,
         text || ' contact u' || doc_id || '@example.com from 10.0.'
              || (doc_id % 256) || '.7 call 555-123-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS s
  FROM documents
)
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(s,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS text_redacted
FROM t
"""


def pipe_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-level line dedup: first occurrence of every
    line (10-token window) wins corpus-wide, documents reassemble
    from surviving lines (operators.text.dedup_lines)."""
    docs = table(spark, "documents", sf_dir).select("doc_id", "text")
    return T.dedup_lines(docs, "doc_id", "text", line_tokens=10)


PIPE_DEDUP_LINES_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS w FROM documents
), l0 AS (
  SELECT doc_id,
         [array_to_string(w[i*10 + 1 : i*10 + 10], ' ')
          for i in range(CAST(ceil(len(w) / 10.0) AS BIGINT))] AS ls
  FROM t WHERE len(w) > 0
), l AS (
  SELECT doc_id, CAST(generate_subscripts(ls, 1) - 1 AS INT) AS idx,
         unnest(ls) AS line
  FROM l0
), k AS (
  SELECT doc_id, idx, line,
         row_number() OVER (PARTITION BY md5(line) ORDER BY doc_id, idx) AS rk
  FROM l
), agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines_kept,
         string_agg(line, ' ' ORDER BY idx) AS text
  FROM k WHERE rk = 1 GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(agg.text, '') AS text,
       CAST(ceil(len(t.w) / 10.0) AS BIGINT) AS n_lines,
       coalesce(agg.n_lines_kept, 0) AS n_lines_kept
FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
"""


def pipe_text_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear text-classifier inference (fastText-style quality
    filter plumbing): sigmoid of the mean hashed-feature weight per
    document — row-local codegen, deterministic md5-derived weights
    (operators.text.hashed_linear_score)."""
    docs = rebalance(table(spark, "documents", sf_dir))
    return docs.select(
        "doc_id",
        F.round(T.hashed_linear_score(F.col("text")), 6).alias("score"),
    )


PIPE_TEXT_CLASSIFIER_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS w FROM documents
)
SELECT doc_id,
  round(1.0 / (1.0 + exp(-(
    CASE WHEN len(w) > 0 THEN
      list_sum([CAST({_h31("'qw:' || tk")} AS DOUBLE)
                / 2147483647.0 * 2 - 1 for tk in w]) / len(w)
    ELSE 0.0 END))), 6) AS score
FROM t
"""


def pipe_embed_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign random projection 64 -> 16 dims (Achlioptas JL transform;
    operators.similarity.random_project): the cheap pre-step that
    cuts every downstream ANN/near-dup byte cost 4x. Output exploded
    to (vec_id, dim, val) scalars for the hash oracle."""
    emb = table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    proj = similarity.random_project(emb, dim_in=64, dim_out=16)
    return proj.select(
        "vec_id", F.posexplode("projected").alias("dim", "val")
    ).select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        F.round("val", 6).alias("val"),
    )


PIPE_EMBED_PROJECT_SQL = """
WITH v AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings
)
SELECT vec_id, CAST(t.j AS BIGINT) AS dim,
  round(round(list_sum(
    [v[d+1] * (CASE WHEN CAST('0x' || substr(md5('rp:' || t.j || ':' || d), 1, 15)
                          AS BIGINT) % 2 = 1
               THEN 0.25 ELSE -0.25 END)
     for d in range(64)]), 9), 6) AS val
FROM v, range(16) t(j)
"""


def pipe_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING + encoding over the corpus: 4 merge
    iterations learned distributed (operators.text.bpe_train — pair
    counts over the word-frequency vocabulary, deterministic argmax),
    then every document encoded with the learned merges. The oracle
    unrolls the identical iterations in SQL via the string-replace
    merge representation, so the learned merge TABLE and the per-doc
    piece counts are both hash-gated."""
    docs = rebalance(table(spark, "documents", sf_dir)).select("doc_id", "text")
    merges = T.bpe_train(docs, "text", n_merges=4)
    pieces = T.bpe_apply(F.col("text"), merges)
    return docs.select(
        "doc_id",
        F.size(pieces).cast("long").alias("n_pieces"),
        T.token_count(F.col("text")).cast("long").alias("n_tokens"),
    )


_BPE_ITER = """
, p{k} AS (
  SELECT p, sum(cnt) AS c FROM (
    SELECT unnest([ws[i+1] || chr(31) || ws[i+2]
                   for i in range(greatest(len(ws) - 1, 0))]) AS p, cnt
    FROM (SELECT str_split(units, chr(31)) AS ws, cnt FROM u{k})
  ) GROUP BY p
), m{k} AS (
  SELECT p, replace(p, chr(31), '') AS r FROM p{k} ORDER BY c DESC, p LIMIT 1
), u{n} AS (
  SELECT replace(units, (SELECT p FROM m{k}), (SELECT r FROM m{k})) AS units,
         cnt
  FROM u{k}
)"""

PIPE_BPE_SQL = (
    f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS w FROM documents
), vocab AS (
  SELECT w, count(*) AS cnt FROM toks GROUP BY w
), u0 AS (
  SELECT array_to_string([substr(w, i+1, 1) for i in range(length(w))],
                         chr(31)) AS units,
         cnt
  FROM vocab
)"""
    + _BPE_ITER.format(k=0, n=1)
    + _BPE_ITER.format(k=1, n=2)
    + _BPE_ITER.format(k=2, n=3)
    + _BPE_ITER.format(k=3, n=4)
    + f"""
, applied AS (
  SELECT doc_id,
    replace(replace(replace(replace(
      array_to_string([substr(w, i+1, 1) for i in range(length(w))], chr(31)),
      (SELECT p FROM m0), (SELECT r FROM m0)),
      (SELECT p FROM m1), (SELECT r FROM m1)),
      (SELECT p FROM m2), (SELECT r FROM m2)),
      (SELECT p FROM m3), (SELECT r FROM m3)) AS units
  FROM toks
), counts AS (
  SELECT doc_id,
         CAST(sum(len(str_split(units, chr(31)))) AS BIGINT) AS n_pieces,
         CAST(count(*) AS BIGINT) AS n_tokens
  FROM applied GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(c.n_pieces, 0) AS n_pieces,
       coalesce(c.n_tokens, 0) AS n_tokens
FROM (SELECT doc_id FROM documents) d
LEFT JOIN counts c ON d.doc_id = c.doc_id
"""
)


def pipe_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based stratified sampling: downsample 'en'
    to 30%, 'zh' to 60%, everything else 50% — reproducible across
    engines/runs/partitionings (the sample is a pure function of the
    id), row-local, zero shuffle."""
    docs = table(spark, "documents", sf_dir)
    return T.sample_by_hash(
        docs.select("doc_id", "lang"),
        "doc_id",
        fraction=0.5,
        stratum_cols=["lang"],
        fractions={"en": 0.3, "zh": 0.6},
    )


def pipe_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split assignment (90/5/5): the
    split is a pure function of the doc id, so it is reproducible
    across engines/runs and stable under corpus growth
    (operators.text.assign_splits)."""
    docs = table(spark, "documents", sf_dir).select("doc_id")
    return T.assign_splits(docs, "doc_id").select("doc_id", "split")


PIPE_SPLIT_ASSIGN_SQL = f"""
SELECT doc_id,
  CASE
    WHEN ({_h31("'split:' || CAST(doc_id AS VARCHAR)")} % 1000000) < 900000
      THEN 'train'
    WHEN ({_h31("'split:' || CAST(doc_id AS VARCHAR)")} % 1000000) < 950000
      THEN 'val'
    ELSE 'test'
  END AS split
FROM documents
"""


def pipe_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic corpus reshuffle (training order): the
    permutation key h60('epoch0:' || id) — realized as a distributed
    range sort, never a global window
    (operators.text.shuffle_deterministic)."""
    docs = table(spark, "documents", sf_dir).select("doc_id")
    return T.shuffle_deterministic(docs, "doc_id", seed="epoch0").select(
        "doc_id", "shuffle_key"
    )


PIPE_SHUFFLE_SQL = f"""
SELECT doc_id,
       {_h60("'epoch0:' || CAST(doc_id AS VARCHAR)")} AS shuffle_key
FROM documents
"""


def pipe_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filter signal: corpus-trained add-0.5
    bigram LM, per-document cross-entropy (operators.text.lm_score).
    Training = two map-side-combinable counts; scoring = vocab joins
    on uniform word keys — no window, no collect."""
    docs = rebalance(table(spark, "documents", sf_dir)).select("doc_id", "text")
    return T.lm_score(docs, "doc_id", "text", min_count=3, alpha=0.5)


PIPE_LM_SCORE_SQL = f"""
WITH t AS (SELECT doc_id, {{toks}} AS ws FROM documents),
tok AS (SELECT doc_id, unnest(ws) AS w FROM t),
uni AS (SELECT w, count(*) AS cnt FROM tok GROUP BY w),
tots AS (SELECT sum(cnt) AS tot,
                coalesce(sum(CASE WHEN cnt >= 3 THEN cnt END), 0) AS vtot,
                count(*) FILTER (cnt >= 3) AS vsize
         FROM uni),
pairs AS (SELECT doc_id, unnest(ws[1:len(ws)-1]) AS w1,
                 unnest(ws[2:len(ws)]) AS w2
          FROM t WHERE len(ws) >= 2),
pm AS (SELECT p.doc_id,
              CASE WHEN v1.w IS NULL THEN '<unk>' ELSE p.w1 END AS w1m,
              CASE WHEN v2.w IS NULL THEN '<unk>' ELSE p.w2 END AS w2m
       FROM pairs p
       LEFT JOIN (SELECT w FROM uni WHERE cnt >= 3) v1 ON p.w1 = v1.w
       LEFT JOIN (SELECT w FROM uni WHERE cnt >= 3) v2 ON p.w2 = v2.w),
bg AS (SELECT w1m, w2m, count(*) AS cb FROM pm GROUP BY w1m, w2m),
unim AS (SELECT w AS w1m, cnt AS cu FROM uni WHERE cnt >= 3
         UNION ALL SELECT '<unk>', tot - vtot FROM tots),
sc AS (SELECT pm.doc_id,
              ln((bg.cb + 0.5) / (unim.cu + 0.5 * (tots.vsize + 1))) AS lp
       FROM pm
       JOIN bg USING (w1m, w2m)
       JOIN unim USING (w1m)
       CROSS JOIN tots)
SELECT doc_id, count(*) AS n_bigrams, round(-avg(lp), 6) AS xent
FROM sc GROUP BY doc_id
""".format(toks=_TOKS)


def pipe_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance to the query (hash, join, scan) — the
    query-driven curation scorer (operators.text.bm25): one explode,
    three map-side-combinable aggs, broadcast corpus stats."""
    docs = table(spark, "documents", sf_dir).select("doc_id", "text")
    return T.bm25(docs, ["hash", "join", "scan"])


PIPE_TEXT_BM25_SQL = f"""
WITH t AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
dlen AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
          FROM dlen),
tf AS (SELECT doc_id, term, count(*) AS tf FROM t
       WHERE term IN ('hash', 'join', 'scan') GROUP BY doc_id, term),
dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM t
        WHERE term IN ('hash', 'join', 'scan') GROUP BY term)
SELECT tf.doc_id AS doc_id,
  count(*) AS n_hit,
  round(sum(
    ln((n_docs - df + 0.5) / (df + 0.5) + 1)
    * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
  ), 6) AS bm25
FROM tf JOIN dlen USING (doc_id) JOIN dfq USING (term) CROSS JOIN stats
GROUP BY tf.doc_id
"""


PIPE_SAMPLE_STRATIFIED_SQL = f"""
SELECT doc_id, lang FROM documents
WHERE ({_h31("CAST(doc_id AS VARCHAR)")} % 1000000)
      < CASE lang WHEN 'en' THEN 0.3 WHEN 'zh' THEN 0.6 ELSE 0.5 END * 1000000
"""


def pipe_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchored-window substring duplication stats (Lee et al. 2022
    exact-substring dedup, content-defined-anchor approximation):
    40-char windows at CDC anchors (8-gram hash ≡ 0 mod 10); windows
    in >1 distinct doc mark duplicated text
    (operators.dedup.substring_dup_stats). One explode + two
    map-side-combinable aggs on the uniform window-hash key."""
    docs = table(spark, "documents", sf_dir).select("doc_id", "text")
    return dedup.substring_dup_stats(docs, "doc_id", "text")


PIPE_DEDUP_SUBSTRING_SQL = f"""
WITH c AS (
  SELECT doc_id, s, [unicode(ch) for ch in str_split(s, '')] AS cs
  FROM (SELECT doc_id, lower(trim(text)) AS s FROM documents)
),
w AS (
  -- anchor: POLYNOMIAL 8-gram hash over codepoints; window: HORNER
  -- fold over the same codes (r7, twins of hashing.poly_gram_hashes
  -- / horner_window — no md5, no substring copies on either side)
  SELECT doc_id,
         [{horner_window_duckdb("cs", "i", 40)}
          for i in range(greatest(length(s) - 7, 0))
          if {poly_gram_hash_duckdb("cs", 8)} % 10 = 0
             and i <= length(s) - 40] AS hs
  FROM c
),
win AS (SELECT doc_id, unnest(hs) AS h FROM w),
dup AS (SELECT h FROM (SELECT DISTINCT h, doc_id FROM win)
        GROUP BY h HAVING count(*) > 1)
SELECT win.doc_id,
       count(*) AS n_windows,
       count(dup.h) AS n_dup,
       round(count(dup.h) * 1.0 / count(*), 6) AS dup_frac,
       count(dup.h) * 2 > count(*) AS flagged
FROM win LEFT JOIN dup USING (h)
GROUP BY win.doc_id
"""


def pipe_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup: 60-bit dHash per asset
    (Arrow-batched mapInPandas, multimodal.dhash_assets) then the
    generic Hamming pigeonhole join (dedup.hamming_near_dupes) —
    hashes shuffle, payloads never do. Fake-decode path (payload
    bytes ARE the pixel grid) so the integer pipeline has a full
    DuckDB oracle; the real decode+pool path is pytest-gated on
    synthetic PNG/BMP images."""
    assets = multimodal.assets_from_documents(
        table(spark, "documents", sf_dir)
    )
    hashed = multimodal.dhash_assets(assets, fake=True).persist()
    return dedup.hamming_near_dupes(
        hashed, "asset_id", "phash", max_hamming=3
    )


PIPE_IMAGE_NEARDUP_SQL = """
WITH c AS (
  -- UTF-8 BYTE values, matching the engine's encoded payload (r7
  -- ADVICE: codepoints only agreed on ASCII-only testdata)
  SELECT doc_id,
         [CAST(('0x' || substr(hex(encode(text)), 2*i+1, 2)) AS INT)
          for i in range(octet_length(encode(text)))] AS codes
  FROM documents
),
p AS (
  SELECT doc_id,
         CASE WHEN len(codes) = 0 THEN 0 ELSE
           coalesce(list_sum(
             [CASE WHEN codes[(((i // 10) * 11 + (i % 10) + 1)
                              % len(codes)) + 1]
                   > codes[(((i // 10) * 11 + (i % 10))
                            % len(codes)) + 1]
                   THEN (CAST(1 AS BIGINT) << i) ELSE 0 END
              for i in range(60)]), 0)
         END AS phash
  FROM c
),
ch AS (
  SELECT doc_id, phash,
         unnest([0, 1, 2, 3]) AS ci,
         unnest([(phash >> 0) & 32767, (phash >> 15) & 32767,
                 (phash >> 30) & 32767, (phash >> 45) & 32767]) AS cv
  FROM p
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
                  l.phash AS ha, r.phash AS hb
  FROM ch l JOIN ch r
    ON l.ci = r.ci AND l.cv = r.cv AND l.doc_id < r.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 3
"""


def pipe_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio fingerprint near-dup (Haitsma-Kalker-style energy-delta
    hash, multimodal.audio_fingerprints) + the generic Hamming
    pigeonhole join. Fake-decode path (payload bytes ARE the
    waveform; frame energy = byte-slice sum with the real path's
    frame-edge rule) so the integer pipeline has a full DuckDB
    oracle; the real WAV decode path is pytest-gated
    (tests/test_codecs.py). 16 bytes/asset shuffle; payloads never
    do."""
    assets = multimodal.assets_from_documents(
        table(spark, "documents", sf_dir)
    )
    hashed = multimodal.audio_fingerprints(assets, fake=True).persist()
    return dedup.hamming_near_dupes(
        hashed, "asset_id", "phash", max_hamming=3
    )


PIPE_AUDIO_NEARDUP_SQL = """
WITH c AS (
  -- UTF-8 BYTE values (hex(encode()) pair parse), matching the
  -- engine fake path's encoded-payload bytes exactly — the previous
  -- unicode(ch) codepoint sum agreed only on ASCII-only testdata
  -- (r7 ADVICE fix)
  SELECT doc_id,
         [CAST(('0x' || substr(hex(encode(text)), 2*i+1, 2)) AS INT)
          for i in range(octet_length(encode(text)))] AS codes
  FROM documents
),
e AS (
  SELECT doc_id,
         [coalesce(list_sum(
            codes[((i * len(codes)) // 61) + 1
                  : ((i + 1) * len(codes)) // 61]), 0)
          for i in range(61)] AS en
  FROM c
),
p AS (
  SELECT doc_id,
         coalesce(list_sum(
           [CASE WHEN en[i + 2] > en[i + 1]
                 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END
            for i in range(60)]), 0) AS phash
  FROM e
),
ch AS (
  SELECT doc_id, phash,
         unnest([0, 1, 2, 3]) AS ci,
         unnest([(phash >> 0) & 32767, (phash >> 15) & 32767,
                 (phash >> 30) & 32767, (phash >> 45) & 32767]) AS cv
  FROM p
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
                  l.phash AS ha, r.phash AS hb
  FROM ch l JOIN ch r
    ON l.ci = r.ci AND l.cv = r.cv AND l.doc_id < r.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 3
"""


def pipe_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-weighted subsampling (operators.text.mix_sources):
    30% of the corpus with per-language quotas ∝ sqrt(count) —
    temperature mixing that upsamples small languages; deterministic
    hash-minimum selection; two-phase rank, no whole-source
    window."""
    docs = table(spark, "documents", sf_dir)
    out = T.mix_sources(docs, "doc_id", "lang", frac=0.3)
    return out.select(
        F.col("id").alias("doc_id"), F.col("source").alias("lang"),
        "samp_key", "quota",
    )


PIPE_MIX_SOURCES_SQL = f"""
WITH c AS (
  SELECT lang, count(*) AS n FROM documents GROUP BY lang
), tot AS (
  SELECT sum(n) AS tn,
         list_sum(list(sqrt(n) ORDER BY lang)) AS s
  FROM c
), q AS (
  SELECT lang,
         least(n, CAST(floor(round(floor(tn * 0.3) * sqrt(n) / s, 6))
                       AS BIGINT)) AS quota
  FROM c, tot
), k AS (
  SELECT doc_id, lang,
         {_h31("'mix:' || CAST(doc_id AS VARCHAR)")} AS samp_key
  FROM documents
), r AS (
  SELECT doc_id, lang, samp_key,
         row_number() OVER (PARTITION BY lang
                            ORDER BY samp_key, doc_id) AS rk
  FROM k
)
SELECT r.doc_id, r.lang, r.samp_key, q.quota
FROM r JOIN q USING (lang) WHERE rk <= quota
"""


def pipe_topic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic discovery over the corpus: deterministic spherical
    k-means (8 clusters, 2 Lloyd iterations — similarity.kmeans_fit)
    on the embeddings, then each cluster is labeled by its top-5
    document-frequency terms from the JOINED documents table.

    100 TB shape: training is map-side (cid, dim) aggs with one tiny
    collect per iteration; assignment is a zero-shuffle argmax
    against literal centroids; the docs join is on the uniform id
    key; term counting aggregates (cid, term) map-side; the top-k
    rank window runs over aggregated per-cluster term rows only."""
    from pyspark.sql import Window

    emb = table(spark, "embeddings", sf_dir)
    docs = table(spark, "documents", sf_dir)
    cents = similarity.kmeans_fit(emb, k=8, iters=2)
    assigned = similarity.kmeans_assign(emb, cents)
    sizes = assigned.groupBy("cid").agg(F.count("*").alias("n_docs"))
    terms = (
        docs.join(assigned, docs.doc_id == assigned.vec_id)
        .select("cid", "doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
        .distinct()
        .groupBy("cid", "term")
        .agg(F.count("*").alias("doc_freq"))
    )
    w = Window.partitionBy("cid").orderBy(F.desc("doc_freq"), F.asc("term"))
    return (
        terms.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .join(F.broadcast(sizes), "cid")
        .select(
            "cid", "n_docs", "term", "doc_freq",
            F.col("rank").cast("long").alias("rank"),
        )
    )


PIPE_TOPIC_CLUSTERS_SQL = (
    """
WITH v AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings
), c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
         v AS cv
  FROM (SELECT * FROM v ORDER BY vec_id LIMIT 8)
)"""
    + _IVF_ASSIGN.format(o=0, i=0, n=1)
    + _IVF_ASSIGN.format(o=1, i=1, n=2)
    + f"""
, vcf AS (
  SELECT v.vec_id, c.cid,
         round(list_sum([v.v[i+1] * c.cv[i+1] for i in range(64)])
               / (sqrt(list_sum([x*x for x in v.v]))
                  * sqrt(list_sum([x*x for x in c.cv]))), 9) AS ccos
  FROM v CROSS JOIN c2 c
), af AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
    FROM vcf
  ) WHERE rn = 1
), sizes AS (
  SELECT cid, count(*) AS n_docs FROM af GROUP BY cid
), toks AS (
  SELECT af.cid, d.doc_id, unnest(list_distinct({_TOKS})) AS term
  FROM documents d JOIN af ON d.doc_id = af.vec_id
), tf AS (
  SELECT cid, term, count(*) AS doc_freq
  FROM (SELECT DISTINCT cid, doc_id, term FROM toks)
  GROUP BY cid, term
), rk AS (
  SELECT cid, term, doc_freq,
         row_number() OVER (PARTITION BY cid
                            ORDER BY doc_freq DESC, term) AS rank
  FROM tf
)
SELECT rk.cid, sizes.n_docs, rk.term, rk.doc_freq,
       CAST(rank AS BIGINT) AS rank
FROM rk JOIN sizes USING (cid) WHERE rank <= 5
"""
)


def pipe_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators.text.dsir_select):
    target = 'en' docs, source = whole corpus; hashed unigram+bigram
    models, Gumbel-top-200 selection. Fit is one 64-group map-side
    agg; scoring is row-local against literal arrays; selection is
    TakeOrdered — no global sort, no join."""
    docs = table(spark, "documents", sf_dir).select("doc_id", "text", "lang")
    return T.dsir_select(
        docs, "doc_id", "text", F.col("lang") == "en", m=64, k=200
    )


PIPE_DSIR_SELECT_SQL = f"""
WITH t AS (SELECT doc_id, lang, {_TOKS} AS ws FROM documents),
g1 AS (SELECT doc_id, lang, unnest(ws) AS g FROM t),
g2p AS (SELECT doc_id, lang, unnest(ws[1:len(ws)-1]) AS w1,
               unnest(ws[2:len(ws)]) AS w2
        FROM t WHERE len(ws) >= 2),
grams AS (SELECT doc_id, lang, g FROM g1
          UNION ALL SELECT doc_id, lang, w1 || ' ' || w2 FROM g2p),
gb AS (SELECT doc_id, lang, ({_h31("'dsirg:' || g")} % 64) AS b
       FROM grams),
fit AS (SELECT b, count(*) AS s_c,
               count(*) FILTER (lang = 'en') AS t_c
        FROM gb GROUP BY b),
tots AS (SELECT sum(s_c) AS s_tot, sum(t_c) AS t_tot FROM fit),
sc AS (SELECT gb.doc_id, count(*) AS n_grams,
              sum(ln(fit.t_c + 1) - ln(fit.s_c + 1)) AS part
       FROM gb JOIN fit USING (b) GROUP BY gb.doc_id),
w AS (SELECT d.doc_id,
             coalesce(sc.n_grams, 0) AS n_grams,
             round(coalesce(sc.part, 0)
                   + coalesce(sc.n_grams, 0)
                     * (ln(s_tot + 64) - ln(t_tot + 64)), 6) AS logw
      FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
      CROSS JOIN tots)
SELECT doc_id, n_grams, logw,
       round(logw + -ln(-ln(
         ({_h31("'dsir:' || CAST(doc_id AS VARCHAR)")} + 1.0)
         / {P31 + 1}.0)), 6) AS key
FROM w ORDER BY key DESC, doc_id LIMIT 200
"""


QUERIES = {
    "pipe_dedup_exact": pipe_dedup_exact,
    "pipe_dedup_minhash": pipe_dedup_minhash,
    "pipe_dedup_simhash": pipe_dedup_simhash,
    "pipe_dedup_ngram": pipe_dedup_ngram,
    "pipe_dedup_clusters": pipe_dedup_clusters,
    "pipe_dedup_incremental": pipe_dedup_incremental,
    "pipe_dedup_incremental_persisted": pipe_dedup_incremental_persisted,
    "pipe_embed_neardup": pipe_embed_neardup,
    "pipe_embed_centroids": pipe_embed_centroids,
    "pipe_ann_topk": pipe_ann_topk,
    "pipe_ann_ivf": pipe_ann_ivf,
    "pipe_text_stats": pipe_text_stats,
    "pipe_text_langid": pipe_text_langid,
    "pipe_text_fingerprint": pipe_text_fingerprint,
    "pipe_text_topterms": pipe_text_topterms,
    "pipe_text_tfidf": pipe_text_tfidf,
    "pipe_mm_decode": pipe_mm_decode,
    "pipe_mm_frames": pipe_mm_frames,
    "pipe_curate": pipe_curate,
    "pipe_chunk_pack": pipe_chunk_pack,
    "pipe_decontaminate": pipe_decontaminate,
    "pipe_sample_stratified": pipe_sample_stratified,
    "pipe_token_budget": pipe_token_budget,
    "pipe_pq_topk": pipe_pq_topk,
    "pipe_ann_ivf_trained": pipe_ann_ivf_trained,
    "pipe_pq_topk_trained": pipe_pq_topk_trained,
    "pipe_text_repetition": pipe_text_repetition,
    "pipe_text_redact": pipe_text_redact,
    "pipe_dedup_lines": pipe_dedup_lines,
    "pipe_text_classifier": pipe_text_classifier,
    "pipe_embed_project": pipe_embed_project,
    "pipe_semantic_dedup": pipe_semantic_dedup,
    "pipe_bpe": pipe_bpe,
    "pipe_split_assign": pipe_split_assign,
    "pipe_shuffle": pipe_shuffle,
    "pipe_lm_score": pipe_lm_score,
    "pipe_text_bm25": pipe_text_bm25,
    "pipe_dsir_select": pipe_dsir_select,
    "pipe_dedup_substring": pipe_dedup_substring,
    "pipe_image_neardup": pipe_image_neardup,
    "pipe_audio_neardup": pipe_audio_neardup,
    "pipe_mix_sources": pipe_mix_sources,
    "pipe_topic_clusters": pipe_topic_clusters,
}

ORACLES = {
    "pipe_dedup_exact": PIPE_DEDUP_EXACT_SQL,
    "pipe_dedup_minhash": PIPE_DEDUP_MINHASH_SQL,
    "pipe_dedup_simhash": PIPE_DEDUP_SIMHASH_SQL,
    "pipe_dedup_ngram": PIPE_DEDUP_NGRAM_SQL,
    "pipe_dedup_clusters": PIPE_DEDUP_CLUSTERS_SQL,
    "pipe_dedup_incremental": PIPE_DEDUP_INCREMENTAL_SQL,
    "pipe_dedup_incremental_persisted": PIPE_DEDUP_INCREMENTAL_SQL,
    "pipe_embed_neardup": PIPE_EMBED_NEARDUP_SQL,
    "pipe_embed_centroids": PIPE_EMBED_CENTROIDS_SQL,
    "pipe_ann_topk": PIPE_ANN_TOPK_SQL,
    "pipe_ann_ivf": PIPE_ANN_IVF_SQL,
    "pipe_text_stats": PIPE_TEXT_STATS_SQL,
    "pipe_text_langid": PIPE_TEXT_LANGID_SQL,
    "pipe_text_fingerprint": PIPE_TEXT_FINGERPRINT_SQL,
    "pipe_text_topterms": PIPE_TEXT_TOPTERMS_SQL,
    "pipe_text_tfidf": PIPE_TEXT_TFIDF_SQL,
    "pipe_mm_decode": PIPE_MM_DECODE_SQL,
    "pipe_mm_frames": PIPE_MM_FRAMES_SQL,
    "pipe_curate": PIPE_CURATE_SQL,
    "pipe_chunk_pack": PIPE_CHUNK_PACK_SQL,
    "pipe_decontaminate": PIPE_DECONTAMINATE_SQL,
    "pipe_sample_stratified": PIPE_SAMPLE_STRATIFIED_SQL,
    "pipe_token_budget": PIPE_TOKEN_BUDGET_SQL,
    "pipe_pq_topk": PIPE_PQ_TOPK_SQL,
    "pipe_ann_ivf_trained": PIPE_ANN_IVF_TRAINED_SQL,
    "pipe_pq_topk_trained": PIPE_PQ_TOPK_TRAINED_SQL,
    "pipe_text_repetition": PIPE_TEXT_REPETITION_SQL,
    "pipe_text_redact": PIPE_TEXT_REDACT_SQL,
    "pipe_dedup_lines": PIPE_DEDUP_LINES_SQL,
    "pipe_text_classifier": PIPE_TEXT_CLASSIFIER_SQL,
    "pipe_embed_project": PIPE_EMBED_PROJECT_SQL,
    "pipe_semantic_dedup": PIPE_SEMANTIC_DEDUP_SQL,
    "pipe_bpe": PIPE_BPE_SQL,
    "pipe_split_assign": PIPE_SPLIT_ASSIGN_SQL,
    "pipe_shuffle": PIPE_SHUFFLE_SQL,
    "pipe_lm_score": PIPE_LM_SCORE_SQL,
    "pipe_text_bm25": PIPE_TEXT_BM25_SQL,
    "pipe_dsir_select": PIPE_DSIR_SELECT_SQL,
    "pipe_dedup_substring": PIPE_DEDUP_SUBSTRING_SQL,
    "pipe_image_neardup": PIPE_IMAGE_NEARDUP_SQL,
    "pipe_audio_neardup": PIPE_AUDIO_NEARDUP_SQL,
    "pipe_mix_sources": PIPE_MIX_SOURCES_SQL,
    "pipe_topic_clusters": PIPE_TOPIC_CLUSTERS_SQL,
}
