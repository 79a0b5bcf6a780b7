"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale design (the point of this module — see SURVEY.md §7.2 step 8):

- Signatures (minhash / simhash / fingerprints) are computed as
  row-local Column expressions: zero shuffle, whole-stage codegen,
  O(tokens) per row.  No Python touches the data path.
- Candidate generation is the only shuffle, and it shuffles on a
  uniformly-distributed hash key (LSH band / simhash chunk), so it
  partitions evenly on a 1000-executor cluster.  Bucket-join (self
  equi-join on the band key with id< id) instead of collect_list so
  a pathological bucket (e.g. a billion identical docs) becomes an
  AQE-splittable skew join, not an executor OOM.
- Verification (exact Jaccard / Hamming) runs only on candidate
  pairs, i.e. output-size cost, not corpus² cost.

All hashes are DuckDB-reproducible (bd_spark.operators.hashing) so
every operator ships an exact SQL oracle.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bd_spark.catalog import rebalance
from bd_spark.operators.hashing import (
    P31, h31, h60, horner_window, lit_longs, minhash_coefficients,
    poly_gram_hashes, poly_hashes_from_codes, str_codes,
)
from bd_spark.operators.text import char_ngrams, let1, tokens, word_shingles

# Gram-hash scheme of ghash columns (ngram_jaccard_pairs,
# build_dedup_index, and every DedupIndexStore version): "poly31" =
# hashing.poly_gram_hashes (P31 polynomial over codepoints). Persisted
# stores stamp this per version; probing a store built under another
# scheme is rejected at read() (silent empty joins otherwise).
_GRAM_HASH_SCHEME = "poly31"


MINHASH_K = 32
LSH_BANDS = 8
LSH_ROWS = MINHASH_K // LSH_BANDS  # 4

SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4  # pigeonhole: hamming<=3 pairs share >=1 of 4 chunks
_CHUNK_BITS = SIMHASH_BITS // SIMHASH_CHUNKS  # 15


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest id.

    Hash-groupBy on md5(text) — a single shuffle on a uniform key.
    At 100 TB this is the canonical map-side-combinable pattern: the
    partial min(id) aggregates before the exchange.
    """
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def minhash_signature(df: DataFrame, id_col: str, text_col: str,
                      k: int = MINHASH_K, shingle_n: int = 3) -> DataFrame:
    """(id, sig array<long>[k], shingles array<string>) — row-local.

    sig[j] = min over shingles s of (a_j * h31(s) + b_j) mod P31.
    The md5 per shingle is computed once (hashes array), then k
    permutations transform it — O(shingles * k) integer ops per row,
    all inside codegen.
    """
    a, b = minhash_coefficients(k)
    a_arr = lit_longs(a)
    b_arr = lit_longs(b)
    # Single-pass fold: the md5-per-shingle array appears exactly ONCE
    # in the expression tree.  The naive transform-per-permutation
    # formulation gets inlined k times by CollapseProject and costs
    # k*|shingles| md5 calls per row (measured 30x slower).
    sig_fold = F.aggregate(
        F.col("shingle_hashes"),
        F.array_repeat(F.lit(P31).cast("long"), k),
        lambda acc, h: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda m, j: F.least(
                m,
                (F.element_at(a_arr, j + 1) * h + F.element_at(b_arr, j + 1))
                % F.lit(P31),
            ),
        ),
    )
    sh = F.array_distinct(word_shingles(tokens(F.col(text_col)), shingle_n))
    return (
        # signature compute is CPU-dense row-local work: rebalance a
        # narrow source to one partition per core first
        rebalance(df)
        .select(
            F.col(id_col).alias("id"),
            sh.alias("shingles"),
        )
        # distinct: h31 collisions may merge shingles; the verify path
        # intersects these hashed sets so both engines must agree
        .withColumn(
            "shingle_hashes",
            F.array_distinct(F.transform(F.col("shingles"), h31)),
        )
        .select(
            "id",
            F.when(F.size("shingle_hashes") > 0, sig_fold).alias("sig"),
            "shingles",
            "shingle_hashes",
        )
    )


def lsh_candidate_pairs(sig_df: DataFrame, bands: int = LSH_BANDS,
                        rows: int = LSH_ROWS) -> DataFrame:
    """Banding: explode each signature into `bands` (band_idx, key)
    rows, self-join per bucket with id_a < id_b, distinct pairs.

    The join key (band_idx, band string) is uniformly distributed for
    non-duplicate docs, so the shuffle balances; duplicate clusters
    concentrate but AQE skew-join splits them.
    """
    bandrow = sig_df.where(F.col("sig").isNotNull()).select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda j: F.concat_ws(
                    "_",
                    F.transform(
                        F.slice(F.col("sig"), j * rows + 1, rows),
                        lambda x: x.cast("string"),
                    ),
                ),
            )
        ).alias("band_idx", "band_key"),
    )
    left = bandrow.alias("l")
    right = bandrow.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_dedup(df: DataFrame, id_col: str, text_col: str,
                      threshold: float = 0.7, shingle_n: int = 3) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signature -> banded
    candidates -> exact Jaccard verify on candidate pairs only.

    Returns (id_a, id_b, jaccard) with jaccard >= threshold.
    """
    # The signature frame feeds both sides of the band self-join AND
    # the verify joins; persist so shingling/hashing runs once.  At
    # cluster scale this is the standard pattern: signatures are tiny
    # (k longs + shingle set) next to the raw text.  No eager
    # materialization here: unlike ngram_jaccard_pairs there is no
    # separate driver action (broadcast-size estimate) racing the main
    # job, so the single downstream action populates the cache
    # deterministically — an eager pass was measured to DOUBLE wall
    # time (5.2 s -> 12.4 s at sf0.1) by serially recomputing the
    # shingle+signature stage before the main job reran it.
    sig = minhash_signature(df, id_col, text_col, shingle_n=shingle_n).persist()
    pairs = lsh_candidate_pairs(sig)
    # verify on 31-bit-hashed shingle sets, not the raw strings:
    # integer array_intersect is ~7x cheaper (same trick as the ngram
    # path) and the join carries long arrays instead of full text
    sets_ = sig.select("id", F.col("shingle_hashes").alias("hs"))
    ja = sets_.alias("a")
    jb = sets_.alias("b")
    inter = F.size(F.array_intersect(F.col("a.hs"), F.col("b.hs")))
    union = F.size(F.col("a.hs")) + F.size(F.col("b.hs")) - inter
    jacc = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return (
        pairs.join(ja, pairs.id_a == F.col("a.id"))
        .join(jb, pairs.id_b == F.col("b.id"))
        .select("id_a", "id_b", F.round(jacc, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def simhash_column(text_col: str, bits: int = SIMHASH_BITS):
    """60-bit count-weighted SimHash (Charikar) — one row-local
    expression.

    bit i is set when the occurrence-weighted vote of token hashes
    with bit i set beats those with it clear.  Count weighting
    matters on small vocabularies where distinct-token sets barely
    differ.  O(distinct_tokens * (tokens + bits)) integer ops inside
    codegen; no shuffle, no UDF.
    """
    toks = tokens(F.col(text_col))
    dt = F.array_distinct(toks)
    # (hash, count) pairs built ONCE; a per-bit formulation would get
    # inlined `bits` times by CollapseProject (60x the md5 work).
    # h60 (not h31): the full 60 bits of the md5 prefix carry entropy.
    weighted = F.zip_with(
        F.transform(dt, h60),
        F.transform(dt, lambda t: F.size(F.filter(toks, lambda x: x == t)).cast("long")),
        lambda h, c: F.struct(h.alias("h"), c.alias("c")),
    )
    pow2 = lit_longs(1 << i for i in range(bits))
    votes = F.aggregate(
        weighted,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, hc: F.zip_with(
            acc,
            pow2,
            lambda v, p: v
            + F.when(hc.getField("h").bitwiseAND(p) != 0, hc.getField("c")).otherwise(
                -hc.getField("c")
            ),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            pow2,
            lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_near_dupes(df: DataFrame, id_col: str, text_col: str,
                       max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: chunk-bucket candidates + exact
    Hamming verify.

    Pigeonhole: two 60-bit hashes within Hamming distance 3 agree on
    at least one of 4 disjoint 15-bit chunks, so bucketing each doc 4
    times (chunk_idx, chunk_value) finds every qualifying pair with
    one uniform-key shuffle.
    """
    # persist: the chunk explode self-join would otherwise recompute
    # the simhash expression on both join sides.  Both sides belong to
    # the SAME downstream action, which populates the cache once — no
    # concurrent driver action exists here, so no eager
    # materialization (an eager count() regressed this 1.6 -> 2.3 s).
    sh = rebalance(df).select(
        F.col(id_col).alias("id"), simhash_column(text_col).alias("simhash")
    ).persist()
    return hamming_near_dupes(sh, "id", "simhash", max_hamming=max_hamming)


def hamming_near_dupes(hashed: DataFrame, id_col: str, hash_col: str,
                       chunks: int = SIMHASH_CHUNKS,
                       chunk_bits: int | None = None,
                       max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs of any fixed-width integer hash (simhash,
    image dHash, audio fingerprint) by chunk-bucketing + exact
    Hamming verify.  Pigeonhole: two hashes within Hamming distance
    ``chunks - 1`` agree on at least one of ``chunks`` disjoint
    bit-chunks, so bucketing each row ``chunks`` times finds every
    qualifying pair with ONE uniform-key shuffle — never all-pairs.
    ``hashed`` must already be cheap to recompute or persisted (the
    self-join reads it twice)."""
    cb = chunk_bits if chunk_bits is not None else _CHUNK_BITS
    ch = hashed.select(
        F.col(id_col).alias("id"),
        F.col(hash_col).alias("hv"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col(hash_col), i * cb)
                    .bitwiseAND(F.lit((1 << cb) - 1))
                    for i in range(chunks)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    l, r = ch.alias("l"), ch.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.chunk_idx") == F.col("r.chunk_idx"))
            & (F.col("l.chunk_val") == F.col("r.chunk_val"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.hv").alias("sh_a"),
            F.col("r.hv").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select(
        "id_a", "id_b", hamming.cast("long").alias("hamming")
    ).where(F.col("hamming") <= max_hamming)


# Edge sets at or under this size short-circuit the distributed star
# loop into one driver-side union-find (see connected_components_star):
# ~16 bytes/edge keeps the collect a few MB, far below any driver
# limit, while the duplicate-pair graphs the pipeline queries produce
# locally are thousands of edges — each star round otherwise costs
# 2 window shuffles + a localCheckpoint + a signature job of pure
# fixed overhead. At corpus scale take(limit+1) overflows on the
# first partitions and the distributed O(log n)-round path runs
# unchanged.
CC_DRIVER_EDGE_LIMIT = 200_000


def connected_components_star(ids: DataFrame, pairs: DataFrame,
                              id_col: str = "id",
                              max_iter: int = 30,
                              small_graph_limit: int | None = None,
                              labels_only: bool = False,
                              ) -> DataFrame:
    """Connected components by ALTERNATING STAR CONTRACTION
    (large-star / small-star, Kiveris et al., "Connected Components
    in MapReduce and Beyond"): every node is labeled with its
    component's min id (singletons label themselves), the fixed point
    of min-label propagation, so the iteration order does not matter
    and a DuckDB recursive CTE reproduces it exactly.

    State is ONE edge set (no separate labels frame):

    - **large-star** (per node u over the bidirected edge list):
      m = min(N(u) ∪ {u}); replace each edge (u, v) with v > u by
      (v, m) — strictly-larger neighbors re-attach to the local min.
    - **small-star** (per node u over min-oriented edges b > a):
      m = min of u's smaller neighbors; re-attach them and u to m.

    Both steps are ONE window shuffle + a distinct each (2 shuffles,
    1 job per round via a combined signature agg).  Round count is
    O(log n) regardless of graph shape (the paper's Thm 2), so no
    data-dependent diameter term.  ``localCheckpoint`` per round
    truncates the iterative lineage (iterative joins otherwise stack
    plans exponentially).

    Convergence check: the edge set is a fixed point of both steps
    iff it is a set of min-centered stars; detected by an order-
    insensitive signature (count + sum + sum of per-edge hashes) —
    one aggregate job per round, no exceptAll shuffle.

    ``labels_only=True`` returns just the RELABELED nodes —
    (id, label) rows with label != id, label = the component min —
    and never touches ``ids`` (pass None). Every node absent from the
    frame is its own component's representative, so callers that only
    need "drop the non-representatives" anti-join against it instead
    of paying the ids-join + full-map filter (r11: pipe_curate's
    reps detour was two extra scans of the corpus cache).
    """
    raw = pairs.select(
        F.least("id_a", "id_b").alias("a"), F.greatest("id_a", "id_b").alias("b")
    ).where(F.col("a") != F.col("b"))
    edges = raw.distinct().localCheckpoint()
    if edges.isEmpty():
        if labels_only:
            return edges.select(
                F.col("a").alias("id"), F.col("b").alias("label")
            )
        return ids.select(
            F.col(id_col).alias("id"), F.col(id_col).alias("cluster")
        )

    # small-graph lane: a bounded take() + driver union-find produces
    # the IDENTICAL (node -> component min) labels in one job instead
    # of O(log n) rounds x (2 window shuffles + checkpoint + signature
    # job). Guarded exactly like the broadcast-threshold lanes: at
    # scale the take overflows and the distributed loop runs.
    limit = CC_DRIVER_EDGE_LIMIT if small_graph_limit is None else small_graph_limit
    if limit > 0:
        head = edges.take(limit + 1)
        if len(head) <= limit:
            parent: dict = {}

            def find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:
                    parent[x], x = root, parent[x]
                return root

            for r in head:
                a, b = r[0], r[1]
                parent.setdefault(a, a)
                parent.setdefault(b, b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    # smaller root wins -> every root is its
                    # component's min id (matches the star fixed point)
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
            rows = [(x, find(x)) for x in parent]
            rows = [(x, m) for x, m in rows if x != m]
            from pyspark.sql import types as Ty

            et = edges.schema["a"].dataType
            labels = edges.sparkSession.createDataFrame(
                rows,
                Ty.StructType([
                    Ty.StructField("id", et), Ty.StructField("label", et)
                ]),
            )
            if labels_only:
                return labels
            return (
                ids.select(F.col(id_col).alias("id"))
                .join(labels, "id", "left")
                .select(
                    "id", F.coalesce("label", F.col("id")).alias("cluster")
                )
            )

    def signature(e: DataFrame):
        return e.agg(
            F.count("*"), F.sum("a"), F.sum("b"),
            F.sum(F.xxhash64("a", "b")),
        ).first()

    prev_sig = None
    for _ in range(max_iter):
        # large-star over the bidirected list
        bidir = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        wu = Window.partitionBy("u")
        ls = (
            bidir.withColumn("m", F.least(F.min("v").over(wu), F.col("u")))
            .where(F.col("v") > F.col("u"))
            # edge (v, m): m <= u < v, so (a, b) = (m, v)
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star over min-oriented edges (group by the larger end)
        wb = Window.partitionBy("b")
        ss = ls.withColumn("m", F.min("a").over(wb))
        edges = (
            ss.where(F.col("a") != F.col("m"))
            .select(F.col("m").alias("a"), F.col("a").alias("b"))
            .union(ss.select(F.col("m").alias("a"), F.col("b").alias("b")))
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        sig = signature(edges)
        if sig == prev_sig:
            break
        prev_sig = sig
    # fixed point: min-centered stars — every non-min node appears
    # exactly once as b with its component min as a (the groupBy is a
    # no-op then; it guards the truncated-at-max_iter case where a
    # node could still carry two candidate centers)
    labels = edges.groupBy(F.col("b").alias("id")).agg(
        F.min("a").alias("label")
    )
    if labels_only:
        # b > a on every edge, so label < id always: no self-labels
        return labels
    return (
        ids.select(F.col(id_col).alias("id"))
        .join(labels, "id", "left")
        .select("id", F.coalesce("label", F.col("id")).alias("cluster"))
    )


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        block_cols: list[str], n: int = 5,
                        threshold: float = 0.6,
                        freq_broadcast_threshold: int | None = None) -> DataFrame:
    """Exact character-n-gram Jaccard >= threshold within blocking
    keys, via frequency-ordered PREFIX FILTERING (Bayardo et al.
    All-Pairs / PPJoin family) — lossless for the threshold, so the
    output is identical to the naive blocked all-pairs join.

    Why not all-pairs: blocked all-pairs is O(block²) pairs each
    paying an array_intersect over the full gram sets (measured 150 s
    at sf0.1; unrunnable at corpus scale).  Here:

      1. every stage runs on 31-bit HASHED grams (h31, engine-portable
         so the oracle reproduces the same sets bit-for-bit): longs
         shuffle/broadcast ~4x cheaper than gram strings, integer
         array_intersect is ~7x cheaper than string intersection
         (measured 73 s -> 11 s at sf0.1 on 500k candidates), and the
         cached per-doc state is just (id, blocks, hash set).
         Semantics: Jaccard over hashed gram sets — collisions
         (p ~ |grams|²/2³¹ per doc) can merge grams, identically in
         both engines, and every filter below is computed over the
         hashed sets too, so the pipeline is exactly lossless for the
         hashed-Jaccard threshold;
      2. per-block document frequency of every gram hash (one groupBy);
      3. each doc's hashes sorted rarest-first (total order (df,
         hash)); a pair with J >= t must share a hash within the
         first ``nh - ceil(t*nh) + 1`` of each side's ordering
         (s >= ceil(t*nh) because s/(na+nb-s) >= t implies
         s >= t*max(na, nb));
      4. candidates = equi-join of PREFIX hashes only — rare grams, so
         per-gram fan-out is tiny (12x fewer join rows at sf0.1, and
         the gap widens with corpus size) — plus the All-Pairs size
         filter as a join residual;
      5. exact hashed-set Jaccard verify on the candidates only.

    Every shuffle is on (block, hash) or id — uniform keys; frequent
    grams never enter the join.
    """
    # r11: POLYNOMIAL per-position gram hash (hashing.poly_gram_hashes,
    # DuckDB twin poly_gram_hash_duckdb) — same distinct-hash-set
    # semantics as the old h31(md5(gram)) form (measured identical
    # entry counts at sf0.1), but the generated code is ~5x smaller:
    # the md5 tree's FIRST execution paid ~2.5 s of Janino compile
    # (3.2 s cold vs 0.4 s warm for the same pass), which was most of
    # this operator's >10 s cold rows.
    docs = rebalance(df).select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in block_cols],
        F.array_distinct(
            poly_gram_hashes(F.lower(F.trim(F.col(text_col))), n)
        ).alias("ghash"),
    ).persist()
    e = docs.select(
        "id",
        *block_cols,
        F.size("ghash").alias("nh"),
        F.explode("ghash").alias("gh"),
    )
    freq = e.groupBy(*block_cols, "gh").agg(F.count("*").alias("df_"))
    # freq is |distinct (block, gram)| rows — small vocabularies should
    # broadcast, but a 100 TB corpus' gram vocabulary would OOM the
    # driver, so the hint is guarded by a size ESTIMATE: one map-side
    # sum over the persisted docs bounds |freq| by the total gram
    # count.  (Leaving it purely to AQE was measured 1.8x slower at
    # sf0.1: the post-agg stats arrive too late for the first join
    # attempt.)  Beyond the threshold the join degrades gracefully to
    # a shuffle on the uniform (block, gram) key.  See SCALE.md.
    if freq_broadcast_threshold is None:
        try:
            freq_broadcast_threshold = int(
                df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
            )
        except (TypeError, ValueError):
            freq_broadcast_threshold = 10 << 20
    # One deliberate action over the persisted docs: (a) the EXACT
    # hash-entry count for the broadcast size guards, and (b) a clean
    # materialization of the cache BEFORE the freq/verify broadcast
    # threads and the main job race on it — lazily-materialized cache
    # under three concurrent consumers was observed recomputing the
    # (expensive) signature pass repeatedly, costing 2-4x wall time
    # nondeterministically.
    est_rows = docs.agg(F.sum(F.size("ghash"))).first()[0] or 0
    # ~bytes/entry in the broadcast hash relation: hash long + block
    # keys + count + JVM object overhead
    est_bytes = est_rows * 48
    freq_side = (
        F.broadcast(freq) if est_bytes < freq_broadcast_threshold else freq
    )
    w = Window.partitionBy("id").orderBy("df_", "gh")
    prefix_len = (
        F.col("nh") - F.ceil(F.lit(threshold) * F.col("nh")).cast("long") + 1
    )
    prefix = (
        e.join(freq_side, [*block_cols, "gh"])
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= prefix_len)
        .select("id", *block_cols, "gh", "nh", "rk")
    )
    # r11: when the candidate self-join goes BROADCAST (small-corpus
    # lane), its build side sits under a BroadcastExchange that can
    # never be exchange-reused against the stream side — the ENTIRE
    # freq+join+window prefix pipeline was in the plan TWICE (measured
    # in plans/r11/pipe_dedup_ngram: two Window + two freq
    # HashAggregate subtrees). Persisting the (prefix-filtered, tiny
    # by the same estimate that allows the broadcast) frame computes
    # it once and both sides read the cache. Beyond the budget the
    # planner picks a sort-merge join whose two identical row
    # exchanges ReuseExchange already dedups — so the persist is only
    # needed (and only taken) on the small lane. Lifecycle: released
    # by the caller's clearCache like the docs persist above.
    if est_bytes < freq_broadcast_threshold:
        prefix = prefix.persist()
    pa, pb = prefix.alias("pa"), prefix.alias("pb")
    cond = F.col("pa.id") < F.col("pb.id")
    for c in block_cols:
        cond = cond & (F.col(f"pa.{c}") == F.col(f"pb.{c}"))
    cond = cond & (F.col("pa.gh") == F.col("pb.gh"))
    # size filter (All-Pairs): J(A,B) >= t needs |A∩B| >= t*max and
    # |A∩B| <= min, so min >= t*max — over the HASHED set sizes the
    # verify uses, making it provably lossless. As a join residual it
    # kills most candidates (measured 2.7M -> ~0.4M at sf0.1) BEFORE
    # the distinct and before the verify join ships the (large) gram
    # hash arrays — that array shuffle was the whole pipeline's
    # dominant cost.
    cond = cond & (
        F.least(F.col("pa.nh"), F.col("pb.nh"))
        >= F.lit(threshold) * F.greatest(F.col("pa.nh"), F.col("pb.nh"))
    )
    # POSITIONAL filter (PPJoin): both docs' prefixes are ranked in
    # the same (df, gh) total order, so for a pair matched at ranks
    # (rk_a, rk_b) the overlap is at most 1 + min(nh-rk) remaining
    # grams, while J >= t needs overlap >= t/(1+t)*(nh_a+nh_b).
    # Lossless: a qualifying pair survives via its FIRST shared
    # prefix gram (every other shared gram ranks later in both).
    # Small-vocabulary corpora are exactly where the prefix filter
    # alone collapses (few distinct grams -> everything shares rare
    # grams); measured 1.67M -> far fewer candidates at sf0.1. The
    # 1e-9 slack absorbs double rounding in the exact-integer bound.
    cond = cond & (
        1 + F.least(
            F.col("pa.nh") - F.col("pa.rk"), F.col("pb.nh") - F.col("pb.rk")
        )
        >= F.ceil(
            F.lit(threshold / (1.0 + threshold))
            * (F.col("pa.nh") + F.col("pb.nh")) - F.lit(1e-9)
        )
    )
    cand = (
        pa.join(pb, cond)
        .select(F.col("pa.id").alias("id_a"), F.col("pb.id").alias("id_b"))
        .distinct()
        # spread the CPU-heavy verify (exact Jaccard over full gram
        # sets) across cores: AQE coalesces the candidate exchange by
        # shuffle SIZE, but verify cost is CPU per row (a 124k-pair
        # candidate set coalesced to 4 partitions measured 6.3 s vs
        # 2.4 s at sf0.1); an explicit numbered repartition is exempt
        # from coalescing, and candidate pairs are output-sized, so
        # this extra exchange is trivially cheap at any scale
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
    )
    # verify-join side: ONE canonical (id, ghash) projection probed
    # twice (id_a fetch, id_b fetch) so the exchange-reuse rule
    # builds a SINGLE broadcast relation — the r11 rewrite from two
    # alias-renamed projections (ga/gb), which canonicalized
    # differently and built two ~identical hash relations (measured
    # 4.2 -> 3.5 s at sf0.1; guide §2.4 "share one exchange").  When
    # it fits the broadcast budget the verify runs map-side and the
    # (large) arrays never shuffle (that shuffle dominated the whole
    # pipeline); beyond the budget the same guard as freq degrades it
    # to a shuffle join on the uniform id key.  Budget 24
    # bytes/entry (long + JVM array/row overhead) times TWO probe
    # sides sharing one relation.
    g = docs.select("id", "ghash")
    if est_rows * 2 * 24 < freq_broadcast_threshold:
        g = F.broadcast(g)
    inter = F.size(F.array_intersect(F.col("grams_a"), F.col("grams_b")))
    union = F.size("grams_a") + F.size("grams_b") - inter
    jacc = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    # threshold on the UNROUNDED Jaccard (round only for output): the
    # prefix/size/positional filters above are lossless exactly for
    # true J >= t, so filtering on round(J, 6) admitted pairs with
    # true J in [t - 5e-7, t) that the filters may legally prune — a
    # vanishingly-rare but real oracle divergence (r9 ADVICE). The
    # oracle SQL applies the same unrounded filter.
    return (
        cand.join(g.alias("gA"), F.col("id_a") == F.col("gA.id"))
        .join(g.alias("gB"), F.col("id_b") == F.col("gB.id"))
        .select(
            "id_a", "id_b",
            F.col("gA.ghash").alias("grams_a"),
            F.col("gB.ghash").alias("grams_b"),
        )
        .where(jacc >= threshold)
        .select("id_a", "id_b", F.round(jacc, 6).alias("jaccard"))
    )


def substring_dup_stats(
    docs: DataFrame, id_col: str, text_col: str,
    k: int = 40, stride: int = 10, anchor_n: int = 8,
    engine: str = "arrow",
) -> DataFrame:
    """Cross-document substring duplication (the anchored-window
    approximation of Lee et al. 2022 "Deduplicating Training Data
    Makes Language Models Better" exact-substring dedup): hash the
    ``k``-char window at every CONTENT-DEFINED anchor — a position
    whose ``anchor_n``-char gram hashes to 0 mod ``stride`` (the CDC
    / winnowing trick) — and mark windows whose hash appears in more
    than one distinct document.  Content-defined anchors align on the
    CONTENT, not the offset, so a span shared verbatim at DIFFERENT
    offsets in two docs anchors at the same in-span positions in both
    (fixed-stride windows would only collide when the offsets differ
    by a multiple of the stride); a shared span of length L carries
    ~(L-k)/stride expected collisions, with a geometric-tail miss
    probability for short spans.

    Returns (id, n_windows, n_dup, dup_frac, flagged) — one row per
    doc with at least one anchored window, flagged when more than
    half its windows are cross-doc duplicates.

    100 TB shape: anchoring costs ``anchor_n`` linear int64 passes
    (polynomial gram hash, hashing.poly_gram_hashes — r7: replaced
    the md5-digest-per-char-position pass, the operator's named
    throughput knob) and emits ~len/stride windows per doc — a
    constant factor, not a blow-up; the (window-hash, doc) distinct
    and the
    >1-doc filter are map-side-combinable aggregates on the UNIFORM
    md5-derived window-hash key (no skew by construction); the
    flag-back join is on that same key.  Nothing is all-pairs and no
    suffix array is materialized — stride trades index density for
    the detection floor, exactly the knob a 100 TB corpus needs.
    """
    s = F.lower(F.trim(F.col(text_col)))
    n = F.length(s)

    # r7 (VERDICT wrong #4): ONE codepoint array feeds both hashes —
    # the anchor test is a POLYNOMIAL gram hash (anchor_n
    # shifted-slice zip passes of pure int64 arithmetic) and the
    # window hash a Horner fold over the same codes (k int64 steps
    # per anchor) — replacing an md5 digest per character position
    # plus a 40-char substring copy + md5 per anchor (the operator's
    # named throughput knob).
    def _hashes(codes: Column) -> Column:
        anch = F.transform(
            poly_hashes_from_codes(codes, anchor_n),
            lambda h, i: F.when(
                (h % stride == 0) & (i <= n - k),
                i,
            ),
        )
        return F.transform(
            F.filter(anch, lambda x: x.isNotNull()),
            lambda i: horner_window(codes, i, k),
        )

    # r8: the default scan is the Arrow/numpy lane
    # (hashing.window_hashes_arrow — bit-identical by construction,
    # parity-pinned in tests/test_pipeline_ops.py): the SQL lane's
    # split('') codepoint array was a measured ~16 s JVM-allocation
    # floor of the ~26 s sf1 run (r7 VERDICT wrong #2). engine="sql"
    # keeps the pure-JVM expression lane (the DuckDB oracle's twin).
    if engine == "arrow":
        from bd_spark.operators.hashing import window_hashes_arrow

        hashes = window_hashes_arrow(s, k, stride, anchor_n)
    else:
        hashes = let1(str_codes(s), _hashes)
    win = docs.select(
        F.col(id_col), F.explode(hashes).alias("h")
    )
    # ONE (h, doc) pre-aggregation that BOTH branches read: identical
    # exchange subtrees let ReuseExchange evaluate the anchor+window
    # hashing scan once (r7 — the old dropDuplicates/join pair keyed
    # two DIFFERENT exchanges, re-running the whole hashing pass per
    # branch). cnt preserves in-doc occurrence counts so n_dup still
    # counts occurrences while dup-detection stays distinct-doc.
    g = win.groupBy("h", id_col).agg(F.count("*").alias("cnt"))
    # windows present in >1 DISTINCT doc: g rows are (h, doc) distinct
    # by construction, so in-doc repeats don't fake cross-doc dup
    dup = (
        g.groupBy("h")
        .agg(F.count("*").alias("nd"))
        .where(F.col("nd") > 1)
        .select("h")
    )
    per = (
        g.join(dup.withColumn("__dup", F.lit(1)), "h", "left")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_windows"),
            F.coalesce(
                F.sum(F.when(F.col("__dup").isNotNull(), F.col("cnt"))),
                F.lit(0),
            ).alias("n_dup"),
        )
    )
    return per.select(
        F.col(id_col),
        "n_windows",
        "n_dup",
        F.round(F.col("n_dup") / F.col("n_windows"), 6).alias("dup_frac"),
        (F.col("n_dup") * 2 > F.col("n_windows")).alias("flagged"),
    )


def build_dedup_index(df: DataFrame, id_col: str, text_col: str,
                      block_cols: list[str], n: int = 5) -> DataFrame:
    """Per-doc dedup FINGERPRINT INDEX: (id, *blocks, content_hash,
    ghash) — the only state a future ingestion batch needs to dedup
    against this corpus. ~50 bytes + 8 B/distinct-gram per doc, vs
    re-reading corpus text: at 100 TB the index is ~1-2% of corpus
    bytes, written once and reused by every incremental_dedup call.

    The batch-time DERIVED state — the per-block gram document
    frequencies and the index side's own PPJoin prefix — depends only
    on this table, so it is materialized ONCE alongside it
    (``DedupIndexStore``, one atomic versioned commit of all three)
    rather than re-derived per batch: r9's per-batch re-derivation
    cost two O(index) passes, one with a full index-gram window
    shuffle, in an operator whose whole purpose is batch-proportional
    cost (r9 VERDICT wrong #1)."""
    return rebalance(df).select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in block_cols],
        F.md5(F.col(text_col)).alias("content_hash"),
        # polynomial gram hash — keep in lockstep with
        # ngram_jaccard_pairs (r11; see the comment there). Persisted
        # indexes carry these values on disk: DedupIndexStore's
        # FORMAT version gates stale stores.
        F.array_distinct(
            poly_gram_hashes(F.lower(F.trim(F.col(text_col))), n)
        ).alias("ghash"),
    )


def derive_gram_freq(index: DataFrame, block_cols: list[str]) -> DataFrame:
    """(block..., gh, df_): per-block DOCUMENT frequency of every
    distinct index gram hash — one map-side-combinable groupBy over
    the exploded index (ghash entries are distinct per doc by
    construction, so count(*) is a document count).

    O(index) — run once per index version at build time
    (DedupIndexStore.write), never per batch."""
    return (
        index.select(*block_cols, F.explode("ghash").alias("gh"))
        .groupBy(*block_cols, "gh")
        .agg(F.count("*").alias("df_"))
    )


def _prefix_len(threshold: float):
    """PPJoin prefix length for |grams| = nh at the given threshold:
    a pair with J >= t must share a gram within the first
    ``nh - ceil(t*nh) + 1`` grams of each side's rarest-first order
    (see ngram_jaccard_pairs step 3)."""
    return (
        F.col("nh") - F.ceil(F.lit(threshold) * F.col("nh")).cast("long") + 1
    )


def derive_index_prefix(index: DataFrame, freq: DataFrame,
                        block_cols: list[str],
                        threshold: float) -> DataFrame:
    """(id, block..., gh, nh, rk): the index side's own PPJoin prefix
    under the (df_, gh) rarest-first total order, at ``threshold``.

    Self-consistent with the index by construction (freq must be
    ``derive_gram_freq`` of the SAME index version — DedupIndexStore
    commits the triple atomically). Valid for any query threshold
    >= the build threshold: higher thresholds need SHORTER prefixes,
    so a batch re-filters ``rk <= prefix_len(t)`` locally.

    O(index) + one window shuffle over all index grams — the exact
    cost r9 paid per batch; here it runs once at build time."""
    e = index.select(
        "id", *block_cols,
        F.size("ghash").alias("nh"),
        F.explode("ghash").alias("gh"),
    )
    w = Window.partitionBy("id").orderBy("df_", "gh")
    return (
        e.join(freq, [*block_cols, "gh"])
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _prefix_len(threshold))
        .select("id", *block_cols, "gh", "nh", "rk")
    )


def incremental_dedup(new_df: DataFrame, index: DataFrame, id_col: str,
                      text_col: str, block_cols: list[str], n: int = 5,
                      threshold: float = 0.6, *,
                      freq: DataFrame | None = None,
                      index_prefix: DataFrame | None = None) -> DataFrame:
    """Dedup an incoming shard AGAINST an existing fingerprint index
    (build_dedup_index) without re-reading any corpus text — the
    ingestion-time shape of dedup at 100 TB, where the corpus is
    append-only and each new batch is a tiny fraction of it.

    One row per NEW doc:
      (id, dup_exact, exact_src, near_src, jaccard)
    - dup_exact / exact_src: content-hash match anywhere in the index
      (blocks ignored, like exact_dedup); min corpus id.
    - near_src / jaccard: best hashed-gram-Jaccard >= threshold match
      within (block_cols) blocks — max rounded jaccard, ties to min
      corpus id; NULL when no index doc qualifies.

    Scale shape (r10 — fixes r9 VERDICT wrong #1): when ``freq`` and
    ``index_prefix`` are supplied (derive_gram_freq /
    derive_index_prefix, persisted at build time by DedupIndexStore),
    a batch costs O(shard + candidates): the index is only ever
    SCANNED (exact-hash probe, prefix equi-join, per-candidate gram
    fetch), each behind a broadcast of the small shard side, so no
    index-proportional shuffle and NO window over index grams appears
    in the batch plan (asserted in tests/test_plans.py). The prefix
    must have been built at a threshold <= this call's threshold (a
    higher query threshold needs a SHORTER prefix; the ``rk <=
    prefix_len`` re-filter below is local). Without them, both are
    derived inline — two O(index) passes acceptable only for one-shot
    use; looped callers must use DedupIndexStore.

    Candidate generation uses the same lossless PPJoin prefix +
    All-Pairs size + positional filters as ngram_jaccard_pairs, under
    the INDEX's (df, gh) total order — a shard gram unseen in the
    corpus sorts first (df 0), which only widens the shard prefix,
    never drops a qualifying pair (the minimum SHARED gram still
    ranks inside both prefixes).

    Cache lifecycle: the shard fingerprint (and, inline-derivation
    path only, the caller's index) is persist()ed for the lifetime of
    the returned plan; callers own release (spark.catalog.clearCache()
    after materializing, as bench.py does). DedupIndexStore.
    dedup_batch persists nothing index-sized."""
    state_given = freq is not None and index_prefix is not None
    newi = build_dedup_index(new_df, id_col, text_col, block_cols, n).persist()
    # ONE deliberate action: materialize the cache(s) before fan-out
    # AND compute the broadcast size estimate(s) (r11 — this was a
    # separate count() plus an agg, then on the inline path a THIRD
    # job for the index estimate; the serial driver actions plus their
    # per-plan analysis cost ~1 s/batch at sf0.1, stageprof).  The
    # shard fingerprint feeds FOUR consumers (exact probe, its prefix,
    # the verify gram fetch, the final left joins); uncached, each
    # re-runs the shard fingerprint computation.
    try:
        bcast_budget = int(
            new_df.sparkSession.conf.get(
                "spark.sql.autoBroadcastJoinThreshold"
            )
        )
    except (TypeError, ValueError):
        bcast_budget = 10 << 20
    # the SHARD side is small by construction: broadcast its prefix
    # and its gram arrays whenever they fit, so the (large) index
    # side never shuffles for the candidate or verify joins
    if state_given:
        shard_entries = newi.agg(F.sum(F.size("ghash"))).first()[0] or 0
    else:
        # inline derivation (one-shot callers): the index feeds three
        # consumers — persist it, and size-guard BOTH broadcasts with
        # one tagged-union job: the two cache-materializing subtrees
        # run as independent stages of the same job, in parallel,
        # instead of two serial driver actions.
        index = index.persist()
        sums = {
            r["is_shard"]: r["s"]
            for r in (
                newi.select(
                    F.lit(True).alias("is_shard"),
                    F.size("ghash").alias("ns"),
                )
                .union(index.select(F.lit(False), F.size("ghash")))
                .groupBy("is_shard")
                .agg(F.sum("ns").alias("s"))
                .collect()
            )
        }
        shard_entries = sums.get(True) or 0
        idx_entries = sums.get(False) or 0
        freq = derive_gram_freq(index, block_cols)
        if idx_entries * 48 < bcast_budget:
            freq = F.broadcast(freq)
        index_prefix = derive_index_prefix(
            index, freq, block_cols, threshold
        )
    shard_fits = shard_entries * 48 < bcast_budget
    # else: persisted-state path — freq/prefix are parquet-backed, so
    # the file-source sizeInBytes stats drive Catalyst's own
    # broadcast decision for the (shard-grams x freq) join; no
    # index-sized action, persist, or manual hint here. At 100 TB,
    # store freq bucketed by (block, gh) so even an over-threshold
    # freq join only shuffles the shard side (operators.bucketing).
    # exact probe: broadcast the SHARD side when it fits so the
    # (large) index is only streamed, never shuffled or broadcast —
    # at 100 TB Catalyst's stats would otherwise pick whichever side
    # file-stats call small, which locally is the index (guide §3.1:
    # pick the strategy deliberately; the shard is the side that is
    # small BY CONSTRUCTION)
    ex_shard = newi.select("id", "content_hash")
    if shard_fits:
        ex_shard = F.broadcast(ex_shard)
    ex = (
        ex_shard.join(
            index.select(
                F.col("id").alias("exact_src"), "content_hash"
            ),
            "content_hash",
        )
        .groupBy("id")
        .agg(F.min("exact_src").alias("exact_src"))
    )
    # shard-side PPJoin prefix: explode + freq lookup + window, all
    # O(shard) rows (the window partitions by SHARD id only); shard
    # grams unseen in the corpus get df 0 — rarest-first
    pa = (
        newi.select(
            "id", *block_cols,
            F.size("ghash").alias("nh"),
            F.explode("ghash").alias("gh"),
        )
        .join(freq, [*block_cols, "gh"], "left")
        .withColumn("df_", F.coalesce(F.col("df_"), F.lit(0)))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("id").orderBy("df_", "gh")
            ),
        )
        .where(F.col("rk") <= _prefix_len(threshold))
        .select("id", *block_cols, "gh", "nh", "rk")
    )
    if shard_fits:
        pa = F.broadcast(pa)
    pa = pa.alias("pa")
    # local re-filter: valid whenever the prefix was built at a
    # threshold <= this one (shorter prefixes are suffixes-removed)
    pb = index_prefix.where(F.col("rk") <= _prefix_len(threshold)).alias("pb")
    cond = F.col("pa.gh") == F.col("pb.gh")
    for c in block_cols:
        cond = cond & (F.col(f"pa.{c}") == F.col(f"pb.{c}"))
    # All-Pairs size filter + PPJoin positional filter — identical
    # bounds to ngram_jaccard_pairs (lossless for the threshold)
    cond = cond & (
        F.least(F.col("pa.nh"), F.col("pb.nh"))
        >= F.lit(threshold) * F.greatest(F.col("pa.nh"), F.col("pb.nh"))
    )
    cond = cond & (
        1 + F.least(
            F.col("pa.nh") - F.col("pa.rk"), F.col("pb.nh") - F.col("pb.rk")
        )
        >= F.ceil(
            F.lit(threshold / (1.0 + threshold))
            * (F.col("pa.nh") + F.col("pb.nh")) - F.lit(1e-9)
        )
    )
    cand = (
        pa.join(pb, cond)
        .select(F.col("pa.id").alias("id"), F.col("pb.id").alias("src"))
        .distinct()
        # spread the CPU-heavy verify across cores (as in
        # ngram_jaccard_pairs); candidate pairs are output-sized
        .repartition(new_df.sparkSession.sparkContext.defaultParallelism)
    )
    ga = newi.select(F.col("id"), F.col("ghash").alias("grams_a"))
    if shard_fits:
        ga = F.broadcast(ga)
    gb = index.select(F.col("id").alias("src"), F.col("ghash").alias("grams_b"))
    inter = F.size(F.array_intersect(F.col("grams_a"), F.col("grams_b")))
    union = F.size("grams_a") + F.size("grams_b") - inter
    jacc = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    # unrounded threshold filter, rounded output — same lossless-
    # filter-consistency fix as ngram_jaccard_pairs (r9 ADVICE)
    verified = (
        cand.join(ga, "id")
        .join(gb, "src")
        .where(jacc >= threshold)
        .select("id", "src", F.round(jacc, 6).alias("jaccard"))
    )
    # best match: max rounded jaccard, ties -> min corpus id
    best = (
        verified.groupBy("id")
        .agg(
            F.max(
                F.struct(
                    F.col("jaccard"), (-F.col("src")).alias("negsrc")
                )
            ).alias("m")
        )
        .select(
            "id",
            (-F.col("m.negsrc")).alias("near_src"),
            F.col("m.jaccard").alias("jaccard"),
        )
    )
    # final left joins: ex/best are <= one row per shard doc, so they
    # broadcast whenever the shard itself fits — turns two
    # shard-sized SortMergeJoins (3 exchanges + sorts) into
    # BroadcastHashJoins over the cached shard ids (guide §2.4/§3.1).
    # Persisted path only: on the inline path ex/best embed the
    # inline-derived index/freq/prefix subtrees, and a broadcast
    # build side cannot exchange-reuse the stream side — hinting
    # there makes those subtrees compute twice (measured +1 s).
    if shard_fits and state_given:
        ex = F.broadcast(ex)
        best = F.broadcast(best)
    return (
        newi.select("id")
        .join(ex, "id", "left")
        .join(best, "id", "left")
        .select(
            "id",
            F.col("exact_src").isNotNull().alias("dup_exact"),
            "exact_src",
            "near_src",
            "jaccard",
        )
    )


@dataclass
class DedupIndexState:
    """One consistent, versioned snapshot of the dedup index and its
    batch-time derived state (all three from the SAME commit). The
    frames are plain reads of the committed files: how wide a batch
    scans them is decided at use (dedup_batch), from the files
    themselves, not stored here."""
    index: DataFrame
    freq: DataFrame
    prefix: DataFrame
    n: int
    threshold: float
    block_cols: list[str]
    version: int


class DedupIndexStore:
    """Versioned persistence for the dedup fingerprint index AND its
    batch-time derived state, so incremental_dedup costs
    O(shard + candidates) per batch (r9 VERDICT next #1).

    Layout: three VersionedStore sub-stores (``index/``, ``freq/``,
    ``prefix/``) plus a parent ``_state.json`` manifest naming one
    consistent (index_v, freq_v, prefix_v, n, threshold, block_cols)
    triple. The parent manifest is swapped atomically LAST, so a
    reader sees either the old consistent triple or the new one —
    the freq table and prefix can never go stale against the index
    they were derived from (the r9 staleness argument held only for
    re-deriving from a MUTABLE index; these are immutable snapshots).

    ``write`` pays the O(index) derivation passes ONCE: the index is
    written, read back (so freq/prefix derive from the committed
    bytes, not a recomputation), and the two derived tables written.
    ``dedup_batch`` then reads all three and never explodes,
    windows, or shuffles the index side. At 100 TB one would write
    ``freq`` bucketed by (block, gh) (operators.bucketing) so the
    shard-prefix freq lookup shuffles only the shard."""

    def __init__(self, spark: SparkSession, path: str):
        from bd_spark.sources.store import VersionedStore

        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)
        self._index = VersionedStore(spark, os.path.join(path, "index"))
        self._freq = VersionedStore(spark, os.path.join(path, "freq"))
        self._prefix = VersionedStore(spark, os.path.join(path, "prefix"))

    # ---------------------------------------------------- manifest
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "_state.json")

    def _load_manifest(self) -> dict:
        try:
            with open(self._manifest_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"current": None, "versions": []}

    def _commit_manifest(self, m: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic swap

    def current_version(self) -> int | None:
        return self._load_manifest()["current"]

    # ----------------------------------------------------- commits
    def write(self, df: DataFrame, id_col: str, text_col: str,
              block_cols: list[str], n: int = 5,
              threshold: float = 0.6) -> int:
        """Build and commit a new index version WITH its derived
        state; returns the new version number. This is where the
        O(index) passes live — once per corpus snapshot."""
        vi = self._index.write(
            build_dedup_index(df, id_col, text_col, block_cols, n)
        )
        idx = self._index.read(vi)
        vf = self._freq.write(derive_gram_freq(idx, block_cols))
        freq = self._freq.read(vf)
        # build-time broadcast guard for the prefix derivation's freq
        # join (same 48 B/entry estimate as ngram_jaccard_pairs)
        try:
            budget = int(self.spark.conf.get(
                "spark.sql.autoBroadcastJoinThreshold"))
        except (TypeError, ValueError):
            budget = 10 << 20
        entries = idx.agg(F.sum(F.size("ghash"))).first()[0] or 0
        freq_side = F.broadcast(freq) if entries * 48 < budget else freq
        vp = self._prefix.write(
            derive_index_prefix(idx, freq_side, block_cols, threshold)
        )
        m = self._load_manifest()
        new_v = 0 if m["current"] is None else m["current"] + 1
        m["versions"].append({
            "version": new_v, "index_v": vi, "freq_v": vf,
            "prefix_v": vp, "n": n, "threshold": threshold,
            "block_cols": list(block_cols), "ts": time.time(),
            # gram-hash scheme stamp: persisted ghash values must be
            # probed with the SAME hash (r11 switched md5-h31 -> the
            # polynomial gram hash); read() rejects other schemes
            "gram_hash": _GRAM_HASH_SCHEME,
        })
        m["current"] = new_v
        self._commit_manifest(m)
        return new_v

    # ------------------------------------------------------- reads
    def read(self, version: int | None = None) -> DedupIndexState:
        m = self._load_manifest()
        if m["current"] is None:
            raise FileNotFoundError(f"empty dedup index store {self.path}")
        v = m["current"] if version is None else version
        entry = next(
            (e for e in m["versions"] if e["version"] == v), None
        )
        if entry is None:
            raise ValueError(f"version {v} not in store")
        scheme = entry.get("gram_hash", "md5h31")
        if scheme != _GRAM_HASH_SCHEME:
            raise ValueError(
                f"store version {v} was built with gram-hash scheme "
                f"{scheme!r}; this engine probes with "
                f"{_GRAM_HASH_SCHEME!r} — rebuild the index (write a "
                "new version) before running batches against it"
            )
        return DedupIndexState(
            index=self._index.read(entry["index_v"]),
            freq=self._freq.read(entry["freq_v"]),
            prefix=self._prefix.read(entry["prefix_v"]),
            n=entry["n"],
            threshold=entry["threshold"],
            block_cols=list(entry["block_cols"]),
            version=v,
        )

    def dedup_batch(self, new_df: DataFrame, id_col: str, text_col: str,
                    threshold: float | None = None,
                    version: int | None = None) -> DataFrame:
        """O(shard + candidates) incremental dedup of a batch against
        a committed snapshot — the per-ingestion hot path. Persists
        nothing index-sized (only the shard fingerprint).

        The candidate join streams the prefix scan, the batch's
        heaviest stage, so the prefix goes through the engine's spread
        rule (catalog.rebalance): file-source bin-packing gives a small
        prefix fewer splits than cores (measured 11-16 s vs 6.9 s
        batch exec at sf0.1 on 32 cores), and one round-robin
        reshuffle of it restores full width. At corpus scale the scan
        already yields thousands of splits, nothing is added, and the
        batch plan stays free of index-proportional exchanges."""
        st = self.read(version)
        t = st.threshold if threshold is None else threshold
        if t < st.threshold:
            raise ValueError(
                f"query threshold {t} < build threshold {st.threshold}: "
                "the stored prefix is too short to be lossless — "
                "rebuild the index state at the lower threshold"
            )
        return incremental_dedup(
            new_df, st.index, id_col, text_col, st.block_cols,
            n=st.n, threshold=t, freq=st.freq,
            index_prefix=rebalance(st.prefix),
        )

    def vacuum(self, keep: int = 2) -> list[int]:
        """Drop all but the newest ``keep`` state versions (never the
        current one) from all three sub-stores."""
        m = self._load_manifest()
        if m["current"] is None:
            return []
        versions = sorted(e["version"] for e in m["versions"])
        to_drop = [v for v in versions[:-keep] if v != m["current"]]
        keep_entries = [
            e for e in m["versions"] if e["version"] not in to_drop
        ]
        m["versions"] = keep_entries
        self._commit_manifest(m)  # manifest first: readers stop seeing
        # the dropped versions before any data disappears
        # sub-stores vacuum by the EXPLICIT referenced-version sets
        # (ADVICE r10): write() self-commits sub-versions before the
        # parent manifest, so a crash can leave orphan sub-versions —
        # count-based retention could keep an orphan and drop an older
        # sub-version a kept parent entry still references
        self._index.vacuum_keeping({e["index_v"] for e in keep_entries})
        self._freq.vacuum_keeping({e["freq_v"] for e in keep_entries})
        self._prefix.vacuum_keeping({e["prefix_v"] for e in keep_entries})
        return to_drop
