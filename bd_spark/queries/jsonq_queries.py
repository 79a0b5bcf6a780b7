"""Driver-facing queries that exercise the jsonq engine end-to-end
over the star schema (FIXTURES.md §5 bridge: rows <-> JSON docs).

Each query runs a real bd/jq expression through parse -> compile ->
Catalyst and then projects typed columns out of the variant results so
the DuckDB oracle can compare values exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bd_spark.catalog import table
from bd_spark.jsonq.runtime import JsonQ


def jq_props_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jq `.k` over the events.props JSON column (Index op,
    ops.rs:251-317)."""
    ev = table(spark, "events", sf_dir).select("event_id", "props")
    jq = JsonQ(spark)
    stream = jq.stream_from_text_column(ev, "props", seq_col="event_id")
    out = jq.run(".k", stream, ordered=False)
    return out.select(
        F.col("seq").alias("event_id"),
        F.try_variant_get("v", "$", "long").alias("k"),
    )


JQ_PROPS_K_SQL = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events
"""


def jq_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jq string division + length: `.text / " " | length`
    (json.rs:934-937 split, ops.rs:1418-1467 length)."""
    docs = table(spark, "documents", sf_dir)
    jq = JsonQ(spark)
    stream = jq.stream_from_table(docs)
    out = jq.run('{id: .doc_id, n_tokens: (.text / " " | length)}', stream, ordered=False)
    return out.select(
        F.try_variant_get("v", "$.id", "long").alias("id"),
        F.try_variant_get("v", "$.n_tokens", "long").alias("n_tokens"),
    )


JQ_TOKEN_COUNT_SQL = """
SELECT doc_id AS id, len(str_split(text, ' ')) AS n_tokens
FROM documents
"""


def jq_event_nav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jq dict construction + pipe + byte-length builtin over full-row
    docs (ops.rs:600-739, json.rs:632)."""
    ev = table(spark, "events", sf_dir)
    jq = JsonQ(spark)
    stream = jq.stream_from_table(ev.select("event_id", "event_type"))
    out = jq.run("{id: .event_id, type: .event_type, len: (.event_type | length)}", stream, ordered=False)
    return out.select(
        F.try_variant_get("v", "$.id", "long").alias("id"),
        F.try_variant_get("v", "$.type", "string").alias("type"),
        F.try_variant_get("v", "$.len", "long").alias("len"),
    )


JQ_EVENT_NAV_SQL = """
SELECT event_id AS id, event_type AS type, strlen(event_type) AS len
FROM events
"""


def jq_doc_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jq comparison + logical ops (ops.rs:1146-1415) as a predicate
    column over documents."""
    docs = table(spark, "documents", sf_dir)
    jq = JsonQ(spark)
    stream = jq.stream_from_table(docs.select("doc_id", "n_chars", "lang"))
    out = jq.run('{id: .doc_id, ok: (.n_chars > 100 && .lang == "en")}', stream, ordered=False)
    return out.select(
        F.try_variant_get("v", "$.id", "long").alias("id"),
        F.try_variant_get("v", "$.ok", "boolean").alias("ok"),
    )


JQ_DOC_FILTER_SQL = """
SELECT doc_id AS id, (n_chars > 100 AND lang = 'en') AS ok
FROM documents
"""


def jq_value_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jq arithmetic (int/float promotion, json.rs:900-905): scale and
    shift the events.value measure."""
    ev = table(spark, "events", sf_dir)
    jq = JsonQ(spark)
    stream = jq.stream_from_table(ev.select("event_id", "value"))
    out = jq.run("{id: .event_id, scaled: (.value * 2 + 1)}", stream, ordered=False)
    return out.select(
        F.try_variant_get("v", "$.id", "long").alias("id"),
        F.round(F.try_variant_get("v", "$.scaled", "double"), 6).alias("scaled"),
    )


JQ_VALUE_ARITH_SQL = """
SELECT event_id AS id, round(value * 2 + 1, 6) AS scaled
FROM events
"""


def _vjson(path: str) -> F.Column:
    """Sub-variant at `path` rendered as canonical JSON text (scalar,
    so the driver canonicalizer can hash it; variant objects render
    key-sorted, matching DuckDB to_json / sorted-key string concat)."""
    return F.to_json(F.try_variant_get("v", path, "variant"))


def jq_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All six slice forms (ops.rs:371-411; corpus query.rs:464-539):
    `a..b`, `a..=b`, `..b`, `a..`, `-a..`, `..` over the token array
    plus a string slice — each emitted as JSON text."""
    docs = table(spark, "documents", sf_dir)
    jq = JsonQ(spark)
    stream = jq.stream_from_table(docs.select("doc_id", "text"))
    out = jq.run(
        '{id: .doc_id,'
        ' a: (.text / " " | .[1..3]),'
        ' b: (.text / " " | .[..2]),'
        ' c: (.text / " " | .[5..]),'
        ' d: (.text / " " | .[-2..]),'
        ' e: (.text / " " | .[1..=2]),'
        ' f: (.text / " " | .[..]),'
        ' g: (.text | .[2..8])}',
        stream,
        ordered=False,
    )
    return out.select(
        F.try_variant_get("v", "$.id", "long").alias("id"),
        _vjson("$.a").alias("a"),
        _vjson("$.b").alias("b"),
        _vjson("$.c").alias("c"),
        _vjson("$.d").alias("d"),
        _vjson("$.e").alias("e"),
        _vjson("$.f").alias("f"),
        F.try_variant_get("v", "$.g", "string").alias("g"),
    )


JQ_SLICES_SQL = """
WITH t AS (SELECT doc_id, str_split(text, ' ') AS w, text FROM documents)
SELECT doc_id AS id,
       to_json(w[2:3]) AS a,
       to_json(w[:2]) AS b,
       to_json(w[6:]) AS c,
       to_json(w[-2:]) AS d,
       to_json(w[2:3]) AS e,
       to_json(w) AS f,
       substr(text, 3, 6) AS g
FROM t
"""


def jq_iter_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IterValues `.[]`, multi-branch Iter `.[a, b]`, List `[...]`,
    and multi-value dict bursts (ops.rs:414-540, 543-597, 600-739;
    corpus query.rs:541-591, 672-758)."""
    docs = table(spark, "documents", sf_dir)
    jq = JsonQ(spark)
    stream = jq.stream_from_table(docs.select("doc_id", "lang", "text"))
    out = jq.run(
        '{id: .doc_id,'
        ' c1: [.text / " " | .[]],'
        ' c2: [.[lang, doc_id]],'
        ' c3: [{x: .[lang, doc_id]}]}',
        stream,
        ordered=False,
    )
    return out.select(
        F.try_variant_get("v", "$.id", "long").alias("id"),
        _vjson("$.c1").alias("c1"),
        _vjson("$.c2").alias("c2"),
        _vjson("$.c3").alias("c3"),
    )


JQ_ITER_LIST_SQL = """
SELECT doc_id AS id,
       to_json(str_split(text, ' ')) AS c1,
       '["' || lang || '",' || doc_id || ']' AS c2,
       '[{"x":"' || lang || '"},{"x":' || doc_id || '}]' AS c3
FROM documents
"""


def jq_recurse_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recurse `..` + error suppression `?` over the events.props JSON
    column (ops.rs:36-92; corpus query.rs:753-758)."""
    ev = table(spark, "events", sf_dir).select("event_id", "props")
    jq = JsonQ(spark)
    stream = jq.stream_from_text_column(ev, "props", seq_col="event_id")
    out = jq.run('{r: [..], k: ([.. | .k?] | .[0])}', stream, ordered=False)
    return out.select(
        F.col("seq").alias("event_id"),
        _vjson("$.r").alias("r"),
        F.try_variant_get("v", "$.k", "long").alias("k"),
    )


JQ_RECURSE_PROPS_SQL = """
WITH p AS (
  SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_id, '[{"k":' || k || '},' || k || ']' AS r, k
FROM p
"""


def jq_builtins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Builtins chars / keys / has / in / map / any / all
    (ops.rs:1418-1569; corpus query.rs:951-1137)."""
    docs = table(spark, "documents", sf_dir)
    jq = JsonQ(spark)
    stream = jq.stream_from_table(docs.select("doc_id", "lang", "text"))
    out = jq.run(
        '{id: .doc_id,'
        ' ch: (.lang | chars),'
        ' ks: keys,'
        ' hl: has("lang"),'
        ' h0: (.text / " " | has(0)),'
        ' inl: (.lang | in({"en": 1, "de": 2})),'
        ' ml: (.text / " " | map(length)),'
        ' anyl: (.text / " " | map(length) | any(. > 5)),'
        ' alll: (.text / " " | map(length) | all(. > 1))}',
        stream,
        ordered=False,
    )
    return out.select(
        F.try_variant_get("v", "$.id", "long").alias("id"),
        _vjson("$.ch").alias("ch"),
        _vjson("$.ks").alias("ks"),
        F.try_variant_get("v", "$.hl", "boolean").alias("hl"),
        F.try_variant_get("v", "$.h0", "boolean").alias("h0"),
        F.try_variant_get("v", "$.inl", "boolean").alias("inl"),
        _vjson("$.ml").alias("ml"),
        F.try_variant_get("v", "$.anyl", "boolean").alias("anyl"),
        F.try_variant_get("v", "$.alll", "boolean").alias("alll"),
    )


JQ_BUILTINS_SQL = """
WITH t AS (SELECT doc_id, lang, str_split(text, ' ') AS w FROM documents)
SELECT doc_id AS id,
       to_json([unicode(x) for x in str_split(lang, '')]) AS ch,
       '["doc_id","lang","text"]' AS ks,
       true AS hl,
       len(w) > 0 AS h0,
       lang IN ('en', 'de') AS inl,
       to_json([strlen(x) for x in w]) AS ml,
       len([x for x in w if strlen(x) > 5]) > 0 AS anyl,
       len([x for x in w if strlen(x) <= 1]) = 0 AS alll
FROM t
"""


def jq_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise / shift / modulo / unary minus / `<=` / `!=` / `!`
    over the props ints (json.rs:943-961, 1019-1072; ops.rs:742-771,
    1272)."""
    ev = table(spark, "events", sf_dir).select("event_id", "props")
    jq = JsonQ(spark)
    stream = jq.stream_from_text_column(ev, "props", seq_col="event_id")
    out = jq.run(
        '{band: (.k & 12), borr: (.k bor 3), bxor: (.k ^ 5),'
        ' shl: (.k << 2), shr: (.k >> 1), mmod: (.k % 7),'
        ' neg: (-.k), msub: (.k - 3),'
        ' le: (.k <= 50), lt: (.k < 50), ge: (.k >= 50),'
        ' ne: (.k != 50), nb: (!(.k > 50)),'
        ' orr: (.k > 90 || .k < 10)}',
        stream,
        ordered=False,
    )
    return out.select(
        F.col("seq").alias("event_id"),
        F.try_variant_get("v", "$.band", "long").alias("band"),
        F.try_variant_get("v", "$.borr", "long").alias("borr"),
        F.try_variant_get("v", "$.bxor", "long").alias("bxor"),
        F.try_variant_get("v", "$.shl", "long").alias("shl"),
        F.try_variant_get("v", "$.shr", "long").alias("shr"),
        F.try_variant_get("v", "$.mmod", "long").alias("mmod"),
        F.try_variant_get("v", "$.neg", "long").alias("neg"),
        F.try_variant_get("v", "$.msub", "long").alias("msub"),
        F.try_variant_get("v", "$.le", "boolean").alias("le"),
        F.try_variant_get("v", "$.lt", "boolean").alias("lt"),
        F.try_variant_get("v", "$.ge", "boolean").alias("ge"),
        F.try_variant_get("v", "$.ne", "boolean").alias("ne"),
        F.try_variant_get("v", "$.nb", "boolean").alias("nb"),
        F.try_variant_get("v", "$.orr", "boolean").alias("orr"),
    )


JQ_BITWISE_SQL = """
WITH p AS (
  SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_id, k & 12 AS band, k | 3 AS borr, xor(k, 5) AS bxor,
       k << 2 AS shl, k >> 1 AS shr, k % 7 AS mmod,
       -k AS neg, k - 3 AS msub,
       k <= 50 AS le, k < 50 AS lt, k >= 50 AS ge,
       k != 50 AS ne, NOT (k > 50) AS nb,
       (k > 90 OR k < 10) AS orr
FROM p
"""


def jq_overloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator overloads: string repeat `*`, array diff `-`
    (remove-FIRST-occurrence, json.rs:1010-1013), array concat `+`,
    object union `+` (rhs-wins), object deep-merge `*`
    (json.rs:893-917, 963-1017, 1103-1122), int/int `/` -> float."""
    docs = table(spark, "documents", sf_dir)
    jq = JsonQ(spark)
    stream = jq.stream_from_table(docs.select("doc_id", "lang", "text", "n_chars"))
    out = jq.run(
        '{id: .doc_id,'
        ' rep: (.lang * 2),'
        ' conc: (.lang + "-x"),'
        ' dif: ((.text / " ") - (.text / " " | .[..1])),'
        ' arrc: ((.text / " ") + [.lang]),'
        ' uni: ({a: 1} + {b: .doc_id, a: 2}),'
        ' dm: ({a: {x: 1}} * {a: {y: .doc_id}}),'
        ' fdiv: (.n_chars / 8)}',
        stream,
        ordered=False,
    )
    return out.select(
        F.try_variant_get("v", "$.id", "long").alias("id"),
        F.try_variant_get("v", "$.rep", "string").alias("rep"),
        F.try_variant_get("v", "$.conc", "string").alias("conc"),
        _vjson("$.dif").alias("dif"),
        _vjson("$.arrc").alias("arrc"),
        _vjson("$.uni").alias("uni"),
        _vjson("$.dm").alias("dm"),
        F.round(F.try_variant_get("v", "$.fdiv", "double"), 6).alias("fdiv"),
    )


JQ_OVERLOADS_SQL = """
WITH t AS (
  SELECT doc_id, lang, n_chars, str_split(text, ' ') AS w FROM documents
)
SELECT doc_id AS id,
       lang || lang AS rep,
       lang || '-x' AS conc,
       to_json(w[2:]) AS dif,
       to_json(list_append(w, lang)) AS arrc,
       '{"a":2,"b":' || doc_id || '}' AS uni,
       '{"a":{"x":1,"y":' || doc_id || '}}' AS dm,
       round(CAST(n_chars AS DOUBLE) / 8, 6) AS fdiv
FROM t
"""


def jq_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical serializer (json.rs:568-609) driven end-to-end through
    the gate: lenient-parse events.props, run a jq restructuring that
    nests the original doc next to derived values, and render every
    result through the canonical text sink (key-sorted, zero
    whitespace, json.rs:501-507). The oracle rebuilds the exact
    canonical bytes by string concatenation, so a single byte of
    drift in the serializer hash-fails. Float `{:e}` formatting stays
    gated by the golden-corpus conformance tests (not reproducible in
    ANSI SQL)."""
    from bd_spark.sources.jsons import canonical_text

    ev = table(spark, "events", sf_dir).select("event_id", "props")
    jq = JsonQ(spark)
    stream = jq.stream_from_text_column(ev, "props", seq_col="event_id")
    out = jq.run(
        "{doc: ., n: (.k + 1), t: (.k > 50), z: null}", stream, ordered=False
    )
    return canonical_text(out).select(
        F.col("seq").alias("event_id"), "line"
    )


JQ_CANONICAL_SQL = """
WITH p AS (
  SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_id,
       '{"doc":{"k":' || k || '},"n":' || (k + 1) || ',"t":'
         || CASE WHEN k > 50 THEN 'true' ELSE 'false' END
         || ',"z":null}' AS line
FROM p
"""


def jq_canonical_floats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`{:e}` float formatting (json.rs:577) AND float-tower survival
    through NESTED construction (json.rs:930 int/int→float) under a
    HASH oracle, over the FULL events input.  .k/2 and .k/8 are exact
    binary halves/eighths, so their shortest-round-trip scientific
    form is exactly the decimal digits of k*5 / k*125 with an
    exponent shift — which DuckDB can build by string arithmetic,
    making every byte of the float formatter (mantissa trimming,
    exponent sign, 0e0) hash-gated, not just golden-tested.  The
    depth-2 shapes `n:{q:...}` and `a:[...]` gate vexpr.vjson's
    string-safe integral-double retag: a float assembled one level
    down must still render Ne0, not N (VERDICT r4 wrong #1)."""
    from bd_spark.sources.jsons import canonical_text

    ev = table(spark, "events", sf_dir).select("event_id", "props")
    jq = JsonQ(spark)
    stream = jq.stream_from_text_column(ev, "props", seq_col="event_id")
    out = jq.run(
        "{h: (.k / 2), k: .k, n: {q: (.k / 8)}, a: [(.k / 2)]}",
        stream,
        ordered=False,
    )
    return canonical_text(out).select(F.col("seq").alias("event_id"), "line")


JQ_CANONICAL_FLOATS_SQL = """
WITH p AS (
  SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
), d AS (
  SELECT event_id, k,
         rtrim(CAST(k*5 AS VARCHAR), '0') AS m2,
         length(CAST(k*5 AS VARCHAR)) - 2 AS e2,
         rtrim(CAST(k*125 AS VARCHAR), '0') AS m8,
         length(CAST(k*125 AS VARCHAR)) - 4 AS e8
  FROM p
), e AS (
  SELECT event_id, k,
    CASE WHEN k = 0 THEN '0e0' ELSE
      substr(m2,1,1) ||
      CASE WHEN length(m2) > 1 THEN '.' || substr(m2,2) ELSE '' END ||
      'e' || e2
    END AS h,
    CASE WHEN k = 0 THEN '0e0' ELSE
      substr(m8,1,1) ||
      CASE WHEN length(m8) > 1 THEN '.' || substr(m8,2) ELSE '' END ||
      'e' || e8
    END AS q
  FROM d
)
SELECT event_id,
  '{"a":[' || h || '],"h":' || h || ',"k":' || k
  || ',"n":{"q":' || q || '}}' AS line
FROM e
"""


def jq_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`select(f)` row filtering + `a // b` alternative — the two
    beyond-reference jq idioms (the reference dialect has neither);
    select drops rows engine-side (the `?`-style drop machinery), and
    `//` falls back past both errors (missing key) and falsy values."""
    docs = table(spark, "documents", sf_dir)
    jq = JsonQ(spark)
    stream = jq.stream_from_table(docs.select("doc_id", "lang", "n_chars"))
    out = jq.run(
        'select(.n_chars > 200) | {id: .doc_id, l: (.missing // .lang),'
        ' big: ((.n_chars > 400) // "small")}',
        stream,
        ordered=False,
    )
    return out.select(
        F.try_variant_get("v", "$.id", "long").alias("id"),
        F.try_variant_get("v", "$.l", "string").alias("l"),
        F.try_variant_get("v", "$.big", "string").alias("big"),
    )


JQ_SELECT_SQL = """
SELECT doc_id AS id, lang AS l,
       CASE WHEN n_chars > 400 THEN 'true' ELSE 'small' END AS big
FROM documents WHERE n_chars > 200
"""


def jq_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`if/then/elif/else/end` + the practical-builtin batch
    (test, ascii_upcase, split, sort, indexing) — a C4-style document
    triage expressed entirely in beyond-reference jq. The whole
    expression compiles to one Catalyst projection (CASE chains), no
    Python in the hot path."""
    docs = table(spark, "documents", sf_dir)
    jq = JsonQ(spark)
    stream = jq.stream_from_table(
        docs.select("doc_id", "text", "lang", "source", "n_chars")
    )
    out = jq.run(
        "{id: .doc_id,"
        ' bucket: (if .n_chars > 400 then "long"'
        ' elif .n_chars > 150 then "medium" else "short" end),'
        ' tag: (if (.source | test("1$")) then (.lang | ascii_upcase)'
        " else .lang end),"
        ' w: (.text / " " | sort | .[0])}',
        stream,
        ordered=False,
    )
    return out.select(
        F.try_variant_get("v", "$.id", "long").alias("id"),
        F.try_variant_get("v", "$.bucket", "string").alias("bucket"),
        F.try_variant_get("v", "$.tag", "string").alias("tag"),
        F.try_variant_get("v", "$.w", "string").alias("w"),
    )


JQ_CONDITIONAL_SQL = """
SELECT doc_id AS id,
  CASE WHEN n_chars > 400 THEN 'long'
       WHEN n_chars > 150 THEN 'medium' ELSE 'short' END AS bucket,
  CASE WHEN regexp_matches(source, '1$') THEN upper(lang)
       ELSE lang END AS tag,
  list_sort(str_split(text, ' '))[1] AS w
FROM documents
"""


def jq_sort_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`sort_by`/`unique_by`/`group_by`/`first` (builtin batch 2,
    beyond-reference): per-document token-length profile — number of
    distinct token lengths (unique_by + group_by must agree with
    COUNT DISTINCT), the shortest token's byte length (stable
    sort_by + first), and the largest same-length group (group_by |
    map(length) | max)."""
    docs = table(spark, "documents", sf_dir)
    jq = JsonQ(spark)
    stream = jq.stream_from_table(docs.select("doc_id", "text"))
    out = jq.run(
        '{id: .doc_id,'
        ' nlens: (.text / " " | unique_by(length) | length),'
        ' shortest: (.text / " " | sort_by(length) | first | length),'
        ' biggroup: (.text / " " | group_by(length) | map(length) | max)}',
        stream,
        ordered=False,
    )
    return out.select(
        F.try_variant_get("v", "$.id", "long").alias("id"),
        F.try_variant_get("v", "$.nlens", "long").alias("nlens"),
        F.try_variant_get("v", "$.shortest", "long").alias("shortest"),
        F.try_variant_get("v", "$.biggroup", "long").alias("biggroup"),
    )


JQ_SORT_OPS_SQL = """
WITH t AS (
  SELECT doc_id, str_split(text, ' ') AS ws FROM documents
), l AS (
  SELECT doc_id, strlen(unnest(ws)) AS n FROM t
), g AS (
  SELECT doc_id, n, count(*) AS c FROM l GROUP BY doc_id, n
)
SELECT doc_id AS id,
       count(*) AS nlens,
       min(n) AS shortest,
       max(c) AS biggroup
FROM g GROUP BY doc_id
"""


def jq_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static-path assignment surface (beyond-reference jq): `del` a
    field, `|=` update another in place, `=` add a new one computed
    from the root — the document-rewrite idioms of a curation
    pipeline. Document rewrites have no staged lane, so the program
    runs on the whole-query Arrow interp tier (row-local, no
    shuffle)."""
    docs = table(spark, "documents", sf_dir)
    jq = JsonQ(spark)
    stream = jq.stream_from_table(docs)
    out = jq.run(
        "del(.text) | .n_chars |= . * 2 | .tag = (.lang | ascii_upcase)"
        " | {id: .doc_id, nn: .n_chars, tag: .tag, nkeys: (keys | length)}",
        stream,
        ordered=False,
    )
    return out.select(
        F.try_variant_get("v", "$.id", "long").alias("id"),
        F.try_variant_get("v", "$.nn", "long").alias("nn"),
        F.try_variant_get("v", "$.tag", "string").alias("tag"),
        F.try_variant_get("v", "$.nkeys", "long").alias("nkeys"),
    )


JQ_UPDATE_SQL = """
SELECT doc_id AS id, n_chars * 2 AS nn, upper(lang) AS tag, 5 AS nkeys
FROM documents
"""


def jq_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variables, `reduce`, and string interpolation (beyond-reference
    jq; the reference's context.rs variables are disabled, lib.rs:17):
    bind the root with `as`, fold word lengths with a native
    F.aggregate reduce (sum) and an if/else reduce (max), and build a
    label by interpolation. The whole thing stays one row-local
    Catalyst projection — the folds compile to F.aggregate lambdas,
    no fan-out, no shuffle."""
    docs = table(spark, "documents", sf_dir)
    jq = JsonQ(spark)
    stream = jq.stream_from_table(docs)
    out = jq.run(
        '. as $d | (.text | split(" ")) as $ws'
        " | {id: $d.doc_id,"
        "    sum_wlen: reduce $ws.[] as $w (0; . + ($w | length)),"
        "    max_wlen: reduce $ws.[] as $w"
        "      (0; ($w | length) as $l | if $l > . then $l else . end),"
        '    label: "\\($d.lang):\\($d.n_chars)"}',
        stream,
        ordered=False,
    )
    return out.select(
        F.try_variant_get("v", "$.id", "long").alias("id"),
        F.try_variant_get("v", "$.sum_wlen", "long").alias("sum_wlen"),
        F.try_variant_get("v", "$.max_wlen", "long").alias("max_wlen"),
        F.try_variant_get("v", "$.label", "string").alias("label"),
    )


JQ_FOLD_SQL = """
SELECT doc_id AS id,
       length(replace(text, ' ', '')) AS sum_wlen,
       (SELECT coalesce(max(length(x.w)), 0)
        FROM unnest(string_split(text, ' ')) AS x(w)) AS max_wlen,
       lang || ':' || CAST(n_chars AS VARCHAR) AS label
FROM documents
"""


def jq_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path builtins + foreach (beyond-reference jq): flatten every
    leaf path of events.props with `leaf_paths`/`join`, navigate
    dynamically with `getpath`, rewrite with `setpath`, and running-
    count keys with `foreach`. Path enumerations, rewrites and
    `foreach` have no staged lane, so the program runs on the
    whole-query Arrow interp tier — one mapInPandas, row-local, zero
    shuffle. When it still had a staged form, the interp measured
    1.4 s vs 6.9 s staged warm at sf0.1: the staged variant HOF trees
    evaluate as CodegenFallback, while the interp walks plain dicts
    once per row (SCALE.md r11)."""
    ev = table(spark, "events", sf_dir).select("event_id", "props")
    jq = JsonQ(spark)
    stream = jq.stream_from_text_column(ev, "props", seq_col="event_id")
    out = jq.run(
        '{flat: ([leaf_paths | join("/")] | join(",")),'
        ' k2: getpath(["k"]),'
        ' upd: (setpath(["k2"]; getpath(["k"]) * 2) | tojson),'
        ' nkeys: (foreach paths as $p (0; . + 1))}',
        stream,
        ordered=False,
    )
    return out.select(
        F.col("seq").alias("event_id"),
        F.try_variant_get("v", "$.flat", "string").alias("flat"),
        F.try_variant_get("v", "$.k2", "long").alias("k2"),
        F.try_variant_get("v", "$.upd", "string").alias("upd"),
        F.try_variant_get("v", "$.nkeys", "long").alias("nkeys"),
    )


JQ_PATHS_SQL = """
WITH p AS (
  SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_id, 'k' AS flat, k AS k2,
       '{"k":' || k || ',"k2":' || (k * 2) || '}' AS upd,
       1 AS nkeys
FROM p
"""


def jq_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex / string builtins (beyond-reference jq; the reference
    exposes only `test`): gsub and first-match sub (literal and
    data-driven pattern), scan / splits generators collected into
    lists, capture with a named group, explode/implode round-trip,
    utf8bytelength, and with_entries over a built object. with_entries
    desugars to map, a HOF, and the scan / splits generators fan out,
    so the program runs on the interp tier; without them the regex
    builtins compile to native Java-regex Catalyst expressions
    (regexp_replace / regexp_extract), which test_plans pins."""
    docs = table(spark, "documents", sf_dir)
    jq = JsonQ(spark)
    stream = jq.stream_from_table(docs)
    out = jq.run(
        '{id: .doc_id,'
        ' starred: (.text | gsub("[aeiou]"; "*") | utf8bytelength),'
        ' n_words: ([.text | scan("[a-z]+")] | length),'
        ' n_segs: ([.text | splits(" ")] | length),'
        ' first5: (.text | capture("^(?<h>.{0,5})") | .h),'
        ' sub1: (.text | sub(" "; "_")),'
        ' dyn: (. as $d | $d.text | sub($d.lang; "@")),'
        ' lang_sum: (.lang | explode | add),'
        ' lang_rt: (.lang | explode | implode),'
        ' dbl: ({a: .n_chars} | with_entries(.value = (.value * 2)) | .a)}',
        stream,
        ordered=False,
    )
    return out.select(
        F.try_variant_get("v", "$.id", "long").alias("id"),
        F.try_variant_get("v", "$.starred", "long").alias("starred"),
        F.try_variant_get("v", "$.n_words", "long").alias("n_words"),
        F.try_variant_get("v", "$.n_segs", "long").alias("n_segs"),
        F.try_variant_get("v", "$.first5", "string").alias("first5"),
        F.try_variant_get("v", "$.sub1", "string").alias("sub1"),
        F.try_variant_get("v", "$.dyn", "string").alias("dyn"),
        F.try_variant_get("v", "$.lang_sum", "long").alias("lang_sum"),
        F.try_variant_get("v", "$.lang_rt", "string").alias("lang_rt"),
        F.try_variant_get("v", "$.dbl", "long").alias("dbl"),
    )


JQ_REGEX_SQL = """
SELECT doc_id AS id,
       strlen(regexp_replace(text, '[aeiou]', '*', 'g')) AS starred,
       len(regexp_extract_all(text, '[a-z]+')) AS n_words,
       len(str_split_regex(text, ' ')) AS n_segs,
       regexp_extract(text, '^(.{0,5})', 1) AS first5,
       regexp_replace(text, ' ', '_') AS sub1,
       regexp_replace(text, lang, '@') AS dyn,
       list_sum(list_transform(string_split(lang, ''),
                               x -> unicode(x))) AS lang_sum,
       lang AS lang_rt,
       n_chars * 2 AS dbl
FROM documents
"""


def jq_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math / date / format-string builtins (beyond-reference jq):
    round (half away from zero), pow via the float tower, log10,
    todate/fromdate (ISO-8601 UTC round-trip), @base64, @uri, @html,
    @csv, index, and ltrimstr+trim — all native Catalyst expressions
    over full-row event docs; one row-local projection, zero
    shuffle."""
    ev = table(spark, "events", sf_dir).select(
        "event_id", "event_type", "props"
    )
    jq = JsonQ(spark)
    # full-row doc: {event_id, event_type, props: "json text"} — parse
    # props inline with fromjson for typed k
    stream = jq.stream_from_table(ev)
    out = jq.run(
        '. as $e | (.props | fromjson | .k) as $k'
        " | {id: $e.event_id,"
        "    lg: ($k + 1 | log10 | round),"
        "    pw: pow(2; ($k % 7)),"
        "    dt: (1704067200 + ($k * 3600) | todate),"
        "    ep: ((1704067200 + $k | todate) | fromdate),"
        '    b64: ($e.event_type | @base64),'
        '    uri: ($e.event_type + " #" | @uri),'
        '    html: ("<" + $e.event_type + ">" | @html),'
        "    csv: ([$e.event_id, $e.event_type, $k] | @csv),"
        '    ix: ($e.event_type | index("e")),'
        '    tr: ($e.event_type | ltrimstr("e") | trim)}',
        stream,
        ordered=False,
    )
    return out.select(
        F.try_variant_get("v", "$.id", "long").alias("id"),
        F.try_variant_get("v", "$.lg", "long").alias("lg"),
        F.try_variant_get("v", "$.pw", "double").alias("pw"),
        F.try_variant_get("v", "$.dt", "string").alias("dt"),
        F.try_variant_get("v", "$.ep", "long").alias("ep"),
        F.try_variant_get("v", "$.b64", "string").alias("b64"),
        F.try_variant_get("v", "$.uri", "string").alias("uri"),
        F.try_variant_get("v", "$.html", "string").alias("html"),
        F.try_variant_get("v", "$.csv", "string").alias("csv"),
        F.try_variant_get("v", "$.ix", "long").alias("ix"),
        F.try_variant_get("v", "$.tr", "string").alias("tr"),
    )


JQ_FORMATS_SQL = """
WITH p AS (
  SELECT event_id, event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_id AS id,
       CAST(round(log10(k + 1)) AS BIGINT) AS lg,
       CAST(pow(2, k % 7) AS DOUBLE) AS pw,
       strftime(make_timestamp((1704067200 + k * 3600) * 1000000),
                '%Y-%m-%dT%H:%M:%SZ') AS dt,
       1704067200 + k AS ep,
       base64(encode(event_type)) AS b64,
       replace(replace(event_type || ' #', ' ', '%20'),
               '#', '%23') AS uri,
       '&lt;' || event_type || '&gt;' AS html,
       CAST(event_id AS VARCHAR) || ',"' || event_type || '",'
         || CAST(k AS VARCHAR) AS csv,
       CASE WHEN instr(event_type, 'e') = 0 THEN NULL
            ELSE instr(event_type, 'e') - 1 END AS ix,
       CASE WHEN starts_with(event_type, 'e')
            THEN substr(event_type, 2) ELSE event_type END AS tr
FROM p
"""


def jq_defs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined functions + jq postfix brackets (beyond-reference;
    the reference's variables/defs are disabled, lib.rs:17): zero-
    arity defs calling defs, a 2-value-param clamp through if/elif,
    postfix indexing/slicing on a def's output (`toks[0]`,
    `toks[1:3]`, `toks[-1:]`), all macro-expanded at parse time into
    one row-local Catalyst projection."""
    docs = table(spark, "documents", sf_dir)
    jq = JsonQ(spark)
    stream = jq.stream_from_table(docs)
    out = jq.run(
        'def toks: .text / " ";'
        " def n_toks: toks | length;"
        " def clamp($lo; $hi):"
        "   if . < $lo then $lo elif . > $hi then $hi else . end;"
        " {id: .doc_id,"
        "  n: n_toks,"
        "  c: (n_toks | clamp(10; 50)),"
        "  f: toks[0],"
        "  l: (toks[-1:] | .[0]),"
        '  s2: (toks[1:3] | join("-"))}',
        stream,
        ordered=False,
    )
    return out.select(
        F.try_variant_get("v", "$.id", "long").alias("id"),
        F.try_variant_get("v", "$.n", "long").alias("n"),
        F.try_variant_get("v", "$.c", "long").alias("c"),
        F.try_variant_get("v", "$.f", "string").alias("f"),
        F.try_variant_get("v", "$.l", "string").alias("l"),
        F.try_variant_get("v", "$.s2", "string").alias("s2"),
    )


JQ_DEFS_SQL = """
WITH t AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents)
SELECT doc_id AS id,
       len(ws) AS n,
       least(greatest(len(ws), 10), 50) AS c,
       ws[1] AS f,
       ws[len(ws)] AS l,
       array_to_string(ws[2:3], '-') AS s2
FROM t
"""


def jq_interp_recurse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deliberately exercises the whole-query Arrow interp tier (r6
    VERDICT wrong #3: the tier was invisible and unbenched): a
    self-recursive def triggers the bounded-recursion expansion →
    InterpOnly → compiler._interp_tier (mapInPandas, row-local, no
    shuffle). Tier engagement is asserted in
    tests/test_interp.py::test_interp_tier_marker; this row keeps the
    tier's cost visible in every BENCH."""
    docs = table(spark, "documents", sf_dir)
    jq = JsonQ(spark)
    stream = jq.stream_from_table(docs.select("doc_id", "n_chars"))
    out = jq.run(
        'def addone: if type == "object" then map_values(addone)'
        ' elif type == "number" then . + 1 else . end;'
        " {id: .doc_id,"
        "  w: ({a: {b: .n_chars}, c: .doc_id} | addone | tojson)}",
        stream,
        ordered=False,
    )
    return out.select(
        F.try_variant_get("v", "$.id", "long").alias("id"),
        F.try_variant_get("v", "$.w", "string").alias("w"),
    )


JQ_INTERP_RECURSE_SQL = """
SELECT doc_id AS id,
       '{"a":{"b":' || CAST(n_chars + 1 AS VARCHAR) || '},"c":' ||
       CAST(doc_id + 1 AS VARCHAR) || '}' AS w
FROM documents
"""


def jq_tostream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`tostream` / `fromstream` (r8 — the stream-event encoding jq's
    manual defines; previously the dialect's one documented jq-surface
    gap): encode each props doc as its [path, leaf] / [path]-close
    event stream, render the events canonically, and round-trip the
    stream back into the document with fromstream. Cross-event
    reassembly is a sequential state machine with no Catalyst form,
    so the parser marks these programs InterpOnly and the whole query
    runs through the Arrow-batched interp tier — row-local
    mapInPandas, zero shuffle (the jq_interp_recurse scale story)."""
    ev = table(spark, "events", sf_dir).select("event_id", "props")
    jq = JsonQ(spark)
    stream = jq.stream_from_text_column(ev, "props", seq_col="event_id")
    out = jq.run(
        '{ev: ([tostream | tojson] | join(";")),'
        " rt: (fromstream(tostream) | tojson)}",
        stream,
        ordered=False,
    )
    return out.select(
        F.col("seq").alias("event_id"),
        F.try_variant_get("v", "$.ev", "string").alias("ev"),
        F.try_variant_get("v", "$.rt", "string").alias("rt"),
    )


JQ_TOSTREAM_SQL = """
SELECT event_id,
       '[["k"],' || k || '];[["k"]]' AS ev,
       '{"k":' || k || '}' AS rt
FROM (
  SELECT event_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
"""


def jq_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broken-down-time quartet (r11, beyond-reference jq):
    `gmtime` to the C-struct-tm array (all-native Catalyst date
    fields in the UTC session), `mktime` back (native
    try_make_timestamp, range-checked), and `strftime`/`strptime`
    with arbitrary C-dialect format strings (Arrow-batched pandas
    UDF over interp.strftime_jq — one scalar per row). One row-local
    projection chain, zero shuffle; the interp implementations are
    the differential twins."""
    ev = table(spark, "events", sf_dir).select("event_id", "props")
    jq = JsonQ(spark)
    stream = jq.stream_from_table(ev)
    out = jq.run(
        ". as $e | (.props | fromjson | .k) as $k"
        " | (1704067200 + ($k * 7919)) as $t"
        " | ($t | gmtime) as $bd"
        " | {id: $e.event_id,"
        "    y: ($bd | .[0]), mo: ($bd | .[1]), d: ($bd | .[2]),"
        "    wd: ($bd | .[6]), yd: ($bd | .[7]),"
        "    rt: ($bd | mktime),"
        '    lbl: ($t | strftime("%A %j")),'
        "    iso: ($t | todateiso8601),"
        '    pe: ($t | todate | strptime("%Y-%m-%dT%H:%M:%SZ")'
        "         | mktime)}",
        stream,
        ordered=False,
    )
    return out.select(
        F.try_variant_get("v", "$.id", "long").alias("id"),
        F.try_variant_get("v", "$.y", "long").alias("y"),
        F.try_variant_get("v", "$.mo", "long").alias("mo"),
        F.try_variant_get("v", "$.d", "long").alias("d"),
        F.try_variant_get("v", "$.wd", "long").alias("wd"),
        F.try_variant_get("v", "$.yd", "long").alias("yd"),
        F.try_variant_get("v", "$.rt", "long").alias("rt"),
        F.try_variant_get("v", "$.lbl", "string").alias("lbl"),
        F.try_variant_get("v", "$.iso", "string").alias("iso"),
        F.try_variant_get("v", "$.pe", "long").alias("pe"),
    )


JQ_DATETIME_SQL = """
WITH p AS (
  SELECT event_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
), t AS (
  SELECT event_id, 1704067200 + k * 7919 AS ts FROM p
), d AS (
  SELECT event_id, ts, timezone('UTC', to_timestamp(ts)) AS tu FROM t
)
SELECT event_id AS id,
       CAST(year(tu) AS BIGINT) AS y,
       CAST(month(tu) - 1 AS BIGINT) AS mo,
       CAST(day(tu) AS BIGINT) AS d,
       CAST(dayofweek(tu) AS BIGINT) AS wd,
       CAST(dayofyear(tu) - 1 AS BIGINT) AS yd,
       ts AS rt,
       strftime(tu, '%A %j') AS lbl,
       strftime(tu, '%Y-%m-%dT%H:%M:%SZ') AS iso,
       ts AS pe
FROM d
"""


QUERIES = {
    "jq_props_k": jq_props_k,
    "jq_token_count": jq_token_count,
    "jq_event_nav": jq_event_nav,
    "jq_doc_filter": jq_doc_filter,
    "jq_value_arith": jq_value_arith,
    "jq_slices": jq_slices,
    "jq_iter_list": jq_iter_list,
    "jq_recurse_props": jq_recurse_props,
    "jq_builtins": jq_builtins,
    "jq_bitwise": jq_bitwise,
    "jq_overloads": jq_overloads,
    "jq_canonical": jq_canonical,
    "jq_canonical_floats": jq_canonical_floats,
    "jq_select": jq_select,
    "jq_conditional": jq_conditional,
    "jq_sort_ops": jq_sort_ops,
    "jq_update": jq_update,
    "jq_fold": jq_fold,
    "jq_paths": jq_paths,
    "jq_regex": jq_regex,
    "jq_formats": jq_formats,
    "jq_defs": jq_defs,
    "jq_interp_recurse": jq_interp_recurse,
    "jq_tostream": jq_tostream,
    "jq_datetime": jq_datetime,
}

ORACLES = {
    "jq_props_k": JQ_PROPS_K_SQL,
    "jq_token_count": JQ_TOKEN_COUNT_SQL,
    "jq_event_nav": JQ_EVENT_NAV_SQL,
    "jq_doc_filter": JQ_DOC_FILTER_SQL,
    "jq_value_arith": JQ_VALUE_ARITH_SQL,
    "jq_slices": JQ_SLICES_SQL,
    "jq_iter_list": JQ_ITER_LIST_SQL,
    "jq_recurse_props": JQ_RECURSE_PROPS_SQL,
    "jq_builtins": JQ_BUILTINS_SQL,
    "jq_bitwise": JQ_BITWISE_SQL,
    "jq_overloads": JQ_OVERLOADS_SQL,
    "jq_canonical": JQ_CANONICAL_SQL,
    "jq_canonical_floats": JQ_CANONICAL_FLOATS_SQL,
    "jq_select": JQ_SELECT_SQL,
    "jq_conditional": JQ_CONDITIONAL_SQL,
    "jq_sort_ops": JQ_SORT_OPS_SQL,
    "jq_update": JQ_UPDATE_SQL,
    "jq_fold": JQ_FOLD_SQL,
    "jq_paths": JQ_PATHS_SQL,
    "jq_regex": JQ_REGEX_SQL,
    "jq_formats": JQ_FORMATS_SQL,
    "jq_defs": JQ_DEFS_SQL,
    "jq_interp_recurse": JQ_INTERP_RECURSE_SQL,
    "jq_tostream": JQ_TOSTREAM_SQL,
    "jq_datetime": JQ_DATETIME_SQL,
}
