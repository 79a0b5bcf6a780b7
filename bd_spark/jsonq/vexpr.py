"""Variant-column expression helpers for the jsonq compiler.

Everything here builds pyspark Column expressions over VariantType —
the dynamic-typing dispatch of the reference (`Json` enum,
json.rs:469-478) becomes CASE-on-`schema_of_variant` templates that
stay inside Catalyst / whole-stage codegen. No Python UDFs.

Type universe (db.rs:21-30): null bool int float string array object.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The jq null VALUE (distinct from SQL NULL, which we reserve for
# "no value because an error occurred").
def vnull() -> Column:
    return F.parse_json(F.lit("null"))


def vbool(b: Column) -> Column:
    return F.parse_json(F.when(b, "true").otherwise("false"))


def vlong(x: Column) -> Column:
    # direct cast to VARIANT (r10): one expression, BIGINT tower,
    # SQL NULL passes through — probed identical to the old
    # parse_json(cast-to-string) on values and NULL
    return x.cast("variant")


def vdouble(x: Column) -> Column:
    # direct cast to VARIANT (r10): the cast KEEPS the DOUBLE type,
    # so the float tower survives without the old force-scientific-
    # notation trick (parse_json normalizes plain-decimal text to
    # DECIMAL(p,0) — the int tower — so the old path rendered the
    # cast string as '6.0E0' before re-parsing; json.rs:474,
    # jq_canonical_floats pins the tower). Probed byte-identical
    # to_json forms on 6.0 / 1.0E32 / -0.0 / 2.5 / NULL.
    return x.cast("variant")


def vstring(s: Column) -> Column:
    # direct cast to VARIANT (r10) — replaces the 3-expression
    # JSON-escape round-trip (variant_get(parse_json(to_json(
    # array(s))), "$[0]")), which paid a JSON render + parse per row
    # per call site. coalesce keeps the old NULL contract: SQL-NULL
    # input yields the VOID variant (jq null), not SQL NULL.
    return F.coalesce(s.cast("variant"), vnull())


# ---------------------------------------------------------------- types
def vlet(x: Column, fn) -> Column:
    """Expression-level `let`: bind x ONCE, fn sees a leaf lambda
    var. transform(array(x), fn)[0] is NOT rewritten by the
    optimizer (verified: one SchemaOfVariant in the optimized plan
    vs one per reference without it), so a subtree referenced k
    times inside fn costs one copy in the plan and one evaluation
    per row instead of k."""
    return F.transform(F.array(x), fn)[0]


def _tag_of_schema(st: Column) -> Column:
    """Type tag from a schema_of_variant string. st MUST be leaf-
    cheap (a vlet-bound lambda var): it is referenced 8×."""
    return (
        # schema_of_variant(NULL) is NULL — covers the v-is-SQL-NULL
        # case without a second reference to v
        F.when(st.isNull(), F.lit(None).cast("string"))
        .when(st == "VOID", "null")
        .when(st == "BOOLEAN", "bool")
        .when((st == "BIGINT") | st.rlike(r"^DECIMAL\(\d+,0\)$"), "int")
        .when((st == "DOUBLE") | (st == "FLOAT") | st.startswith("DECIMAL"), "float")
        .when(st == "STRING", "string")
        .when(st.startswith("ARRAY"), "array")
        .otherwise("object")
    )


# Plan-BUILD cost (r9): the inline 8-branch CASE costs ~45 Py4J
# round-trips per vtype call site (44 sites = 1.5 s of jq_formats'
# 4.6 s build). Two probed alternatives:
# - SQL scalar function (CREATE TEMPORARY FUNCTION): 14x faster to
#   reference and analyzer-inlined to the identical plan, but
#   inlining FAILS with MISSING_ATTRIBUTES when the argument
#   contains a lambda variable (any vtype inside a fold or HOF body).
#   Dead end.
# - CACHED JVM LambdaFunction (below): pyspark's _create_lambda
#   names every unary lambda var "x" and analysis uniquifies, so one
#   LambdaFunction expression object (immutable Catalyst tree) is
#   safely shared across every call site and plan; per call site the
#   build is ~5 round-trips (schema_of_variant + array + transform +
#   [0]). Classic-API-only, so every use falls back to the inline
#   vlet build on any import/JVM mismatch.
_JFUN_CACHE: dict[tuple[str, str], object] = {}


def _cached_transform(name: str, fn, x: Column) -> Column | None:
    """transform(array-col x, cached-lambda fn)[0], or None when the
    classic internals are unavailable (fallback to inline vlet).

    Keyed by applicationId (stable per SparkContext lifetime; a
    session restart mints a new one, unlike id(sc), which CPython may
    reuse for a new context — r9 ADVICE), and EVICTED on failure so a
    stale JVM handle costs one failed round-trip, not one per call
    forever."""
    key = None
    try:
        from pyspark.sql.classic.column import _to_java_column, _to_seq
        from pyspark.sql.functions.builtin import (
            _create_lambda,
            _get_active_spark_context,
        )

        sc = _get_active_spark_context()
        key = (sc.applicationId, name)
        jfun = _JFUN_CACHE.get(key)
        if jfun is None:
            jfun = _create_lambda(fn)
            _JFUN_CACHE[key] = jfun
        jc = sc._jvm.PythonSQLUtils.fn(
            "transform", _to_seq(sc, [_to_java_column(x), jfun])
        )
        return Column(jc)[0]
    except Exception:  # noqa: BLE001 - connect mode / JVM restart
        if key is not None:
            _JFUN_CACHE.pop(key, None)
        return None


def vtype(v: Column, shape: str | None = None) -> Column:
    """Doctype tag: null|bool|int|float|string|array|object.

    Numbers: parse_json yields BIGINT for small ints, DECIMAL(p,0) for
    big ints (int tower, json.rs:473) and DECIMAL(p,s>0)/DOUBLE for
    anything with . or eE (float tower, json.rs:474).

    Plan-size discipline (r9, VERDICT r8 wrong #3): the whole
    dispatch is let-bound — v appears ONCE and the schema string
    appears ONCE in the expression tree, so nested dispatches grow
    linearly instead of ~9^depth (r8 measured 905 schema_of_variant
    expansions in one setpath plan; the r8 "fix" — container-first
    try-casts — halved container cost but made every scalar dispatch
    pay two failed casts per row: jq_formats 3.9→10.6 s).

    shape="container": compile-time knowledge that v is (almost
    always) an object/array — probe the container casts first so the
    row never pays schema_of_variant's subtree serialization.
    Default (scalar or unknown): schema_of_variant first, the r7
    ordering that benched fastest on scalar-heavy dispatch.
    """
    if shape == "container":
        return vlet(
            v,
            lambda vv: F.when(vv.isNull(), F.lit(None).cast("string"))
            .when(
                F.try_variant_get(vv, "$", "map<string,variant>").isNotNull(),
                "object",
            )
            .when(
                F.try_variant_get(vv, "$", "array<variant>").isNotNull(),
                "array",
            )
            .otherwise(vlet(F.schema_of_variant(vv), _tag_of_schema)),
        )
    fast = _cached_transform(
        "vtype", _tag_of_schema, F.array(F.schema_of_variant(v))
    )
    if fast is not None:
        return fast
    return vlet(F.schema_of_variant(v), _tag_of_schema)


def is_number(t: Column) -> Column:
    return t.isin("int", "float")


def truthy(v: Column) -> Column:
    """Only null and false are falsy; 0 and "" are truthy
    (json.rs:553-557)."""
    t = vtype(v)
    return ~(
        (t == "null")
        | ((t == "bool") & ~F.coalesce(F.variant_get(v, "$", "boolean"), F.lit(False)))
    )


# --------------------------------------------------------------- access
def as_double(v: Column) -> Column:
    return F.try_variant_get(v, "$", "double")


def as_long(v: Column) -> Column:
    return F.try_variant_get(v, "$", "long")


def as_dec(v: Column) -> Column:
    """DECIMAL(38,0) view of an int-tower value: the documented i128
    parity fallback (reference json.rs:473 parses a 128-bit integer
    tower; SURVEY §1.5 picks DECIMAL(38,0) as the Spark-native
    equivalent). Integers beyond int64 stay exact to 38 digits."""
    return F.try_variant_get(v, "$", "decimal(38,0)")


def as_string(v: Column) -> Column:
    return F.try_variant_get(v, "$", "string")


def as_bool(v: Column) -> Column:
    return F.try_variant_get(v, "$", "boolean")


def as_array(v: Column) -> Column:
    """ARRAY<VARIANT> or SQL NULL if not an array."""
    return F.try_variant_get(v, "$", "array<variant>")


def as_map(v: Column) -> Column:
    """MAP<STRING,VARIANT> (keys in sorted order — variant objects
    store fields key-sorted, matching json.rs:501-507) or NULL."""
    return F.try_variant_get(v, "$", "map<string,variant>")


# ------------------------------------------------------------ rebuild

# A quoted JSON string (with escapes) OR a maximal run of non-quote
# text. to_json output alternates between exactly these two token
# kinds, so transforming only the non-string tokens is string-safe.
_JSON_TOKEN_RE = r'"(?:[^"\\]|\\.)*"|[^"]+'

# Inside a non-string token, `<digit>.0` followed by a delimiter (or
# token end, which for numbers is always text end — a number literal
# can never abut an opening quote in valid JSON) is EXACTLY the
# rendering of an integral DOUBLE: parse_json normalizes decimal
# input so integral DECIMALs are always scale 0 (render "6", never
# "6.0"), while Java renders integral doubles < 1e7 as "6.0" and
# everything else keeps an exponent. Non-integral doubles ("6.5")
# re-parse into DECIMAL(p,s>0) — still the float tower — so only the
# ".0" form needs the E0 tag to survive a parse_json round-trip.
_INT_DOUBLE_RE = r"(?<=\d)\.0(?=[,\]}]|$)"


def _retag_nested_doubles(j: Column) -> Column:
    """Append E0 to every integral-double literal in JSON text `j`,
    skipping string values (tokenize strings / non-strings, transform
    only the latter). All codegen: regexp + higher-order functions."""
    toks = F.regexp_extract_all(j, F.lit(_JSON_TOKEN_RE), 0)
    return F.concat_ws(
        "",
        F.transform(
            toks,
            lambda t: F.when(t.startswith('"'), t).otherwise(
                F.regexp_replace(t, _INT_DOUBLE_RE, ".0E0")
            ),
        ),
    )


def vjson(v: Column) -> Column:
    """JSON text of a variant value that SURVIVES a parse_json
    round-trip with its numeric tower intact, at ANY nesting depth:
    a DOUBLE prints as '6.0', which parse_json would normalize to
    DECIMAL(1,0) — the int tower — so float results of engine
    arithmetic (json.rs:930 int/int→float) would silently become
    ints inside dict/array construction (caught by the
    jq_canonical_floats depth-2 hash oracle). A top-level DOUBLE gets
    E0 appended directly; a container whose text carries a candidate
    integral-double literal goes through the string-safe retag pass.
    Everything else passes through to_json unchanged.

    Let-bound (r9): j is referenced 5× and st 3× below; without the
    binding every reference re-embeds the whole v subtree (to_json +
    schema_of_variant of it) in the plan — one of the multipliers
    behind r8's 905-expansion setpath plan. BOTH are bound in ONE
    struct lambda, never nested lambdas: a conditional inside a
    nested lambda that references an OUTER lambda's variable defeats
    ExtractPythonUDFs — any Python UDF taking such an expression as
    an argument is silently left unextracted and dies at runtime
    with INTERNAL_ERROR "Cannot evaluate expression" (probed r9; own
    -var conditionals and lambda-free nesting are fine)."""
    pair = F.struct(
        F.to_json(v).alias("j"), F.schema_of_variant(v).alias("st")
    )
    fast = _cached_transform("vjson", _vjson_body, F.array(pair))
    if fast is not None:
        return fast
    return vlet(pair, _vjson_body)


def _vjson_case(j: Column, st: Column) -> Column:
    return (
        F.when(
            ((st == "DOUBLE") | (st == "FLOAT"))
            & ~j.contains("E") & ~j.contains("e"),
            F.concat(j, F.lit("E0")),
        )
        .when(
            (
                st.startswith("ARRAY")
                | st.startswith("OBJECT")
                | st.startswith("STRUCT")
            )
            & j.rlike(r"\d\.0([,\]}]|$)"),
            _retag_nested_doubles(j),
        )
        .otherwise(j)
    )


def _vjson_body(p: Column) -> Column:
    return _vjson_case(p["j"], p["st"])


def json_quote(s: Column) -> Column:
    """JSON text of a string value (escaped, quoted)."""
    j = F.to_json(F.array(s))  # ["..."]
    return F.substring(j, F.lit(2), F.length(j) - F.lit(2))


def varray(arr: Column) -> Column:
    """Variant array from ARRAY<VARIANT> — native to_variant_object
    (r6): elements pass through as variant binaries, no per-element
    vjson text rendering / parse_json round trip (the numeric tower
    survives by construction). SQL-NULL elements drop, matching the
    old concat_ws skip."""
    return F.to_variant_object(F.filter(arr, lambda x: x.isNotNull()))


def json_of_entries(entries: Column) -> Column:
    """JSON text of ARRAY<STRUCT<k: STRING, j: STRING>> (j = value
    JSON text). Caller must have deduped keys (parse_json rejects
    duplicates)."""
    return F.concat(
        F.lit("{"),
        F.concat_ws(
            ",", F.transform(entries, lambda e: F.concat(json_quote(e["k"]), F.lit(":"), e["j"]))
        ),
        F.lit("}"),
    )


def dedup_last_wins(entries: Column) -> Column:
    """Keep only the LAST entry per key (json.rs:501-507 dup policy).
    entries: ARRAY<STRUCT<k,j>>."""
    n = F.size(entries)
    return F.filter(
        entries,
        lambda e, i: ~F.exists(
            F.slice(entries, i + F.lit(2), n), lambda later: later["k"] == e["k"]
        ),
    )


def vobject(entries: Column) -> Column:
    """Variant object from ARRAY<STRUCT<k: STRING, j: STRING>>, with
    dup-last-wins; parse_json canonicalizes key order."""
    return F.parse_json(json_of_entries(dedup_last_wins(entries)))


# ------------------------------------------------------------- compare
def type_rank(t: Column) -> Column:
    """jq total order: null < bool < number < string < array < object.
    (Intended semantics; the reference's enum-variant order
    json.rs:469 puts every Integer below every Float — flagged as a
    quirk in SURVEY.md §2.3 and not replicated.)"""
    return (
        F.when(t == "null", 0)
        .when(t == "bool", 1)
        .when(is_number(t), 2)
        .when(t == "string", 3)
        .when(t == "array", 4)
        .otherwise(5)
    )


def deep_eq(a: Column, b: Column, ta: Column, tb: Column) -> Column:
    """Deep structural equality: numeric compare for numbers, else
    canonical-JSON equality (to_json on variant sorts object keys, so
    text equality IS deep equality)."""
    return F.when(
        is_number(ta) & is_number(tb), as_double(a) == as_double(b)
    ).otherwise((ta == tb) & (F.to_json(a) == F.to_json(b)))


def compare_lt(a: Column, b: Column, ta: Column, tb: Column) -> Column:
    """a < b under the jq total order. Within arrays/objects the
    comparison falls back to canonical-JSON text order (documented
    deviation: not element-wise recursive, SURVEY.md §2.3)."""
    ra, rb = type_rank(ta), type_rank(tb)
    return F.when(ra != rb, ra < rb).otherwise(
        F.when(is_number(ta), as_double(a) < as_double(b))
        .when(ta == "string", as_string(a) < as_string(b))
        .when(ta == "bool", (~as_bool(a)) & as_bool(b))
        .when(ta == "null", F.lit(False))
        .otherwise(F.to_json(a) < F.to_json(b))
    )
