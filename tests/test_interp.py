"""The pure-Python interpreter passes the SAME conformance corpus as
the Spark compiler, and both engines agree on random documents
(differential test)."""

from __future__ import annotations

import json

import pytest

from bd_spark.jsonq import interp, parser
from bd_spark.sources.lenient_json import parse_one
from tests.test_jsonq_corpus import CORPUS, answers


@pytest.mark.parametrize(
    "query,doc,expected", CORPUS, ids=[c[0][:40] for c in CORPUS]
)
def test_interp_corpus(query, doc, expected):
    got = answers(interp.run(parser.parse(query), parse_one(doc)))
    assert got == expected, f"{query} on {doc}"


def test_interp_error_entries():
    out = interp.run(parser.parse(".foo"), {"nonfoo": 10})
    assert len(out) == 1 and out[0][0] is None and out[0][1] is not None


def test_walk_past_recursion_cap_errors_loudly():
    """r7 ADVICE (high): walk() on input nested past the bounded-
    recursion cap must surface the injected recursion-limit error,
    not silently return a truncated structure (the interp's map used
    to filter body errors, swallowing the cap sentinel)."""
    doc: object = 0
    for _ in range(40):
        doc = [doc]
    out = interp.run(parser.parse("walk(.)"), doc)
    assert len(out) == 1
    v, err = out[0]
    assert v is None
    assert err is not None and "recursion depth limit" in err
    # inside the cap: walk is the identity, NO error
    doc2: object = {"k": 1}
    for _ in range(5):
        doc2 = [doc2]
    out2 = interp.run(parser.parse("walk(.)"), doc2)
    assert out2 == [(doc2, None)]


def test_interp_tier_marker(spark):
    """compile_query records which tier a program took (r6 VERDICT
    wrong #3: a query silently falling off the JVM path was invisible)
    — and the jq_interp_recurse EXTRA query really exercises it."""
    from bd_spark.jsonq import compiler
    from bd_spark.jsonq.runtime import JsonQ

    jq = JsonQ(spark)
    jq.run_texts(".a", ['{"a": 1}'])
    assert compiler.last_tier() == "staged"
    # self-recursive def -> bounded expansion -> InterpOnly -> interp
    out = jq.run_texts(
        'def addone: if type == "object" then map_values(addone)'
        " elif type == \"number\" then . + 1 else . end;"
        " ({a: {b: 2}} | addone)",
        ["null"],
    )
    assert compiler.last_tier() == "interp"
    assert out == [({"a": {"b": 3}}, None)]


def test_scalar_dispatch_routing():
    """The r11-close router signal: a program stacking many scalar
    ops (Binary/Unary/Slice/scalar builtins — each an interpreted
    variant dispatch tower per row on the staged lane) routes to the
    interp tier past _SCALAR_DISPATCH_THRESHOLD; a few-scalar program
    stays staged. Pinned at the _scalar_dispatch_count level (counts)
    and at compile_query (tier marker), both sides of the threshold."""
    from bd_spark.jsonq import compiler

    # 10 scalar binops, no other signal -> routes
    heavy = parser.parse(
        ".a + .b - .c * .d / .e % 2 + .f + .g + .h + .i + .j"
    )
    assert (
        compiler._scalar_dispatch_count(heavy)
        >= compiler._SCALAR_DISPATCH_THRESHOLD
    )
    compiler.compile_query(heavy)
    assert compiler.last_tier() == "interp"

    # 2 scalar ops -> stays staged
    light = parser.parse(".a + .b | length")
    assert (
        compiler._scalar_dispatch_count(light)
        < compiler._SCALAR_DISPATCH_THRESHOLD
    )
    compiler.compile_query(light)
    assert compiler.last_tier() == "staged"

    # builtins in the dispatch set count; HOF names are excluded
    # from it (they are their own signal)
    fmt = parser.parse(
        "{a: (.x | todate), b: (.y | round), c: (.z | @base64)}"
    )
    assert compiler._scalar_dispatch_count(fmt) == 3
    assert "map" not in compiler._SCALAR_DISPATCH_BUILTINS
    assert "sort_by" not in compiler._SCALAR_DISPATCH_BUILTINS


def test_hof_programs_have_no_staged_lane():
    """A HOF builtin is a capability fact, not a cost: its program
    runs on the interp tier even under the staged pin, and a HOF node
    handed to the staged compiler directly raises instead of falling
    through to some other lane. So does any other construct with no
    staged lane: the staged compiler never emits Python, a fan-out or
    a document rewrite for it."""
    from bd_spark.jsonq import compiler

    for q in ("map(. + 1)", ".xs | sort", "{a: (.xs | unique_by(.k))}"):
        compiler.TIER_OVERRIDE = "staged"
        try:
            compiler.compile_query(parser.parse(q))
        finally:
            compiler.TIER_OVERRIDE = None
        assert compiler.last_tier() == "interp", q
    for q in ("map(. + 1)", ".xs | sort_by(.a)", "[.[] | select(any(. > 1))]",
              "reduce .[] as $x (0; . + ([$x] | max_by(.)))",
              "flatten", "[paths]", "..|.a?", "del(.a[0])", ".a * .b",
              'match("a")', "reduce .a as $x (0; . + $x)",
              ".a = 1", ".n |= . + 1", "del(.a)", 'setpath(["a"]; 1)',
              "[.xs[]]", '[.t | splits(" ")]', "[range(3)]",
              "reduce .xs[] as $x (0; . + $x)", "[foreach .[] as $n (0; . + $n)]"):
        with pytest.raises(RuntimeError, match="no staged lane"):
            compiler.compile_stream(parser.parse(q))


def test_interp_tier_carries_columns(spark):
    """The interp tier passes non-core columns through its
    mapInPandas: every output row takes one copy of its input row's
    carries (upstream error rows too, zero-output rows none), for int,
    string, struct and VARIANT carries — and answers like the staged
    tier on the same carrying stream wherever the staged tier runs the
    program (a fan-out such as `.xs[]`, even inside a collect, runs on
    the interp tier only)."""
    from collections import Counter

    from pyspark.sql import functions as F

    from bd_spark.jsonq import compiler
    from bd_spark.jsonq.runtime import JsonQ

    jq = JsonQ(spark)
    texts = ['{"xs": [1, 2, 3]}', '{"xs": []}', "not json", '{"xs": [4]}']
    stream = jq.stream_from_texts(texts).withColumns({
        "c_int": F.col("seq") * 10,
        "c_str": F.concat(F.lit("s"), F.col("seq").cast("string")),
        "c_struct": F.struct(F.col("seq").alias("k"), F.lit("t").alias("t")),
        "c_var": F.parse_json(F.to_json(F.struct(F.col("seq").alias("id")))),
    })
    carries = ["c_int", "c_str", "c_struct", "c_var"]

    def rows(prog: str, tier: str) -> list:
        compiler.TIER_OVERRIDE = tier
        try:
            out = jq.run(prog, stream)
            assert compiler.last_tier() == tier, (prog, tier)
        finally:
            compiler.TIER_OVERRIDE = None
        assert out.columns == ["seq", "ord", "v", "err", *carries]
        # no `ord`: the interp tier appends a burst position to the
        # input's ord, the staged tier keeps it (both sort in place)
        return out.select(
            "seq", F.to_json("v").alias("v"), "err", "c_int", "c_str",
            "c_struct", F.to_json("c_var").alias("c_var"),
        ).collect()

    # outputs per input seq: 2 is the upstream parse-error row
    for prog, want, staged in (
        (".xs[]", {0: 3, 2: 1, 3: 1}, False),
        ("empty", {2: 1}, True),
        ("[.xs[] | . * 2]", {0: 1, 1: 1, 2: 1, 3: 1}, False),
        ("[.xs[0]?, (.xs | length)]", {0: 1, 1: 1, 2: 1, 3: 1}, True),
    ):
        got = rows(prog, "interp")
        assert Counter(r.seq for r in got) == want, prog
        for r in got:
            s = r.seq
            assert (r.err is not None) == (s == 2), (prog, r)
            assert r.c_int == s * 10 and r.c_str == f"s{s}", (prog, r)
            assert (r.c_struct.k, r.c_struct.t) == (s, "t"), (prog, r)
            assert json.loads(r.c_var) == {"id": s}, (prog, r)
        if staged:
            assert got == rows(prog, "staged"), prog


def test_interp_map_error_propagation_and_empty_drop():
    """map body errors propagate (reference `thunk(value)?`,
    ops.rs:1640); empty body output drops the element/key; first
    output wins — matching the compiled tier and jq's map_values."""
    assert interp.run(parser.parse('map(error("boom"))'), [1, 2]) == [
        (None, "boom")
    ]
    assert interp.run(
        parser.parse('map_values(error("k"))'), {"a": 1}
    ) == [(None, "k")]
    assert interp.run(parser.parse("map(select(. > 1))"), [1, 2, 3]) == [
        ([2, 3], None)
    ]
    assert interp.run(
        parser.parse("map_values(select(. > 1))"), {"a": 1, "b": 2}
    ) == [({"b": 2}, None)]


# ------------------------------------------------------- differential

DIFF_QUERIES = [
    ".",
    ".a",
    ".a.b?",
    ".[]?",
    "..|.x?",
    "[.[]?]",
    ".a? + .b?",
    '{"k": .a?, "n": length}',
    ".a? * 2",
    ".[1..3]?",
    "[..]",
    "!.a?",
    ".a? == .b?",
    ". | length",
    # ADVICE r01: arr-sub removes FIRST occurrence per rhs element
    ".a? - [1, 1]",
    # ADVICE r01: computed non-string dict keys are skipped, not coerced
    '{(.a?): 1}',
    # ADVICE r01: multi-valued multi-branch Iter interleaves round-robin
    ".[.a.[]?, .b.[]?]",
    # round 5: variables / reduce / string interpolation
    ". as $d | [$d] | length",
    ".a? as $x | {got: $x}",
    "[.[]? as $e | $e]",
    "reduce .[]? as $x (0; . + 1)",
    'reduce .[]? as $x (""; . + "x")',
    '"len=\\(length)"',
]

DIFF_DOCS = [
    '{"a": {"b": 1}, "b": 2}',
    '{"a": 5, "b": 7.5}',
    "[1, 2, 3]",
    '[{"x": 1}, {"x": [2, {"x": 3}]}]',
    '{"a": [1, 2], "x": null}',
    '"plain string"',
    "42",
    "null",
    '{"z": {"x": true}, "a": [], "m": {}}',
    # duplicates exercise remove-first-occurrence `-` and round-robin Iter
    '{"a": [1, 1, 2, 1], "b": [3, 4]}',
]


@pytest.mark.parametrize("query", DIFF_QUERIES)
def test_differential_spark_vs_interp(spark, query):
    """One Spark job per query over the whole doc battery; outputs
    must match the interpreter document-for-document."""
    from bd_spark.jsonq.runtime import JsonQ

    jq = JsonQ(spark)
    ast_ = parser.parse(query)
    spark_out = jq.run_texts(query, DIFF_DOCS)
    interp_out = [
        e for d in DIFF_DOCS for e in interp.run(ast_, parse_one(d))
    ]
    assert len(spark_out) == len(interp_out), query
    for (sv, serr), (iv, ierr) in zip(spark_out, interp_out):
        assert (serr is None) == (ierr is None), query
        if serr is None:
            assert _norm(sv) == _norm(iv), f"{query}: {sv!r} != {iv!r}"


def _norm(v):
    """float/int unification for cross-engine compare (Spark variant
    renders 7.5+0 as double; the interpreter keeps Python ints)."""
    if isinstance(v, float) and v.is_integer():
        return int(v)
    if isinstance(v, list):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in sorted(v.items())}
    return v


def _rand_json(rng, depth=0):
    kinds = ["null", "bool", "int", "float", "str"]
    if depth < 3:
        kinds += ["arr", "obj", "arr", "obj"]
    k = rng.choice(kinds)
    if k == "null":
        return None
    if k == "bool":
        return rng.random() < 0.5
    if k == "int":
        return rng.randint(-1000, 1000)
    if k == "float":
        return round(rng.uniform(-100, 100), 3)
    if k == "str":
        return "".join(rng.choice("abx y.:/") for _ in range(rng.randint(0, 6)))
    if k == "arr":
        return [_rand_json(rng, depth + 1) for _ in range(rng.randint(0, 4))]
    return {
        "".join(rng.choice("abcxyz") for _ in range(rng.randint(1, 4))): _rand_json(
            rng, depth + 1
        )
        for _ in range(rng.randint(0, 4))
    }


def test_differential_seeded_fuzz(spark):
    """30 seeded random documents through every differential query on
    both engines; values and error positions must agree."""
    import random

    from bd_spark.jsonq.runtime import JsonQ

    from concurrent.futures import ThreadPoolExecutor

    rng = random.Random(20260813)
    docs = [json.dumps(_rand_json(rng)) for _ in range(30)]
    jq = JsonQ(spark)

    def check(query):
        ast_ = parser.parse(query)
        spark_out = jq.run_texts(query, docs)
        interp_out = [
            e for d in docs for e in interp.run(ast_, parse_one(d))
        ]
        assert len(spark_out) == len(interp_out), query
        for (sv, serr), (iv, ierr) in zip(spark_out, interp_out):
            assert (serr is None) == (ierr is None), f"{query}: err mismatch"
            if serr is None:
                assert _norm(sv) == _norm(iv), f"{query}: {sv!r} != {iv!r}"

    # 8 differential plans in flight (compiler._ENV is thread-local)
    with ThreadPoolExecutor(max_workers=8) as ex:
        list(ex.map(check, DIFF_QUERIES))


def test_tostream_jq_manual_semantics():
    """tostream events (jq manual examples, sorted-object-key
    dialect): [path, leaf] per leaf — scalars AND empty containers —
    plus a [path-of-last-child] close marker per non-empty
    container."""
    import json

    def run(q, doc):
        return [v for v, e in interp.run(parser.parse(q), json.loads(doc))]

    assert run("tostream", '{"a":[1,[2,3]]}') == [
        [["a", 0], 1], [["a", 1, 0], 2], [["a", 1, 1], 3],
        [["a", 1, 1]], [["a", 1]], [["a"]],
    ]
    assert run("tostream", "1") == [[[], 1]]
    assert run("tostream", "[]") == [[[], []]]
    assert run("tostream", '{"a":{}}') == [[["a"], {}], [["a"]]]
    # sorted-object-key convention (the dialect's `.[]`/paths order)
    assert run("tostream", '{"b":1,"a":2}') == [
        [["a"], 2], [["b"], 1], [["b"]],
    ]


def test_fromstream_round_trip_and_errors(spark):
    """fromstream(tostream) is the identity on every doc shape —
    including multiple documents through ONE fromstream (state resets
    after each emission) — and malformed events are in-band errors.
    The Spark tier routes these programs through the interp tier
    (InterpOnly), so the engine differential is the same machine; the
    EXTRA-registered jq_tostream query pins it against DuckDB via
    tests/test_extra_oracle.py (the driver's CORRECTNESS record only
    covers the 50 GATE queries — ADVICE r8)."""
    import json
    import random

    from bd_spark.jsonq.runtime import JsonQ

    def run(q, doc):
        return interp.run(parser.parse(q), json.loads(doc))

    rng = random.Random(0xBD08)
    docs = [_rand_json(rng) for _ in range(25)] + [
        {}, [], 5, None, "s", {"a": {}}, [[], {}], {"b": [1, {"c": []}]},
    ]
    for d in docs:
        got = run("fromstream(tostream)", json.dumps(d))
        assert got == [(d, None)], d
    # several docs through one stateful fromstream
    multi = [{"a": 1}, [2, 3], 5, {}, [[]]]
    got = run("[fromstream(.[] | tostream)]", json.dumps(multi))
    assert got == [(multi, None)]
    # malformed events -> in-band error entries
    got = run("fromstream(1)", "null")
    assert got[0][0] is None and "fromstream" in got[0][1]
    # spark tier parity: whole query through the Arrow interp tier
    jq = JsonQ(spark)
    texts = [json.dumps(d) for d in multi]
    sp = jq.run_texts("[tostream | tojson] | join(\";\")", texts)
    it = [
        e
        for t in texts
        for e in interp.run(
            parser.parse('[tostream | tojson] | join(";")'), json.loads(t)
        )
    ]
    assert sp == it
