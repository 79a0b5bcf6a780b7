"""Property-based tests (SURVEY.md §5.2): parse/serialize round-trips
and incremental-reader equivalence over random JSON, pure Python (no
SparkSession in the hypothesis loop)."""

from __future__ import annotations

import io
import json
import math

from hypothesis import given, settings
from hypothesis import strategies as st

from bd_spark.jsonq.canonical import canonicalize, format_float
from bd_spark.sources.lenient_json import iter_documents, parse_many, parse_one

# finite doubles only: the data model has no NaN/Inf literals (RFC 8259)
finite_floats = st.floats(allow_nan=False, allow_infinity=False)

json_values = st.recursive(
    st.none()
    | st.booleans()
    | st.integers(min_value=-(2**100), max_value=2**100)
    | finite_floats
    | st.text(max_size=40),
    lambda children: st.lists(children, max_size=6)
    | st.dictionaries(st.text(max_size=12), children, max_size=6),
    max_leaves=25,
)


def _norm(v):
    """Collapse int-valued floats the way the dual number tower does
    NOT: keep types; only normalize -0.0 to 0.0 like the parser."""
    if isinstance(v, float) and v == 0.0:
        return 0.0
    if isinstance(v, list):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items()}
    return v


@settings(max_examples=300)
@given(json_values)
def test_canonical_roundtrip(value):
    """parse(canonicalize(v)) == v and canonicalize is idempotent."""
    text = canonicalize(value)
    back = parse_one(text)
    assert back == _norm(value)
    assert canonicalize(back) == text


@settings(max_examples=300)
@given(json_values)
def test_strict_json_is_parseable(value):
    """Anything the stdlib emits, the lenient parser accepts with the
    same value."""
    text = json.dumps(value)
    assert parse_one(text) == _norm(value)


@settings(max_examples=150)
@given(st.lists(json_values, min_size=1, max_size=5), st.integers(1, 64))
def test_incremental_reader_matches_parse_many(values, block_size):
    """iter_documents over any chunking == parse_many over the whole
    text (the Jsons reader invariant: chunk boundaries never change
    results)."""
    text = " ".join(canonicalize(v) for v in values)
    whole = parse_many(text)
    chunked = list(iter_documents(io.StringIO(text), block_size=block_size))
    assert chunked == whole == [_norm(v) for v in values]


@settings(max_examples=300)
@given(finite_floats)
def test_format_float_roundtrips(x):
    """The {:e} formatter loses no precision."""
    s = format_float(x)
    assert float(s) == (0.0 if x == 0.0 else x)
    assert math.copysign(1, float(s)) == math.copysign(1, x) or x == 0.0


@settings(max_examples=500)
@given(finite_floats)
def test_format_float_matches_probing_oracle(x):
    """The repr/Decimal fast path vs the original try-increasing-
    precisions formatter: byte-identical except in round-half-even
    TIE cases (e.g. 2^-24), where the probing loop's correctly-
    rounded k-digit string fails to round-trip and it falls through
    to k+1 digits — while repr (like Rust's shortest {:e}) finds the
    k-digit neighbor that DOES round-trip. There the fast path must
    be strictly shorter; it is the reference-parity behavior."""
    from bd_spark.jsonq.canonical import _format_float_probing

    fast, probing = format_float(x), _format_float_probing(x)
    if fast != probing:
        assert len(fast) < len(probing)
        assert float(fast) == x


def test_format_float_tie_case_prefers_shortest():
    """2^-24: probing emitted 5.9604644775390625e-8 (17 digits);
    Rust {:e} and repr agree on 5.960464477539063e-8 (16)."""
    assert format_float(2.0 ** -24) == "5.960464477539063e-8"


def _dumps_tagged_per_level(v: object) -> str:
    """dumps_tagged as it was before its float search ran once per
    dumped value: a float search at every container level. The
    byte-identity reference for test_dumps_tagged_matches_per_level."""
    from bd_spark.jsonq.interp import _has_float

    if isinstance(v, (dict, list)) and not _has_float(v):
        return json.dumps(v, ensure_ascii=False, separators=(",", ":"))
    if isinstance(v, float):
        s = repr(v)
        return s if ("e" in s or "E" in s) else s + "E0"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{json.dumps(k, ensure_ascii=False)}:{_dumps_tagged_per_level(x)}"
            for k, x in v.items()
        ) + "}"
    if isinstance(v, list):
        return "[" + ",".join(_dumps_tagged_per_level(x) for x in v) + "]"
    return json.dumps(v, ensure_ascii=False, separators=(",", ":"))


@settings(max_examples=500)
@given(json_values | st.lists(json_values, max_size=4))
def test_dumps_tagged_matches_per_level(value):
    """interp.dumps_tagged searches a tree for floats once, yet emits
    the same bytes as the per-level search it replaced, on float-free
    and float-bearing trees alike."""
    from bd_spark.jsonq.interp import dumps_tagged

    assert dumps_tagged(value) == _dumps_tagged_per_level(value)
