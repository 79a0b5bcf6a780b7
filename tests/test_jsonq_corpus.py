"""End-to-end jsonq conformance corpus.

Re-expresses the reference's commented-out query test corpus
(query.rs:274-1138 — the de-facto semantics spec per SURVEY.md §5)
as (input doc, query, expected outputs). Expected outputs encode the
*intended* semantics: true `<=` (not the ops.rs:1272 bug), deep
equality, `?` suppression; an error entry is written ERR (its text is
not compared).
"""

from __future__ import annotations

import pytest

from bd_spark.jsonq.runtime import JsonQ


class _Err:
    def __repr__(self) -> str:
        return "ERR"


# an error entry in an expected answer (error texts are not compared)
ERR = _Err()


def answers(entries) -> list:
    """A program's outputs as the corpus states them: each value, and
    ERR for each error entry, in output order."""
    return [ERR if err is not None else v for v, err in entries]


# (query, input_doc, expected_outputs)
CORPUS = [
    # identity & literals (query.rs:280-370)
    (".", '{"foo": 10}', [{"foo": 10}]),
    ("", '"hello"', ["hello"]),
    ("null", '{"x": 1}', [None]),
    ("true", "1", [True]),
    ("false", "1", [False]),
    ("10", "null", [10]),
    ("10.2", "null", [10.2]),
    ('"hello"', "null", ["hello"]),
    # index (query.rs:372-460)
    (".foo", '{"foo": 10}', [10]),
    (".foo?", '{"nonfoo": 10}', []),
    ('."foo"', '{"foo": "bar"}', ["bar"]),
    ('.["foo"]', '{"foo": [1,2]}', [[1, 2]]),
    (".0", "[10, 20, 30]", [10]),
    (".[0]", "[10, 20, 30]", [10]),
    (".[1]", "[10, 20, 30]", [20]),
    (".[-1]", "[10, 20, 30]", [30]),
    (".[-3]", "[10, 20, 30]", [10]),
    # slices (query.rs:464-539)
    (".[2..4]", '["a","b","c","d","e"]', [["c", "d"]]),
    (".[2..=3]", '["a","b","c","d","e"]', [["c", "d"]]),
    (".[..2]", '["a","b","c","d","e"]', [["a", "b"]]),
    (".[3..]", '["a","b","c","d","e"]', [["d", "e"]]),
    (".[..]", '["a","b"]', [["a", "b"]]),
    (".[-2..]", '["a","b","c","d","e"]', [["d", "e"]]),
    (".[2..4]", '"abcdefghi"', ["cd"]),
    (".[2..=3]", '"abcdefghi"', ["cd"]),
    # itervalues (query.rs:541-577)
    (".[]", "[1, 2, 3]", [1, 2, 3]),
    (".[]", '{"a": true, "b": 2, "c": null}', [True, 2, None]),
    (".[]", '{"b": 2, "a": 1}', [1, 2]),  # object values in key order
    (".[]?", "10", []),
    # iterate expressions (query.rs:579-591)
    ('.["user", "projects"]', '{"user":"sted","projects":["jq","wikiflow"]}',
     ["sted", ["jq", "wikiflow"]]),
    (".[user, projects.[]]", '{"user":"stedolan","projects":["jq","wikiflow"]}',
     ["stedolan", "jq", "wikiflow"]),
    # pipe & juxtaposition (query.rs:596-636)
    (".[] | foo", '[{"foo": 10}, {"foo": 20}]', [10, 20]),
    (".a.b", '{"a": {"b": 42}}', [42]),
    (".a | .b", '{"a": {"b": 42}}', [42]),
    # arithmetic (query.rs:638-700, 763-907)
    ("(2 + .) * 15", "10", [180]),
    ("1 + 2", "null", [3]),
    ("1 + 2.5", "null", [3.5]),
    ("a + b", '{"a": 1, "b": 2}', [3]),
    ('a + b', '{"a": "foo", "b": "bar"}', ["foobar"]),
    ("a + b", '{"a": [1,2], "b": [3]}', [[1, 2, 3]]),
    ("a + b + c", '{"a":{"x":1},"b":{"x":2},"c":{"y":2}}', [{"x": 2, "y": 2}]),
    ("a - b", '{"a": 10, "b": 4}', [6]),
    # >int64 integer tower: DECIMAL(38,0) parity for the reference's
    # i128 (json.rs:473; SURVEY §1.5) — parse, arithmetic, overflow
    # promotion out of long, negation of min-long
    (".a + 1", '{"a": 18446744073709551616}', [18446744073709551617]),
    (".a * .a", '{"a": 9223372036854775807}',
     [85070591730234615847396907784232501249]),
    (".a + .a", '{"a": 9223372036854775807}', [18446744073709551614]),
    ("-.a", '{"a": -9223372036854775808}', [9223372036854775808]),
    (".a == 18446744073709551616", '{"a": 18446744073709551616}', [True]),
    ("a - b", '{"a": [1,2], "b": [2]}', [[1]]),
    ("a * b", '{"a": 3, "b": 4}', [12]),
    ("a * b", '{"a": "hello", "b": 2}', ["hellohello"]),
    ("a * b", '{"a": "hello", "b": 0}', [None]),
    ("a / b", '{"a": 7, "b": 2}', [3.5]),
    ("a / b", '{"a": 1, "b": 0}', [None]),
    ("a / b", '{"a": "a,b,c,d", "b": ","}', [["a", "b", "c", "d"]]),
    ("a % b", '{"a": 7, "b": 3}', [1]),
    ("a % b", '{"a": 7, "b": 0}', [None]),
    ("true + 1", "null", [None]),  # type mismatch -> null (json.rs:992)
    # unary (ops.rs:742-803)
    ("-a", '{"a": 5}', [-5]),
    ("-a", '{"a": 5.5}', [-5.5]),
    ("!a", '{"a": true}', [False]),
    ("!a", '{"a": null}', [True]),
    ("!a", '{"a": 0}', [False]),  # 0 is truthy (json.rs:553-557)
    # bitwise / shifts (ops.rs:976-1143)
    ("a << b", '{"a": 1, "b": 4}', [16]),
    ("a >> b", '{"a": 16, "b": 2}', [4]),
    ("a & b", '{"a": 6, "b": 3}', [2]),
    ("a ^ b", '{"a": 6, "b": 3}', [5]),
    ("a bor b", '{"a": 6, "b": 3}', [7]),
    ("a & b", '{"a": 6, "b": "x"}', [None]),
    # comparisons (ops.rs:1146-1347; Le bug NOT replicated)
    ("a == b", '{"a": 1, "b": 1}', [True]),
    ("a == b", '{"a": 1, "b": 1.0}', [True]),
    ("a == b", '{"a": {"x":[1]}, "b": {"x":[1]}}', [True]),
    ("a != b", '{"a": 1, "b": 2}', [True]),
    ("a < b", '{"a": 1, "b": 2}', [True]),
    ("a <= b", '{"a": 2, "b": 2}', [True]),
    ("a <= b", '{"a": 3, "b": 2}', [False]),
    ("a > b", '{"a": 3, "b": 2}', [True]),
    ("a >= b", '{"a": 2, "b": 2}', [True]),
    ('a < b', '{"a": "abc", "b": "abd"}', [True]),
    ("a < b", '{"a": null, "b": false}', [True]),  # type rank
    ("a && b", '{"a": true, "b": 0}', [True]),
    ("a && b", '{"a": true, "b": null}', [False]),
    ("a || b", '{"a": false, "b": false}', [False]),
    ("a || b", '{"a": false, "b": ""}', [True]),
    # collections (query.rs:672-758)
    ("[.items.[].name]", '{"items": [{"name":"x"},{"name":"y"}]}', [["x", "y"]]),
    ("[.[]]", "[1,2]", [[1, 2]]),
    ("[]", "null", [[]]),
    ("[1, 2, .]", "3", [[1, 2, 3]]),
    ("{user, title: .titles.[]}",
     '{"user":"sted","titles":["JQ Primer","More JQ"]}',
     [{"title": "JQ Primer", "user": "sted"},
      {"title": "More JQ", "user": "sted"}]),
    ('{("a"):1}', "null", [{"a": 1}]),
    ('{(."a"+"-"+."b"):59}', '{"a":"firstname","b":"lastname"}',
     [{"firstname-lastname": 59}]),
    ('{"a": 1, "b": 2}', "null", [{"a": 1, "b": 2}]),
    # recurse (query.rs:753-758)
    ("..|.a?", '[[{"a":1},{"a":2}],{"a":3}]', [1, 2, 3]),
    # builtins (query.rs:951-1137)
    (". | length", '[[1,2], "string", {"a":2}, null]', [4]),
    (".[] | length", '[[1,2], "string", {"a":2}, null]', [2, 6, 1, 0]),
    (".foo | length", '{"foo": [1,2,3]}', [3]),
    ("chars", '"ab"', [[97, 98]]),
    (". | chars | length", '"汉语"', [2]),
    (". | keys", '{"abc":1,"abcd":2,"Foo":3}', [["Foo", "abc", "abcd"]]),
    (". | keys", '[9, 8]', [[0, 1]]),
    ('has("foo")', '{"foo":1,"abcd":2,"Foo":3}', [True]),
    ('has("bar")', '{"foo":1}', [False]),
    ("has(1)", '[9, 8]', [True]),
    ("has(2)", '[9, 8]', [False]),
    ('.[] | in({"foo": 42})', '["foo", "bar"]', [True, False]),
    ("map(.+1)", "[1, 2]", [[2, 3]]),
    ("map(.+1)", '{"foo":1,"bar":2}', [{"bar": 3, "foo": 2}]),
    ("any(. == 1)", "[1, 2]", [True]),
    ("any(. == 5)", "[1, 2]", [False]),
    ('all(. == "a")', '{"x":"a","y":"b"}', [False]),
    ('all(. == "a")', '["a", "a"]', [True]),
    # dict cartesian + dedup (ops.rs:600-739)
    ('{"a": .[], "b": .[]}', "[1,2]",
     [{"a": 1, "b": 1}, {"a": 1, "b": 2}, {"a": 2, "b": 1}, {"a": 2, "b": 2}]),
    ('{"z": 1, "a": 2}', "null", [{"a": 2, "z": 1}]),
    # select / alternative — BEYOND-reference jq usability (the
    # reference dialect has neither; semantics follow jq: select
    # emits its input when f is truthy, `a // b` falls back to b
    # when a errors or is falsy, suppressing a's errors)
    (".[] | select(.a > 1)", '[{"a":1},{"a":2},{"a":3}]',
     [{"a": 2}, {"a": 3}]),
    ("select(.a)", '{"a": true}', [{"a": True}]),
    ("select(.a)", '{"a": false}', []),
    ("select(.a) | .b", '{"a": 1, "b": 9}', [9]),
    (".[] | select(. % 2 == 0)", "[1,2,3,4]", [2, 4]),
    (".x // 42", '{"x": null}', [42]),
    (".x // 42", '{"x": 7}', [7]),
    ('.missing // "d"', "{}", ["d"]),
    ('(.a > 1) // "no"', '{"a": 0}', ["no"]),
    (".a // .b // 3", '{"b": 2}', [2]),
    ("map(. // 9)", "[1, null, 2, false]", [[1, 9, 2, 9]]),
    # beyond-reference usability builtins (jq manual semantics)
    ("empty", "[1,2]", []),
    (".[] | empty", "[1,2]", []),
    ("add", "[1, 2, 3.5]", [6.5]),
    ("add", "[]", [None]),
    ("add", '["a", "b"]', ["ab"]),
    ("floor", "3.7", [3]),
    ("ceil", "3.2", [4]),
    ("sqrt", "16", [4.0]),
    ("abs", "-3", [3]),
    ("fabs", "-2.5", [2.5]),
    ("tostring", '"x"', ["x"]),
    ("tostring", '{"b": 1, "a": 2}', ['{"a":2,"b":1}']),
    ("tonumber", '"42.5"', [42.5]),
    ("tonumber", "7", [7]),
    ("ascii_downcase", '"AbC"', ["abc"]),
    ("ascii_upcase", '"AbC"', ["ABC"]),
    ("reverse", "[1,2,3]", [[3, 2, 1]]),
    ("reverse", '"abc"', ["cba"]),
    ("sort", '[3, 1, null, "a", 2]', [[None, 1, 2, 3, "a"]]),
    ("unique", "[2, 1, 2, 1]", [[1, 2]]),
    ("min", "[3, 1, 2]", [1]),
    ("max", "[3, 1, 2]", [3]),
    ("min", "[]", [None]),
    ('ltrimstr("ab")', '"abcd"', ["cd"]),
    ('ltrimstr("zz")', '"abcd"', ["abcd"]),
    ('rtrimstr("cd")', '"abcd"', ["ab"]),
    ("ltrimstr(5)", '"abcd"', ["abcd"]),  # non-string arg: passthrough
    ('startswith("ab")', '"abcd"', [True]),
    ('endswith("cd")', '"abcd"', [True]),
    ('contains("bc")', '"abcd"', [True]),
    ('contains("zz")', '"abcd"', [False]),
    ('test("b.d")', '"abcd"', [True]),
    ('test("^x")', '"abcd"', [False]),
    ('join(",")', '["a", null, 1]', ["a,,1"]),
    ('join("-")', "[]", [""]),
    ('split(" ")', '"a b c"', [["a", "b", "c"]]),
    ('.[] | select(startswith("ab"))', '["abc","xyz","abq"]',
     ["abc", "abq"]),
    # if/then/elif/else/end — beyond-reference jq conditional
    ('if .a > 1 then "big" elif .a > 0 then "small" else "neg" end',
     '{"a": 2}', ["big"]),
    ('if .a > 1 then "big" elif .a > 0 then "small" else "neg" end',
     '{"a": 0.5}', ["small"]),
    ('if .a > 1 then "big" elif .a > 0 then "small" else "neg" end',
     '{"a": -1}', ["neg"]),
    ("if .a then .b end", '{"a": false, "b": 1}',
     [{"a": False, "b": 1}]),  # missing else passes input through
    (".[] | if . > 2 then . * 10 else . end", "[1, 2, 3]", [1, 2, 30]),
    ("if .x then if .y then 1 else 2 end else 3 end",
     '{"x": 1, "y": false}', [2]),
    ("{r: (if .a then 1 else 0 end)}", '{"a": null}', [{"r": 0}]),
    (".end", '{"end": 5}', [5]),  # keyword fields outside if still work
    # builtin batch 2: type/not/first/last/tojson/fromjson + *_by HOFs
    ("type", '{"a": 1}', ["object"]),
    (".[] | type", '[null, true, 1, 1.5, "s", [], {}]',
     ["null", "boolean", "number", "number", "string", "array", "object"]),
    (".a | not", '{"a": false}', [True]),
    ("1 | not", "null", [False]),
    ("first", "[3, 1, 2]", [3]),
    ("last", "[3, 1, 2]", [2]),
    ("first", "[]", [None]),
    ("tojson", '{"b": 1, "a": [true, "x"]}', ['{"a":[true,"x"],"b":1}']),
    ("fromjson", '"[1, 2]"', [[1, 2]]),
    ('.s | fromjson | .k', '{"s": "{\\"k\\": 5}"}', [5]),
    ("tojson | fromjson", '[1, "a", null]', [[1, "a", None]]),
    ("sort_by(.k)", '[{"k": 2}, {"k": 1}, {"k": 3}]',
     [[{"k": 1}, {"k": 2}, {"k": 3}]]),
    ("sort_by(.k)", "[]", [[]]),
    ("min_by(.k)", '[{"k": 2}, {"k": 1}]', [{"k": 1}]),
    ("max_by(.k)", '[{"k": 2}, {"k": 1}]', [{"k": 2}]),
    ("min_by(.k)", "[]", [None]),
    ("unique_by(.k)", '[{"k": 1, "v": "a"}, {"k": 2}, {"k": 1, "v": "b"}]',
     [[{"k": 1, "v": "a"}, {"k": 2}]]),
    ("group_by(.k)", '[{"k": 1, "v": 1}, {"k": 2, "v": 2}, {"k": 1, "v": 3}]',
     [[[{"k": 1, "v": 1}, {"k": 1, "v": 3}], [{"k": 2, "v": 2}]]]),
    ("group_by(.)", "[2, 1, 2]", [[[1], [2, 2]]]),
    ("group_by(.)", "[]", [[]]),
    # stability: equal keys keep original order in sort_by
    ("sort_by(.k)", '[{"k": 1, "v": "x"}, {"k": 1, "v": "y"}]',
     [[{"k": 1, "v": "x"}, {"k": 1, "v": "y"}]]),
    # try f — errors inside f become empty, values pass through
    ("try .a", '{"a": 5}', [5]),
    ("try .a", "[1, 2]", []),          # index error on array -> empty
    (".[] | try (1 / .)", "[2, 0, 4]",
     [0.5, None, 0.25]),               # /0 -> null, not an error
    (".[] | try fromjson", '["[1]", "nope", "2"]', [[1], 2]),
    ("[.[] | try (.k)]", '[{"k": 1}, 7, {"k": 2}]', [[1, 2]]),
    ("try length", '"abc"', [3]),
    # to_entries / from_entries
    ("to_entries", '{"b": 2, "a": 1}',
     [[{"key": "a", "value": 1}, {"key": "b", "value": 2}]]),
    ("to_entries", "{}", [[]]),
    ("from_entries",
     '[{"key": "a", "value": 1}, {"k": "b", "v": 2}, {"name": "c"}]',
     [{"a": 1, "b": 2, "c": None}]),
    ("from_entries", '[{"key": "x", "value": 1}, {"key": "x", "value": 2}]',
     [{"x": 2}]),                       # duplicate keys: last wins
    ("from_entries", '[{"key": 7, "value": "x"}]', [{"7": "x"}]),
    ("to_entries | from_entries", '{"a": 1, "b": [2, 3]}',
     [{"a": 1, "b": [2, 3]}]),
    ("to_entries | map(.value)", '{"a": 1, "b": 2}', [[1, 2]]),
    # flatten — recursive array splice, objects untouched
    ("flatten", "[1, [2, [3, [4]]], 5]", [[1, 2, 3, 4, 5]]),
    ("flatten", "[]", [[]]),
    ("flatten", '[{"a": [1]}, [2]]', [[{"a": [1]}, 2]]),
    ("flatten | length", "[[1, 2], [3]]", [3]),
    # range(n) — generator: 0,1,... while < n
    ("[range(5)]", "null", [[0, 1, 2, 3, 4]]),
    ("[range(0)]", "null", [[]]),
    ("[range(-2)]", "null", [[]]),
    ("range(.n)", '{"n": 3}', [0, 1, 2]),
    ("[range(2.5)]", "null", [[0, 1, 2]]),
    (".[] | [range(.)]", "[1, 2]", [[0], [0, 1]]),
    ("[range(3)] | add", "null", [3]),
    # static-path assignment / update / del
    (".a = 1", '{"a": 0, "b": 2}', [{"a": 1, "b": 2}]),
    (".a = .b + 1", '{"a": 0, "b": 2}', [{"a": 3, "b": 2}]),
    (".a.b = 5", '{"a": {"c": 1}, "x": 2}',
     [{"a": {"b": 5, "c": 1}, "x": 2}]),
    (".a.b = 5", '{"x": 2}', [{"a": {"b": 5}, "x": 2}]),  # fresh objects
    (".a = .a", '{"a": 7}', [{"a": 7}]),
    (".n |= . * 10", '{"n": 4}', [{"n": 40}]),
    (".n |= (. // 0) + 1", "{}", [{"n": 1}]),             # missing -> null
    (".a = 1 | .b = 2", "{}", [{"a": 1, "b": 2}]),
    ("del(.a)", '{"a": 1, "b": 2}', [{"b": 2}]),
    ("del(.a.b)", '{"a": {"b": 1, "c": 2}}', [{"a": {"c": 2}}]),
    ("del(.x)", '{"a": 1}', [{"a": 1}]),                  # missing: no-op
    ("del(.x.y)", '{"a": 1}', [{"a": 1}]),
    (".[] | .k = 1", '[{"k": 0}, {}]', [{"k": 1}, {"k": 1}]),
    # arithmetic update sugar: .a op= E  ==  .a = .a op E
    (".n += 5", '{"n": 2}', [{"n": 7}]),
    (".n -= .m", '{"n": 9, "m": 4}', [{"n": 5, "m": 4}]),
    (".n *= 3", '{"n": 2}', [{"n": 6}]),
    (".n //= 8", '{"x": 1}', [{"n": 8, "x": 1}]),
    ('.s += "!"', '{"s": "hi"}', [{"s": "hi!"}]),
    # variables: E as $x | B (jq; reference context.rs is disabled)
    (".a as $x | .b + $x", '{"a": 1, "b": 2}', [3]),
    (". as $d | .a + $d.b", '{"a": 1, "b": 9}', [10]),
    (". as $d | $d.xs.[0] + $d.xs.[1]", '{"xs": [3, 4]}', [7]),
    # multi-valued source fans the body out per binding
    (".xs.[] as $e | {k: $e, t: .tag}", '{"xs": [1, 2], "tag": "t"}',
     [{"k": 1, "t": "t"}, {"k": 2, "t": "t"}]),
    (".xs.[] as $e | $e as $f | $f + 1", '{"xs": [1, 2]}', [2, 3]),  # shadow-safe rebind
    ("[.xs.[] as $e | $e * 2]", '{"xs": [1, 2, 3]}', [[2, 4, 6]]),
    (".as", '{"as": 7}', [7]),  # `as` stays a field name without a $var
    ("if .a then .b as $t | $t + 1 else 0 end", '{"a": true, "b": 5}', [6]),
    # reduce E as $x (I; U)
    ("reduce .[] as $n (0; . + $n)", "[5, 6]", [11]),
    ("reduce .xs.[] as $n (0; . + $n)", '{"xs": [1, 2, 3, 4]}', [10]),
    ("reduce .[] as $n (0; . + $n)", "[]", [0]),  # empty: init passes through
    ("reduce .[]? as $n (0; . + $n)", "3", [0]),  # `?`: non-iterable -> empty
    ("reduce range(5) as $i (1; . * 2)", "null", [32]),
    ('reduce .[] as $s (""; . + $s)', '["x", "y", "z"]', ["xyz"]),
    ("reduce .[] as $x ([]; . + [$x * 2])", "[1, 2]", [[2, 4]]),
    ('reduce .[] as $w ({}; . * {($w): 1})', '["a", "b", "a"]',
     [{"a": 1, "b": 1}]),
    ("reduce .[] as $x (0; if $x > . then $x else . end)", "[3, 9, 2]", [9]),
    ("{sum: reduce .xs.[] as $n (0; . + $n), t: .tag}",
     '{"xs": [1, 2], "tag": "t"}', [{"sum": 3, "t": "t"}]),
    # typed fold lane (r7), the staged tier's one reduce: split
    # products prove array<string>, so these folds compile over native
    # columns — values must match the interp tier's fold exactly
    ('(.t | split(" ")) as $ws | reduce $ws.[] as $w (0; . + ($w | length))',
     '{"t": "ab c defg"}', [7]),
    ('(.t | split(" ")) as $ws | reduce $ws.[] as $w'
     " (0; ($w | length) as $l | if $l > . then $l else . end)",
     '{"t": "ab c defg"}', [4]),
    # byte (not codepoint) length parity inside the typed lane
    ('(.t | split(" ")) as $ws | reduce $ws.[] as $w (0; . + ($w | length))',
     '{"t": "wörld 日本"}', [12]),
    # int-tower overflow: product exceeds int64, DECIMAL(38,0) lane
    ('(.t | split(" ")) as $ws'
     " | reduce $ws.[] as $w (1; . * (($w | length) * 111111111))",
     '{"t": "abcdefghi abcdefghi abcdefghi"}', [999999999**3]),
    # float accumulator stays float (0.5 init forces the double lane)
    ('(.t | split(" ")) as $ws | reduce $ws.[] as $w (0.5; . + ($w | length))',
     '{"t": "ab c"}', [3.5]),
    # string comparison + bool logic in the typed update body
    ('(.t | split(" ")) as $ws'
     ' | reduce $ws.[] as $w (0; if $w > "m" then . + 1 else . end)',
     '{"t": "apple zebra mango kiwi"}', [2]),
    # empty split product: init passes through untouched
    ('(.t | split(",")) as $ws | reduce $ws.[] as $w (0; . + ($w | length))',
     '{"t": ""}', [0]),
    # chars product proves array<int>
    ('(.t | chars) as $cs | reduce $cs.[] as $c (0; . + $c)',
     '{"t": "AB"}', [131]),
    # string interpolation "\(E)" — tostring semantics per part
    ('"v=\\(.a)!"', '{"a": 42}', ["v=42!"]),
    ('"\\(.a) and \\(.b // "none")"', '{"a": "x"}', ["x and none"]),
    ('"n=\\(1 / 2)"', "null", ["n=0.5"]),
    ('"\\(.o)"', '{"o": {"b": 1, "a": [true, null]}}',
     ['{"a":[true,null],"b":1}']),
    ('.xs.[] | "i=\\(.)"', '{"xs": [1, 2]}', ["i=1", "i=2"]),
    # foreach E as $x (I; U) — emit every intermediate state
    ("foreach .[] as $n (0; . + $n)", "[1, 2, 3]", [1, 3, 6]),
    ("[foreach .[] as $n (0; . + $n)]", "[1, 2, 3]", [[1, 3, 6]]),
    ("foreach .[]? as $n (0; . + $n)", "3", []),  # empty burst
    ("foreach range(4) as $i (1; . * 2)", "null", [2, 4, 8, 16]),
    ('foreach .[] as $w (""; . + $w)', '["a", "b"]', ["a", "ab"]),
    ("foreach .[] as $n (0; . + $n) | . * 10", "[1, 2]", [10, 30]),
    ("{peaks: [foreach .xs.[] as $n (0; if $n > . then $n else . end)]}",
     '{"xs": [3, 1, 5]}', [{"peaks": [3, 3, 5]}]),
    # getpath / setpath / paths / leaf_paths
    ('getpath(["a", "b"])', '{"a": {"b": 7}}', [7]),
    ('getpath(["a", "z"])', '{"a": {"b": 7}}', [None]),  # missing -> null
    ('getpath(["a", 0])', '{"a": [5, 6]}', [5]),
    ('getpath(["a", -1])', '{"a": [5, 6]}', [6]),
    ("getpath(.p)", '{"p": ["x"], "x": 9}', [9]),  # dynamic path
    ('setpath(["a", "b"]; 9)', '{"a": {"c": 1}}', [{"a": {"b": 9, "c": 1}}]),
    ('setpath(["a", "b"]; 9)', "{}", [{"a": {"b": 9}}]),  # fresh objects
    ('setpath(["xs", 3]; 1)', '{"xs": [0]}',
     [{"xs": [0, None, None, 1]}]),  # arrays extend with nulls
    ("setpath([]; 42)", '{"a": 1}', [42]),
    ('setpath(["a"]; .b + 1)', '{"b": 4}', [{"a": 5, "b": 4}]),
    ("[paths]", '{"a": {"b": 1}, "c": [2]}',
     [[["a"], ["a", "b"], ["c"], ["c", 0]]]),
    ("[leaf_paths]", '{"a": {"b": 1}, "c": [2]}', [[["a", "b"], ["c", 0]]]),
    ("[paths]", "5", [[]]),  # scalars have no paths
    ('[paths | join(".")]', '{"a": {"b": 1}}', [["a", "a.b"]]),
    ("reduce paths as $p (0; . + ($p | length))", '{"a": {"b": 1}, "c": 2}',
     [4]),
    # flatten-to-pairs idiom: every leaf with its path
    ('. as $d | [leaf_paths | {p: ., v: (. as $q | $d | getpath($q))}]',
     '{"a": {"b": 7}, "c": 5}',
     [[{"p": ["a", "b"], "v": 7}, {"p": ["c"], "v": 5}]]),
    # regex / string batch (jq manual semantics, Java-regex dialect)
    ('sub("o"; "0")', '"foo boo"', ["f0o boo"]),
    ('sub("x"; "0")', '"foo"', ["foo"]),  # no match -> unchanged
    ('gsub("o"; "0")', '"foo boo"', ["f00 b00"]),
    ('gsub("[aeiou]"; "$")', '"banana"', ["b$n$n$"]),  # $ escaped
    ('gsub("\\\\s+"; "-")', '"a  b\\tc"', ["a-b-c"]),
    ('.s | sub(.p; "X")', '{"s": null}', [ERR]),  # non-string -> err entry
    ('scan("[a-z]+")', '"ab 12 cd"', ["ab", "cd"]),
    ('scan("q")', '"ab"', []),  # no matches -> empty stream
    ('[scan("[0-9]+")] | map(tonumber)', '"a1 b22 c333"', [[1, 22, 333]]),
    ('splits(", *")', '"a, b,c"', ["a", "b", "c"]),
    ('splits("x")', '"axa"', ["a", "a"]),
    ('reduce splits(" ") as $w (0; . + ($w | length))', '"ab cd efg"', [7]),
    ('capture("(?<y>[0-9]{4})-(?<m>[0-9]{2})")', '"on 2024-07-01"',
     [{"y": "2024", "m": "07"}]),
    ('capture("(?<d>[0-9]+)")', '"abc"', []),  # no match -> empty
    ('capture("([a-z])(?<n>[0-9])")', '"q7"', [{"n": "7"}]),  # numbering
    # a pattern that is not a string literal: no staged lane
    ('. as $d | $d.s | capture($d.p)', '{"s": "ab", "p": "(?<x>a)"}',
     [{"x": "a"}]),
    ("explode", '"AB"', [[65, 66]]),
    ("implode", "[72, 105, 128021]", ["Hi\U0001f415"]),  # surrogate pair
    ("explode | implode", '"汉语ab"', ["汉语ab"]),
    ("utf8bytelength", '"汉a"', [4]),
    ("with_entries(.value = (.value * 2))", '{"a": 1, "b": 2}',
     [{"a": 2, "b": 4}]),
    ("with_entries(.value += 1)", '{"a": 1, "b": 9}', [{"a": 2, "b": 10}]),
    # assignment inside HOF lambdas
    ("map(.v = (.v * 2))", '[{"v": 1}, {"v": 3}]', [[{"v": 2}, {"v": 6}]]),
    ("map(.v |= (. + 1))", '[{"v": 1}, {"v": 2}]', [[{"v": 2}, {"v": 3}]]),
    # math / date / format batch (jq manual semantics; dialect notes
    # in compiler.py)
    ("2.5 | round", "null", [3]),           # half away from zero
    ("-2.5 | round", "null", [-3]),
    (".x | round", '{"x": 7}', [7]),        # int passthrough
    ('"q" | round', "null", [ERR]),         # non-number -> err
    ("100 | log10", "null", [2.0]),
    ("8 | log2", "null", [3.0]),
    ("1 | log", "null", [0.0]),
    ("0 | log", "null", [ERR]),             # domain error -> err
    ("0 | exp", "null", [1.0]),
    ("3 | exp2", "null", [8.0]),
    ("2 | exp10", "null", [100.0]),
    ("1000 | exp", "null", [ERR]),          # overflow -> err
    ("pow(2; 10)", "null", [1024.0]),       # always float tower
    ("pow(.b; 2)", '{"b": -3}', [9.0]),
    ('pow("a"; 2)', "null", [ERR]),
    ("0 | todate", "null", ["1970-01-01T00:00:00Z"]),
    ("1438366800 | todate", "null", ["2015-07-31T18:20:00Z"]),
    ('"2015-03-05T23:51:47Z" | fromdate', "null", [1425599507]),
    ('"not a date" | fromdate', "null", [ERR]),
    ("todate | fromdate", "1425599507", [1425599507]),  # round-trip
    ('"  hi \\n" | trim', "null", ["hi"]),
    ('" x" | ltrim', "null", ["x"]),
    ('"x " | rtrim', "null", ["x"]),
    ("transpose", "[[1,2,3],[4,5]]", [[[1, 4], [2, 5], [3, None]]]),
    ("transpose", "[]", [[]]),
    ('"hi" | @base64', "null", ["aGk="]),
    ("5 | @base64", "null", ["NQ=="]),      # tostring'd first
    ('"aGk=" | @base64d', "null", ["hi"]),
    ('"!!" | @base64d', "null", [ERR]),     # invalid -> err
    ("@uri", '"a b/汉~"', ["a%20b%2F%E6%B1%89~"]),
    ("@html", '"a<b&\\"c\\""', ["a&lt;b&amp;&#34;c&#34;"]),
    ("@csv", '[1, "a,\\"b\\"", null]', ['1,"a,""b""",']),
    ("@csv", "[true]", [ERR]),              # bool invalid -> err
    ("@tsv", '["a\\tb", 2]', ["a\\tb\t2"]),
    ("@text", '{"a": 1}', ['{"a":1}']),     # == tostring
    ("@json", '"x"', ['"x"']),              # == tojson
    ('"abcabc" | index("bc")', "null", [1]),
    ('"abcabc" | rindex("bc")', "null", [4]),
    ('"abc" | index("q")', "null", [None]),
    ('"aaa" | indices("aa")', "null", [[0, 1]]),  # overlapping
    ('"abc" | indices("")', "null", [[]]),
    ('[limit(2; scan("[a-z]+"))]', '"ab cd ef"', [["ab", "cd"]]),
    ('[limit(0; scan("[a-z]+"))]', '"ab"', [[]]),
    ("limit(2; .[])", "[1, 2, 3, 4]", [1, 2]),
    ("inside([1,2,3])", "[1,2]", [True]),
    ("inside([1,3])", "[1,2]", [False]),
    ('inside("abc")', '"bc"', [True]),
    ('inside({"a": 1, "b": 2})', '{"a": 1}', [True]),
    ("contains([4])", "[1,2]", [False]),
    ('contains({"a": 2})', '{"a": 1}', [False]),
    # jq postfix brackets (r5: `.a[0]` used to pipe into LIST
    # CONSTRUCTION — jq-divergent; now indexes like jq)
    (".a[0]", '{"a": [7, 8]}', [7]),
    (".a[-1]", '{"a": [7, 8]}', [8]),
    (".a[]", '{"a": [1, 2]}', [1, 2]),
    (".a[1:3]", '{"a": [1, 2, 3, 4]}', [[2, 3]]),
    (".a[:2]", '{"a": [1, 2, 3]}', [[1, 2]]),
    (".a[1:]", '{"a": [1, 2, 3]}', [[2, 3]]),
    ('.a["k"]', '{"a": {"k": 9}}', [9]),
    (".a[0].b", '{"a": [{"b": 5}]}', [5]),
    (". as $d | $d.a[0]", '{"a": [4, 5]}', [4]),
    ("keys[0]", '{"b": 1, "a": 2}', ["a"]),
    ("[10, 20][1]", "null", [20]),
    (".a[0] = 5", '{"a": [1, 2]}', [{"a": [5, 2]}]),
    (".a[1] |= (. * 3)", '{"a": [1, 2]}', [{"a": [1, 6]}]),
    (".a[0] += 2", '{"a": [1, 2]}', [{"a": [3, 2]}]),
    ("del(.a[1])", '{"a": [1, 2, 3]}', [{"a": [1, 3]}]),
    ("del(.a[-1])", '{"a": [1, 2, 3]}', [{"a": [1, 2]}]),
    ("del(.a[9])", '{"a": [1]}', [{"a": [1]}]),   # out of range: no-op
    ("del(.a[0].b)", '{"a": [{"b": 1, "c": 2}]}', [{"a": [{"c": 2}]}]),
    ("del(.a[0])", '{"a": 5}', [ERR]),            # scalar: err
    # jq `def` — parse-time macro expansion (beyond-reference)
    ("def double: . * 2; map(double)", "[1, 2, 3]", [[2, 4, 6]]),
    ("def addx($x): . + $x; .[] | addx(10)", "[1, 2]", [11, 12]),
    ("def apply(f): f | f; 5 | apply(. + 1)", "null", [7]),
    # $value params bind ONCE against the call-site input (not
    # re-evaluated inside the body's pipe)
    ("def f($x): .a | . + $x; f(.b)", '{"a": 1, "b": 2}', [3]),
    ("def clamp($lo; $hi): if . < $lo then $lo"
     " elif . > $hi then $hi else . end; map(clamp(2; 3))",
     "[1, 2, 5]", [[2, 2, 3]]),
    ("def outer: (def inner: . + 1; inner | inner); outer", "5", [7]),
    ("def inc: . + 1; def twice(f): f | f; twice(inc)", "3", [5]),
    ("def g(f): f; g(. + 1) | g(. * 2)", "4", [10]),
    ("def keys: 42; keys", '{"a": 1}', [42]),   # defs shadow builtins
    # regex flags + match objects (jq manual; flags fold into the
    # pattern at parse time, match shares interp logic both engines)
    ('test("HELLO"; "i")', '"say hello"', [True]),
    ('test("^b"; "m")', '"a\\nb"', [True]),
    ('sub("o"; "0"; "g")', '"foo boo"', ["f00 b00"]),
    ('gsub("A."; "-"; "is")', '"xa\\nyA z"', ["x-y-z"]),
    ('[scan("[A-Z]+"; "i")]', '"Ab cD"', [["Ab", "cD"]]),
    ('capture("(?<h>HEL)"; "i")', '"hello"', [{"h": "hel"}]),
    ('match("[a-z]+") | .string', '"ab 12 cd"', ["ab"]),
    ('match("q")', '"ab"', []),                  # no match -> empty
    ('[match("a"; "g") | .offset]', '"banana"', [[1, 3, 5]]),
    ('[match("[a-z]+"; "g") | .length]', '"ab 12 cde"', [[2, 3]]),
    ('match("(?<w>[a-z]+)-(?<n>[0-9]+)?") | .captures | map(.name)',
     '"ab-"', [["w", "n"]]),
    ('match("(x)?(?<n>[0-9])") | .captures[0].offset', '"q7"', [-1]),
    ('match("[")', '"x"', [ERR]),                # bad regex -> err
    # multi-arity range + iteration builtins (until/while/repeat)
    ("[range(2; 8; 2)]", "null", [[2, 4, 6]]),
    ("range(1; 4)", "null", [1, 2, 3]),
    ("[range(5; 1; -2)]", "null", [[5, 3]]),
    ("[range(0; 3; 0)]", "null", [ERR]),         # zero step -> err
    ("[limit(3; range(0; 100; 7))]", "null", [[0, 7, 14]]),
    ("until(. > 100; . * 2)", "3", [192]),
    ("until(. >= 5; . + 1)", "0", [5]),
    ("[while(. < 20; . * 2)]", "3", [[3, 6, 12]]),
    ("[while(false; .)]", "1", [[]]),
    ("[limit(4; repeat(. * 2))]", "3", [[3, 6, 12, 24]]),
    ("until(false; .)", "1", [ERR]),             # cap -> err
    ("first(.[] | select(. > 2))", "[1, 3, 5]", [3]),
    ('[first(scan("[a-z]+"))]', '"ab cd"', [["ab"]]),
    # generic stream-tier limit (r6): piped/nested generators
    ("[limit(2; .[] | select(. > 1))]", "[1, 2, 3, 4]", [[2, 3]]),
    ("[limit(3; .[] | .[])]", "[[1, 2], [3, 4], [5]]", [[1, 2, 3]]),
    ("[limit(0; .[])]", "[1, 2, 3]", [[]]),
    ("[limit(-1; .[])]", "[1, 2, 3]", [[]]),
    ("[limit(10; .[] | select(. > 1))]", "[1, 2, 3]", [[2, 3]]),
    ("first(.[] | .x)", '[{"x": 7}, {"x": 8}]', [7]),
    # last(f) / nth(n; f) / nth(n) desugars (r6)
    ("last(.[])", "[1, 2, 3]", [3]),
    ("last(.[] | select(. < 3))", "[1, 2, 3]", [2]),
    ("last(.[])", "[]", [None]),
    ("nth(1; .[])", "[10, 20, 30]", [20]),
    ("nth(5; .[])", "[10, 20, 30]", [30]),   # jq quirk: short stream
    ("nth(1)", "[10, 20, 30]", [20]),
    ("nth(2; .[] | select(. > 1))", "[1, 2, 3, 4, 5]", [4]),
    ("nth(0; empty)", "null", [None]),
    # bounded-recursion defs (r6) + and/or keywords + map_values
    ('def walk(f): if type == "object" or type == "array" '
     "then map_values(walk(f)) else . end | f; "
     'walk(if type == "number" then . + 1 else . end)',
     '{"a": 1, "b": {"c": 2, "d": [3, 4]}}',
     [{"a": 2, "b": {"c": 3, "d": [4, 5]}}]),
    ("def fact: if . <= 1 then 1 else . * (. - 1 | fact) end; fact",
     "5", [120]),
    ('def depth: if type == "array" then (map(depth) | max // 0) + 1 '
     "else 0 end; depth", "[[[1]], [2]]", [3]),
    ("true and false", "null", [False]),
    ("false or true", "null", [True]),
    (".a and .b", '{"a": 1, "b": null}', [False]),
    ("map_values(. * 2)", '{"a": 1, "b": 2}', [{"a": 2, "b": 4}]),
    # prelude defs (jq stdlib re-expressed as bounded defs)
    ("[.[] | values]", "[1, null, 2, null]", [[1, 2]]),
    ('walk(if type == "number" then . * 10 else . end)',
     '{"a": [1, {"b": 2}]}', [{"a": [10, {"b": 20}]}]),
    ('trimstr("ab")', '"abxab"', ["x"]),
    ("keys_unsorted", '{"b": 1, "a": 2}', [["a", "b"]]),
    ("def values: 99; values", "1", [99]),  # user defs shadow prelude
    ("[recurse(if . < 3 then . + 1 else empty end)]", "0", [[0, 1, 2, 3]]),
    ("[recurse(.[]?)]", "[[1, 2], 3]",
     [[[[1, 2], 3], [1, 2], 1, 2, 3]]),
    ('[paths(type == "number")]', '{"a": 1, "b": {"c": 2, "d": "x"}}',
     [[["a"], ["b", "c"]]]),
    # map(select(f)) filters (r5: the drop flag was ignored in map)
    ("map(select(. > 2))", "[1, 3, 5]", [[3, 5]]),
    ("map(select(.ok) | .n)", '[{"ok": true, "n": 1}, {"ok": false, "n": 2}]',
     [[1]]),
    ("map(.x?)", '[{"x": 1}, {"y": 2}]', [[1]]),  # `?` drops inside map too
    # broken-down time quartet (r11; jq manual examples — gmtime's
    # array is C struct tm order [Y, mon0, mday, H, M, S, wday0, yday0])
    ("gmtime", "1425599507", [[2015, 2, 5, 23, 51, 47, 4, 63]]),
    ("gmtime", "0", [[1970, 0, 1, 0, 0, 0, 4, 0]]),
    ("gmtime | mktime", "1425599507", [1425599507]),
    ("mktime", "[2015, 2, 5, 23, 51, 47]", [1425599507]),
    ("mktime", "[2015, 2, 5, 23, 51, 47, 4, 63]", [1425599507]),
    ('strftime("%Y-%m-%dT%H:%M:%SZ")', "1425599507",
     ["2015-03-05T23:51:47Z"]),
    # wday/yday in the array feed %A / %j
    ('strftime("%A %j")', "[2015, 2, 5, 23, 51, 47, 4, 63]",
     ["Thursday 064"]),
    ('strptime("%Y-%m-%dT%H:%M:%SZ")', '"2015-03-05T23:51:47Z"',
     [[2015, 2, 5, 23, 51, 47, 4, 63]]),
    ('strptime("%Y-%m-%dT%H:%M:%SZ") | mktime', '"2015-03-05T23:51:47Z"',
     [1425599507]),
    ("todateiso8601", "1425599507", ["2015-03-05T23:51:47Z"]),
    ("fromdateiso8601", '"2015-03-05T23:51:47Z"', [1425599507]),
    # delpaths (r11): reverse canonical delete order keeps
    # same-array index deletes from shifting each other
    ('delpaths([["a","b"],["d"]])', '{"a":{"b":1,"c":2},"d":3}',
     [{"a": {"c": 2}}]),
    ("delpaths([[0],[2]])", "[10,20,30]", [[20]]),
    ("delpaths([[0,0],[0,1]])", "[[1,2],[3,4]]", [[[], [3, 4]]]),
    ('delpaths([["x"],["a","z"]])', '{"a":{"b":1}}', [{"a": {"b": 1}}]),
    ("delpaths([])", '{"a":1}', [{"a": 1}]),
    # type-filter prelude defs (jq stdlib)
    ("[.[] | numbers]", '[1,"a",null,true,[2],{"b":1},2.5]', [[1, 2.5]]),
    ("[.[] | strings]", '[1,"a",null,"b"]', [["a", "b"]]),
    ("[.[] | nulls]", '[1,null,2]', [[None]]),
    ("[.[] | booleans]", '[1,true,false,"x"]', [[True, False]]),
    ("[.[] | arrays]", '[[1],{"a":2},3]', [[[1]]]),
    ("[.[] | objects]", '[[1],{"a":2},3]', [[{"a": 2}]]),
    ("[.[] | iterables]", '[[1],{"a":2},3,"s"]', [[[1], {"a": 2}]]),
    ("[.[] | scalars]", '[[1],{"a":2},3,"s",null]', [[3, "s", None]]),
    # combinations (jq stdlib; self-recursive def -> interp tier)
    ("[combinations]", "[[1,2],[3,4]]",
     [[[1, 3], [1, 4], [2, 3], [2, 4]]]),
    ("[combinations]", "[]", [[[]]]),
    # literal-path setpath in a map body: the parser's Assign desugar
    # keeps it native (no UDF ever enters the lambda)
    ('map(setpath(["b"]; 2))', '[{"a": 1}]', [[{"a": 1, "b": 2}]]),
    # jq `if`: one result per condition output, none for an empty
    # condition; an assignment yields one document per RHS output
    ("if .[] then 1 else 2 end", "[true, false]", [1, 2]),
    ("if empty then 1 else 2 end", "null", []),
    (".a = (.b[])", '{"a":0,"b":[1,2]}',
     [{"a": 1, "b": [1, 2]}, {"a": 2, "b": [1, 2]}]),
    # drops are data: `empty`, a failed `.k?` and a false `select`
    # yield nothing, and whatever consumes that empty stream resolves
    # it as jq does — an `if` takes its chosen branch's, `//` falls
    # through, a collect item adds no element, a dict value or `as`
    # source drops the whole output, and a later error never surfaces
    ("if . > 3 then empty else . end", "3", [3]),
    ("if . > 3 then .x? else . end", "3", [3]),
    ("[.a?]", "5", [[]]),
    ("[.a?] | length", "5", [0]),
    ("[.a?, 1]", "5", [[1]]),
    (".a? // 2", "5", [2]),
    ("select(.x) // 0", '{"x": false}', [0]),
    ("{k: (.a? // 0)}", "5", [{"k": 0}]),
    (".x as $v | if $v then empty else 1 end", '{"x": false}', [1]),
    ('.a? | error("x")', "5", []),
    ("{a: 1} | if .b then empty else .a end", "null", [ERR]),
    # an empty separator splits into characters on both tiers
    ('. / ""', '"abc"', [["a", "b", "c"]]),
    # a builtin argument and an interpolated part range over every
    # output (jq): none gives no output, two give two
    ("has(.ks[])", '{"ks": []}', []),
    ('"\\(.xs[])"', '{"xs": [1, 2]}', ["1", "2"]),
    # an empty init folds nothing (jq), on both tiers
    ("reduce .xs[] as $x (empty; . + $x)", '{"xs": [1]}', []),
]


@pytest.fixture(scope="module")
def jq(spark):
    return JsonQ(spark)


@pytest.fixture(scope="module")
def corpus_results(jq, plan_node_names):
    """Evaluate every corpus case ONCE, 8 plan-builds in flight
    (plan assembly is Py4J + driver-JVM work that releases the GIL;
    compiler._ENV is thread-local). The parametrized tests below
    assert against this cache, keeping per-case test nodes while the
    wall clock drops ~4x (VERDICT r5 next #8).

    TIER_OVERRIDE pins the STAGED engine (r11): this corpus is the
    staged machinery's conformance gate — without the pin the cost
    router could send a scalar-heavy case to the interp tier,
    silently shrinking staged coverage. test_interp.py runs the
    same corpus through the interp engine. Programs the staged
    compiler cannot run (InterpOnly: walk/tostream; a construct with
    no staged lane) take the interp tier regardless of the pin; each
    case records the tier it took (last_tier is per thread, so it is
    read in the worker) and, when staged, the optimized-plan nodes
    the program added to its source stream's plan other than Project
    and Filter (the staged tier is row-local) and how many Filters it
    added (at most one: the final drop filter); test_corpus checks
    all three. Each case's answer keeps its error entries as ERR
    (`answers`), so error presence is compared too."""
    import json
    from collections import Counter
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from bd_spark.jsonq import compiler

    def run(case):
        query, doc, _ = case
        extra: list[str] = []
        filters = 0
        try:
            stream = jq.stream_from_texts([doc])
            df = jq.run(query, stream, ordered=False)
            tier = compiler.last_tier()
            if tier == "staged":
                added = Counter(plan_node_names(df)) - Counter(
                    plan_node_names(stream)
                )
                extra = sorted(
                    n for n in added.elements()
                    if n not in ("Project", "Filter")
                )
                filters = added["Filter"]
            rows = df.orderBy("seq", "ord").select(
                F.to_json("v").alias("j"), "err"
            ).collect()
            got = answers(
                (json.loads(r.j) if r.j is not None else None, r.err)
                for r in rows
            )
        except Exception as e:  # noqa: BLE001 — asserted per-case
            got = ("__raised__", f"{type(e).__name__}: {e}")
            tier = compiler.last_tier()
        return got, tier, extra, filters

    compiler.TIER_OVERRIDE = "staged"
    try:
        with ThreadPoolExecutor(max_workers=8) as ex:
            return list(ex.map(run, CORPUS))
    finally:
        compiler.TIER_OVERRIDE = None


# The routing rule, written out here apart from the compiler's own
# (compiler._unstaged_construct) so the two check each other. The
# staged tier runs row-local scalar programs only; these constructs
# have no staged lane.
_NO_STAGED_BUILTINS = frozenset((
    # higher-order builtins
    "map", "any", "all", "sort", "unique",
    "sort_by", "unique_by", "group_by", "min_by", "max_by",
    # unbounded recursion/iteration, Python regex/time libraries
    "flatten", "strftime", "strptime", "match",
    "until", "while", "repeat", "paths", "leaf_paths",
    # generators: several outputs per input
    "range", "scan", "splits", "limit",
    # document rewrites
    "del", "setpath", "delpaths",
))
# builtins whose result is never an object: a `*` operand of one of
# these kinds (or a non-object literal, string, list, negation, or an
# operator other than `+` and `//`) rules out the object deep merge
_NOT_OBJECT_BUILTINS = frozenset((
    "length", "utf8bytelength", "tonumber", "floor", "ceil", "sqrt",
    "fabs", "abs", "round", "pow", "log", "log2", "log10", "exp",
    "exp2", "exp10", "fromdate", "mktime", "tostring", "ascii_downcase",
    "ascii_upcase", "sub", "gsub", "implode", "join", "tojson", "todate",
    "trim", "ltrim", "rtrim", "@html", "@uri", "@csv", "@tsv", "@base64",
    "@base64d", "keys", "chars", "explode", "to_entries",
    "indices", "transpose", "gmtime", "test", "startswith", "endswith",
    "contains", "has", "in", "not",
))


def _not_object(node) -> bool:
    from bd_spark.jsonq import ast

    if isinstance(node, ast.Literal):
        return not node.text.lstrip().startswith("{")
    if isinstance(node, (ast.StrInterp, ast.ListCons, ast.Unary)):
        return True
    if isinstance(node, ast.Binary):
        return node.op not in ("+", "//")
    if isinstance(node, ast.Builtin):
        return node.name in _NOT_OBJECT_BUILTINS
    if isinstance(node, (ast.Try, ast.Pipe)):
        return _not_object(node.expr if isinstance(node, ast.Try) else node.right)
    return False


def _children(node) -> list:
    import dataclasses

    if dataclasses.is_dataclass(node):
        return [getattr(node, f.name) for f in dataclasses.fields(node)]
    if isinstance(node, tuple):
        return list(node)
    return []


def _split_product(node, split_vars: frozenset) -> bool:
    """An array of strings or ints by construction: a `split`,
    `chars` or `explode` product, a string-literal `/`, or a variable
    bound to one."""
    from bd_spark.jsonq import ast

    if isinstance(node, ast.Pipe):
        return _split_product(node.right, split_vars)
    if isinstance(node, ast.Var):
        return node.name in split_vars
    if isinstance(node, ast.Binary):
        return node.op == "/" and isinstance(node.right, ast.Literal) \
            and node.right.text.startswith('"')
    return isinstance(node, ast.Builtin) and node.name in (
        "split", "chars", "explode",
    )


def _typed_update(node) -> bool:
    """Built from literals, `.`, variables, arithmetic, comparisons,
    `length`, `if` and `as` only."""
    from bd_spark.jsonq import ast

    if isinstance(node, ast.Builtin):
        return node.name == "length" and not node.args
    if not isinstance(node, (
        ast.Literal, ast.Identity, ast.Var, ast.Pipe, ast.Binary,
        ast.Unary, ast.If, ast.BindAs, tuple,
    )):
        return False
    return all(
        _typed_update(c) for c in _children(node)
        if isinstance(c, (ast.Node, tuple))
    )


def _typed_fold(node, split_vars: frozenset) -> bool:
    """The staged tier's one reduce, approximated (the corpus has no
    edge case): source `X | .[]` over a split product, a number
    literal init and a typed update."""
    from bd_spark.jsonq import ast

    src = node.source
    return (
        isinstance(src, ast.Pipe)
        and isinstance(src.right, ast.IterValues)
        and _split_product(src.left, split_vars)
        and isinstance(node.init, ast.Literal)
        and node.init.text.lstrip()[:1] in set("-0123456789")
        and _typed_update(node.update)
    )


def _has_unstaged(node, split_vars: frozenset = frozenset()) -> bool:
    from bd_spark.jsonq import ast

    if isinstance(node, (
        ast.Recurse, ast.IterValues, ast.Iter, ast.Foreach, ast.Assign,
    )):
        return True  # fans out or rewrites the document
    if isinstance(node, ast.Builtin):
        if node.name in _NO_STAGED_BUILTINS:
            return True
        if node.name == "capture" and not (
            isinstance(node.args[0], ast.Literal)
            and node.args[0].text.startswith('"')
        ):
            return True
    if isinstance(node, ast.Binary) and node.op == "*" and not (
        _not_object(node.left) or _not_object(node.right)
    ):
        return True
    children = _children(node)
    if isinstance(node, ast.Reduce):
        if not _typed_fold(node, split_vars):
            return True
        children = [node.source.left, node.init, node.update]
    elif isinstance(node, ast.BindAs):
        inner = split_vars - {node.name}
        if _split_product(node.source, split_vars):
            inner |= {node.name}
        return _has_unstaged(node.source, split_vars) or _has_unstaged(
            node.body, inner
        )
    elif isinstance(node, ast.ListCons) and isinstance(node.expr, ast.Iter):
        children = list(node.expr.items)  # a collect's comma items
    return any(_has_unstaged(c, split_vars) for c in children)


def _pinned_tier(query: str) -> str:
    """The tier a case must take under the staged pin: interp only
    for programs the staged compiler cannot run."""
    from bd_spark.jsonq import ast, compiler, parser

    node = parser.parse(query)
    if (
        isinstance(node, ast.InterpOnly)
        or compiler._node_count(node) > compiler._INTERP_TIER_NODES
        or _has_unstaged(node)
    ):
        return "interp"
    return "staged"


@pytest.mark.parametrize(
    "idx", range(len(CORPUS)), ids=[c[0][:40] for c in CORPUS]
)
def test_corpus(corpus_results, idx):
    query, doc, expected = CORPUS[idx]
    got, tier, extra, filters = corpus_results[idx]
    assert got == expected, f"{query} on {doc}: {got} != {expected}"
    assert tier == _pinned_tier(query), query
    assert extra == [], f"{query}: staged plan nodes beyond Project/Filter: {extra}"
    # drops are carried as data: only the program's final drop filters
    assert filters <= 1, f"{query}: {filters} staged Filter nodes"


@pytest.mark.parametrize("fmt", ["jsonl", "parquet"])
def test_rerun_answers_from_current_files(jq, tmp_path, fmt):
    """Re-running a program over a fresh read of a path answers from
    the files there now: after an append and after an overwrite, in
    one session, on both tiers, with last_tier() set by every run."""
    import json as _json
    import shutil

    from pyspark.sql import functions as F

    from bd_spark.jsonq import compiler
    from bd_spark.sources.jsons import read_jsonl

    spark = jq.spark
    path = str(tmp_path / "src")
    programs = {".a": "staged", "[.a] | map(. * 10) | .[0]": "interp"}

    def write(vals: list[int], batch: int, mode: str) -> None:
        if fmt == "parquet":
            spark.createDataFrame([(a,) for a in vals], "a long").write.mode(
                mode
            ).parquet(path)
            return
        if mode == "overwrite":
            shutil.rmtree(path, ignore_errors=True)
        (tmp_path / "src").mkdir(exist_ok=True)
        (tmp_path / "src" / f"part-{batch}.jsonl").write_text(
            "".join(_json.dumps({"a": a}) + "\n" for a in vals)
        )

    def answers() -> dict[str, list[int]]:
        out = {}
        for prog, tier in programs.items():
            stream = (
                read_jsonl(spark, path) if fmt == "jsonl"
                else jq.stream_from_table(spark.read.parquet(path))
            )
            compiler._TIER.last = None
            df = jq.run(prog, stream, ordered=False)
            assert compiler.last_tier() == tier, prog
            out[prog] = sorted(
                r[0] for r in df.select(
                    F.try_variant_get("v", "$", "long")
                ).collect()
            )
        return out

    write([1, 2, 3], 0, "overwrite")
    assert answers() == {".a": [1, 2, 3], "[.a] | map(. * 10) | .[0]": [10, 20, 30]}
    write([4, 5], 1, "append")
    assert answers() == {
        ".a": [1, 2, 3, 4, 5],
        "[.a] | map(. * 10) | .[0]": [10, 20, 30, 40, 50],
    }
    write([7], 2, "overwrite")
    assert answers() == {".a": [7], "[.a] | map(. * 10) | .[0]": [70]}


def test_reduce_error_paths(jq):
    # non-iterable source without `?` is an in-band error entry
    out = jq.run_texts("reduce .[] as $n (0; . + $n)", ["3"])
    assert len(out) == 1 and out[0][1] is not None
    # an erroring update freezes the fold into one error entry
    out = jq.run_texts("reduce .[] as $x (0; . + $x.n)", ['[{"n":1},{"z":2}]'])
    assert len(out) == 1 and out[0][1] is not None


def test_unbound_variable_is_compile_error(jq):
    import pytest as _pt

    with _pt.raises(Exception, match="is not defined"):
        jq.run_texts("$nope + 1", ["1"])


def test_error_entries_pass_through(jq):
    out = jq.run_texts(".foo", ['{"nonfoo": 10}'])
    assert len(out) == 1
    val, err = out[0]
    assert val is None and err is not None


def test_multi_doc_stream(jq):
    got = jq.run_values(".a", ['{"a": 1}', '{"a": 2}', '{"a": 3}'])
    assert got == [1, 2, 3]


def test_order_across_explodes(jq):
    got = jq.run_values(".[].[]", "[[[1,2],[3]],[[4]]]".split("\x00"))
    assert got == [[1, 2], [3], [4]]


def test_nested_float_tower_canonical(jq):
    """Floats keep the float tower through NESTED construction
    (json.rs:930 int/int→float; json.rs:577 `{:e}` rendering): a
    float assembled one-or-more dict/array levels down must render
    Ne0, not N (VERDICT r4 wrong #1 — previously a documented
    limitation of vexpr.vjson, now fixed by the string-safe
    integral-double retag)."""
    from bd_spark.sources.jsons import canonical_lines

    cases = [
        # engine-produced float nested at depths 1-3
        ("{a: {b: (.k / 2)}, c: [(.k / 2), .k]}", '{"k": 6}',
         '{"a":{"b":3e0},"c":[3e0,6]}'),
        ("{a: {b: {c: [(.k / 2)]}}}", '{"k": 6}',
         '{"a":{"b":{"c":[3e0]}}}'),
        # input-carried integral DOUBLE (E-notation input) wrapped by
        # construction at arbitrary depth — the unbounded case a
        # depth-limited recursive serializer would still miss
        ("{d: .}", '{"y": {"z": 6E0}}', '{"d":{"y":{"z":6e0}}}'),
        # string decoys must NOT be retagged
        ('{s: "x 6.0, y", v: (.k / 2)}', '{"k": 6}',
         '{"s":"x 6.0, y","v":3e0}'),
        # non-integral floats and true ints unchanged
        ("{a: {h: (.k / 8), n: .k}}", '{"k": 6}',
         '{"a":{"h":7.5e-1,"n":6}}'),
    ]
    for query, doc, want in cases:
        out = jq.run(query, jq.stream_from_texts([doc]))
        assert canonical_lines(out) == [want], (query, doc)


def test_byte_slice_parity_mode(jq):
    """Reference parity mode: string slices index utf-8 BYTES
    (json.rs:830-832) under modes.BYTE_SLICES; default stays
    character-indexed. Both engines, both modes, multi-byte input
    ("汉" = 3 utf-8 bytes)."""
    from bd_spark.jsonq import interp, modes, parser

    doc = '"汉语ab"'  # bytes: 汉(3) 语(3) a b  -> 8 bytes, 4 chars
    # char mode (default): .[1..3] -> chars 1..2 = "语a"
    assert jq.run_values(".[1..3]", [doc]) == ["语a"]
    assert [v for v, e in interp.run(parser.parse(".[1..3]"), "汉语ab")] == ["语a"]
    with modes.byte_slices():
        # byte mode: bytes 3..5 = the 3 bytes of 语 -> "语"
        assert jq.run_values(".[3..6]", [doc]) == ["语"]
        assert [v for v, e in interp.run(parser.parse(".[3..6]"), "汉语ab")] == ["语"]
        # byte-mode length of the whole string via open slice
        assert jq.run_values(".[6..]", [doc]) == ["ab"]
        assert [v for v, e in interp.run(parser.parse(".[6..]"), "汉语ab")] == ["ab"]
    # flag restored: char semantics back
    assert jq.run_values(".[..1]", [doc]) == ["汉"]


def test_typed_lanes_match_generic(spark):
    """The typed fold lane (the staged tier's one `reduce`) must agree
    with the interp tier's generic fold on randomized inputs (empty
    words, empty docs, non-ASCII byte lengths, duplicate lengths,
    ties): same values, same error presence. Default routing stages
    these programs."""
    import json as _json
    import random

    from bd_spark.jsonq import compiler
    from bd_spark.jsonq.runtime import JsonQ

    rng = random.Random(0xBD07)
    docs = []
    for _ in range(40):
        words = [
            "".join(
                rng.choice("abcdeé日") for _ in range(rng.randrange(0, 6))
            )
            for _ in range(rng.randrange(0, 12))
        ]
        docs.append(_json.dumps({"t": " ".join(words)}))
    # adversarial rows (r7 ADVICE #1): the `/`-overload elem-kind
    # proof holds even when .t is missing/non-string at runtime, where
    # the source is jq NULL (never an array) — the typed lane must
    # produce the generic fold's in-band errors, not silent NULLs
    docs += ["{}", '{"t": 5}', '{"t": null}', '{"t": ["a","b"]}',
             '{"t": true}']
    queries = [
        '(.t / " ") as $ws | reduce $ws.[] as $w (0; . + ($w | length))',
        '(.t / " ") as $ws | reduce $ws.[] as $w'
        " (0; ($w | length) as $l | if $l > . then $l else . end)",
        # `.[]?` — non-array source is an EMPTY generator -> init
        '(.t / " ") as $ws | reduce $ws.[]? as $w (0; . + ($w | length))',
    ]
    jq = JsonQ(spark)
    for q in queries:
        typed = jq.run_texts(q, docs)
        assert compiler.last_tier() == "staged", q
        compiler.TIER_OVERRIDE = "interp"
        try:
            generic = jq.run_texts(q, docs)
            assert compiler.last_tier() == "interp", q
        finally:
            compiler.TIER_OVERRIDE = None
        assert len(typed) == len(generic), q
        for (tv, te), (gv, ge) in zip(typed, generic):
            assert (te is None) == (ge is None), (q, te, ge)
            if te is None:
                assert tv == gv, (q, tv, gv)


def test_setpath_static_lane_matches_dynamic(spark):
    """The literal-path setpath desugar (parser -> Assign) must agree
    with the dynamic setpath builtin on values and error PRESENCE
    (texts differ by design) across doc shapes. Both rewrite the
    document, so both run on the interp tier."""
    from bd_spark.jsonq import compiler
    from bd_spark.jsonq.runtime import JsonQ

    jq = JsonQ(spark)
    docs = [
        '{"a": {"c": 1}}', "{}", "null", "[1, 2]", '{"a": 5}',
        '"s"', '{"a": {"b": {"d": 1}}}', '{"b": 7}',
    ]
    compiler.TIER_OVERRIDE = "staged"
    try:
        lit = jq.run_texts('setpath(["a","b"]; .b // 9)', docs)
        assert compiler.last_tier() == "interp"
        # the [0:2] slice makes the path non-literal -> setpath builtin
        dyn = jq.run_texts('setpath(["a","b"][0:2]; .b // 9)', docs)
        assert compiler.last_tier() == "interp"
    finally:
        compiler.TIER_OVERRIDE = None
    for (lv, le), (dv, de) in zip(lit, dyn):
        assert (le is None) == (de is None), docs
        if le is None:
            assert lv == dv


def test_udf_builtin_in_hof_body_routes(spark):
    """Constructs with no staged lane — one corpus program per family,
    UDF-needing builtins inside a map body, and a reduce and a foreach
    over a non-generator source — run on the interp tier even under
    the staged pin, with the direct interp's values and errors."""
    import json as _json

    from bd_spark.jsonq import compiler, interp, parser
    from bd_spark.jsonq.runtime import JsonQ

    jq = JsonQ(spark)
    cases = [
        ('map(delpaths([["a"]]))', '[{"a": 1, "c": 3}]'),
        ('map(strftime("%Y"))', "[0, 1425599507]"),
        ("flatten", "[1, [2, [3, [4]]], 5]"),
        ('setpath(["xs", 3]; 1)', '{"xs": [0]}'),
        ("delpaths([[0],[2]])", "[10,20,30]"),
        ('strftime("%Y-%m-%dT%H:%M:%SZ")', "1425599507"),
        ('strptime("%Y-%m-%dT%H:%M:%SZ")', '"2015-03-05T23:51:47Z"'),
        ('[match("a"; "g") | .offset]', '"banana"'),
        ("until(. > 100; . * 2)", "3"),
        ("[while(. < 20; . * 2)]", "3"),
        ("[limit(4; repeat(. * 2))]", "3"),
        ("..|.a?", '[[{"a":1},{"a":2}],{"a":3}]'),
        ("[paths]", '{"a": {"b": 1}, "c": [2]}'),
        ("[leaf_paths]", '{"a": {"b": 1}, "c": [2]}'),
        ("del(.a[1])", '{"a": [1, 2, 3]}'),
        ("a * b", '{"a": 3, "b": 4}'),
        ('reduce .[] as $w ({}; . * {($w): 1})', '["a", "b", "a"]'),
        ("reduce .a as $x (0; . + $x)", '{"a": 3}'),
        ("foreach .a as $x (0; . + $x)", '{"a": 3}'),
    ]
    compiler.TIER_OVERRIDE = "staged"
    try:
        for q, doc in cases:
            sp = jq.run_texts(q, [doc])
            assert compiler.last_tier() == "interp", q
            it = interp.run(parser.parse(q), _json.loads(doc))
            assert sp == it, (q, sp, it)
    finally:
        compiler.TIER_OVERRIDE = None
