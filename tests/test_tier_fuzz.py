"""Seeded differential fuzz: staged tier vs interp tier on generated
programs over generated documents.

The conformance corpus pins hand-picked semantics; this sweeps the
COMPOSITION space (nesting arithmetic into HOFs into collects into
dicts) that enumerated cases miss. Deterministic seed — failures
reproduce; not hypothesis-driven because each example costs a Spark
job, so programs are generated once and each runs ALL docs in one
batched run_texts call (8 in flight, the corpus fixture pattern).

The runs are pinned to the staged tier (TIER_OVERRIDE="staged"), so
every program the staged compiler can run is compared staged against
interp, whatever the cost router would pick. Programs with a
construct that has no staged lane (a HOF builtin such as map/any/all,
sort/unique or the sort_by family; a `*` whose operands may both be
objects; a fan-out such as `.xs[]`, even inside a collect) run on the
interp tier even so: for them this checks the
mapInPandas wrapper (ord bookkeeping, error rows, the tagged-float
round trip) against the direct interp. Each run's tier is recorded in
its worker and checked against compiler.choose_tier.

Droppers (`.k?` on a non-object, `empty`, `select(...)`) appear where
jq resolves their empty stream: `if` branches, `//` operands, collect
items, dict values and `as` sources.

Comparison contract (corpus convention): same output count, same
error PRESENCE per entry, equal values on non-error entries. Error
TEXTS may differ between tiers by design.
"""

from __future__ import annotations

import json as _json
import random

import pytest

from bd_spark.jsonq.runtime import JsonQ

_SCALARS = ['.a', '.b', '.n', '.s', '.', '1', '2.5', '"x"', 'null',
            '(.n // 3)']
_OPS = ['+', '-', '*', '/', '%', '==', '!=', '<', '<=', '>', '>=']
_WRAP = [
    '({E})', '({E} | length)', '({E} | tostring)', '({E} | type)',
    '[{E}]', '{k: {E}}', '({E} | not)', '(try {E})', '({E})?',
    'if {E} then 1 else 2 end', 'if {E} then .a else .s end',
]
# droppers yield nothing on some documents (`.k?` on a non-object or
# a missing key, `empty`, a false `select`); _DROP_CTX puts one where
# jq resolves the empty stream: an `if` branch, a `//` operand, a
# collect item, a dict value, an `as` source, a `try` body
_DROPPERS = ['.a?', '(.s | .k?)', '(.n | .k?)', 'empty', 'select(.n)',
             'select(.a == null)', '(.xs | .[9]?)']
_DROP_CTX = [
    'if {C} then {D} else .n end', 'if {C} then .s else {D} end',
    '({D} // {S})', '({S} // {D})', '[{D}]', '[{D}, {S}]', '[{S}, {D}]',
    '({D} | length)', '{k: {D}}', '{k: ({D} // 0), j: {S}}',
    '({D} as $v | [$v, {S}])', '({D} as $v | {S})', '(try {D})',
    '({D} | error("e"))', 'if {D} then 1 else 2 end',
]
_CONDS = ['.n', '.a', '(.n > 2)', '(.s == "ab")', 'false']
_ARRAY_SRC = ['.xs', '(.xs + [.n])', '(.xs | sort)', '(.xs | unique)',
              '(.xs | reverse)', '[.xs[]]', '(.xs | .[1:])']
_ARRAY_OP = [
    '({A} | length)', '({A} | map(. + 1))', '({A} | map(tostring))',
    '({A} | any(. > 2))', '({A} | all(. != null))', '({A} | first)',
    '({A} | sort_by(tostring))', '({A} | min_by(tostring))',
    '[{A}[] | select(. != null)]', '({A} | .[0])', '({A} | add)',
    '({A} | group_by(tostring) | length)',
]


def _gen_program(rng: random.Random) -> str:
    kind = rng.randrange(7)
    if kind == 0:  # scalar binary
        a, b = rng.choice(_SCALARS), rng.choice(_SCALARS)
        e = f'{a} {rng.choice(_OPS)} {b}'
    elif kind == 1:  # wrapped scalar
        e = rng.choice(_WRAP).replace('{E}', rng.choice(_SCALARS))
    elif kind == 2:  # array pipeline
        e = rng.choice(_ARRAY_OP).replace('{A}', rng.choice(_ARRAY_SRC))
    elif kind == 3:  # dict of two sub-expressions
        e1 = rng.choice(_WRAP).replace('{E}', rng.choice(_SCALARS))
        e2 = rng.choice(_ARRAY_OP).replace('{A}', rng.choice(_ARRAY_SRC))
        e = f'{{p: {e1}, q: {e2}}}'
    else:  # (3 kinds in 7) a dropper where jq resolves its empty stream
        e = (rng.choice(_DROP_CTX).replace('{D}', rng.choice(_DROPPERS))
             .replace('{C}', rng.choice(_CONDS))
             .replace('{S}', rng.choice(_SCALARS)))
    if rng.random() < 0.3:  # nest once more
        e = rng.choice(_WRAP).replace('{E}', e)
    return e


def _gen_doc(rng: random.Random) -> str:
    def val(depth: int):
        r = rng.random()
        if depth > 2 or r < 0.35:
            return rng.choice([
                None, True, False, rng.randrange(-5, 20),
                rng.random() * 10, rng.choice(['', 'x', 'abc', 'é日']),
            ])
        if r < 0.7:
            return [val(depth + 1) for _ in range(rng.randrange(0, 4))]
        return {
            k: val(depth + 1)
            for k in rng.sample(['a', 'b', 'n', 's', 'xs'],
                                rng.randrange(0, 3))
        }

    doc = {
        'a': val(1), 'b': val(1),
        'n': rng.choice([rng.randrange(-3, 9), rng.random() * 5, None]),
        's': rng.choice(['', 'ab', 'xyz']),
        'xs': [val(2) for _ in range(rng.randrange(0, 5))],
    }
    # sometimes drop keys so navigation errors/nulls get exercised
    for k in list(doc):
        if rng.random() < 0.15:
            del doc[k]
    return _json.dumps(doc)


N_PROGRAMS = 40
N_DOCS = 10


@pytest.fixture(scope="module")
def fuzz_results(spark):
    rng = random.Random(0xF0221)
    programs = [_gen_program(rng) for _ in range(N_PROGRAMS)]
    docs = [_gen_doc(rng) for _ in range(N_DOCS)]
    jq = JsonQ(spark)

    from concurrent.futures import ThreadPoolExecutor

    from bd_spark.jsonq import compiler

    def run(q):
        # last_tier is per thread: read it in the worker
        try:
            out = jq.run_texts(q, docs)
        except Exception as e:  # noqa: BLE001 — asserted per-case
            out = ("__raised__", f"{type(e).__name__}: {e}")
        return out, compiler.last_tier()

    compiler.TIER_OVERRIDE = "staged"
    try:
        with ThreadPoolExecutor(max_workers=8) as ex:
            return programs, docs, list(ex.map(run, programs))
    finally:
        compiler.TIER_OVERRIDE = None


@pytest.mark.parametrize("idx", range(N_PROGRAMS))
def test_tier_fuzz(fuzz_results, idx):
    from bd_spark.jsonq import compiler, interp, parser

    programs, docs, results = fuzz_results
    q = programs[idx]
    sp, tier = results[idx]
    assert not (isinstance(sp, tuple) and sp[0] == "__raised__"), (q, sp)
    assert tier == compiler.choose_tier(parser.parse(q), "staged")[0], q
    it = [
        e for d in docs for e in interp.run(parser.parse(q), _json.loads(d))
    ]
    assert len(sp) == len(it), (q, len(sp), len(it))
    for (sv, se), (iv, ie) in zip(sp, it):
        assert (se is None) == (ie is None), (q, se, ie)
        if se is None:
            assert sv == iv, (q, sv, iv)
