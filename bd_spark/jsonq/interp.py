"""Pure-Python reference interpreter for the jq AST.

A second, independent implementation of the language semantics (the
Spark compiler in ``compiler.py`` is the production one). Used for:

  - differential testing: random documents through BOTH engines must
    agree (tests/test_interp.py);
  - driver-side scalar evaluation where spinning a Spark job per
    document is wasteful (e.g. CLI --local on small inputs).

Semantics follow the conformance corpus (the reference's commented
test suite, query.rs:274-1138): in-band error entries for navigation
misses, plain-null values for operator type mismatches, ``?``
suppression, key-sorted objects, dup-last-wins, intended (non-buggy)
``<=`` and deep ``==``.

Entries are ``(value, err)`` tuples; error entries pass through every
operator untouched (ops.rs:296 behavior).
"""

from __future__ import annotations

import itertools
import json as _json
import math
from collections.abc import Iterable

from bd_spark.jsonq import ast
from bd_spark.jsonq.collation import json_compare
from bd_spark.sources.lenient_json import parse_one

Entry = tuple[object, str | None]


def run(node: ast.Node, doc: object) -> list[Entry]:
    """Evaluate a compiled AST against one document."""
    if isinstance(node, ast.InterpOnly):
        node = node.expr
    return list(_eval_stream(node, [(doc, None)]))


def run_values(node: ast.Node, doc: object) -> list[object]:
    return [v for v, err in run(node, doc) if err is None]


def _has_float(v: object) -> bool:
    """True when any value in the tree is a Python float (stops at the
    first one)."""
    if isinstance(v, float):
        return True
    if isinstance(v, list):
        return any(_has_float(x) for x in v)
    if isinstance(v, dict):
        return any(_has_float(x) for x in v.values())
    return False


def dumps_tagged(v: object) -> str:
    """JSON text whose numeric tower SURVIVES a parse_json round-trip:
    plain json.dumps renders the float 4.0 as "4.0", which parse_json
    normalizes into the INT tower (DECIMAL) — appending E0 keeps it
    DOUBLE (same trick as vexpr.vjson). Non-float values dump
    compactly; NaN/Inf cannot occur (dialect arithmetic yields null
    for ÷0, json input has no literals for them). A float-free tree,
    the common case, dumps in one C-speed json.dumps call (r12); a
    float-bearing one takes one walk (_dumps_floats) that renders the
    parts holding floats and json.dumps-es the rest."""
    if isinstance(v, float):
        return _tag_float(v)
    if isinstance(v, (dict, list)) and _has_float(v):
        return _dumps_floats(v)
    return _dumps_plain(v)


def _dumps_plain(v: object) -> str:
    return _json.dumps(v, ensure_ascii=False, separators=(",", ":"))


def _tag_float(v: float) -> str:
    s = repr(v)
    return s if ("e" in s or "E" in s) else s + "E0"


def _dumps_floats(v: object) -> str | None:
    """Tagged text of `v` when it holds a float, else None (the
    caller dumps it with json.dumps): one visit per value, where a
    float search per container level would cost O(size x depth)."""
    if isinstance(v, float):
        return _tag_float(v)
    if isinstance(v, dict):
        vals = v.values()
    elif isinstance(v, list):
        vals = v
    else:
        return None
    parts = [_dumps_floats(x) for x in vals]
    if parts.count(None) == len(parts):
        return None
    parts = [_dumps_plain(x) if p is None else p for x, p in zip(vals, parts)]
    if isinstance(v, list):
        return "[" + ",".join(parts) + "]"
    return "{" + ",".join(
        f"{_json.dumps(k, ensure_ascii=False)}:{p}" for k, p in zip(v, parts)
    ) + "}"


def _eval_stream(node: ast.Node, entries: Iterable[Entry]) -> Iterable[Entry]:
    for v, err in entries:
        if err is not None:
            yield (v, err)  # error entries pass through untouched
        else:
            yield from _eval(node, v)


def _err(msg: str) -> Entry:
    return (None, msg)


def _order_key(v: object):
    """jq total-order sort key (null < bool < number < string < array
    < object); containers fall back to canonical-JSON text order, the
    engine's documented deviation (vexpr.compare_lt)."""
    import json as _j

    if v is None:
        return (0, 0)
    if isinstance(v, bool):
        return (1, v)
    if _is_num(v):
        return (2, v)
    if isinstance(v, str):
        return (3, v)
    tag = 4 if isinstance(v, list) else 5
    return (tag, _j.dumps(v, separators=(",", ":"), sort_keys=True))


def _is_num(v: object) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _truthy(v: object) -> bool:
    return not (v is None or v is False)  # json.rs:553-557


def _eval(node: ast.Node, v: object) -> list[Entry]:
    """Single-node evaluation, dispatched by exact node type (r12:
    the former isinstance chain walked up to ~20 checks per node
    visit — hot interp-tier programs visit ~100 nodes per row — so
    dispatch is now one dict lookup; the handler bodies below are the
    old branch bodies, moved verbatim)."""
    try:
        h = _EVAL_DISPATCH[type(node)]
    except KeyError:
        raise TypeError(f"unknown node {node!r}") from None
    return h(node, v)


def _e_identity(node: ast.Identity, v: object) -> list[Entry]:
    return [(v, None)]


# parsed scalar literals, keyed by literal text — literal nodes are
# re-visited once per ROW on the interp tier, and re-parsing "3600"
# 170k times was 23% of interp.run in the r12 jq_formats profile.
# Containers are NOT cached: parse_one returns fresh mutable
# dicts/lists and callers may hold references across rows.
_LIT_CACHE: dict[str, object] = {}


def _e_literal(node: ast.Literal, v: object) -> list[Entry]:
    try:
        return [(_LIT_CACHE[node.text], None)]
    except KeyError:
        pass
    val = parse_one(node.text)
    if not isinstance(val, (dict, list)) and len(_LIT_CACHE) < 65536:
        _LIT_CACHE[node.text] = val
    return [(val, None)]


def _e_index(node: ast.Index, v: object) -> list[Entry]:
    return _index(v, node.key, node.opt)


def _e_identifier(node: ast.Identifier, v: object) -> list[Entry]:
    # bare symbol: object key; int-looking symbols fall back to
    # array position (ops.rs:332-340)
    if isinstance(v, list):
        try:
            return _index(v, int(node.name), node.opt)
        except ValueError:
            pass
    return _index(v, node.name, node.opt)


def _e_slice(node: ast.Slice, v: object) -> list[Entry]:
    return _slice(v, node.start, node.end, node.opt)


def _e_itervalues(node: ast.IterValues, v: object) -> list[Entry]:
    if isinstance(v, list):
        return [(x, None) for x in v]
    if isinstance(v, dict):
        return [(v[k], None) for k in sorted(v)]
    return [] if node.opt else [_err(f"cannot iterate {_tname(v)}")]


def _e_iter(node: ast.Iter, v: object) -> list[Entry]:
    # round-robin one element per branch per cycle (ops.rs:480-540),
    # NOT branch-major — multi-valued branches interleave
    bursts = [_eval(item, v) for item in node.items]
    out: list[Entry] = []
    for cycle in itertools.zip_longest(*bursts):
        out.extend(e for e in cycle if e is not None)
    return out


def _e_listcons(node: ast.ListCons, v: object) -> list[Entry]:
    if node.expr is None:
        return [([], None)]
    outs = _eval(node.expr, v)
    # an error in the burst errors the whole collect (matches the
    # engine, which carries one err per row)
    for _, err in outs:
        if err is not None:
            return [(None, err)]
    return [(vals, None) for vals in [[x for x, _ in outs]]]


def _e_dictcons(node: ast.DictCons, v: object) -> list[Entry]:
    return _dict_cons(node.pairs, v)


def _e_pipe(node: ast.Pipe, v: object) -> list[Entry]:
    return list(_eval_stream(node.right, _eval(node.left, v)))


def _e_recurse(node: ast.Recurse, v: object) -> list[Entry]:
    return [(x, None) for x in _recurse(v)]


def _e_unary(node: ast.Unary, v: object) -> list[Entry]:
    return _unary(node.op, node.expr, v)


def _e_binary(node: ast.Binary, v: object) -> list[Entry]:
    return _binary(node.op, node.left, node.right, v)


def _assign_path_ok(x: object, segs: tuple) -> bool:
    for k in segs:
        if x is None:
            return True  # remaining levels are fresh objects
        if not isinstance(x, dict):
            return False
        x = x.get(k)
    return True


def _assign_set_in(x: object, segs: tuple, val: object) -> object:
    if not segs:
        return val
    base = dict(x) if isinstance(x, dict) else {}
    base[segs[0]] = _assign_set_in(base.get(segs[0]), segs[1:], val)
    return base


def _e_assign(node: ast.Assign, v: object) -> list[Entry]:
    if not _assign_path_ok(v, node.path):
        return [_err("cannot set path ." + ".".join(node.path))]
    if node.update:
        old = v
        for k in node.path:
            old = old.get(k) if isinstance(old, dict) else None
        rhs_in = old
    else:
        rhs_in = v
    outs: list[Entry] = []
    for rv, re_ in _eval(node.value, rhs_in):
        if re_ is not None:
            outs.append((None, re_))
        else:
            outs.append((_assign_set_in(v, node.path, rv), None))
    return outs


def _e_try(node: ast.Try, v: object) -> list[Entry]:
    return [e for e in _eval(node.expr, v) if e[1] is None]


def _e_if(node: ast.If, v: object) -> list[Entry]:
    return _if_from(node, 0, v)


def _if_from(node: ast.If, i: int, v: object) -> list[Entry]:
    """`if` from branch i on (jq): one result per output of the
    condition, so an empty condition yields nothing; a condition
    error is an error entry, and an `elif` is the else of its `if`."""
    if i == len(node.branches):
        return _eval(node.orelse, v)
    c, b = node.branches[i]
    outs: list[Entry] = []
    for cv, ce in _eval(c, v):
        if ce is not None:
            outs.append((None, ce))
        elif _truthy(cv):
            outs.extend(_eval(b, v))
        else:
            outs.extend(_if_from(node, i + 1, v))
    return outs


def _e_builtin(node: ast.Builtin, v: object) -> list[Entry]:
    return _builtin(node.name, node.args, v)


def _e_var(node: ast.Var, v: object) -> list[Entry]:
    for n, bv in reversed(_VARS):
        if n == node.name:
            return [(bv, None)]
    raise ValueError(f"${node.name} is not defined")


def _e_bindas(node: ast.BindAs, v: object) -> list[Entry]:
    outs: list[Entry] = []
    for sv, serr in _eval(node.source, v):
        if serr is not None:
            outs.append((None, serr))
            continue
        _VARS.append((node.name, sv))
        try:
            # materialize eagerly so the binding can't escape scope
            outs.extend(list(_eval(node.body, v)))
        finally:
            _VARS.pop()
    return outs


def _e_reduce(node: ast.Reduce, v: object) -> list[Entry]:
    inits = _eval(node.init, v)
    if not inits:
        return []  # jq: an empty init folds nothing
    acc, aerr = inits[0]
    if aerr is not None:
        return [(None, aerr)]
    for ev, eerr in _eval(node.source, v):
        if eerr is not None:
            return [(None, eerr)]
        _VARS.append((node.name, ev))
        try:
            ups = list(_eval(node.update, acc))
        finally:
            _VARS.pop()
        if not ups:
            continue  # `?`-dropped update leaves the accumulator
        acc, uerr = ups[0]
        if uerr is not None:
            return [(None, uerr)]
    return [(acc, None)]


def _e_foreach(node: ast.Foreach, v: object) -> list[Entry]:
    inits = _eval(node.init, v)
    if not inits:
        return []
    acc, aerr = inits[0]
    if aerr is not None:
        return [(None, aerr)]
    outs: list[Entry] = []
    for ev, eerr in _eval(node.source, v):
        if eerr is not None:
            outs.append((None, eerr))  # abort after emitted states
            break
        _VARS.append((node.name, ev))
        try:
            ups = list(_eval(node.update, acc))
        finally:
            _VARS.pop()
        if not ups:
            continue  # `?`-dropped update: no emit, state unchanged
        acc, uerr = ups[0]
        if uerr is not None:
            outs.append((None, uerr))
            break
        outs.append((acc, None))
    return outs


def _e_strinterp(node: ast.StrInterp, v: object) -> list[Entry]:
    """One string per combination of the parts' outputs, in jq order
    (`"\\(a)\\(b)"` is `(("" + a) + b)`, and jq's `+` varies its left
    operand fastest, so the first part varies fastest); an empty part
    yields nothing, and a combination with an error part is that
    part's error."""
    import json as _j

    per_part: list[list[Entry]] = []
    for p in node.parts:
        if isinstance(p, str):
            per_part.append([(p, None)])
            continue
        per_part.append([
            (pv if isinstance(pv, str)
             else _j.dumps(pv, separators=(",", ":"), sort_keys=True), None)
            if perr is None else (None, perr)
            for pv, perr in _eval(p, v)
        ])
    out: list[Entry] = []
    for combo in itertools.product(*reversed(per_part)):
        combo = combo[::-1]
        err = next((e for _, e in combo if e is not None), None)
        out.append((None, err) if err is not None
                   else ("".join(x for x, _ in combo), None))
    return out


_EVAL_DISPATCH: dict[type, object] = {
    ast.Identity: _e_identity,
    ast.Literal: _e_literal,
    ast.Index: _e_index,
    ast.Identifier: _e_identifier,
    ast.Slice: _e_slice,
    ast.IterValues: _e_itervalues,
    ast.Iter: _e_iter,
    ast.ListCons: _e_listcons,
    ast.DictCons: _e_dictcons,
    ast.Pipe: _e_pipe,
    ast.Recurse: _e_recurse,
    ast.Unary: _e_unary,
    ast.Binary: _e_binary,
    ast.Assign: _e_assign,
    ast.Try: _e_try,
    ast.If: _e_if,
    ast.Builtin: _e_builtin,
    ast.Var: _e_var,
    ast.BindAs: _e_bindas,
    ast.Reduce: _e_reduce,
    ast.Foreach: _e_foreach,
    ast.StrInterp: _e_strinterp,
}


_VARS: list[tuple[str, object]] = []


# ------------------------------------------------------------ navigation

def _tname(v: object) -> str:
    return {type(None): "null", bool: "bool", int: "integer", float: "float",
            str: "string", list: "array", dict: "object"}[type(v)]


def _deq(a: object, b: object) -> bool:
    """Deep equality with bool/number kept DISTINCT (Python's
    `1 == True` would diverge from the engine's type-tagged
    deep_eq)."""
    if isinstance(a, bool) != isinstance(b, bool):
        return False
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_deq(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_deq(a[k], b[k]) for k in a)
    return a == b


def _pyre(pat: str) -> str:
    """Translate Java/Oniguruma named groups `(?<name>` to Python's
    `(?P<name>` so one pattern string runs on both engines (the Spark
    compiler hands patterns to Java regex verbatim)."""
    import re as _re

    return _re.sub(r"(?<!\\)\(\?<([A-Za-z_]\w*)>", r"(?P<\1>", pat)


def _index(v: object, key: str | int, opt: bool) -> list[Entry]:
    if isinstance(v, dict) and isinstance(key, str):
        if key in v:
            return [(v[key], None)]
        return [] if opt else [_err(f"missing key {key}")]
    if isinstance(v, list) and isinstance(key, int):
        i = key + len(v) if key < 0 else key  # negative wraps (util.rs:25-29)
        if 0 <= i < len(v):
            return [(v[i], None)]
        return [] if opt else [_err(f"index {key} out of bounds")]
    return [] if opt else [_err(f"cannot index {_tname(v)} with {key!r}")]


def _slice(v: object, start: int | None, end: int | None,
           opt: bool) -> list[Entry]:
    from bd_spark.jsonq import modes

    if not isinstance(v, (list, str)):
        return [] if opt else [_err(f"cannot slice {_tname(v)}")]
    sv: object = v
    if modes.BYTE_SLICES and isinstance(v, str):
        sv = v.encode("utf-8")  # byte-parity mode (json.rs:830-832)
    n = len(sv)
    a = 0 if start is None else (start + n if start < 0 else start)
    b = n if end is None else (end + n if end < 0 else end)
    a, b = max(a, 0), min(b, n)
    out = sv[a:b] if b > a else sv[:0]
    if isinstance(out, bytes):
        out = out.decode("utf-8", errors="replace")
    return [(out, None)]


def _recurse(v: object) -> list[object]:
    out = [v]
    if isinstance(v, list):
        for x in v:
            out.extend(_recurse(x))
    elif isinstance(v, dict):
        for k in sorted(v):
            out.extend(_recurse(v[k]))
    return out


def _dict_cons(pairs: tuple[ast.DictPair, ...], v: object) -> list[Entry]:
    # each pair yields (key, value) combinations; the full object set
    # is the cartesian product across pairs, rightmost varying fastest.
    # Error entries in a key/value stream stay IN the product and
    # surface as in-band error outputs (staged-tier dialect; r11 fuzz
    # found this path silently dropping rows instead)
    per_pair: list[list[tuple[Entry, Entry]]] = []
    for p in pairs:
        ks = _eval(p.key, v)
        vs = _eval(p.value, v)
        per_pair.append(list(itertools.product(ks, vs)))
    out: list[Entry] = []
    for combo in itertools.product(*per_pair):
        err = None
        for (_k, ke), (_x, xe) in combo:
            err = ke if ke is not None else xe
            if err is not None:
                break
        if err is not None:
            out.append((None, err))
            continue
        obj: dict = {}
        for (k, _ke), (val, _xe) in combo:
            if isinstance(k, str):  # non-string keys skipped (ops.rs:683-704)
                obj[k] = val  # dup last-wins
        out.append((obj, None))
    return out


# ------------------------------------------------------------ operators

def _unary(op: str, expr: ast.Node, v: object) -> list[Entry]:
    out: list[Entry] = []
    for x, err in _eval(expr, v):
        if err is not None:
            out.append((x, err))
        elif op == "-":
            out.append((-x, None) if _is_num(x) else (None, None))
        else:  # '!'
            out.append((not _truthy(x), None))
    return out


def _binary(op: str, left: ast.Node, right: ast.Node, v: object) -> list[Entry]:
    if op == "//":
        # jq alternative (beyond-reference): lhs outputs that are
        # valid and truthy; else rhs (lhs errors suppressed)
        lhs = [e for e in _eval(left, v) if e[1] is None and _truthy(e[0])]
        return lhs if lhs else _eval(right, v)
    lhs = _eval(left, v)
    rhs = _eval(right, v)
    out: list[Entry] = []
    # operands zip pairwise (ops.rs:827-833); unequal lengths truncate
    for (a, ea), (b, eb) in zip(lhs, rhs):
        if ea is not None or eb is not None:
            out.append(_err(ea or eb))
        else:
            out.append(_apply_binop(op, a, b))
    return out


def _apply_binop(op: str, a: object, b: object) -> Entry:  # noqa: PLR0911, PLR0912
    if op == "+":
        if _is_num(a) and _is_num(b):
            return (a + b, None)
        if isinstance(a, str) and isinstance(b, str):
            return (a + b, None)
        if isinstance(a, list) and isinstance(b, list):
            return (a + b, None)
        if isinstance(a, dict) and isinstance(b, dict):
            return ({**a, **b}, None)  # shallow union, rhs wins
        return (None, None)
    if op == "-":
        if _is_num(a) and _is_num(b):
            return (a - b, None)
        if isinstance(a, list) and isinstance(b, list):
            res = list(a)
            for x in b:  # remove FIRST occurrence each (json.rs:1010-1013)
                for i, y in enumerate(res):
                    if json_compare(x, y) == 0 and _same_kind(x, y):
                        del res[i]
                        break
            return (res, None)
        return (None, None)
    if op == "*":
        if _is_num(a) and _is_num(b):
            return (a * b, None)
        if isinstance(a, str) and isinstance(b, int) and not isinstance(b, bool):
            return (a * b, None) if b > 0 else (None, None)  # x0 -> null
        if isinstance(a, dict) and isinstance(b, dict):
            return (_deep_merge(a, b), None)
        return (None, None)
    if op == "/":
        if _is_num(a) and _is_num(b):
            return (a / b, None) if b != 0 else (None, None)  # /0 -> null
        if isinstance(a, str) and isinstance(b, str):
            # an empty separator splits into characters (jq; the
            # staged tier's regex split does the same)
            return (a.split(b) if b else list(a), None)
        return (None, None)
    if op == "%":
        if _is_num(a) and _is_num(b):
            if b == 0:
                return (None, None)
            if isinstance(a, int) and isinstance(b, int):
                return (int(math.fmod(a, b)), None)  # truncated, like Rust
            return (math.fmod(a, b), None)
        return (None, None)
    if op in ("<<", ">>", "&", "^", "bor"):
        if isinstance(a, int) and isinstance(b, int) and not (
            isinstance(a, bool) or isinstance(b, bool)
        ):
            fn = {"<<": lambda: a << b, ">>": lambda: a >> b,
                  "&": lambda: a & b, "^": lambda: a ^ b,
                  "bor": lambda: a | b}[op]
            return (fn(), None)
        return (None, None)
    if op in ("==", "!="):
        eq = json_compare(a, b) == 0 and _same_kind(a, b)
        return (eq if op == "==" else not eq, None)
    if op in ("<", "<=", ">", ">="):
        c = json_compare(a, b)
        return ({"<": c < 0, "<=": c <= 0, ">": c > 0, ">=": c >= 0}[op], None)
    if op == "&&":
        return (_truthy(a) and _truthy(b), None)
    if op == "||":
        return (_truthy(a) or _truthy(b), None)
    raise ValueError(f"unknown op {op!r}")


def _same_kind(a: object, b: object) -> bool:
    """json_compare ranks bools at their own rank, so a cross-kind 0
    can only happen for number-vs-number (1 == 1.0: equal) — but
    guard bool-vs-number explicitly (Python True == 1)."""
    return isinstance(a, bool) == isinstance(b, bool)


def _deep_merge(a: dict, b: dict) -> dict:
    out = dict(a)
    for k, bv in b.items():
        av = out.get(k)
        out[k] = (
            _deep_merge(av, bv)
            if isinstance(av, dict) and isinstance(bv, dict)
            else bv
        )
    return out


# ------------------------------------------------------------ builtins

def get_path(v: object, keys: list) -> object:
    """jq getpath: missing levels yield null; indexing a scalar or a
    wrong key type is an error (raised as ValueError)."""
    cur = v
    for k in keys:
        if cur is None:
            continue  # null stays null through any further keys
        if isinstance(cur, dict):
            if not isinstance(k, str):
                raise ValueError(f"getpath: cannot index object with {_tname(k)}")
            cur = cur.get(k)
        elif isinstance(cur, list):
            # int-tower keys only (a 1.0 float key errors, like the
            # Spark fold's vtype dispatch)
            if not isinstance(k, int) or isinstance(k, bool):
                raise ValueError(f"getpath: cannot index array with {_tname(k)}")
            i = int(k)
            i = i + len(cur) if i < 0 else i
            cur = cur[i] if 0 <= i < len(cur) else None
        else:
            raise ValueError(f"getpath: cannot index {_tname(cur)}")
    return cur


def set_path(cur: object, keys: list, val: object) -> object:
    """jq setpath: missing objects are created, arrays extend with
    nulls; setting through a scalar is an error (ValueError)."""
    if not keys:
        return val
    k = keys[0]
    if isinstance(k, str):
        if cur is None:
            base: dict = {}
        elif isinstance(cur, dict):
            base = cur
        else:
            raise ValueError(f"setpath: cannot index {_tname(cur)} with string")
        out = dict(base)
        out[k] = set_path(base.get(k), keys[1:], val)
        return out
    if isinstance(k, int) and not isinstance(k, bool):
        i = int(k)
        if cur is None:
            lst: list = []
        elif isinstance(cur, list):
            lst = list(cur)
        else:
            raise ValueError(f"setpath: cannot index {_tname(cur)} with number")
        if i < 0:
            i += len(lst)
            if i < 0:
                raise ValueError("setpath: negative index out of range")
        if i >= len(lst):
            lst = lst + [None] * (i + 1 - len(lst))
        lst[i] = set_path(lst[i], keys[1:], val)
        return lst
    raise ValueError(f"setpath: bad path key {_tname(k)}")


_ITER_CAP = 100_000


def run_until(cond: "ast.Node", update: "ast.Node", v: object):
    """jq until(cond; update) -> (value, err). Dialect: cond/update
    contribute their FIRST output (jq fans out multi-valued updates
    combinatorially); iteration is capped (_ITER_CAP)."""
    x = v
    for _ in range(_ITER_CAP):
        cs = _eval(cond, x)
        if not cs:
            return None, "until: cond produced empty"
        c0, ce = cs[0]
        if ce is not None:
            return None, ce
        if _truthy(c0):
            return x, None
        us = _eval(update, x)
        if not us:
            return None, "until: update produced empty"
        x, ue = us[0]
        if ue is not None:
            return None, ue
    return None, "until: iteration limit exceeded"


def run_while(cond: "ast.Node", update: "ast.Node", v: object):
    """jq while(cond; update) -> (outputs, err). Same dialect notes
    as run_until; an error wipes the burst (the dialect carries one
    err per input row, not per element)."""
    outs: list = []
    x = v
    for _ in range(_ITER_CAP):
        cs = _eval(cond, x)
        if not cs:
            return [], "while: cond produced empty"
        c0, ce = cs[0]
        if ce is not None:
            return [], ce
        if not _truthy(c0):
            return outs, None
        outs.append(x)
        us = _eval(update, x)
        if not us:
            return [], "while: update produced empty"
        x, ue = us[0]
        if ue is not None:
            return [], ue
    return [], "while: iteration limit exceeded"


def run_repeat(f: "ast.Node", v: object, n: int):
    """First n outputs of jq repeat(f) -> (outputs, err)."""
    outs: list = []
    x = v
    for _ in range(max(n, 0)):
        outs.append(x)
        us = _eval(f, x)
        if not us:
            return [], "repeat: body produced empty"
        x, ue = us[0]
        if ue is not None:
            return [], ue
    return outs, None


def regex_match_objects(s: str, pat: str, global_: bool) -> list[dict]:
    """jq `match` objects: {offset, length, string,
    captures:[{offset, length, string, name}]}; unmatched optional groups carry offset -1 /
    string null, exactly like jq.  Offsets are codepoint offsets
    (Python string indices)."""
    import re as _re

    rx = _re.compile(_pyre(pat))
    names = {v: k for k, v in rx.groupindex.items()}
    out: list[dict] = []
    for m in rx.finditer(s):
        caps = []
        for gi in range(1, rx.groups + 1):
            g = m.group(gi)
            caps.append({
                "offset": m.start(gi) if g is not None else -1,
                "length": (m.end(gi) - m.start(gi)) if g is not None else 0,
                "string": g,
                "name": names.get(gi),
            })
        out.append({
            "offset": m.start(),
            "length": m.end() - m.start(),
            "string": m.group(0),
            "captures": caps,
        })
        if not global_:
            break
    return out


def del_path(cur: object, keys: list) -> object:
    """Single-path delete with jq semantics: deleting a missing key /
    out-of-range index is a no-op, null traverses to null, deleting
    through a scalar or with a bad key type is an error
    (ValueError)."""
    k = keys[0]
    if isinstance(k, str):
        if cur is None:
            return None
        if not isinstance(cur, dict):
            raise ValueError(f"del: cannot index {_tname(cur)} with string")
        if k not in cur:
            return cur
        out: dict = dict(cur)
        if len(keys) == 1:
            del out[k]
        else:
            out[k] = del_path(out[k], keys[1:])
        return out
    if isinstance(k, int) and not isinstance(k, bool):
        if cur is None:
            return None
        if not isinstance(cur, list):
            raise ValueError(f"del: cannot index {_tname(cur)} with number")
        i = k + len(cur) if k < 0 else k
        if i < 0 or i >= len(cur):
            return cur
        lst = list(cur)
        if len(keys) == 1:
            del lst[i]
        else:
            lst[i] = del_path(lst[i], keys[1:])
        return lst
    raise ValueError(f"del: bad path key {_tname(k)}")


def gm_broken_down(secs: object) -> list:
    """jq `gmtime`: epoch seconds -> broken-down UTC time
    [year, month0, mday, hour, min, sec, wday, yday] in C struct tm
    conventions (Sunday wday 0, 0-based yday; jq manual examples:
    1425599507 -> [2015,2,5,23,51,47,4,63]). Fractional input keeps
    its fraction in the sec field, like jq."""
    import time as _time

    ip = int(secs // 1)
    frac = secs - ip
    st = _time.gmtime(ip)
    sec: object = st.tm_sec + frac if frac else st.tm_sec
    return [
        st.tm_year, st.tm_mon - 1, st.tm_mday, st.tm_hour, st.tm_min,
        sec, (st.tm_wday + 1) % 7, st.tm_yday - 1,
    ]


def mk_epoch(bd: object) -> int:
    """jq `mktime`: broken-down UTC time array -> epoch seconds.
    Requires an array of >= 6 numbers (wday/yday are ignored, like
    jq); raises ValueError otherwise. Dialect: out-of-range fields
    (month 13, mday 32, hour 25...) are an error on BOTH engine
    tiers, where C mktime would normalize — documented deviation,
    keeps the native Catalyst lane (try_make_timestamp) and this
    oracle twin exactly aligned."""
    import calendar

    if (
        not isinstance(bd, list)
        or len(bd) < 6
        or any(
            not (isinstance(x, (int, float)) and not isinstance(x, bool))
            for x in bd[:6]
        )
    ):
        raise ValueError("mktime requires array of 6 numbers")
    y, mo, d, h, mi, s = (int(x) for x in bd[:6])
    if not (
        0 <= mo <= 11 and 1 <= d <= 31 and 0 <= h <= 23
        and 0 <= mi <= 59 and 0 <= s <= 59
    ):
        raise ValueError("mktime: time out of range")
    try:
        ep = calendar.timegm((y, mo + 1, d, h, mi, s, 0, 1, 0))
    except (ValueError, OverflowError):
        raise ValueError("mktime: time out of range") from None
    # mday past the month's end (Feb 30): timegm silently rolls over;
    # reject by round-tripping the date
    import time as _time

    if _time.gmtime(ep)[2] != d:
        raise ValueError("mktime: time out of range")
    return ep


def strftime_jq(v: object, fmt: str) -> str:
    """jq `strftime(fmt)`: format a time (UTC) — input is epoch
    seconds or a broken-down array (gmtime's shape, whose wday/yday
    feed %A/%j). CPython's strftime supplies the C format dialect."""
    import time as _time

    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return _time.strftime(fmt, _time.gmtime(int(v // 1)))
    if isinstance(v, list):
        bd = v + [0] * (8 - len(v)) if len(v) < 8 else v
        if any(
            not (isinstance(x, (int, float)) and not isinstance(x, bool))
            for x in bd[:8]
        ):
            raise ValueError("strftime requires parsed datetime inputs")
        y, mo, d, h, mi, s, wd, yd = (int(x) for x in bd[:8])
        # C wday (Sunday 0) -> Python struct_time wday (Monday 0);
        # C yday 0-based -> Python 1-based
        st = _time.struct_time(
            (y, mo + 1, d, h, mi, s, (wd - 1) % 7, yd + 1, 0)
        )
        return _time.strftime(fmt, st)
    raise ValueError(f"strftime on {_tname(v)}")


def strptime_jq(v: object, fmt: str) -> list:
    """jq `strptime(fmt)`: parse a datetime string into the
    broken-down array (gmtime's shape); errors on mismatch."""
    import time as _time

    if not isinstance(v, str):
        raise ValueError(f"strptime on {_tname(v)}")
    try:
        st = _time.strptime(v, fmt)
    except ValueError:
        raise ValueError(
            f"date {v!r} does not match format {fmt!r}"
        ) from None
    return [
        st.tm_year, st.tm_mon - 1, st.tm_mday, st.tm_hour, st.tm_min,
        st.tm_sec, (st.tm_wday + 1) % 7, st.tm_yday - 1,
    ]


def all_paths(v: object, leaf_only: bool = False) -> list[list]:
    """Every path below the root, document order with the engine's
    sorted-object-key convention (matches `.[]` / `..`)."""
    out: list[list] = []

    def walk(x: object, prefix: list) -> None:
        if isinstance(x, dict):
            for k in sorted(x):
                p = prefix + [k]
                if not leaf_only or not isinstance(x[k], (dict, list)):
                    out.append(p)
                walk(x[k], p)
        elif isinstance(x, list):
            for i, e in enumerate(x):
                p = prefix + [i]
                if not leaf_only or not isinstance(e, (dict, list)):
                    out.append(p)
                walk(e, p)

    walk(v, [])
    return out


def to_stream_events(v: object) -> list[list]:
    """jq `tostream` events (r8, closing COVERAGE.md's out-of-scope
    note; jq manual: "Outputs the streamed form of the input"), with
    the dialect's sorted-object-key convention (matches `.[]` /
    `paths`): one ``[path, leaf]`` pair per leaf — scalars and EMPTY
    containers — plus one ``[path-of-last-child]`` close marker after
    each non-empty container's children. A scalar/empty root is the
    single event ``[[], v]``."""
    out: list[list] = []

    def walk(x: object, prefix: list) -> None:
        if isinstance(x, dict) and x:
            ks = sorted(x)
            for k in ks:
                walk(x[k], prefix + [k])
            out.append([prefix + [ks[-1]]])
        elif isinstance(x, list) and x:
            for i, e in enumerate(x):
                walk(e, prefix + [i])
            out.append([prefix + [len(x) - 1]])
        else:
            out.append([prefix, x])

    walk(v, [])
    return out


def _fromstream(fnode: "ast.Node", v: object) -> list[Entry]:
    """jq `fromstream(f)`: reassemble documents from the event stream
    f emits — the inverse of tostream. Follows the jq reference
    definition's {x, emitted} state machine: a 2-event writes its
    leaf at its path (path [] emits the leaf directly); a 1-event
    close marker at depth 1 emits the accumulated document; state
    resets after every emission. Malformed events are in-band
    errors."""
    out: list[Entry] = []
    state: object = None
    emitted = False
    for ev, err in _eval(fnode, v):
        if err is not None:
            out.append((None, err))
            continue
        if (
            not isinstance(ev, list)
            or len(ev) not in (1, 2)
            or not isinstance(ev[0], list)
        ):
            out.append(_err("fromstream: input must be [path, leaf] or [path] events"))
            continue
        if emitted:
            state = None
            emitted = False
        if len(ev) == 2:
            path, leaf = ev
            if len(path) == 0:
                out.append((leaf, None))
                emitted = True
            else:
                try:
                    state = set_path(state, path, leaf)
                except ValueError as ex:
                    out.append(_err(str(ex)))
                    state = None
        elif len(ev[0]) == 1:
            out.append((state, None))
            emitted = True
    return out


def _builtin(name: str, args: tuple[ast.Node, ...], v: object) -> list[Entry]:  # noqa: PLR0911, PLR0912
    if name == "tostream":
        return [(e, None) for e in to_stream_events(v)]
    if name == "fromstream":
        return _fromstream(args[0], v)
    if name == "getpath":
        out = []
        for pv, pe in _eval(args[0], v):
            if pe is not None:
                out.append((None, pe))
                continue
            if not isinstance(pv, list):
                out.append(_err(f"getpath arg must be array, got {_tname(pv)}"))
                continue
            try:
                out.append((get_path(v, pv), None))
            except ValueError as ex:
                out.append(_err(str(ex)))
        return out
    if name == "setpath":
        out = []
        for pv, pe in _eval(args[0], v):
            if pe is not None:
                out.append((None, pe))
                continue
            for nv, ne in _eval(args[1], v):
                if ne is not None:
                    out.append((None, ne))
                    continue
                if not isinstance(pv, list):
                    out.append(
                        _err(f"setpath arg must be array, got {_tname(pv)}")
                    )
                    continue
                try:
                    out.append((set_path(v, pv, nv), None))
                except ValueError as ex:
                    out.append(_err(str(ex)))
        return out
    if name == "delpaths":
        out = []
        for pv, pe in _eval(args[0], v):
            if pe is not None:
                out.append((None, pe))
                continue
            if not isinstance(pv, list) or any(
                not isinstance(p, list) for p in pv
            ):
                out.append(
                    _err(
                        "delpaths arg must be array of paths,"
                        f" got {_tname(pv)}"
                    )
                )
                continue
            # jq: delete in reverse canonical order so earlier
            # deletions cannot shift what later paths refer to
            cur = v
            try:
                # elementwise key, NOT _order_key: its container
                # fallback is canonical-text order, where ["a",10]
                # sorts before ["a",9] and same-array index deletes
                # would shift each other
                for p in sorted(
                    pv,
                    key=lambda p: [_order_key(x) for x in p],
                    reverse=True,
                ):
                    if not p:
                        # root path: jq's root deletion yields null
                        # (symmetric with setpath([]; x) root replace)
                        cur = None
                    else:
                        cur = del_path(cur, p)
                out.append((cur, None))
            except ValueError as ex:
                out.append(_err(str(ex)))
        return out
    if name in ("paths", "leaf_paths"):
        return [(p, None) for p in all_paths(v, name == "leaf_paths")]
    if name == "select":
        out: list[Entry] = []
        for fv, fe in _eval(args[0], v):
            if fe is not None:
                out.append((None, fe))
            elif _truthy(fv):
                out.append((v, None))
        return out
    if name == "empty":
        return []
    if name == "add":
        if not isinstance(v, list):
            return [_err(f"add on {_tname(v)}")]
        if not v:
            return [(None, None)]
        acc = v[0]
        for x in v[1:]:
            acc, e = _apply_binop("+", acc, x)
            if e is not None:
                return [(None, e)]
        return [(acc, None)]
    if name in ("floor", "ceil", "sqrt", "fabs", "abs"):
        import math

        if not _is_num(v):
            return [_err(f"{name} on {_tname(v)}")]
        if name == "floor":
            return [(math.floor(v), None)]
        if name == "ceil":
            return [(math.ceil(v), None)]
        if name == "sqrt":
            return [(math.sqrt(v), None)]
        return [(abs(v), None)]
    if name == "tostring":
        import json as _j

        return [(v if isinstance(v, str)
                 else _j.dumps(v, separators=(",", ":"), sort_keys=True), None)]
    if name == "tonumber":
        if _is_num(v):
            return [(v, None)]
        if isinstance(v, str):
            try:
                import json as _j

                n = _j.loads(v)
                if _is_num(n):
                    return [(n, None)]
            except Exception:  # noqa: BLE001
                pass
        return [_err(f"tonumber on {_tname(v)}")]
    if name in ("ascii_downcase", "ascii_upcase"):
        if not isinstance(v, str):
            return [_err(f"{name} on {_tname(v)}")]
        return [(v.lower() if name == "ascii_downcase" else v.upper(), None)]
    if name == "reverse":
        if isinstance(v, str):
            return [(v[::-1], None)]
        if isinstance(v, list):
            return [(v[::-1], None)]
        return [_err(f"reverse on {_tname(v)}")]
    if name in ("sort", "unique", "min", "max"):
        if not isinstance(v, list):
            return [_err(f"{name} on {_tname(v)}")]
        sv = sorted(v, key=_order_key)
        if name == "sort":
            return [(sv, None)]
        if name == "unique":
            out = []
            for x in sv:
                if not out or x != out[-1]:
                    out.append(x)
            return [(out, None)]
        if not sv:
            return [(None, None)]
        return [(sv[0] if name == "min" else sv[-1], None)]
    if name in ("ltrimstr", "rtrimstr"):
        outs = []
        for a, ae in _eval(args[0], v):
            if ae is not None:
                outs.append((None, ae))
            elif isinstance(v, str) and isinstance(a, str):
                if name == "ltrimstr":
                    outs.append((v[len(a):] if v.startswith(a) else v, None))
                else:
                    outs.append((v[: len(v) - len(a)] if a and v.endswith(a) else v, None))
            else:
                outs.append((v, None))
        return outs
    if name in ("startswith", "endswith", "contains", "test"):
        outs = []
        for a, ae in _eval(args[0], v):
            if ae is not None:
                outs.append((None, ae))
            elif isinstance(v, str) and isinstance(a, str):
                if name == "startswith":
                    outs.append((v.startswith(a), None))
                elif name == "endswith":
                    outs.append((v.endswith(a), None))
                elif name == "contains":
                    outs.append((a in v, None))
                else:
                    import re as _re

                    outs.append((_re.search(_pyre(a), v) is not None, None))
            elif (
                name == "contains"
                and isinstance(v, list)
                and isinstance(a, list)
            ):
                # dialect: membership by deep equality (see compiler)
                outs.append(
                    (all(any(_deq(x, e) for x in v) for e in a), None)
                )
            elif (
                name == "contains"
                and isinstance(v, dict)
                and isinstance(a, dict)
            ):
                outs.append(
                    (all(k in v and _deq(v[k], a[k]) for k in a), None)
                )
            else:
                outs.append(_err(f"{name} on {_tname(v)}/{_tname(a)}"))
        return outs
    if name in ("sub", "gsub"):
        import re as _re

        outs = []
        for a, ae in _eval(args[0], v):
            if ae is not None:
                outs.append((None, ae))
                continue
            for r, re_ in _eval(args[1], v):
                if re_ is not None:
                    outs.append((None, re_))
                elif (
                    isinstance(v, str)
                    and isinstance(a, str)
                    and isinstance(r, str)
                ):
                    # dialect: replacement is a plain string (evaluated
                    # against `.`, no capture refs); lambda repl keeps
                    # Python from interpreting backslash escapes
                    n = 1 if name == "sub" else 0
                    outs.append(
                        (_re.sub(_pyre(a), lambda _m: r, v, count=n), None)
                    )
                else:
                    outs.append(_err(
                        f"{name} on {_tname(v)}/{_tname(a)}/{_tname(r)}"
                    ))
        return outs
    if name == "scan":
        import re as _re

        outs = []
        for a, ae in _eval(args[0], v):
            if ae is not None:
                outs.append((None, ae))
            elif isinstance(v, str) and isinstance(a, str):
                outs.extend(
                    (m.group(0), None)
                    for m in _re.finditer(_pyre(a), v)
                )
            else:
                outs.append(_err(f"scan on {_tname(v)}/{_tname(a)}"))
        return outs
    if name == "splits":
        import re as _re

        outs = []
        for a, ae in _eval(args[0], v):
            if ae is not None:
                outs.append((None, ae))
            elif isinstance(v, str) and isinstance(a, str):
                outs.extend((p, None) for p in _re.split(_pyre(a), v))
            else:
                outs.append(_err(f"splits on {_tname(v)}/{_tname(a)}"))
        return outs
    if name == "capture":
        import re as _re

        outs = []
        for pat, pe in _eval(args[0], v):
            if pe is not None:
                outs.append((None, pe))
            elif not isinstance(v, str):
                outs.append(_err(f"capture on {_tname(v)}"))
            elif not isinstance(pat, str):
                outs.append(_err(f"capture pattern {_tname(pat)}"))
            else:
                # no match -> no output (jq match semantics); dialect:
                # unmatched optional groups yield "" (the native
                # engine's regexp_extract cannot distinguish them from
                # null)
                m = _re.search(_pyre(pat), v)
                if m is not None:
                    outs.append(({k: (x if x is not None else "")
                                  for k, x in m.groupdict().items()}, None))
        return outs
    if name == "explode":
        if not isinstance(v, str):
            return [_err(f"explode on {_tname(v)}")]
        return [([ord(c) for c in v], None)]
    if name == "implode":
        if not isinstance(v, list) or any(
            not (isinstance(c, int) and not isinstance(c, bool)
                 and 0 <= c <= 0x10FFFF)
            for c in v
        ):
            return [_err(f"implode on {_tname(v)}")]
        return [("".join(chr(c) for c in v), None)]
    if name == "utf8bytelength":
        if not isinstance(v, str):
            return [_err(f"utf8bytelength on {_tname(v)}")]
        return [(len(v.encode("utf-8")), None)]
    if name in ("round", "log", "log2", "log10", "exp", "exp2", "exp10"):
        import math

        if not _is_num(v):
            return [_err(f"{name} on {_tname(v)}")]
        if name == "round":
            # dialect: half away from zero (C round); ints unchanged
            if isinstance(v, int):
                return [(v, None)]
            m = math.floor(abs(v) + 0.5)
            return [(-m if v < 0 else m, None)]
        if name in ("log", "log2", "log10"):
            if v <= 0:
                return [_err(f"{name} on {_tname(v)}")]
            fn = {"log": math.log, "log2": math.log2,
                  "log10": math.log10}[name]
            return [(fn(v), None)]
        base = {"exp": math.e, "exp2": 2.0, "exp10": 10.0}[name]
        try:
            r = math.pow(base, v)
        except OverflowError:
            return [_err(f"{name} on {_tname(v)}")]
        if math.isinf(r):
            return [_err(f"{name} on {_tname(v)}")]
        return [(r, None)]
    if name == "pow":
        import math

        outs = []
        for x, xe in _eval(args[0], v):
            if xe is not None:
                outs.append((None, xe))
                continue
            for y, ye in _eval(args[1], v):
                if ye is not None:
                    outs.append((None, ye))
                elif _is_num(x) and _is_num(y):
                    try:
                        r = math.pow(x, y)
                    except (OverflowError, ValueError):
                        outs.append(
                            _err(f"pow on {_tname(x)}/{_tname(y)}")
                        )
                        continue
                    if math.isnan(r) or math.isinf(r):
                        outs.append(
                            _err(f"pow on {_tname(x)}/{_tname(y)}")
                        )
                    else:
                        # dialect: always the float tower
                        outs.append((r, None))
                else:
                    outs.append(_err(f"pow on {_tname(x)}/{_tname(y)}"))
        return outs
    if name == "todate":
        if not (isinstance(v, int) and not isinstance(v, bool)):
            return [_err(f"todate on {_tname(v)}")]
        from datetime import datetime, timezone

        dt = datetime.fromtimestamp(v, tz=timezone.utc)
        return [(dt.strftime("%Y-%m-%dT%H:%M:%SZ"), None)]
    if name == "fromdate":
        if not isinstance(v, str):
            return [_err(f"fromdate on {_tname(v)}")]
        import calendar
        import time as _time

        try:
            st = _time.strptime(v, "%Y-%m-%dT%H:%M:%SZ")
        except ValueError:
            return [_err(f"fromdate on {_tname(v)}")]
        return [(calendar.timegm(st), None)]
    if name == "gmtime":
        if not _is_num(v):
            return [_err(f"gmtime on {_tname(v)}")]
        return [(gm_broken_down(v), None)]
    if name == "mktime":
        try:
            return [(mk_epoch(v), None)]
        except ValueError as ex:
            return [_err(str(ex))]
    if name in ("strftime", "strptime"):
        outs = []
        for a, ae in _eval(args[0], v):
            if ae is not None:
                outs.append((None, ae))
                continue
            if not isinstance(a, str):
                outs.append(_err(f"{name} format must be string,"
                                 f" got {_tname(a)}"))
                continue
            try:
                if name == "strftime":
                    outs.append((strftime_jq(v, a), None))
                else:
                    outs.append((strptime_jq(v, a), None))
            except ValueError as ex:
                outs.append(_err(str(ex)))
        return outs
    if name in ("trim", "ltrim", "rtrim"):
        import re as _re

        if not isinstance(v, str):
            return [_err(f"{name} on {_tname(v)}")]
        pat = {"trim": r"(^\s+)|(\s+$)", "ltrim": r"^\s+",
               "rtrim": r"\s+$"}[name]
        return [(_re.sub(pat, "", v), None)]
    if name == "transpose":
        if not isinstance(v, list) or any(
            not isinstance(r, list) for r in v
        ):
            return [_err(f"transpose on {_tname(v)}")]
        n = max((len(r) for r in v), default=0)
        return [(
            [[r[i] if i < len(r) else None for r in v] for i in range(n)],
            None,
        )]
    if name in ("@base64", "@base64d", "@uri", "@html"):
        import json as _j

        s = v if isinstance(v, str) else _j.dumps(
            v, separators=(",", ":"), sort_keys=True
        )
        if name == "@base64":
            import base64 as _b64

            return [(_b64.b64encode(s.encode("utf-8")).decode("ascii"),
                     None)]
        if name == "@base64d":
            import base64 as _b64
            import re as _re

            if len(s) % 4 != 0 or not _re.fullmatch(
                r"[A-Za-z0-9+/]*={0,2}", s
            ):
                return [_err(f"@base64d on {_tname(v)}")]
            return [(_b64.b64decode(s).decode("utf-8"), None)]
        if name == "@uri":
            out = []
            for c in s:
                if ("A" <= c <= "Z" or "a" <= c <= "z" or "0" <= c <= "9"
                        or c in "_.~-"):
                    out.append(c)
                else:
                    out.extend(f"%{b:02X}" for b in c.encode("utf-8"))
            return [("".join(out), None)]
        # @html (jq entity set)
        s = s.replace("&", "&amp;").replace("<", "&lt;")
        s = s.replace(">", "&gt;").replace("'", "&#39;")
        s = s.replace('"', "&#34;")
        return [(s, None)]
    if name in ("@csv", "@tsv"):
        import json as _j

        if not isinstance(v, list):
            return [_err(f"{name} on {_tname(v)}")]
        cells = []
        for x in v:
            if isinstance(x, str):
                if name == "@csv":
                    cells.append('"' + x.replace('"', '""') + '"')
                else:
                    cells.append(
                        x.replace("\\", "\\\\").replace("\t", "\\t")
                        .replace("\n", "\\n").replace("\r", "\\r")
                    )
            elif _is_num(x):
                cells.append(_j.dumps(x))
            elif x is None:
                cells.append("")
            else:
                return [_err(f"{name} on {_tname(v)}")]
        return [((","  if name == "@csv" else "\t").join(cells), None)]
    if name == "error":
        import json as _j

        outs = []
        for m, me in _eval(args[0], v):
            if me is not None:
                outs.append((None, me))
            else:
                outs.append((None, m if isinstance(m, str) else _j.dumps(
                    m, separators=(",", ":"), sort_keys=True
                )))
        return outs
    if name in ("index", "rindex"):
        outs = []
        for n, ne in _eval(args[0], v):
            if ne is not None:
                outs.append((None, ne))
            elif isinstance(v, str) and isinstance(n, str):
                # dialect: string inputs only (jq also searches arrays)
                p = v.find(n) if name == "index" else v.rfind(n)
                outs.append((p if p >= 0 else None, None))
            else:
                outs.append(_err(f"{name} on {_tname(v)}/{_tname(n)}"))
        return outs
    if name == "indices":
        outs = []
        for n, ne in _eval(args[0], v):
            if ne is not None:
                outs.append((None, ne))
            elif isinstance(v, str) and isinstance(n, str):
                if not n:
                    outs.append(([], None))
                    continue
                hits, i = [], v.find(n)
                while i >= 0:
                    hits.append(i)
                    i = v.find(n, i + 1)  # overlapping, like jq
                outs.append((hits, None))
            else:
                outs.append(_err(f"indices on {_tname(v)}/{_tname(n)}"))
        return outs
    if name == "match":
        import re as _re

        global_ = args[1].text == "true"
        outs = []
        for a, ae in _eval(args[0], v):
            if ae is not None:
                outs.append((None, ae))
            elif isinstance(v, str) and isinstance(a, str):
                try:
                    outs.extend(
                        (m, None) for m in regex_match_objects(v, a, global_)
                    )
                except _re.error as ex:
                    outs.append(_err(f"match: {ex}"))
            else:
                outs.append(_err(f"match on {_tname(v)}/{_tname(a)}"))
        return outs
    if name == "until":
        val, err = run_until(args[0], args[1], v)
        return [(val, err)] if err is not None else [(val, None)]
    if name == "while":
        vals, err = run_while(args[0], args[1], v)
        if err is not None:
            return [(None, err)]
        return [(x, None) for x in vals]
    if name == "repeat":
        # unbounded generator: only meaningful under limit(n; ...),
        # which evaluates it bounded — bare repeat is an error
        return [_err("repeat: unbounded (wrap in limit(n; repeat(f)))")]
    if name == "limit":
        outs = []
        inner = args[1]
        for n, ne in _eval(args[0], v):
            if ne is not None:
                outs.append((None, ne))
            elif isinstance(n, int) and not isinstance(n, bool):
                if (
                    isinstance(inner, ast.Builtin)
                    and inner.name == "repeat"
                ):
                    vals, err = run_repeat(inner.args[0], v, n)
                    if err is not None:
                        outs.append((None, err))
                    else:
                        outs.extend((x, None) for x in vals)
                else:
                    outs.extend(_eval(inner, v)[: max(n, 0)])
            else:
                outs.append(_err(f"limit count on {_tname(n)}"))
        return outs
    if name == "join":
        outs = []
        for a, ae in _eval(args[0], v):
            if ae is not None:
                outs.append((None, ae))
            elif isinstance(v, list) and isinstance(a, str):
                import json as _j

                parts = [
                    x if isinstance(x, str)
                    else ("" if x is None
                          else _j.dumps(x, separators=(",", ":")))
                    for x in v
                ]
                outs.append((a.join(parts), None))
            else:
                outs.append(_err(f"join on {_tname(v)}/{_tname(a)}"))
        return outs
    if name == "split":
        outs = []
        for a, ae in _eval(args[0], v):
            if ae is not None:
                outs.append((None, ae))
            else:
                outs.append(_apply_binop("/", v, a))
        return outs
    if name == "del":
        from bd_spark.jsonq.parser import static_path

        segs = static_path(args[0])
        if segs is None or not segs:
            return [_err("del requires a static path")]
        if any(not isinstance(s, str) for s in segs):
            # int segments (del(.a[1])): the shared del_path walker
            try:
                return [(del_path(v, list(segs)), None)]
            except ValueError as ex:
                return [_err(str(ex))]

        def _ok(x: object, ss: tuple) -> bool:
            for k in ss:
                if x is None:
                    return True
                if not isinstance(x, dict):
                    return False
                x = x.get(k)
            return True

        def _del_in(x: object, ss: tuple) -> object:
            if not isinstance(x, dict) or ss[0] not in x:
                return x
            out = dict(x)
            if len(ss) == 1:
                del out[ss[0]]
            else:
                out[ss[0]] = _del_in(out[ss[0]], ss[1:])
            return out

        if not _ok(v, segs):
            return [_err("cannot delete path ." + ".".join(segs))]
        return [(_del_in(v, segs), None)]
    if name == "range" and len(args) == 3:
        outs = []
        for f0, fe in _eval(args[0], v):
            if fe is not None:
                outs.append((None, fe))
                continue
            for t0, te in _eval(args[1], v):
                if te is not None:
                    outs.append((None, te))
                    continue
                for s0, se in _eval(args[2], v):
                    if se is not None:
                        outs.append((None, se))
                    elif (
                        isinstance(f0, int) and not isinstance(f0, bool)
                        and _is_num(t0)
                        and isinstance(s0, int) and not isinstance(s0, bool)
                        and s0 != 0
                    ):
                        # dialect: int from/step (matches the engine)
                        i = f0
                        while (i < t0) if s0 > 0 else (i > t0):
                            outs.append((i, None))
                            i += s0
                    else:
                        outs.append(_err(
                            f"range on {_tname(f0)}/{_tname(t0)}/"
                            f"{_tname(s0)}"
                        ))
        return outs
    if name == "range":
        outs = []
        for a, ae in _eval(args[0], v):
            if ae is not None:
                outs.append((None, ae))
            elif _is_num(a):
                i = 0
                while i < a:
                    outs.append((i, None))
                    i += 1
            else:
                outs.append(_err(f"range on {_tname(a)}"))
        return outs
    if name == "flatten":
        if not isinstance(v, list):
            return [_err(f"flatten on {_tname(v)}")]

        def _go(x: list, out: list) -> list:
            for e in x:
                if isinstance(e, list):
                    _go(e, out)
                else:
                    out.append(e)
            return out

        return [(_go(v, []), None)]
    if name == "to_entries":
        if not isinstance(v, dict):
            return [_err(f"to_entries on {_tname(v)}")]
        # canonical (sorted) key order, matching the variant engine
        return [([{"key": k, "value": v[k]} for k in sorted(v)], None)]
    if name == "from_entries":
        if not isinstance(v, list):
            return [_err(f"from_entries on {_tname(v)}")]
        import json as _j

        out: dict = {}
        for x in v:
            if not isinstance(x, dict):
                return [_err("from_entries on array")]
            k = next(
                (x[n] for n in ("key", "k", "name") if x.get(n) is not None),
                None,
            )
            if k is None:
                return [_err("from_entries on array")]
            ks = k if isinstance(k, str) else _j.dumps(
                k, separators=(",", ":")
            )
            out[ks] = next(
                (x[n] for n in ("value", "v") if x.get(n) is not None), None
            )
        return [(out, None)]
    if name == "type":
        if v is None:
            t = "null"
        elif isinstance(v, bool):
            t = "boolean"
        elif _is_num(v):
            t = "number"
        elif isinstance(v, str):
            t = "string"
        elif isinstance(v, list):
            t = "array"
        else:
            t = "object"
        return [(t, None)]
    if name == "not":
        return [(not _truthy(v), None)]
    if name in ("first", "last"):
        if not isinstance(v, list):
            return [_err(f"{name} on {_tname(v)}")]
        if not v:
            return [(None, None)]
        return [(v[0] if name == "first" else v[-1], None)]
    if name == "tojson":
        from bd_spark.jsonq.canonical import canonicalize

        return [(canonicalize(v), None)]
    if name == "fromjson":
        if not isinstance(v, str):
            return [_err(f"fromjson on {_tname(v)}")]
        try:
            import json as _j

            return [(_j.loads(v), None)]
        except Exception:  # noqa: BLE001
            return [_err("fromjson on string")]
    if name in ("sort_by", "min_by", "max_by", "unique_by", "group_by"):
        if not isinstance(v, list):
            return [_err(f"{name} on {_tname(v)}")]
        keys = []
        for x in v:
            outs = _eval(args[0], x)
            kv, ke = outs[0] if outs else (None, "empty body")
            if ke is not None:
                return [_err(f"{name} body error")]
            keys.append(kv)
        order = sorted(range(len(v)), key=lambda i: (_order_key(keys[i]), i))
        if name == "sort_by":
            return [([v[i] for i in order], None)]
        if name == "min_by":
            return [(v[order[0]] if order else None, None)]
        if name == "max_by":
            return [(v[order[-1]] if order else None, None)]
        out: list = []
        prev_k = None
        for pos, i in enumerate(order):
            new_run = pos == 0 or _order_key(keys[i]) != prev_k
            prev_k = _order_key(keys[i])
            if name == "unique_by":
                if new_run:
                    out.append(v[i])
            elif new_run:
                out.append([v[i]])
            else:
                out[-1].append(v[i])
        return [(out, None)]
    if name == "length":
        if v is None:
            return [(0, None)]
        if isinstance(v, str):
            # BYTE length — reference parity (json.rs:632 Rust
            # String::len; the compiled tier uses octet_length).
            # r7: was len(v) codepoints, a tier divergence exposed by
            # the typed-fold corpus case on non-ASCII text
            return [(len(v.encode("utf-8")), None)]
        if isinstance(v, (list, dict)):
            return [(len(v), None)]
        return [_err(f"{_tname(v)} has no length")]
    if name == "chars":
        if isinstance(v, str):
            return [([ord(c) for c in v], None)]
        if isinstance(v, list):
            return [(v, None)]
        return [_err(f"cannot chars {_tname(v)}")]
    if name == "keys":
        if isinstance(v, dict):
            return [(sorted(v), None)]
        if isinstance(v, list):
            return [(list(range(len(v))), None)]
        return [_err(f"cannot keys {_tname(v)}")]
    if name in ("has", "in"):
        out = []
        for a, ae in _eval(args[0], v):
            if ae is not None:
                out.append((None, ae))
            else:
                out.extend(
                    _membership(v, a) if name == "has" else _membership(a, v)
                )
        return out
    if name == "map":
        # body errors PROPAGATE as the op's error (reference map is
        # `thunk(value)?` — ops.rs:1640/1648). r7 ADVICE fix: the old
        # `if err is None` filter swallowed the recursion-cap error
        # injected by _expand_recursion, so walk() on >cap-deep input
        # SILENTLY truncated instead of erroring. Empty body output
        # drops the element/key; multi-output takes the first — both
        # matching the compiled tier (single-value CV + drop flag).
        f = args[0]
        if isinstance(v, list):
            mapped = []
            for x in v:
                outs = _eval(f, x)
                for y, err in outs:
                    if err is not None:
                        return [(None, err)]
                if outs:
                    mapped.append(outs[0][0])
            return [(mapped, None)]
        if isinstance(v, dict):
            out: dict = {}
            for k in sorted(v):
                outs = _eval(f, v[k])
                for y, err in outs:
                    if err is not None:
                        return [(None, err)]
                if outs:
                    out[k] = outs[0][0]
            return [(out, None)]
        return [_err(f"cannot map {_tname(v)}")]
    if name in ("any", "all"):
        f = args[0]
        if isinstance(v, list):
            items = v
        elif isinstance(v, dict):
            items = [v[k] for k in sorted(v)]
        else:
            return [_err(f"cannot {name} {_tname(v)}")]
        flags = [_truthy(_first_value(f, x)) for x in items]
        return [(any(flags) if name == "any" else all(flags), None)]
    raise ValueError(f"unknown builtin {name!r}")


def _first_value(node: ast.Node, v: object) -> object:
    vals = [x for x, err in _eval(node, v) if err is None]
    return vals[0] if vals else None


def _membership(container: object, member: object) -> list[Entry]:
    if isinstance(container, dict) and isinstance(member, str):
        return [(member in container, None)]
    if isinstance(container, list) and isinstance(member, int) and not isinstance(member, bool):
        return [(0 <= member < len(container), None)]
    return [_err(f"cannot check membership in {_tname(container)}")]
