"""AST for the bd/jq expression language.

Mirrors the reference's `Thunk` IR (query.rs:34-78) as plain Python
dataclasses — one node per operator, each navigational node carrying
the `?` error-suppression flag (which the reference parses but never
implements, query_nom.rs:18; we implement the intended behavior).
"""

from __future__ import annotations

from dataclasses import dataclass, field


class Node:
    __slots__ = ()


@dataclass(frozen=True)
class Identity(Node):
    """`.` or the empty program (ops.rs:8-33)."""


@dataclass(frozen=True)
class Recurse(Node):
    """`..` — pre-order emission of doc + every descendant (ops.rs:36-92)."""


@dataclass(frozen=True)
class Literal(Node):
    """null/bool/int/float/string literal (ops.rs:95-248).

    ``text`` is the canonical JSON text of the value.
    """

    text: str


@dataclass(frozen=True)
class Index(Node):
    """`.foo`, `."foo"`, `.["foo"]`, `.0`, `.[0]` (ops.rs:251-317).

    ``key`` is a string key or an int position (negative wraps,
    util.rs:25-29).
    """

    key: str | int
    opt: bool = False


@dataclass(frozen=True)
class Identifier(Node):
    """bare `foo` — like `.foo` with int-literal fallback to array
    index (ops.rs:320-368)."""

    name: str
    opt: bool = False


@dataclass(frozen=True)
class Slice(Node):
    """`.[a..b]` etc. (ops.rs:371-411). ``start``/``end`` may be None
    (open); inclusive end is normalized to end+1 at parse time
    (query_nom.rs:397,443)."""

    start: int | None
    end: int | None
    opt: bool = False


@dataclass(frozen=True)
class IterValues(Node):
    """`.[]` — explode array elements / object values (ops.rs:414-477)."""

    opt: bool = False


@dataclass(frozen=True)
class Iter(Node):
    """`.[e1,e2,...]` — evaluate each sub-expr against the same input
    (ops.rs:480-540). Int/string items are rewritten to Index at parse
    time (query_nom.rs:697-712)."""

    items: tuple[Node, ...]
    opt: bool = False


@dataclass(frozen=True)
class ListCons(Node):
    """`[expr]` — collect one burst into one array (ops.rs:543-597)."""

    expr: Node | None  # None for `[]`


@dataclass(frozen=True)
class DictPair:
    """One `key: value` in `{...}`; key is a Node (Literal for static
    keys, arbitrary expr for computed `(expr)` keys)."""

    key: Node
    value: Node


@dataclass(frozen=True)
class DictCons(Node):
    """`{k:v, ident, (e):v}` — object construction with cartesian
    product across multi-valued parts (ops.rs:600-739)."""

    pairs: tuple[DictPair, ...]


@dataclass(frozen=True)
class Pipe(Node):
    """`a | b` (also juxtaposition `.a.b`, query_nom.rs:106-129)."""

    left: Node
    right: Node


@dataclass(frozen=True)
class Unary(Node):
    """`-x` (ops.rs:742-771) / `!x` (ops.rs:774-803)."""

    op: str  # '-' | '!'
    expr: Node


@dataclass(frozen=True)
class Binary(Node):
    """All binary operators (ops.rs:806-1415); ``op`` is the surface
    token: + - * / % << >> & ^ bor == != < <= > >= && ||.
    The reference's `<=` bug (computes >=, ops.rs:1272) is NOT
    replicated — we implement intended semantics."""

    op: str
    left: Node
    right: Node


@dataclass(frozen=True)
class Builtin(Node):
    """`length`, `chars`, `keys`, `has(x)`, `in(x)`, `map(f)`,
    `any(f)`, `all(f)` (ops.rs:1418-1713, query.rs:226-242)."""

    name: str
    args: tuple[Node, ...] = field(default=())


@dataclass(frozen=True)
class If(Node):
    """``if C then A elif C2 then B else D end`` (beyond-reference:
    the reference dialect has no conditional). ``branches`` is the
    (condition, then-body) list; ``orelse`` defaults to Identity
    (jq: a missing else passes the input through)."""

    branches: tuple[tuple[Node, Node], ...]
    orelse: Node


@dataclass(frozen=True)
class Try(Node):
    """``try f`` (beyond-reference, jq): errors raised inside ``f``
    become empty output instead of propagating — the general form of
    the ``?`` postfix.  ``catch`` is deliberately unsupported: it
    would expose engine-internal error strings as data, which cannot
    be made portable across the Spark and interpreter engines."""

    expr: Node


@dataclass(frozen=True)
class Assign(Node):
    """``PATH = E`` / ``PATH |= f`` (beyond-reference, jq): returns
    the whole input with the value at the static object-key path
    replaced.  ``=`` evaluates E against the ROOT input; ``|=``
    applies f to the OLD value at the path (missing -> null).  Missing
    intermediate objects are created (jq setpath); scalar
    intermediates are errors.  RHS must be single-valued."""

    path: tuple[str, ...]
    value: Node
    update: bool  # True for |=


@dataclass(frozen=True)
class Var(Node):
    """``$name`` — a variable bound by ``as`` or ``reduce``
    (beyond-reference, jq: the reference's context.rs variables are
    disabled, lib.rs:17). Unbound use is a compile error."""

    name: str


@dataclass(frozen=True)
class BindAs(Node):
    """``E as $x | B`` (beyond-reference, jq): for each output of E,
    evaluate B against the ORIGINAL input with $x bound to that
    output. Multi-valued E fans out B per binding, in E's order."""

    source: Node
    name: str
    body: Node


@dataclass(frozen=True)
class Reduce(Node):
    """``reduce E as $x (I; U)`` (beyond-reference, jq): fold U over
    E's output stream, starting from I (evaluated against the input);
    inside U, ``.`` is the accumulator and $x the current element."""

    source: Node
    name: str
    init: Node
    update: Node


@dataclass(frozen=True)
class Foreach(Node):
    """``foreach E as $x (I; U)`` (beyond-reference, jq 2-arg form):
    like reduce, but EMITS the accumulator after every update — the
    streaming scan/prefix-state operator. An error in E or U aborts
    the stream after the states already emitted."""

    source: Node
    name: str
    init: Node
    update: Node


@dataclass(frozen=True)
class InterpOnly(Node):
    """Top-level wrapper marking a program that must evaluate through
    the Arrow-batched interp tier (compiler._interp_tier) regardless
    of size: bounded-recursion def expansion can nest STREAM
    operators (Iter fan-outs) dozens of levels deep, whose compiled
    plan grows exponentially even when the AST is small."""

    expr: Node


@dataclass(frozen=True)
class DefCall(Node):
    """Self-referential user-``def`` call placeholder, created ONLY
    while parsing that def's own body; resolved by bounded expansion
    at the end of ``Parser._parse_def`` (never reaches the compiler
    or the interpreter)."""

    name: str
    args: tuple[Node, ...]


@dataclass(frozen=True)
class StrInterp(Node):
    """``"a \\(E) b"`` string interpolation (beyond-reference, jq).
    ``parts`` mixes literal str fragments and Nodes; node results
    interpolate via ``tostring`` semantics (strings raw, everything
    else JSON-rendered)."""

    parts: tuple  # str | Node


BUILTIN_ARITY = {
    "length": 0,
    "chars": 0,
    "keys": 0,
    "has": 1,
    "in": 1,
    "map": 1,
    "any": 1,
    "all": 1,
    "select": 1,
    # beyond-reference jq usability builtins
    "empty": 0,
    "add": 0,
    "floor": 0,
    "ceil": 0,
    "sqrt": 0,
    "fabs": 0,
    "abs": 0,
    "tostring": 0,
    "tonumber": 0,
    "ascii_downcase": 0,
    "ascii_upcase": 0,
    "reverse": 0,
    "sort": 0,
    "unique": 0,
    "min": 0,
    "max": 0,
    "del": 1,
    "range": (1, 2, 3),
    "flatten": 0,
    "to_entries": 0,
    "from_entries": 0,
    "type": 0,
    "not": 0,
    "first": (0, 1),
    "last": (0, 1),
    "nth": (1, 2),
    "map_values": 1,
    "tojson": 0,
    "fromjson": 0,
    "sort_by": 1,
    "min_by": 1,
    "max_by": 1,
    "unique_by": 1,
    "group_by": 1,
    "ltrimstr": 1,
    "rtrimstr": 1,
    "startswith": 1,
    "endswith": 1,
    "contains": 1,
    "join": 1,
    "split": 1,
    "getpath": 1,
    "setpath": 2,
    "paths": 0,
    "leaf_paths": 0,
    # stream-event encoding (r8) — interp-tier only (the parser
    # marks programs using these InterpOnly)
    "tostream": 0,
    "fromstream": 1,
    # regex / string batch (jq manual semantics, Java-regex dialect;
    # the optional extra arg is a flag string from [gimsx] — `g`
    # makes sub global, others prepend an inline (?ims x) group)
    "sub": (2, 3),
    "gsub": (2, 3),
    "scan": (1, 2),
    "splits": (1, 2),
    "capture": (1, 2),
    "match": (1, 2),
    "test": (1, 2),
    "explode": 0,
    "implode": 0,
    "utf8bytelength": 0,
    "with_entries": 1,
    # math / date / format batch (jq manual semantics)
    "round": 0,
    "pow": 2,
    "log": 0,
    "log2": 0,
    "log10": 0,
    "exp": 0,
    "exp2": 0,
    "exp10": 0,
    "todate": 0,
    "fromdate": 0,
    # broken-down UTC time quartet (jq manual: gmtime yields
    # [year, month0, mday, hour, min, sec, wday0, yday0] in C struct
    # tm field conventions — Sunday wday 0, 0-based yday)
    "gmtime": 0,
    "mktime": 0,
    "strftime": 1,
    "strptime": 1,
    "delpaths": 1,
    "trim": 0,
    "ltrim": 0,
    "rtrim": 0,
    "inside": 1,
    "index": 1,
    "rindex": 1,
    "indices": 1,
    "transpose": 0,
    "limit": 2,
    "error": 1,
    "@text": 0,
    "@json": 0,
    "@html": 0,
    "@uri": 0,
    "@csv": 0,
    "@tsv": 0,
    "@base64": 0,
    "@base64d": 0,
    # iteration (interp tier only; capped)
    "until": 2,
    "while": 2,
    "repeat": 1,
}
