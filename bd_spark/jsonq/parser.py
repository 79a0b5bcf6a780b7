"""Recursive-descent parser for the bd/jq expression language.

Grammar per the reference's nom PEG (query_nom.rs:73-104):

    Expr   <- Alt ('|'? Alt)*        pipe lowest; optional '|' makes
                                     juxtaposition chains (`.a.b`)
    Alt    <- Or ('//' Or)*          jq alternative (beyond-reference)
    Or     <- And ('||' And)*
    And    <- Compar ('&&' Compar)*
    Compar <- BitOr (('=='|'!='|'<='|'>='|'<'|'>') BitOr)*
    BitOr  <- BitXor ('bor' BitXor)*
    BitXor <- BitAnd ('^' BitAnd)*
    BitAnd <- Shift ('&' Shift)*
    Shift  <- Add (('<<'|'>>') Add)*
    Add    <- Mul (('+'|'-') Mul)*
    Mul    <- Unary (('*'|'/'|'%') Unary)*
    Unary  <- '-' Unary | '!' Unary | Primary
    Primary<- '(' Expr ')' | literal | '..' | dot-form | '[' Expr? ']'
              | '{' pairs '}' | builtin '(' args ')' | identifier

Parse-time rewrites (matching query_nom.rs):
  - `.[k]` with a single int/string item -> Index (query_nom.rs:697-712)
  - `{ident}` -> `{"ident": .ident}` (query_nom.rs:523-528)
  - inclusive slice end `..=b` -> b+1 (query_nom.rs:397,443)
"""

from __future__ import annotations

import json
import re

from bd_spark.jsonq import ast


class ParseError(ValueError):
    pass


_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<dotdoteq>\.\.=)
  | (?P<dotdot>\.\.(?!\.))
  | (?P<number>\d+(?:\.\d+(?!\.))?(?:[eE][+-]?\d+)?)
  | (?P<var>\$[A-Za-z_][A-Za-z0-9_]*)
  | (?P<fmt>@[A-Za-z][A-Za-z0-9]*)
  | (?P<op><<|>>|<=|>=|==|!=|&&|\|\||\|=|//=|//|\+=|-=|\*=|/=|%=|[-+*/%<>=!&^|?,:;(){}\[\].])
  | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
    """,
    re.VERBOSE,
)


def _scan_string(src: str, i: int) -> int:
    """Scan a string literal starting at src[i] == '"'; returns the
    index PAST the closing quote. Handles jq interpolation segments
    ``\\(...)`` — parens balance and nested string literals (which may
    themselves contain quotes and interpolations) are skipped whole,
    so `"a \\(.x // "d") b"` is ONE token."""
    j = i + 1
    n = len(src)
    while j < n:
        c = src[j]
        if c == "\\":
            if j + 1 < n and src[j + 1] == "(":
                depth, j = 1, j + 2
                while j < n and depth:
                    if src[j] == '"':
                        j = _scan_string(src, j)
                        continue
                    if src[j] == "(":
                        depth += 1
                    elif src[j] == ")":
                        depth -= 1
                    j += 1
                continue
            j += 2
            continue
        if c == '"':
            return j + 1
        j += 1
    raise ParseError("unterminated string literal")


def tokenize(src: str) -> list[tuple[str, str]]:
    toks: list[tuple[str, str]] = []
    i = 0
    while i < len(src):
        if src[i] == '"':
            end = _scan_string(src, i)
            toks.append(("string", src[i:end]))
            i = end
            continue
        m = _TOKEN_RE.match(src, i)
        if not m:
            raise ParseError(f"unexpected character {src[i]!r} at {i}")
        i = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        toks.append((kind, m.group()))
    toks.append(("eof", ""))
    return toks


def _subst(node: object, env: dict) -> object:
    """Substitute filter-param references (bare identifiers named in
    ``env``) with their argument ASTs — the call-by-name expansion of
    a jq ``def``'s filter parameters.  Field access (`.f`) parses as
    Index, not Identifier, so it is never captured.  ASTs are frozen
    dataclasses, so shared subtrees are safe."""
    import dataclasses

    if isinstance(node, ast.Identifier) and node.name in env:
        rep = env[node.name]
        return ast.Try(rep) if node.opt else rep
    if not dataclasses.is_dataclass(node):
        return node
    changes = {}
    for f in dataclasses.fields(node):
        v = getattr(node, f.name)
        nv = _subst_field(v, env)
        if nv is not v:
            changes[f.name] = nv
    return dataclasses.replace(node, **changes) if changes else node


def _subst_field(v: object, env: dict) -> object:
    """One field's worth of _subst: recurse into dataclasses and into
    (possibly nested) tuples — If.branches is a tuple of (cond, body)
    TUPLES, which a flat isinstance(x, dataclass) scan would skip."""
    import dataclasses

    if dataclasses.is_dataclass(v):
        return _subst(v, env)
    if isinstance(v, tuple):
        nv = tuple(_subst_field(x, env) for x in v)
        return v if all(a is b for a, b in zip(nv, v)) else nv
    return v


# self-recursive `def` expansion depth: each level inlines the body
# once per call SITE, so a walk()-style def (2 self-calls) costs
# sites^CAP body copies at the cap — branching defs get a small cap
# (8: walk covers nesting depth 8, tree stays <= 2^8 copies) while
# single-self-call defs (fact-style linear recursion) can afford a
# deeper one (32 copies, linear). Beyond-cap evaluation yields an
# in-band error (mirrors the interp's _ITER_CAP philosophy:
# bounded, loud).
_DEF_RECURSION_CAP_BRANCHING = 8
_DEF_RECURSION_CAP_LINEAR = 32


def _count_defcalls(node: object, name: str, nargs: int) -> int:
    """Number of self-call SITES in a def body (nested tuples like
    If.branches included)."""
    import dataclasses

    n = 0
    if (
        isinstance(node, ast.DefCall)
        and node.name == name
        and len(node.args) == nargs
    ):
        n += 1
    if dataclasses.is_dataclass(node):
        for f in dataclasses.fields(node):
            n += _count_defcalls(getattr(node, f.name), name, nargs)
    elif isinstance(node, tuple):
        for x in node:
            n += _count_defcalls(x, name, nargs)
    return n


def static_path(node: ast.Node) -> tuple | None:
    """The (key, ...) path a pure navigation chain denotes, or None
    if the node is not a static path (used by assignment and del)."""
    if isinstance(node, ast.Identity):
        return ()
    if isinstance(node, ast.Index) and not node.opt:
        return (node.key,)
    if isinstance(node, ast.Identifier) and not node.opt:
        return (node.name,)
    if isinstance(node, ast.Pipe):
        left = static_path(node.left)
        right = static_path(node.right)
        if left is not None and right is not None:
            return left + right
    return None


# jq standard-library defs not worth native engine surface: parsed
# once, preloaded into every Parser (user defs shadow them, like jq).
# walk uses the bounded-recursion expansion, so queries calling it
# evaluate through the interp tier (compiler._INTERP_TIER_NODES).
_PRELUDE_SRC = """
def values: select(. != null);
def nulls: select(type == "null");
def booleans: select(type == "boolean");
def numbers: select(type == "number");
def strings: select(type == "string");
def arrays: select(type == "array");
def objects: select(type == "object");
def iterables: select(type == "array" or type == "object");
def scalars: select(type != "array" and type != "object");
def trimstr(s): ltrimstr(s) | rtrimstr(s);
def keys_unsorted: keys;
def todateiso8601: todate;
def fromdateiso8601: fromdate;
def combinations: if length == 0 then []
                  else .[0][] as $x
                       | (.[1:] | combinations) as $w
                       | [$x] + $w end;
def walk(f): if type == "object" or type == "array"
             then map_values(walk(f)) else . end | f;
def recurse(f): .[., (f | recurse(f))];
def paths(f): . as $in
              | paths
              | select(. as $p | $in | getpath($p) | f);
.
"""
_PRELUDE_CACHE: list[dict] = []


def _prelude_defs() -> dict:
    if not _PRELUDE_CACHE:
        p = Parser(_PRELUDE_SRC, prelude=False)
        p.parse_program()
        _PRELUDE_CACHE.append(dict(p.defs))
    return _PRELUDE_CACHE[0]


class Parser:
    def __init__(self, src: str, prelude: bool = True):
        self.toks = tokenize(src)
        self.i = 0
        self._in_if = 0
        self._interp_only = False
        # (name, arity) -> (params, body) for jq `def`; None marks a
        # def whose body is still being parsed (recursion guard)
        self.defs: dict[tuple[str, int], tuple | None] = (
            dict(_prelude_defs()) if prelude else {}
        )

    # -- token helpers -------------------------------------------------
    def peek(self, k: int = 0) -> tuple[str, str]:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def at(self, text: str) -> bool:
        return self.peek()[1] == text and self.peek()[0] != "string"

    def at_kind(self, kind: str) -> bool:
        return self.peek()[0] == kind

    def take(self) -> tuple[str, str]:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, text: str) -> None:
        if not self.at(text):
            raise ParseError(f"expected {text!r}, got {self.peek()[1]!r}")
        self.take()

    def opt_flag(self) -> bool:
        if self.at("?"):
            self.take()
            return True
        return False

    # -- grammar -------------------------------------------------------
    def parse_program(self) -> ast.Node:
        if self.at_kind("eof"):
            return ast.Identity()  # empty program == identity (query.rs:88)
        node = self.parse_defs_then_expr()
        if not self.at_kind("eof"):
            raise ParseError(f"trailing input at {self.peek()[1]!r}")
        if self._interp_only:
            return ast.InterpOnly(node)
        return node

    # -- jq `def` (beyond-reference): parse-time macro expansion ------
    def _at_def(self) -> bool:
        return (
            self.at_kind("ident")
            and self.peek()[1] == "def"
            and self.peek(1)[0] == "ident"
        )

    def parse_defs_then_expr(self) -> ast.Node:
        """``def f: body; def g(x): body; expr`` — leading defs, then
        the expression they scope over.  Calls expand inline at parse
        time (filter params by substitution — call-by-name, like jq;
        `$value` params via `as`-bindings, so they evaluate ONCE
        against the call-site input).  Both engines evaluate the
        EXPANDED tree, so defs need zero compiler/interp surface.
        Recursive defs are rejected (no fixpoint in a macro
        expander)."""
        while self._at_def():
            self._parse_def()
        return self.parse_expr()

    def _parse_def(self) -> None:
        self.take()  # `def` (contextual: only ident-after-def forms)
        name = self.take()[1]
        params: list[str] = []
        if self.at("("):
            self.take()
            while True:
                kind, text = self.peek()
                if kind in ("var", "ident"):
                    self.take()
                    params.append(text)
                else:
                    raise ParseError(
                        f"def parameter must be name or $name, got {text!r}"
                    )
                if self.at(";") or self.at(","):
                    self.take()
                    continue
                break
            self.expect(")")
        self.expect(":")
        key = (name, len(params))
        snapshot = dict(self.defs)
        self.defs[key] = None  # placeholder marker while body parses
        body = self.parse_defs_then_expr()  # nested defs scope to body
        self.expect(";")
        self.defs = snapshot  # nested defs fall out of scope
        recursive = bool(_count_defcalls(body, name, len(params)))
        if recursive:
            # self-recursive def (jq `def walk(f): ...walk(f)...;`):
            # bounded macro expansion — inline the body CAP levels
            # deep, with an in-band error beyond the cap
            body = self._expand_recursion(name, tuple(params), body)
        self.defs[key] = (tuple(params), body, recursive)

    @staticmethod
    def _apply_def(
        params: tuple[str, ...], body: ast.Node, args: tuple
    ) -> ast.Node:
        """Bind one call: filter params by substitution
        (call-by-name, like jq); `$value` params via `as`-bindings,
        so they evaluate ONCE against the call-site input."""
        fenv: dict[str, ast.Node] = {}
        binds: list[tuple[str, ast.Node]] = []
        for p, a in zip(params, args):
            if p.startswith("$"):
                binds.append((p[1:], a))
            else:
                fenv[p] = a
        out = _subst(body, fenv) if fenv else body
        for vname, a in reversed(binds):
            out = ast.BindAs(a, vname, out)
        return out

    def _expand_recursion(
        self, name: str, params: tuple[str, ...], body: ast.Node
    ) -> ast.Node:
        import dataclasses

        sites = _count_defcalls(body, name, len(params))
        cap = (
            _DEF_RECURSION_CAP_LINEAR
            if sites == 1
            else _DEF_RECURSION_CAP_BRANCHING
        )
        err_node = ast.Builtin(
            "error",
            (ast.Literal(
                f'"{name}: recursion depth limit {cap} exceeded"'
            ),),
        )

        def expand(node: object, depth: int) -> object:
            if (
                isinstance(node, ast.DefCall)
                and node.name == name
                and len(node.args) == len(params)
            ):
                if depth <= 0:
                    return err_node
                # inline one level; DefCalls inside the inlined copy
                # (from the body template AND the call's args) expand
                # at depth-1, so this terminates
                return expand(
                    self._apply_def(params, body, node.args), depth - 1
                )
            if not dataclasses.is_dataclass(node):
                return node
            changes = {}
            for f in dataclasses.fields(node):
                v = getattr(node, f.name)
                nv = expand_field(v, depth)
                if nv is not v:
                    changes[f.name] = nv
            return dataclasses.replace(node, **changes) if changes else node

        def expand_field(v: object, depth: int) -> object:
            # nested tuples (If.branches) recursed like _subst_field
            if dataclasses.is_dataclass(v):
                return expand(v, depth)
            if isinstance(v, tuple):
                nv = tuple(expand_field(x, depth) for x in v)
                return v if all(a is b for a, b in zip(nv, v)) else nv
            return v

        return expand(body, cap)

    def _expand_def(self, name: str, args: list[ast.Node]) -> ast.Node:
        key = (name, len(args))
        entry = self.defs.get(key)
        if key in self.defs and entry is None:
            # call to a def whose body is still being parsed — a
            # self-recursive call site; leave a placeholder for the
            # bounded expansion at the end of _parse_def
            return ast.DefCall(name, tuple(args))
        if entry is None:
            arities = sorted(k[1] for k in self.defs if k[0] == name)
            raise ParseError(
                f"{name}/{len(args)} is not defined (have arities {arities})"
            )
        params, body, recursive = entry
        if recursive:
            # the expansion may nest STREAM ops arbitrarily deep —
            # route the whole program through the interp tier
            self._interp_only = True
        return self._apply_def(params, body, tuple(args))

    _PIPE_STARTERS = frozenset(
        ["(", "[", "{", ".", "!", "-"]
    )

    def parse_expr(self) -> ast.Node:
        node = self.parse_segment_with_assign()
        if self.at_kw("as"):
            return self.parse_bind_tail(node)
        while self.at("|"):
            self.take()
            seg = self.parse_segment_with_assign()
            if self.at_kw("as"):
                return ast.Pipe(node, self.parse_bind_tail(seg))
            node = ast.Pipe(node, seg)
        return node

    def parse_bind_tail(self, source: ast.Node) -> ast.Node:
        """``E as $x | B`` — `as` already peeked; the body is the
        whole rest of the expression (jq binds loosest)."""
        self.take()  # as
        if not self.at_kind("var"):
            raise ParseError(f"expected $name after as, got {self.peek()[1]!r}")
        name = self.take()[1][1:]
        self.expect("|")
        return ast.BindAs(source, name, self.parse_expr())

    def parse_segment(self) -> ast.Node:
        """One juxtaposition chain (`.a.b`, `.[] foo`) — stops at an
        explicit `|`, an assignment op, the contextual keyword `as`,
        or anything else (query_nom.rs:106-129)."""
        node = self.parse_alt()
        while (
            self.peek()[1] in self._PIPE_STARTERS
            or (self.at_kind("ident")
                and self.peek()[1] not in ("as", "and", "or"))
            or self.at_kind("dotdot")
        ) and not self.at_kind("eof"):
            node = ast.Pipe(node, self.parse_alt())
        return node

    def parse_segment_with_assign(self) -> ast.Node:
        """Segment, optionally followed by `= E` / `|= f` (binds
        tighter than `|`, per jq): `.a.b = 1 | .c` is
        `(.a.b = 1) | .c`, and the LHS is the WHOLE juxtaposition
        chain (`.a.b = 1` sets b inside a, returning the whole doc)."""
        node = self.parse_segment()
        while any(self.at(o) for o in self._ASSIGN_OPS):
            op = self.take()[1]
            rhs = self.parse_segment()
            path = static_path(node)
            if path is None:
                raise ParseError(
                    f"left side of {op} must be a static path (.a.b)"
                )
            if any(not isinstance(s, str) for s in path):
                # array-index path (`.a[0] = E`): desugar onto the
                # dynamic-path builtins — setpath(p; ...) handles int
                # segments; `|=`/arithmetic sugar read the old value
                # with getpath(p) (jq: the rhs/body sees the OLD
                # value at the path; `=`'s rhs sees the root)
                pathlit = ast.Literal(json.dumps(list(path)))
                if op == "=":
                    node = ast.Builtin("setpath", (pathlit, rhs))
                elif op == "|=":
                    node = ast.Builtin(
                        "setpath",
                        (pathlit,
                         ast.Pipe(ast.Builtin("getpath", (pathlit,)), rhs)),
                    )
                else:
                    node = ast.Builtin(
                        "setpath",
                        (pathlit,
                         ast.Binary(op[:-1],
                                    ast.Builtin("getpath", (pathlit,)),
                                    rhs)),
                    )
            elif op in ("=", "|="):
                node = ast.Assign(tuple(path), rhs, op == "|=")
            else:
                # jq arithmetic update: `.a += E` == `.a = .a + E`
                # (for static paths; E evaluated against the root)
                node = ast.Assign(
                    tuple(path), ast.Binary(op[:-1], node, rhs), False
                )
        return node

    _ASSIGN_OPS = ("=", "|=", "+=", "-=", "*=", "/=", "%=", "//=")

    def parse_alt(self) -> ast.Node:
        """jq `a // b` (alternative): beyond-reference usability —
        the reference dialect has no `//`; precedence per jq (below
        pipe, above `or`)."""
        node = self.parse_or()
        while self.at("//"):
            self.take()
            node = ast.Binary("//", node, self.parse_or())
        return node

    def parse_or(self) -> ast.Node:
        node = self.parse_and()
        # `or` is the jq keyword form (contextual: excluded from
        # juxtaposition in parse_segment, `.or` still parses as Index)
        while self.at("||") or self.at_kw("or"):
            self.take()
            node = ast.Binary("||", node, self.parse_and())
        return node

    def parse_and(self) -> ast.Node:
        node = self.parse_compar()
        while self.at("&&") or self.at_kw("and"):
            self.take()
            node = ast.Binary("&&", node, self.parse_compar())
        return node

    def parse_compar(self) -> ast.Node:
        node = self.parse_bitor()
        while self.peek()[1] in ("==", "!=", "<", "<=", ">", ">=") and not self.at_kind("string"):
            op = self.take()[1]
            node = ast.Binary(op, node, self.parse_bitor())
        return node

    def parse_bitor(self) -> ast.Node:
        node = self.parse_bitxor()
        while self.at_kind("ident") and self.peek()[1] == "bor":
            self.take()
            node = ast.Binary("bor", node, self.parse_bitxor())
        return node

    def parse_bitxor(self) -> ast.Node:
        node = self.parse_bitand()
        while self.at("^"):
            self.take()
            node = ast.Binary("^", node, self.parse_bitand())
        return node

    def parse_bitand(self) -> ast.Node:
        node = self.parse_shift()
        while self.at("&"):
            self.take()
            node = ast.Binary("&", node, self.parse_shift())
        return node

    def parse_shift(self) -> ast.Node:
        node = self.parse_add()
        while self.peek()[1] in ("<<", ">>"):
            op = self.take()[1]
            node = ast.Binary(op, node, self.parse_add())
        return node

    def parse_add(self) -> ast.Node:
        node = self.parse_mul()
        while self.peek()[1] in ("+", "-"):
            op = self.take()[1]
            node = ast.Binary(op, node, self.parse_mul())
        return node

    def parse_mul(self) -> ast.Node:
        node = self.parse_unary()
        while self.peek()[1] in ("*", "/", "%"):
            op = self.take()[1]
            node = ast.Binary(op, node, self.parse_unary())
        return node

    def parse_unary(self) -> ast.Node:
        if self.at("-"):
            self.take()
            return ast.Unary("-", self.parse_unary())
        if self.at("!"):
            self.take()
            return ast.Unary("!", self.parse_unary())
        return self.parse_primary()

    # -- primaries -----------------------------------------------------
    def parse_primary(self) -> ast.Node:
        node = self._parse_primary_core()
        # jq postfix brackets bind at PRIMARY level: `.a[0]`, `$d[0]`,
        # `keys[0]`, `(.x)[1:3]`, `[1,2][0]` all index/slice/iterate
        # the preceding term (so `.a + $d[0]` indexes $d, not the
        # sum). This replaces the old juxtaposition reading in which
        # `.a [0]` piped into LIST CONSTRUCTION — that jq-divergent
        # form silently built [0]; construction after navigation now
        # needs the explicit pipe (`.a | [0]`), exactly like jq.
        while self.at("["):
            node = ast.Pipe(node, self.parse_bracket_suffix())
        # jq postfix `?` on any primary term — `(E)?`, `keys?`,
        # `map(f)?`, `[...]?` — sugar for `try E` (errors drop).
        # Dot-forms consume their own `?` via opt flags before this
        # loop, so this only fires on the parenthesized/call forms
        # that previously raised "trailing input at '?'" (r11 fuzz).
        while self.at("?"):
            self.take()
            node = ast.Try(node)
        return node

    def _parse_primary_core(self) -> ast.Node:
        kind, text = self.peek()
        if self.at("("):
            self.take()
            # `(def f: ...; expr)` — defs scope to the parens
            snapshot = dict(self.defs)
            node = self.parse_defs_then_expr()
            self.defs = snapshot
            self.expect(")")
            return node
        if kind == "dotdot":
            self.take()
            return ast.Recurse()
        if self.at("."):
            return self.parse_dot_form()
        if kind == "number":
            self.take()
            return ast.Literal(_canon_number(text))
        if kind == "string":
            self.take()
            return _parse_string_token(text)
        if kind == "var":
            self.take()
            node: ast.Node = ast.Var(text[1:])
            # postfix navigation binds tightest: `$d.b`, `$d.[0]`,
            # `$d."k"` — so `.a + $d.b` is `.a + ($d.b)`, not
            # `(.a + $d) | .b`
            while self.at(".") and self.peek(1)[0] in (
                "ident", "string", "number"
            ) or (self.at(".") and self.peek(1)[1] == "["):
                node = ast.Pipe(node, self.parse_dot_form())
            return node
        if self.at("["):
            return self.parse_list_cons()
        if self.at("{"):
            return self.parse_dict_cons()
        if kind == "ident":
            return self.parse_ident_form()
        if kind == "fmt":
            self.take()
            # @text / @json are pure aliases — desugar at parse time
            if text == "@text":
                return ast.Builtin("tostring", ())
            if text == "@json":
                return ast.Builtin("tojson", ())
            if text not in ast.BUILTIN_ARITY:
                raise ParseError(f"unknown format string {text}")
            return ast.Builtin(text, ())
        raise ParseError(f"unexpected token {text!r}")

    def parse_dot_form(self) -> ast.Node:
        self.expect(".")
        kind, text = self.peek()
        if kind == "ident":
            # inside an if-tail the keywords then/elif/else/end are
            # NOT field names (`else . end`): use .["end"] there
            if self._in_if and text in self._IF_KWS:
                return ast.Identity()
            # `. as $x | ...` — `as` followed by a $var is the binding
            # keyword, not a field name (use .["as"] for the field)
            if text == "as" and self.peek(1)[0] == "var":
                return ast.Identity()
            self.take()
            return ast.Index(text, self.opt_flag())
        if kind == "string":
            self.take()
            return ast.Index(json.loads(text), self.opt_flag())
        if kind == "number":
            # `.0` positional index (ops.rs:251-317)
            self.take()
            if "." in text or "e" in text or "E" in text:
                raise ParseError(f"non-integer index .{text}")
            return ast.Index(int(text), self.opt_flag())
        if self.at("["):
            return self.parse_bracket_suffix()
        # lone `.` = identity
        return ast.Identity()

    def parse_bracket_suffix(self) -> ast.Node:
        """Everything after `.[` — itervalues / slice / iterate / index."""
        self.expect("[")
        if self.at("]"):
            self.take()
            return ast.IterValues(self.opt_flag())
        slice_node = self.try_parse_slice()
        if slice_node is not None:
            return slice_node
        items = [self.parse_iter_item()]
        while self.at(","):
            self.take()
            items.append(self.parse_iter_item())
        self.expect("]")
        opt = self.opt_flag()
        if len(items) == 1 and isinstance(items[0], ast.Index):
            return ast.Index(items[0].key, opt)  # `.[0]` / `.["k"]`
        return ast.Iter(tuple(items), opt)

    def parse_iter_item(self) -> ast.Node:
        """Items that are int/string literals become Index
        (query_nom.rs:697-712); otherwise a full expression."""
        kind, text = self.peek()
        nxt = self.peek(1)[1]
        if kind == "number" and nxt in (",", "]") and "." not in text:
            self.take()
            return ast.Index(int(text))
        if kind == "string" and nxt in (",", "]"):
            self.take()
            return ast.Index(json.loads(text))
        neg = self.i
        if self.at("-") and self.peek(1)[0] == "number" and self.peek(2)[1] in (",", "]"):
            self.take()
            t = self.take()[1]
            if "." not in t:
                return ast.Index(-int(t))
            self.i = neg
        return self.parse_expr_until_bracket()

    def parse_expr_until_bracket(self) -> ast.Node:
        # expressions inside `.[ ... ]` stop at ',' or ']'
        return self.parse_expr_until_comma()

    def try_parse_slice(self) -> ast.Node | None:
        """`a..b`, `a..=b`, `..b`, `a..`, `..` inside brackets
        (ops.rs:371-411, util.rs:4-23)."""
        start_i = self.i
        start: int | None = None
        sign = 1
        if self.at("-"):
            self.take()
            sign = -1
        if self.at_kind("number"):
            t = self.peek()[1]
            if "." not in t and "e" not in t and "E" not in t:
                self.take()
                start = sign * int(t)
            else:
                self.i = start_i
                return None
        elif sign == -1:
            self.i = start_i
            return None
        if not (
            self.at_kind("dotdot") or self.at_kind("dotdoteq")
            or self.at(":")
        ):
            self.i = start_i
            return None
        # `:` is jq's exclusive-end separator (`.a[1:3]`), equivalent
        # to the reference dialect's `..`
        inclusive = self.at_kind("dotdoteq")
        self.take()
        end: int | None = None
        esign = 1
        if self.at("-"):
            self.take()
            esign = -1
        if self.at_kind("number"):
            t = self.take()[1]
            if "." in t:
                raise ParseError("non-integer slice bound")
            end = esign * int(t)
        elif esign == -1:
            raise ParseError("dangling '-' in slice")
        if not self.at("]"):
            self.i = start_i
            return None
        self.take()
        if inclusive:
            if end is None:
                raise ParseError("..= requires an end bound")
            end += 1  # query_nom.rs:397,443
        return ast.Slice(start, end, self.opt_flag())

    def parse_list_cons(self) -> ast.Node:
        self.expect("[")
        if self.at("]"):
            self.take()
            return ast.ListCons(None)
        inner = self.parse_expr_list_as_iter()
        self.expect("]")
        return ast.ListCons(inner)

    def parse_expr_list_as_iter(self) -> ast.Node:
        """`[a, b]` collects the combined burst of a then b — comma at
        top level of a list literal behaves like Iter branches."""
        items = [self.parse_expr_until_comma()]
        while self.at(","):
            self.take()
            items.append(self.parse_expr_until_comma())
        if len(items) == 1:
            return items[0]
        return ast.Iter(tuple(items))

    def parse_expr_until_comma(self) -> ast.Node:
        done: ast.Node | None = None  # completed `|` prefix
        seg = self.parse_or()
        while True:
            if self.at_kw("as"):
                # bind source is the segment since the last `|`; the
                # body runs to the enclosing , ] or }
                self.take()
                if not self.at_kind("var"):
                    raise ParseError(
                        f"expected $name after as, got {self.peek()[1]!r}"
                    )
                name = self.take()[1][1:]
                self.expect("|")
                bound = ast.BindAs(seg, name, self.parse_expr_until_comma())
                return bound if done is None else ast.Pipe(done, bound)
            if self.at("|"):
                self.take()
                done = seg if done is None else ast.Pipe(done, seg)
                seg = self.parse_or()
            elif (
                self.peek()[1] in self._PIPE_STARTERS
                or (self.at_kind("ident")
                and self.peek()[1] not in ("as", "and", "or"))
                or self.at_kind("dotdot")
            ):
                seg = ast.Pipe(seg, self.parse_or())
            else:
                return seg if done is None else ast.Pipe(done, seg)

    def parse_dict_cons(self) -> ast.Node:
        self.expect("{")
        pairs: list[ast.DictPair] = []
        if not self.at("}"):
            pairs.append(self.parse_dict_pair())
            while self.at(","):
                self.take()
                pairs.append(self.parse_dict_pair())
        self.expect("}")
        return ast.DictCons(tuple(pairs))

    def parse_if_tail(self) -> ast.Node:
        """`if C then A (elif C then A)* (else B)? end` — jq
        conditional (beyond-reference); keywords are contextual, so
        `.if` / `{"if": 1}` field access is unaffected (those parse
        through dot-forms/string keys, never parse_ident_form)."""
        branches = []
        self._in_if += 1
        cond = self.parse_expr_until_kw()
        self.expect_kw("then")
        body = self.parse_expr_until_kw()
        branches.append((cond, body))
        while self.at_kw("elif"):
            self.take()
            c = self.parse_expr_until_kw()
            self.expect_kw("then")
            b = self.parse_expr_until_kw()
            branches.append((c, b))
        orelse: ast.Node = ast.Identity()
        if self.at_kw("else"):
            self.take()
            orelse = self.parse_expr_until_kw()
        self.expect_kw("end")
        self._in_if -= 1
        return ast.If(tuple(branches), orelse)

    _IF_KWS = ("then", "elif", "else", "end")

    def at_kw(self, kw: str) -> bool:
        k, t = self.peek()
        return k == "ident" and t == kw

    def expect_kw(self, kw: str) -> None:
        if not self.at_kw(kw):
            raise ParseError(f"expected {kw!r}, got {self.peek()[1]!r}")
        self.take()

    def parse_expr_until_kw(self) -> ast.Node:
        """parse_expr variant that stops at an if-keyword instead of
        treating it as a juxtaposition identifier."""
        done: ast.Node | None = None  # completed `|` prefix
        seg = self.parse_alt()
        while True:
            if self.at_kw("as"):
                # bind source is the segment since the last `|`
                bound = self.parse_bind_tail_until_kw(seg)
                return bound if done is None else ast.Pipe(done, bound)
            if self.at("|"):
                self.take()
                done = seg if done is None else ast.Pipe(done, seg)
                seg = self.parse_alt()
            elif self.at_kind("ident") and self.peek()[1] in self._IF_KWS:
                break
            elif (
                self.peek()[1] in self._PIPE_STARTERS
                or self.at_kind("ident")
                or self.at_kind("dotdot")
            ) and not self.at_kind("eof"):
                seg = ast.Pipe(seg, self.parse_alt())
            else:
                break
        return seg if done is None else ast.Pipe(done, seg)

    def parse_bind_tail_until_kw(self, source: ast.Node) -> ast.Node:
        """`as` binding inside an if-branch: the body stops at the
        next if-keyword instead of consuming it."""
        self.take()  # as
        if not self.at_kind("var"):
            raise ParseError(f"expected $name after as, got {self.peek()[1]!r}")
        name = self.take()[1][1:]
        self.expect("|")
        return ast.BindAs(source, name, self.parse_expr_until_kw())

    def parse_dict_pair(self) -> ast.DictPair:
        kind, text = self.peek()
        if self.at("("):
            self.take()
            key: ast.Node = self.parse_expr()
            self.expect(")")
            self.expect(":")
            return ast.DictPair(key, self.parse_expr_until_comma())
        if kind == "string":
            self.take()
            key = ast.Literal(_canon_string(text))
            self.expect(":")
            return ast.DictPair(key, self.parse_expr_until_comma())
        if kind == "ident":
            name = self.take()[1]
            if self.at(":"):
                self.take()
                return ast.DictPair(ast.Literal(json.dumps(name)), self.parse_expr_until_comma())
            # `{ident}` -> {"ident": .ident} (query_nom.rs:523-528)
            return ast.DictPair(ast.Literal(json.dumps(name)), ast.Index(name))
        raise ParseError(f"bad dict key {text!r}")

    # regex builtins accepting a trailing flag-string arg; value =
    # the arity WITHOUT flags
    _FLAGGABLE = {"test": 1, "scan": 1, "splits": 1, "capture": 1,
                  "match": 1, "sub": 2, "gsub": 2}

    def _regex_flags_desugar(
        self, name: str, args: list
    ) -> tuple[str, tuple]:
        """Fold a literal flag string into the pattern at parse time:
        [imsx] become an inline `(?ims x)` group (understood by both
        Java and Python regex, so zero engine surface), `g` turns sub
        into gsub and match into match-all.  match normalizes to an
        internal arity-2 form (pattern, global-bool)."""
        base = self._FLAGGABLE[name]
        flags = ""
        if len(args) > base:
            fl = args[base]
            if not (isinstance(fl, ast.Literal)
                    and fl.text.lstrip().startswith('"')):
                raise ParseError(f"{name} flags must be a string literal")
            flags = json.loads(fl.text)
            bad = [c for c in flags if c not in "gimsx"]
            if bad:
                raise ParseError(f"unsupported regex flags {flags!r}")
            args = args[:base]
        if "g" in flags and name in ("test", "capture"):
            raise ParseError(f"{name} does not accept the g flag")
        inline = "".join(c for c in "imsx" if c in flags)
        if inline:
            pat = args[0]
            pre = f"(?{inline})"
            if isinstance(pat, ast.Literal) and pat.text.lstrip().startswith('"'):
                newpat: ast.Node = ast.Literal(
                    json.dumps(pre + json.loads(pat.text))
                )
            else:
                newpat = ast.Binary("+", ast.Literal(json.dumps(pre)), pat)
            args = [newpat, *args[1:]]
        if name == "sub" and "g" in flags:
            name = "gsub"
        if name == "match":
            args = [args[0], ast.Literal("true" if "g" in flags else "false")]
        return name, tuple(args)

    def parse_ident_form(self) -> ast.Node:
        name = self.take()[1]
        if name in ("null", "true", "false"):
            return ast.Literal(name)
        if name == "if":
            return self.parse_if_tail()
        # user `def` call — shadows builtins, expands inline
        if any(k[0] == name for k in self.defs):
            args: list[ast.Node] = []
            if self.at("(") and any(
                k[0] == name and k[1] > 0 for k in self.defs
            ):
                self.take()
                args.append(self.parse_expr())
                while self.at(";") or self.at(","):
                    self.take()
                    args.append(self.parse_expr())
                self.expect(")")
            if (name, len(args)) not in self.defs and self._builtin_accepts(
                name, len(args)
            ):
                # a def exists at another arity only — fall back to
                # the builtin (e.g. prelude paths/1 vs builtin paths/0)
                return self._finish_builtin(name, tuple(args))
            return self._expand_def(name, args)
        if name in ("reduce", "foreach"):
            source = self.parse_segment()
            self.expect_kw("as")
            if not self.at_kind("var"):
                raise ParseError(
                    f"expected $name after {name} ... as, got {self.peek()[1]!r}"
                )
            var = self.take()[1][1:]
            self.expect("(")
            init = self.parse_expr()
            self.expect(";")
            update = self.parse_expr()
            self.expect(")")
            cls = ast.Reduce if name == "reduce" else ast.Foreach
            return cls(source, var, init, update)
        if name == "try":
            operand = self.parse_unary()
            if self.at_kw("catch"):
                raise ParseError(
                    "catch is not supported; `try f` maps errors to empty"
                )
            return ast.Try(operand)
        if name in ast.BUILTIN_ARITY:
            if name in ("tostream", "fromstream"):
                # stream-event builtins (r8): tostream's close-marker
                # bookkeeping and fromstream's cross-event state
                # machine have no Catalyst form — the whole program
                # evaluates through the Arrow-batched interp tier
                self._interp_only = True
            arity = ast.BUILTIN_ARITY[name]
            arities = (arity,) if isinstance(arity, int) else arity
            if 0 in arities and not self.at("("):
                # zero-arg form of a builtin that may also take args
                # (e.g. bare `first` vs `first(f)`): take the no-paren
                # path whenever 0 is an accepted arity
                return ast.Builtin(name, ())
            self.expect("(")
            args = [self.parse_expr()]
            # jq separates builtin args with `;` (`,` also accepted)
            while self.at(";") or self.at(","):
                self.take()
                args.append(self.parse_expr())
            self.expect(")")
            return self._finish_builtin(name, tuple(args))
        return self.parse_ident_fallback(name)

    @staticmethod
    def _builtin_accepts(name: str, nargs: int) -> bool:
        arity = ast.BUILTIN_ARITY.get(name)
        if arity is None:
            return False
        arities = (arity,) if isinstance(arity, int) else arity
        return nargs in arities

    def _finish_builtin(self, name: str, args_t: tuple) -> ast.Node:
        """Arity check + parse-time desugars, shared by the direct
        builtin path and the def-arity-mismatch fallback."""
        args = list(args_t)
        arity = ast.BUILTIN_ARITY[name]
        arities = (arity,) if isinstance(arity, int) else arity
        if len(args) not in arities:
            raise ParseError(
                f"{name} takes {'/'.join(map(str, arities))} arg(s)"
            )
        if name in self._FLAGGABLE:
            name, args = self._regex_flags_desugar(name, args)
        if name == "first" and len(args) == 1:
            # jq: def first(f): limit(1; f);
            return ast.Builtin("limit", (ast.Literal("1"), args[0]))
        if name == "setpath" and len(args) == 2:
            # a literal all-string path is exactly the `.a.b = E`
            # Assign (same create-missing-objects / scalar-
            # intermediate-error / rhs-against-root semantics), which
            # the interp walks directly. Int segments / dynamic paths
            # stay the setpath builtin. Neither has a staged lane.
            segs = _literal_str_path(args[0])
            if segs:
                return ast.Assign(path=segs, value=args[1], update=False)
        if name == "map_values":
            # this dialect's map (ops.rs:1631) applies the body
            # value-wise, taking the FIRST output per element and
            # dropping the element/key on empty — jq's map_values
            # (`.[] |= f`) semantics on both arrays and objects.
            # Divergence from jq's bare `map` (which flattens
            # multi-output bodies) is documented in COVERAGE.md;
            # multi-output bodies are rejected at compile time.
            return ast.Builtin("map", tuple(args))
        if name == "last" and len(args) == 1:
            # jq: def last(f): reduce f as $x (null; $x);
            # == [f] | if length == 0 then null else .[-1] end
            # (the explicit guard matches reduce's null init on an
            # empty stream — bare .[-1] on [] is out-of-bounds in
            # this dialect, util.rs:25-29 neg-wrap)
            return ast.Pipe(
                ast.ListCons(args[0]),
                ast.If(
                    (
                        (
                            ast.Binary(
                                "==",
                                ast.Builtin("length", ()),
                                ast.Literal("0"),
                            ),
                            ast.Literal("null"),
                        ),
                    ),
                    ast.Index(-1),
                ),
            )
        if name == "nth" and len(args) == 1:
            # jq: def nth($n): .[$n]; (dynamic index via getpath)
            return ast.Builtin("getpath", (ast.ListCons(args[0]),))
        if name == "nth" and len(args) == 2:
            # jq: def nth($n; g): if $n < 0 then error
            #     else last(limit($n + 1; g)) end;
            # (jq quirk preserved: a stream shorter than n+1
            # yields its LAST element, not an error)
            var = "__nth"
            return ast.BindAs(
                args[0],
                var,
                ast.If(
                    (
                        (
                            ast.Binary(
                                "<", ast.Var(var), ast.Literal("0")
                            ),
                            ast.Builtin(
                                "error",
                                (ast.Literal(
                                    '"nth doesn\'t support negative'
                                    ' indices"'
                                ),),
                            ),
                        ),
                    ),
                    ast.Pipe(
                        ast.ListCons(
                            ast.Builtin(
                                "limit",
                                (
                                    ast.Binary(
                                        "+",
                                        ast.Var(var),
                                        ast.Literal("1"),
                                    ),
                                    args[1],
                                ),
                            )
                        ),
                        ast.If(
                            (
                                (
                                    ast.Binary(
                                        "==",
                                        ast.Builtin("length", ()),
                                        ast.Literal("0"),
                                    ),
                                    ast.Literal("null"),
                                ),
                            ),
                            ast.Index(-1),
                        ),
                    ),
                ),
            )
        if name == "range" and len(args) == 2:
            # normalize range(a; b) -> range(a; b; 1); range(n)
            # keeps its dedicated 1-arg path
            args = [args[0], args[1], ast.Literal("1")]
        if name == "inside":
            # jq: def inside(xs): . as $x | xs | contains($x);
            return ast.BindAs(
                ast.Identity(),
                "__inside",
                ast.Pipe(
                    args[0],
                    ast.Builtin("contains", (ast.Var("__inside"),)),
                ),
            )
        if name == "with_entries":
            # jq defines with_entries(f) as the pipeline below;
            # desugaring here means zero engine-side surface
            return ast.Pipe(
                ast.Builtin("to_entries", ()),
                ast.Pipe(
                    ast.Builtin("map", (args[0],)),
                    ast.Builtin("from_entries", ()),
                ),
            )
        return ast.Builtin(name, tuple(args))
    def parse_ident_fallback(self, name: str) -> ast.Node:
        # bare identifier ≡ `.name` with int fallback (ops.rs:320-368)
        return ast.Identifier(name, self.opt_flag())


def _literal_str_path(node: ast.Node) -> tuple[str, ...] | None:
    """Non-empty tuple of object keys when `node` is a literal array
    of string literals (`["a", "b"]`), else None — the setpath ->
    Assign fast-lane guard."""
    if not isinstance(node, ast.ListCons) or node.expr is None:
        return None
    items = (
        list(node.expr.items)
        if isinstance(node.expr, ast.Iter)
        else [node.expr]
    )
    segs: list[str] = []
    for it in items:
        if not (
            isinstance(it, ast.Literal) and it.text.lstrip().startswith('"')
        ):
            return None
        try:
            segs.append(json.loads(it.text))
        except ValueError:
            return None
    return tuple(segs) or None


def _parse_string_token(tok: str) -> ast.Node:
    """A string token → Literal, or StrInterp when it contains
    ``\\(...)`` interpolation segments."""
    if "\\(" not in tok:
        return ast.Literal(_canon_string(tok))
    parts: list = []
    buf: list[str] = []
    j, n = 1, len(tok) - 1  # skip surrounding quotes
    while j < n:
        c = tok[j]
        if c == "\\" and j + 1 < n and tok[j + 1] == "(":
            if buf:
                parts.append(json.loads('"' + "".join(buf) + '"'))
                buf = []
            depth, k = 1, j + 2
            while k < n and depth:
                if tok[k] == '"':
                    k = _scan_string(tok, k)
                    continue
                if tok[k] == "(":
                    depth += 1
                elif tok[k] == ")":
                    depth -= 1
                k += 1
            if depth:
                raise ParseError("unterminated \\( interpolation")
            parts.append(parse(tok[j + 2 : k - 1]))
            j = k
            continue
        if c == "\\":
            buf.append(tok[j : j + 2])
            j += 2
            continue
        buf.append(c)
        j += 1
    if buf:
        parts.append(json.loads('"' + "".join(buf) + '"'))
    return ast.StrInterp(tuple(parts))


def _canon_number(text: str) -> str:
    if "." in text or "e" in text or "E" in text:
        return repr(float(text))
    return str(int(text))


def _canon_string(tok: str) -> str:
    return json.dumps(json.loads(tok), ensure_ascii=False)


def parse(src: str) -> ast.Node:
    """Parse a bd/jq query string into an AST."""
    return Parser(src).parse_program()
