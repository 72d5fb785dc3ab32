"""The one ShExC front end: ShExC → ShExJ, and ShExC → SchemaDict.

Parses the full ShEx Compact syntax (the W3C ShEx 2.1 grammar,
shex.io — public spec) and emits the ShExJ JSON AST, byte-compatible
with the W3C suite's ``.json`` twins, so a bare ``.shex`` file flows
through the SAME shexj.py conversion path as ShExJ input — one
downstream semantics, two concrete syntaxes, exactly like the
reference (ShExSchema.scala:29-41 lists ShExC first).

``parse_shexc`` is the SLang reading of a ShExC schema: the ShExJ AST
with every Shape closed over the predicates it mentions
(ShEx2SLang.scala:95-101), then shexj.py's mapping. ``shexc_to_shexj``
keeps the spec's open shapes (the ShEx suite reads that).

The reference parses ShExC with an ANTLR grammar
(modules/shex/.../compact/Parser.scala); this is an original
hand-written lazy lexer + recursive-descent parser producing the same
abstract syntax. Also parses the ShEx 2.1 ``ABSTRACT`` / ``EXTENDS``
extension (emitted as the standard "extends"/"abstract" ShExJ keys;
flattening happens in shexj.py).
"""

from __future__ import annotations

import re

from .model import RDF_TYPE, XSD
from .shapes import SchemaDict, SchemaError
from .shexj import UnsupportedShExJ, parse_shexj


class ShExCError(ValueError):
    """Syntax error in a ShExC document."""


# ------------------------------------------------------------ terminals

_PCB = ("A-Za-z\u00C0-\u00D6\u00D8-\u00F6\u00F8-\u02FF\u0370-\u037D"
        "\u037F-\u1FFF\u200C-\u200D\u2070-\u218F\u2C00-\u2FEF"
        "\u3001-\uD7FF\uF900-\uFDCF\uFDF0-\uFFFD\U00010000-\U000EFFFF")
_PCU = _PCB + "_"
_PC = _PCU + r"0-9\-\u00B7\u0300-\u036F\u203F-\u2040"

_PN_PREFIX = rf"[{_PCB}](?:[{_PC}.]*[{_PC}])?"
_PLX = r"(?:%[0-9A-Fa-f]{2}|\\[_~.\-!$&'()*+,;=/?#@%])"
_PN_LOCAL = (rf"(?:[{_PCU}:0-9]|{_PLX})"
             rf"(?:(?:[{_PC}.:]|{_PLX})*(?:[{_PC}:]|{_PLX}))?")

_PNAME_RE = re.compile(rf"(?:{_PN_PREFIX})?:(?:{_PN_LOCAL})?")
_BNODE_RE = re.compile(rf"_:[{_PCU}0-9](?:[{_PC}.]*[{_PC}])?")
_LANGTAG_RE = re.compile(r"[A-Za-z]+(?:-[A-Za-z0-9]+)*")
_NUMBER_RE = re.compile(
    r"[+-]?(?:\d+\.\d*[eE][+-]?\d+|\.?\d+[eE][+-]?\d+"   # DOUBLE
    r"|\d*\.\d+"                                          # DECIMAL
    r"|\d+)")                                             # INTEGER
_IRIREF_RE = re.compile(r'<([^\x00-\x20<>"{}|^`\\]|\\u[0-9A-Fa-f]{4}'
                        r'|\\U[0-9A-Fa-f]{8})*>')
_REGEXP_RE = re.compile(
    r"/((?:[^/\\\n\r]|\\.)+)/([smix]*)", re.DOTALL)
_KEYWORDS = {
    "prefix", "base", "import", "start", "external", "closed", "extra",
    "literal", "iri", "bnode", "nonliteral", "and", "or", "not",
    "mininclusive", "minexclusive", "maxinclusive", "maxexclusive",
    "length", "minlength", "maxlength", "totaldigits", "fractiondigits",
    "abstract", "extends", "restricts",
}
_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")

_ECHAR = {"t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
          '"': '"', "'": "'", "\\": "\\"}


def _unescape_string(raw: str) -> str:
    out, i, n = [], 0, len(raw)
    while i < n:
        c = raw[i]
        if c == "\\":
            if i + 1 >= n:
                raise ShExCError("dangling backslash in string")
            e = raw[i + 1]
            if e in _ECHAR:
                out.append(_ECHAR[e]); i += 2
            elif e == "u":
                out.append(chr(int(raw[i + 2:i + 6], 16))); i += 6
            elif e == "U":
                out.append(chr(int(raw[i + 2:i + 10], 16))); i += 10
            else:
                raise ShExCError(f"bad string escape '\\{e}'")
        else:
            out.append(c); i += 1
    return "".join(out)


def _unescape_iri(raw: str) -> str:
    def sub(m):
        s = m.group(0)
        return chr(int(s[2:], 16))
    return re.sub(r"\\u[0-9A-Fa-f]{4}|\\U[0-9A-Fa-f]{8}", sub, raw)


def _unescape_regexp(raw: str) -> str:
    # spec: \/ → /; UCHAR decoded; every other backslash pair verbatim
    out, i, n = [], 0, len(raw)
    while i < n:
        c = raw[i]
        if c == "\\" and i + 1 < n:
            e = raw[i + 1]
            if e == "/":
                out.append("/"); i += 2
            elif e == "u":
                out.append(chr(int(raw[i + 2:i + 6], 16))); i += 6
            elif e == "U":
                out.append(chr(int(raw[i + 2:i + 10], 16))); i += 10
            else:
                out.append(c); out.append(e); i += 2
        else:
            out.append(c); i += 1
    return "".join(out)


def _unescape_local(raw: str) -> str:
    # PN_LOCAL_ESC: drop the backslash; %XX percent-triples stay as-is
    return re.sub(r"\\([_~.\-!$&'()*+,;=/?#@%])", r"\1", raw)


class _Tok:
    __slots__ = ("kind", "value", "pos", "extra")

    def __init__(self, kind, value, pos, extra=None):
        self.kind, self.value, self.pos, self.extra = kind, value, pos, extra

    def __repr__(self):
        return f"{self.kind}({self.value!r})"


class _Lexer:
    """Lazy tokenizer; the parser pulls tokens and can request a CODE
    block re-scan at the current position (semantic actions)."""

    _PUNCT2 = ("^^",)
    _PUNCT1 = "{}()[];|.,~$&=*+?^%-"

    def __init__(self, text: str):
        self.text = text
        self.i = 0
        self.n = len(text)
        self._peeked: list[_Tok] = []

    # -- whitespace / comments
    def _skip_ws(self) -> None:
        t, i, n = self.text, self.i, self.n
        while i < n:
            c = t[i]
            if c in " \t\r\n":
                i += 1
            elif c == "#":
                j = t.find("\n", i)
                i = n if j < 0 else j + 1
            elif c == "/" and t.startswith("/*", i):
                j = t.find("*/", i + 2)
                if j < 0:
                    raise ShExCError("unterminated /* comment")
                i = j + 2
            else:
                break
        self.i = i

    def peek(self, k: int = 0) -> _Tok:
        while len(self._peeked) <= k:
            self._peeked.append(self._scan())
        return self._peeked[k]

    def next(self) -> _Tok:
        if self._peeked:
            return self._peeked.pop(0)
        return self._scan()

    def read_code(self) -> str | None:
        """Called by the parser right after a semAct name: '%' ends the
        act without code; '{...%}' is a code block (CODE terminal)."""
        assert not self._peeked, "read_code needs an undisturbed stream"
        self._skip_ws()
        t, i = self.text, self.i
        if i < self.n and t[i] == "%":
            self.i = i + 1
            return None
        if i >= self.n or t[i] != "{":
            raise ShExCError("expected '%' or code block after semAct name")
        j = i + 1
        out = []
        while True:
            if j + 1 >= self.n:
                raise ShExCError("unterminated code block")
            c = t[j]
            if c == "\\" and j + 1 < self.n and t[j + 1] in "%\\":
                out.append(t[j + 1]); j += 2
            elif c == "\\" and j + 1 < self.n and t[j + 1] == "u":
                out.append(chr(int(t[j + 2:j + 6], 16))); j += 6
            elif c == "\\" and j + 1 < self.n and t[j + 1] == "U":
                out.append(chr(int(t[j + 2:j + 10], 16))); j += 10
            elif c == "%" and t[j + 1] == "}":
                self.i = j + 2
                return "".join(out)
            else:
                out.append(c); j += 1

    def _scan(self) -> _Tok:
        self._skip_ws()
        t, i, n = self.text, self.i, self.n
        if i >= n:
            return _Tok("eof", None, i)
        c = t[i]
        # IRIREF
        if c == "<":
            m = _IRIREF_RE.match(t, i)
            if not m:
                raise ShExCError(f"bad IRIREF at {i}: {t[i:i+30]!r}")
            self.i = m.end()
            return _Tok("iriref", _unescape_iri(m.group(0)[1:-1]), i)
        # strings
        if c in "'\"":
            return self._scan_string(i)
        # annotation marker vs regexp
        if c == "/":
            if t.startswith("//", i):
                self.i = i + 2
                return _Tok("annot", "//", i)
            m = _REGEXP_RE.match(t, i)
            if not m:
                raise ShExCError(f"bad REGEXP at {i}: {t[i:i+30]!r}")
            self.i = m.end()
            return _Tok("regexp", _unescape_regexp(m.group(1)), i,
                        m.group(2))
        # @: language tag or shape-ref marker
        if c == "@":
            m = _PNAME_RE.match(t, i + 1)
            if m and m.end() > i + 1:
                self.i = m.end()
                return _Tok("at_pname", m.group(0), i)
            m = _LANGTAG_RE.match(t, i + 1)
            if m:
                self.i = m.end()
                return _Tok("langtag", m.group(0), i)
            self.i = i + 1
            return _Tok("@", "@", i)
        # blank node
        if t.startswith("_:", i):
            m = _BNODE_RE.match(t, i)
            if not m:
                raise ShExCError(f"bad blank node label at {i}")
            self.i = m.end()
            return _Tok("bnode", m.group(0), i)
        # numbers (signed)
        if c.isdigit() or (c in "+-." and _NUMBER_RE.match(t, i)
                           and _NUMBER_RE.match(t, i).end() > i + (c != ".")):
            m = _NUMBER_RE.match(t, i)
            if m and (c.isdigit() or len(m.group(0)) > 1):
                # '.' alone must stay punctuation (wildcard / EOL dot)
                if not (c == "." and not re.match(r"\.\d", t[i:i + 2])):
                    self.i = m.end()
                    return _Tok("number", m.group(0), i)
        if t.startswith("^^", i):
            self.i = i + 2
            return _Tok("^^", "^^", i)
        # prefixed names / keywords / 'a' / true / false
        m = _PNAME_RE.match(t, i)
        if m and ":" in m.group(0):
            self.i = m.end()
            return _Tok("pname", m.group(0), i)
        m = re.match(r"[A-Za-z][A-Za-z0-9_]*", t[i:])
        if m:
            word = m.group(0)
            lw = word.lower()
            if lw in _KEYWORDS:
                self.i = i + len(word)
                return _Tok("kw", lw, i)
            if word == "a":
                self.i = i + 1
                return _Tok("a", "a", i)
            if word in ("true", "false"):
                self.i = i + len(word)
                return _Tok("boolean", word, i)
            raise ShExCError(f"unexpected word {word!r} at {i}")
        if c in self._PUNCT1:
            self.i = i + 1
            return _Tok(c, c, i)
        raise ShExCError(f"unexpected character {c!r} at {i}")

    def _scan_string(self, i: int) -> _Tok:
        t, n = self.text, self.n
        q = t[i]
        if t.startswith(q * 3, i):
            close = q * 3
            j = i + 3
            while True:
                k = t.find(close, j)
                if k < 0:
                    raise ShExCError("unterminated long string")
                # count preceding backslashes
                b = 0
                while t[k - 1 - b] == "\\":
                    b += 1
                if b % 2 == 0:
                    raw = t[i + 3:k]
                    self.i = k + 3
                    return _Tok("string", _unescape_string(raw), i)
                j = k + 1
        j = i + 1
        out_end = None
        while j < n:
            c = t[j]
            if c == "\\":
                j += 2
                continue
            if c == q:
                out_end = j
                break
            if c in "\n\r":
                raise ShExCError("newline in short string")
            j += 1
        if out_end is None:
            raise ShExCError("unterminated string")
        self.i = out_end + 1
        return _Tok("string", _unescape_string(t[i + 1:out_end]), i)


# ------------------------------------------------------------ parser

def _dicts(x):
    """Every dict in a JSON tree, parents first."""
    if isinstance(x, dict):
        yield x
        for v in x.values():
            yield from _dicts(v)
    elif isinstance(x, list):
        for v in x:
            yield from _dicts(v)


def _resolve(base: str | None, ref: str) -> str:
    if _SCHEME_RE.match(ref) or base is None:
        return ref
    from urllib.parse import urljoin
    return urljoin(base, ref)


class _Parser:
    def __init__(self, text: str, base: str | None = None):
        self.lx = _Lexer(text)
        self.base = base
        self.prefixes: dict[str, str] = {}

    # -- helpers
    def _err(self, msg: str) -> ShExCError:
        return ShExCError(msg)

    def _expect(self, kind: str) -> _Tok:
        tok = self.lx.next()
        if tok.kind != kind:
            raise self._err(f"expected {kind}, got {tok!r}")
        return tok

    def _at(self, kind: str, value=None) -> bool:
        tok = self.lx.peek()
        return tok.kind == kind and (value is None or tok.value == value)

    def _eat(self, kind: str, value=None) -> _Tok | None:
        if self._at(kind, value):
            return self.lx.next()
        return None

    def _pname_to_iri(self, pname: str) -> str:
        pfx, _, local = pname.partition(":")
        if pfx not in self.prefixes:
            raise self._err(f"undeclared prefix '{pfx}:'")
        return self.prefixes[pfx] + _unescape_local(local)

    def _iri(self) -> str:
        tok = self.lx.next()
        if tok.kind == "iriref":
            return _resolve(self.base, tok.value)
        if tok.kind == "pname":
            return self._pname_to_iri(tok.value)
        raise self._err(f"expected IRI, got {tok!r}")

    def _at_iri(self) -> bool:
        return self._at("iriref") or self._at("pname")

    # -- document
    def parse(self) -> dict:
        schema: dict = {"@context": "http://www.w3.org/ns/shex.jsonld",
                        "type": "Schema"}
        shapes: list[dict] = []
        imports: list[str] = []
        start_acts: list[dict] = []
        while True:
            tok = self.lx.peek()
            if tok.kind == "eof":
                break
            if tok.kind == "kw" and tok.value == "prefix":
                self.lx.next()
                ns = self._expect("pname").value
                if not ns.endswith(":") or ns.count(":") != 1:
                    raise self._err(f"bad prefix declaration {ns!r}")
                iri = self._expect("iriref").value
                self.prefixes[ns[:-1]] = _resolve(self.base, iri)
            elif tok.kind == "kw" and tok.value == "base":
                self.lx.next()
                iri = self._expect("iriref").value
                self.base = _resolve(self.base, iri)
            elif tok.kind == "kw" and tok.value == "import":
                self.lx.next()
                imports.append(_resolve(self.base,
                                        self._expect("iriref").value))
            elif tok.kind == "kw" and tok.value == "start":
                self.lx.next()
                if not self._eat("="):
                    raise self._err("expected '=' after start")
                schema["start"] = self.shape_expression(inline=True)
            elif tok.kind == "%":
                self.lx.next()
                start_acts.append(self.sem_act())
            else:
                shapes.append(self.shape_expr_decl())
        if imports:
            schema["imports"] = imports
        if start_acts:
            schema["startActs"] = start_acts
        if shapes:
            schema["shapes"] = shapes
        for d in _dicts(schema):
            d.pop("_paren", None)  # internal grouping marker
        return schema

    def sem_act(self) -> dict:
        """'%' already consumed: name then CODE-or-'%'."""
        name = self._iri()
        code = self.lx.read_code()
        act = {"type": "SemAct", "name": name}
        if code is not None:
            act["code"] = code
        return act

    def _sem_acts(self) -> list[dict]:
        acts = []
        while self._eat("%"):
            acts.append(self.sem_act())
        return acts

    def shape_expr_decl(self) -> dict:
        is_abstract = bool(self._eat("kw", "abstract"))
        tok = self.lx.peek()
        if tok.kind == "bnode":
            label = self.lx.next().value
        else:
            label = self._iri()
        if self._eat("kw", "external"):
            decl: dict = {"id": label, "type": "ShapeExternal"}
        else:
            expr = self.shape_expression()
            if isinstance(expr, str):
                # a bare reference as the whole declaration body is not
                # valid shexDoc (negativeStructure) — wrap explicitly
                raise self._err("declaration body is a bare shape ref")
            decl = dict(expr)
            decl["id"] = label
            # keep "id" first for twin-readability (dict order only)
            decl = {"id": label, **{k: v for k, v in decl.items()
                                    if k != "id"}}
        if is_abstract:
            decl["abstract"] = True
        return decl

    # -- shape expressions (precedence: Or > And > Not > atom)
    def shape_expression(self, inline: bool = False):
        members = [self.shape_and(inline)]
        while self._eat("kw", "or"):
            members.append(self.shape_and(inline))
        if len(members) == 1:
            return members[0]
        return {"type": "ShapeOr", "shapeExprs": members}

    def shape_and(self, inline: bool):
        members = [self.shape_not(inline)]
        while self._eat("kw", "and"):
            members.append(self.shape_not(inline))
        if len(members) == 1:
            return members[0]
        # NodeConstraint-then-Shape juxtaposition inside AND flattens;
        # parenthesized sub-ANDs (marked _paren) keep their nesting
        flat = []
        for m in members:
            if isinstance(m, dict) and m.get("type") == "ShapeAnd" \
                    and "id" not in m and not m.get("_paren"):
                flat.extend(m["shapeExprs"])
            else:
                flat.append(m)
        return {"type": "ShapeAnd", "shapeExprs": flat}

    def shape_not(self, inline: bool):
        if self._eat("kw", "not"):
            return {"type": "ShapeNot",
                    "shapeExpr": self.shape_atom(inline)}
        return self.shape_atom(inline)

    def shape_atom(self, inline: bool):
        tok = self.lx.peek()
        # '(' shapeExpression ')'
        if tok.kind == "(":
            self.lx.next()
            expr = self.shape_expression(inline)
            if not self._eat(")"):
                raise self._err("expected ')'")
            if isinstance(expr, dict):
                # explicit grouping survives as nested ShapeAnd/ShapeOr
                # (matches shex.js / the suite twins); the marker blocks
                # the AND-juxtaposition flattening and is stripped at
                # the end of parse()
                expr["_paren"] = True
            return expr
        # '.' — anything (only reachable OUTSIDE triple-constraint
        # value position, where the caller strips it; ShExJ renders the
        # unconstrained atom as an empty Shape)
        if tok.kind == ".":
            self.lx.next()
            return {"type": "Shape"}
        # node constraints
        was_nonlit = (tok.kind == "regexp"
                      or (tok.kind == "kw"
                          and tok.value in ("iri", "bnode", "nonliteral",
                                            "length", "minlength",
                                            "maxlength")))
        nc = self.try_node_constraint()
        if nc is not None:
            # only nonLitNodeConstraint may be followed by a shapeOrRef
            # (grammar: 'nonLitNodeConstraint shapeOrRef?'); a datatype
            # / value set / LITERAL form ends the atom
            nxt = self.lx.peek()
            if was_nonlit and not self._at_repeat_range() and (
                    nxt.kind in ("at_pname", "@", "{")
                    or (nxt.kind == "kw"
                        and nxt.value in ("closed", "extra", "extends",
                                          "restricts"))):
                ref = self.shape_or_ref(inline)
                return {"type": "ShapeAnd", "shapeExprs": [nc, ref]}
            return nc
        # shapeOrRef nonLitNodeConstraint?
        if tok.kind in ("at_pname", "@", "{") or \
                (tok.kind == "kw" and tok.value in ("closed", "extra",
                                                    "extends",
                                                    "restricts")):
            ref = self.shape_or_ref(inline)
            nc = self.try_node_constraint(nonlit_only=True)
            if nc is not None:
                return {"type": "ShapeAnd", "shapeExprs": [ref, nc]}
            return ref
        raise self._err(f"unexpected token in shape expression: {tok!r}")

    def shape_or_ref(self, inline: bool):
        tok = self.lx.peek()
        if tok.kind == "at_pname":
            self.lx.next()
            return self._pname_to_iri(tok.value)
        if tok.kind == "@":
            self.lx.next()
            nxt = self.lx.peek()
            if nxt.kind == "bnode":
                return self.lx.next().value
            return self._iri()
        return self.shape_definition(inline)

    # -- node constraints
    def try_node_constraint(self, nonlit_only: bool = False):
        """Returns a NodeConstraint dict or None (not at one).
        ``nonlit_only``: after a shapeOrRef only nonLiteralKind +
        string facets are grammatical (no datatype/values/LITERAL/
        numeric facets) — anything else belongs to the NEXT
        production."""
        tok = self.lx.peek()
        nc: dict = {"type": "NodeConstraint"}
        if tok.kind == "kw" and tok.value == "literal" and not nonlit_only:
            self.lx.next()
            nc["nodeKind"] = "literal"
            self._facets(nc)
            return nc
        if tok.kind == "kw" and tok.value in ("iri", "bnode", "nonliteral"):
            self.lx.next()
            nc["nodeKind"] = tok.value
            self._facets(nc, strings_only=True)
            return nc
        if tok.kind == "[" and not nonlit_only:
            nc["values"] = self.value_set()
            self._facets(nc)
            return nc
        if tok.kind == "kw" and tok.value in (
                "length", "minlength", "maxlength"):
            self._facets(nc, strings_only=nonlit_only)
            return nc
        if tok.kind == "kw" and not nonlit_only and tok.value in (
                "mininclusive", "minexclusive", "maxinclusive",
                "maxexclusive", "totaldigits", "fractiondigits"):
            self._facets(nc)
            return nc
        if tok.kind == "regexp":
            self._facets(nc, strings_only=nonlit_only)
            return nc
        if self._at_iri() and not nonlit_only:
            # datatype IRI — but NOT when it's a predicate position etc.
            # (callers only try node constraints in value positions)
            nc["datatype"] = self._iri()
            self._facets(nc)
            return nc
        return None

    def _facets(self, nc: dict, strings_only: bool = False) -> None:
        while True:
            tok = self.lx.peek()
            if tok.kind == "regexp":
                self.lx.next()
                if "pattern" in nc:
                    raise self._err("duplicate pattern facet")
                nc["pattern"] = tok.value
                if tok.extra:
                    nc["flags"] = tok.extra
                continue
            if tok.kind != "kw":
                return
            kw = tok.value
            if kw in ("length", "minlength", "maxlength"):
                self.lx.next()
                v = self._expect("number").value
                if not re.fullmatch(r"\d+", v):
                    raise self._err(f"{kw} needs an INTEGER")
                if kw in nc:
                    raise self._err(f"duplicate {kw} facet")
                nc[kw] = int(v)
                continue
            if kw in ("mininclusive", "minexclusive", "maxinclusive",
                      "maxexclusive", "totaldigits", "fractiondigits"):
                if strings_only:
                    raise self._err(
                        f"numeric facet {kw} on non-literal constraint")
                self.lx.next()
                v = self._expect("number").value
                if kw in ("totaldigits", "fractiondigits"):
                    if not re.fullmatch(r"\d+", v):
                        raise self._err(f"{kw} needs an INTEGER")
                    if kw in nc:
                        raise self._err(f"duplicate {kw} facet")
                    nc[kw] = int(v)
                else:
                    if kw in nc:
                        raise self._err(f"duplicate {kw} facet")
                    nc[kw] = int(v) if re.fullmatch(r"[+-]?\d+", v) \
                        else float(v)
                continue
            return

    # -- value sets
    def value_set(self) -> list:
        self._expect("[")
        values = []
        while not self._at("]"):
            values.append(self.value_set_value())
        self.lx.next()
        return values

    def _lit_token(self):
        """literal at the token level → ObjectLiteral dict, or None."""
        tok = self.lx.peek()
        if tok.kind == "string":
            self.lx.next()
            lit: dict = {"value": tok.value}
            nxt = self.lx.peek()
            if nxt.kind == "langtag":
                self.lx.next()
                lit["language"] = nxt.value.lower()
            elif nxt.kind == "^^":
                self.lx.next()
                lit["type"] = self._iri()
            return lit
        if tok.kind == "number":
            self.lx.next()
            v = tok.value
            if re.fullmatch(r"[+-]?\d+", v):
                dt = XSD + "integer"
            elif re.search(r"[eE]", v):
                dt = XSD + "double"
            else:
                dt = XSD + "decimal"
            return {"value": v, "type": dt}
        if tok.kind == "boolean":
            self.lx.next()
            return {"value": tok.value, "type": XSD + "boolean"}
        return None

    def value_set_value(self):
        tok = self.lx.peek()
        # '.' exclusion+  (wildcard stem range)
        if tok.kind == ".":
            self.lx.next()
            excls, kinds = self._exclusions()
            if not excls:
                raise self._err("'.' in a value set needs exclusions")
            kind = kinds.pop() if len(kinds) == 1 else "Iri"
            return {"type": f"{kind}StemRange",
                    "stem": {"type": "Wildcard"},
                    "exclusions": excls}
        # language tag / language stem
        if tok.kind == "langtag":
            self.lx.next()
            if self._eat("~"):
                excls, _ = self._exclusions(default_kind="Language")
                if excls:
                    return {"type": "LanguageStemRange",
                            "stem": tok.value.lower(),
                            "exclusions": excls}
                return {"type": "LanguageStem", "stem": tok.value.lower()}
            return {"type": "Language", "languageTag": tok.value.lower()}
        if tok.kind == "@":
            # '@' '~' : empty language stem
            self.lx.next()
            if not self._eat("~"):
                raise self._err("expected '~' after bare '@' in value set")
            excls, _ = self._exclusions(default_kind="Language")
            if excls:
                return {"type": "LanguageStemRange", "stem": "",
                        "exclusions": excls}
            return {"type": "LanguageStem", "stem": ""}
        lit = self._lit_token()
        if lit is not None:
            if self._eat("~"):
                if set(lit) != {"value"}:
                    raise self._err("stem on a typed/tagged literal")
                excls, _ = self._exclusions(default_kind="Literal")
                if excls:
                    return {"type": "LiteralStemRange",
                            "stem": lit["value"], "exclusions": excls}
                return {"type": "LiteralStem", "stem": lit["value"]}
            return lit
        if self._at_iri():
            iri = self._iri()
            if self._eat("~"):
                excls, _ = self._exclusions(default_kind="Iri")
                if excls:
                    return {"type": "IriStemRange", "stem": iri,
                            "exclusions": excls}
                return {"type": "IriStem", "stem": iri}
            return iri
        raise self._err(f"unexpected value-set member: {tok!r}")

    def _exclusions(self, default_kind: str | None = None):
        """'-' (iri|literal|LANGTAG) '~'?  repeated. Returns
        (exclusion list, kinds seen)."""
        excls: list = []
        kinds: set[str] = set()
        while self._at("-") or self._at_neg_number():
            if self._at("-"):
                self.lx.next()
                tok = self.lx.peek()
                if tok.kind == "langtag":
                    self.lx.next()
                    val: object = tok.value.lower()
                    kind = "Language"
                elif self._at_iri():
                    val = self._iri()
                    kind = "Iri"
                else:
                    lit = self._lit_token()
                    if lit is None:
                        raise self._err(
                            f"bad exclusion member: {self.lx.peek()!r}")
                    # ShExJ renders a plain-string literal exclusion as
                    # a bare string (suite twins; shexj.py reads both)
                    val = lit["value"] if set(lit) == {"value"} else lit
                    kind = "Literal"
            else:  # signed number lexed as one token: '-5' ≡ '-' '5'
                tok = self.lx.next()
                val = {"value": tok.value.lstrip("+"),
                       "type": XSD + "integer"
                       if re.fullmatch(r"[+-]?\d+", tok.value)
                       else XSD + "decimal"}
                kind = "Literal"
            if self._eat("~"):
                if kind == "Iri":
                    val = {"type": "IriStem", "stem": val}
                elif kind == "Language":
                    val = {"type": "LanguageStem", "stem": val}
                else:
                    val = {"type": "LiteralStem",
                           "stem": val["value"] if isinstance(val, dict)
                           else val}
            excls.append(val)
            kinds.add(kind)
        return excls, kinds

    def _at_neg_number(self) -> bool:
        tok = self.lx.peek()
        return tok.kind == "number" and tok.value.startswith("-")

    # -- shapes
    def shape_definition(self, inline: bool):
        shape: dict = {"type": "Shape"}
        extra: list[str] = []
        extends: list = []
        while True:
            if self._eat("kw", "closed"):
                shape["closed"] = True
            elif self._eat("kw", "extra"):
                extra.append(self._predicate())
                while self._at_iri() or self._at("a"):
                    extra.append(self._predicate())
            elif self._at("kw", "restricts"):
                # ShEx 2.1 RESTRICTS is a *restriction* relation — it
                # contributes NO parent triple expression to the arc
                # partition, unlike EXTENDS. Until true restriction
                # semantics are implemented, reject loudly instead of
                # silently validating with extension semantics
                # (round-4 advice: silently-wrong beats absent is false).
                raise self._err(
                    "RESTRICTS (ShEx 2.1 restriction) is not supported; "
                    "only EXTENDS (extension) semantics are implemented")
            elif self._eat("kw", "extends"):
                ref = self.lx.peek()
                if ref.kind == "at_pname":
                    self.lx.next()
                    extends.append(self._pname_to_iri(ref.value))
                elif ref.kind == "@":
                    self.lx.next()
                    nxt = self.lx.peek()
                    extends.append(self.lx.next().value
                                   if nxt.kind == "bnode" else self._iri())
                else:
                    extends.append(self._iri())
            else:
                break
        if not self._eat("{"):
            raise self._err(f"expected '{{', got {self.lx.peek()!r}")
        if extra:
            shape["extra"] = extra
        if extends:
            shape["extends"] = extends
        if not self._at("}"):
            shape["expression"] = self.triple_expression()
        if not self._eat("}"):
            raise self._err(f"expected '}}', got {self.lx.peek()!r}")
        if not inline:
            annots = self._annotations()
            acts = self._sem_acts()
            if annots:
                shape["annotations"] = annots
            if acts:
                shape["semActs"] = acts
        return shape

    # -- triple expressions
    def triple_expression(self):
        groups = [self.group_triple_expr()]
        while self._eat("|"):
            groups.append(self.group_triple_expr())
        if len(groups) == 1:
            return groups[0]
        return {"type": "OneOf", "expressions": groups}

    def group_triple_expr(self):
        exprs = [self.unary_triple_expr()]
        while self._eat(";"):
            tok = self.lx.peek()
            if tok.kind in ("}", ")", "|") or tok.kind == "eof":
                break
            exprs.append(self.unary_triple_expr())
        if len(exprs) == 1:
            return exprs[0]
        return {"type": "EachOf", "expressions": exprs}

    def unary_triple_expr(self):
        label = None
        if self._eat("$"):
            tok = self.lx.peek()
            if tok.kind == "bnode":
                label = self.lx.next().value
            else:
                label = self._iri()
        tok = self.lx.peek()
        if tok.kind == "&":
            if label is not None:
                raise self._err("labelled include")
            self.lx.next()
            nxt = self.lx.peek()
            if nxt.kind == "bnode":
                return self.lx.next().value
            return self._iri()
        if tok.kind == "(":
            self.lx.next()
            expr = self.triple_expression()
            if not self._eat(")"):
                raise self._err("expected ')' after group")
            expr = self._wrap_card(expr)
            annots = self._annotations()
            acts = self._sem_acts()
            if annots:
                expr["annotations"] = annots
            if acts:
                expr["semActs"] = acts
        else:
            expr = self.triple_constraint()
        if label is not None:
            if isinstance(expr, str):
                raise self._err("label on a reference")
            expr = {"id": label, **expr}
        return expr

    def _wrap_card(self, expr):
        """Apply a cardinality to a bracketed group (wrapping bare TCs
        or refs in a singleton EachOf is NOT needed: ShExJ puts min/max
        directly on the group node)."""
        card = self._cardinality()
        if card is None:
            return expr if isinstance(expr, dict) else \
                {"type": "EachOf", "expressions": [expr]}
        mn, mx = card
        if isinstance(expr, str):
            expr = {"type": "EachOf", "expressions": [expr]}
        elif "min" in expr or "max" in expr:
            # ({...}{2}){3}: nest to preserve both cardinalities
            expr = {"type": "EachOf", "expressions": [expr]}
        if mn != 1:
            expr["min"] = mn
        if mx != 1:
            expr["max"] = mx
        if (mn != 1 or mx != 1) and "min" not in expr:
            expr["min"] = mn
        if (mn != 1 or mx != 1) and "max" not in expr:
            expr["max"] = mx
        return expr

    def _cardinality(self):
        tok = self.lx.peek()
        if tok.kind == "*":
            self.lx.next(); return (0, -1)
        if tok.kind == "+":
            self.lx.next(); return (1, -1)
        if tok.kind == "?":
            self.lx.next(); return (0, 1)
        if self._at_repeat_range():
            self.lx.next()
            mn = int(self.lx.next().value)
            if self._eat(","):
                t2 = self.lx.peek()
                if t2.kind == "number":
                    mx = int(self.lx.next().value)
                elif t2.kind == "*":
                    self.lx.next(); mx = -1
                elif t2.kind == "}":   # {m,} = m-or-more
                    mx = -1
                else:
                    raise self._err("bad repeat range")
            else:
                mx = mn
            if not self._eat("}"):
                raise self._err("expected '}' closing repeat")
            return (mn, mx)
        return None

    def _at_repeat_range(self) -> bool:
        """'{' INTEGER (',' | '}') is one REPEAT_RANGE terminal, never
        the start of a shape, so `IRI {2}` is a kind and a cardinality."""
        if not self._at("{"):
            return False  # look no further: a semAct reads raw code
        nxt = self.lx.peek(1)
        return (nxt.kind == "number" and re.fullmatch(r"\d+", nxt.value)
                is not None and self.lx.peek(2).kind in (",", "}"))

    def _predicate(self) -> str:
        if self._eat("a"):
            return RDF_TYPE
        return self._iri()

    def triple_constraint(self) -> dict:
        inverse = bool(self._eat("^"))
        pred = self._predicate()
        tc: dict = {"type": "TripleConstraint"}
        if inverse:
            tc["inverse"] = True
        tc["predicate"] = pred
        # inline shape expression ('.' = unconstrained → omit valueExpr)
        if self._eat("."):
            pass
        else:
            tc["valueExpr"] = self.shape_expression(inline=True)
        card = self._cardinality()
        if card is not None:
            mn, mx = card
            if mn != 1 or mx != 1:
                tc["min"] = mn
                tc["max"] = mx
        annots = self._annotations()
        acts = self._sem_acts()
        if annots:
            tc["annotations"] = annots
        if acts:
            tc["semActs"] = acts
        return tc

    def _annotations(self) -> list[dict]:
        annots = []
        while self._eat("annot"):
            pred = self._predicate()
            if self._at_iri():
                obj: object = self._iri()
            else:
                lit = self._lit_token()
                if lit is None:
                    raise self._err("bad annotation object")
                obj = lit
            annots.append({"type": "Annotation", "predicate": pred,
                           "object": obj})
        return annots


def shexc_to_shexj(text: str, base: str | None = None) -> dict:
    """Parse a ShExC document into the ShExJ JSON AST (dict)."""
    return _Parser(text, base).parse()


def parse_shexc(text: str) -> tuple[SchemaDict, dict[str, str]]:
    """ShExC document → (SchemaDict, prefixes), compiled the way SLang
    compiles ShEx: every Shape closes over the predicates it mentions
    (ShEx2SLang.scala:95-101); the rest is shexj.py's mapping. A
    construct outside the engine's fragment raises SchemaError."""
    p = _Parser(text)
    schema = p.parse()
    for d in _dicts(schema):
        if d.get("type") == "Shape":
            d["closed"] = True
    try:
        return parse_shexj(schema)[0], p.prefixes
    except UnsupportedShExJ as e:
        raise SchemaError(f"unsupported ShEx construct: {e.feature}") from e
