"""Driver-side Turtle parser (subset) for fixture/schema ingestion.

Scope: the Turtle used by the reference's examples and W3C test
corpora — @prefix/PREFIX, predicate lists (';'), object lists (','),
'a', IRIs, prefixed names, blank nodes (labelled and [ ... ]),
RDF collections '( ... )', and literals (plain, @lang, ^^datatype,
integers/decimals/booleans).

Driver-side by design: schema/fixture documents are small (the
reference parses them in-memory too); bulk RDF at scale arrives as
line-oriented N-Triples → sources/ntriples.py (distributed).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from ..model import (RDF, RDF_LANGSTRING, TRIPLES_SCHEMA, XSD_BOOLEAN,
                     XSD_DECIMAL, XSD_DOUBLE, XSD_INTEGER, XSD_STRING)

RDF_FIRST = RDF + "first"
RDF_REST = RDF + "rest"
RDF_NIL = RDF + "nil"


class TurtleError(ValueError):
    pass


_TOK = re.compile(
    r"""
    (?P<comment>\#[^\n]*)
  | (?P<iri><[^>]*>)
  | (?P<string>"""
    r'"""(?:[^"\\]|\\.|"(?!""))*"""|"(?:[^"\\\n]|\\.)*"'
    r"|'''(?:[^'\\]|\\.|'(?!''))*'''|'(?:[^'\\\n]|\\.)*'"
    r""")
    (?P<strsuffix>@[A-Za-z][A-Za-z0-9-]*|\^\^(?:<[^>]*>|[A-Za-z_][\w.-]*:[\w.-]*))?
  | (?P<num>[+-]?(?:\d+\.\d*|\.\d+)(?:[eE][+-]?\d+)?|[+-]?\d+[eE][+-]?\d+|[+-]?\d+)
  | (?P<bnode>_:[A-Za-z0-9_.-]+)
  | (?P<pname>[A-Za-z_][\w.-]*:[\w.-]*|:[\w.-]*|[A-Za-z_][\w-]*:)
  | (?P<keyword>@?[A-Za-z][A-Za-z]*)
  | (?P<punct>[;,.\[\]()])
""", re.VERBOSE)

_ESCAPES = {"t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
            '"': '"', "'": "'", "\\": "\\"}
_ESC_RE = re.compile(r"\\(u[0-9a-fA-F]{4}|U[0-9a-fA-F]{8}|.)")


def unescape(raw: str) -> str:
    """Turtle/N-Triples string unescape incl. \\uXXXX and \\UXXXXXXXX
    (OutsideBMP-safe — one pass, no double-unescape)."""

    def sub(m: re.Match) -> str:
        e = m.group(1)
        if e[0] in "uU":
            return chr(int(e[1:], 16))
        if e in _ESCAPES:
            return _ESCAPES[e]
        raise TurtleError(f"bad escape \\{e}")

    return _ESC_RE.sub(sub, raw)


def _tokenize(text: str):
    pos = 0
    out = []
    for m in _TOK.finditer(text):
        between = text[pos:m.start()].strip()
        if between:
            raise TurtleError(f"unexpected input: {between!r}")
        pos = m.end()
        if m.lastgroup == "comment":
            continue
        if m.group("string") is not None:
            out.append(("string", m.group("string"), m.group("strsuffix")))
        else:
            out.append((m.lastgroup, m.group(0), None))
    if text[pos:].strip():
        raise TurtleError(f"trailing input: {text[pos:].strip()!r}")
    return out


Term = tuple  # (kind, value, dt, lang) with kind in iri|bnode|literal


_ABS_IRI_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*:")


class TurtleParser:
    def __init__(self, text: str):
        self.toks = _tokenize(text)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self.base = ""
        self.triples: list[tuple[Term, str, Term]] = []
        self._bnode_n = 0

    def _resolve_iri(self, iri: str) -> str:
        """Resolve against @base ONLY when relative (no scheme):
        base-prefixing an absolute IRI corrupted predicates in data
        files that declare BASE before an absolute PREFIX (Pstar.ttl:
        ':a' became <base><http://a.example/a>)."""
        if self.base and not _ABS_IRI_RE.match(iri):
            return self.base + iri
        return iri

    def _peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else None

    def _next(self):
        if self.i >= len(self.toks):
            raise TurtleError("unexpected EOF")
        t = self.toks[self.i]
        self.i += 1
        return t

    def _expect_punct(self, ch: str):
        kind, val, _ = self._next()
        if val != ch:
            raise TurtleError(f"expected {ch!r}, got {val!r}")

    def _fresh_bnode(self) -> Term:
        self._bnode_n += 1
        return ("bnode", f"_:gen{self._bnode_n}", None, None)

    def _resolve_pname(self, val: str) -> str:
        pfx, local = val.split(":", 1)
        if pfx not in self.prefixes:
            raise TurtleError(f"undefined prefix {pfx!r}")
        return self.prefixes[pfx] + local

    # ------------------------------------------------------------------
    def parse(self) -> list[tuple[Term, str, Term]]:
        while self._peek() is not None:
            kind, val, _ = self._peek()
            low = val.lower()
            if low in ("@prefix", "prefix"):
                self._next()
                _, pname, _ = self._next()
                if not pname.endswith(":"):
                    raise TurtleError(f"bad prefix: {pname!r}")
                _, iri, _ = self._next()
                self.prefixes[pname[:-1]] = self._resolve_iri(iri[1:-1])
                if self._peek() and self._peek()[1] == ".":
                    self._next()
                continue
            if low in ("@base", "base"):
                self._next()
                _, iri, _ = self._next()
                self.base = iri[1:-1]
                if self._peek() and self._peek()[1] == ".":
                    self._next()
                continue
            self._parse_statement()
        return self.triples

    def _parse_statement(self):
        subj = self._parse_term(subject=True)
        # standalone blank-node statement `[ ... ] .` carries its
        # predicates inside the brackets — no outer list required
        if self._peek() is not None and self._peek()[1] == ".":
            self._next()
            return
        self._parse_predicate_object_list(subj)
        self._expect_punct(".")

    def _parse_predicate_object_list(self, subj: Term):
        while True:
            pred = self._parse_predicate()
            self._parse_object_list(subj, pred)
            nxt = self._peek()
            if nxt is not None and nxt[1] == ";":
                self._next()
                # tolerate trailing ';' before '.' or ']'
                nxt2 = self._peek()
                if nxt2 is not None and nxt2[1] in (".", "]"):
                    return
                continue
            return

    def _parse_predicate(self) -> str:
        kind, val, _ = self._next()
        if val == "a":
            return RDF + "type"
        if kind == "iri":
            return self._resolve_iri(unescape(val[1:-1]))
        if kind == "pname":
            return self._resolve_pname(val)
        raise TurtleError(f"bad predicate: {val!r}")

    def _parse_object_list(self, subj: Term, pred: str):
        while True:
            obj = self._parse_term(subject=False)
            self.triples.append((subj, pred, obj))
            nxt = self._peek()
            if nxt is not None and nxt[1] == ",":
                self._next()
                continue
            return

    def _parse_term(self, subject: bool) -> Term:
        kind, val, suffix = self._next()
        if kind == "iri":
            return ("iri", self._resolve_iri(unescape(val[1:-1])), None, None)
        if kind == "pname":
            return ("iri", self._resolve_pname(val), None, None)
        if kind == "bnode":
            return ("bnode", val, None, None)
        if val == "a" and not subject:
            raise TurtleError("'a' only valid as predicate")
        if kind == "string":
            raw = (val[3:-3] if val.startswith(('"""', "'''"))
                   else val[1:-1])
            lex = unescape(raw)
            if suffix and suffix.startswith("@"):
                return ("literal", lex, RDF_LANGSTRING, suffix[1:])
            if suffix and suffix.startswith("^^"):
                dtok = suffix[2:]
                dt = dtok[1:-1] if dtok.startswith("<") else self._resolve_pname(dtok)
                return ("literal", lex, dt, None)
            return ("literal", lex, XSD_STRING, None)
        if kind == "num":
            if re.fullmatch(r"[+-]?\d+", val):
                return ("literal", val, XSD_INTEGER, None)
            if "e" in val.lower():
                return ("literal", val, XSD_DOUBLE, None)
            return ("literal", val, XSD_DECIMAL, None)
        if kind == "keyword" and val in ("true", "false"):
            return ("literal", val, XSD_BOOLEAN, None)
        if val == "[":
            bn = self._fresh_bnode()
            if self._peek() is not None and self._peek()[1] != "]":
                self._parse_predicate_object_list(bn)
            self._expect_punct("]")
            return bn
        if val == "(":
            return self._parse_collection()
        raise TurtleError(f"unexpected term token: {val!r}")

    def _parse_collection(self) -> Term:
        items = []
        while self._peek() is not None and self._peek()[1] != ")":
            items.append(self._parse_term(subject=False))
        self._expect_punct(")")
        if not items:
            return ("iri", RDF_NIL, None, None)
        head = self._fresh_bnode()
        cur = head
        for idx, item in enumerate(items):
            self.triples.append((cur, RDF_FIRST, item))
            if idx == len(items) - 1:
                self.triples.append((cur, RDF_REST, ("iri", RDF_NIL, None, None)))
            else:
                nxt = self._fresh_bnode()
                self.triples.append((cur, RDF_REST, nxt))
                cur = nxt
        return head


def parse_turtle(text: str) -> tuple[list[tuple[Term, str, Term]], dict[str, str]]:
    p = TurtleParser(text)
    return p.parse(), p.prefixes


def turtle_to_rows(text: str) -> list[tuple]:
    """Turtle → triples-relation rows (plain-string-literal dt kept as
    xsd:string, matching the engine's convention)."""
    triples, _ = parse_turtle(text)
    rows = []
    for (skind, sval, _, _), pred, (okind, oval, odt, olang) in triples:
        rows.append((sval, pred, okind, oval,
                     odt if okind == "literal" else None, olang))
    return rows


def read_turtle(spark: SparkSession, text: str) -> DataFrame:
    return spark.createDataFrame(turtle_to_rows(text), TRIPLES_SCHEMA)
