"""Driver-side RDF/XML parser (subset) for shapes-graph ingestion.

The reference accepts a SHACL shapes graph in any Jena-supported RDF
serialization (DataFormats.scala:8-20); RDF/XML is the most common
non-Turtle one in the SHACL wild. Shapes graphs are
broadcast-dimension sized, so this is a driver-side parse into the
same ``(Term, pred, Term)`` triple form sources/turtle.py produces —
bulk RDF data at scale still arrives as distributed N-Triples.

Scope (the RDF/XML constructs SHACL shapes documents actually use):
node elements (``rdf:Description`` and typed), ``rdf:about`` /
``rdf:ID`` / ``rdf:nodeID`` / fresh bnodes, property elements with
``rdf:resource`` / ``rdf:nodeID`` / literal content /
``rdf:datatype`` / ``xml:lang`` (inherited) / nested node elements,
``rdf:parseType="Resource"`` and ``rdf:parseType="Collection"``
(sh:in / sh:or / sh:languageIn lists), property attributes, and
``xml:base`` resolution for relative IRIs. Out of scope (named
error): ``rdf:li`` containers and ``parseType="Literal"`` — neither
appears in SHACL shapes graphs.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET

from ..model import RDF, RDF_TYPE

RDF_FIRST = RDF + "first"
RDF_REST = RDF + "rest"
RDF_NIL = RDF + "nil"

_XML_NS = "http://www.w3.org/XML/1998/namespace"

_A = lambda local: "{" + RDF + "}" + local  # noqa: E731
_X = lambda local: "{" + _XML_NS + "}" + local  # noqa: E731

_ABS_IRI_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*:")

# XML-syntax attributes that are not RDF property attributes
_NON_PROP_ATTRS = {
    _A("about"), _A("ID"), _A("nodeID"), _A("resource"),
    _A("datatype"), _A("parseType"), _X("lang"), _X("base"),
}


class RdfXmlError(ValueError):
    pass


def _iri(v: str):
    return ("iri", v, None, None)


def _bnode(v: str):
    return ("bnode", v, None, None)


def _lit(v: str, dt: str | None, lang: str | None):
    return ("literal", v, dt, lang)


class _Parser:
    def __init__(self) -> None:
        self.triples: list[tuple] = []
        self._bn = 0

    def _fresh(self):
        self._bn += 1
        return _bnode(f"_:rx{self._bn}")

    @staticmethod
    def _expand(tag: str) -> str:
        if not tag.startswith("{"):
            raise RdfXmlError(f"unnamespaced element <{tag}>")
        ns, local = tag[1:].split("}", 1)
        return ns + local

    @staticmethod
    def _resolve(iri: str, base: str) -> str:
        if base and not _ABS_IRI_RE.match(iri):
            return base + iri
        return iri

    def _subject_of(self, el: ET.Element, base: str):
        about = el.get(_A("about"))
        if about is not None:
            return _iri(self._resolve(about, base))
        rid = el.get(_A("ID"))
        if rid is not None:
            return _iri(self._resolve("#" + rid, base))
        nid = el.get(_A("nodeID"))
        if nid is not None:
            return _bnode("_:" + nid)
        return self._fresh()

    def node_element(self, el: ET.Element, base: str, lang: str | None):
        base = el.get(_X("base"), base)
        lang = el.get(_X("lang"), lang)
        subj = self._subject_of(el, base)
        tag = self._expand(el.tag)
        if tag != RDF + "Description":
            self.triples.append((subj, RDF_TYPE, _iri(tag)))
        # property attributes (literal shorthand)
        for k, v in el.attrib.items():
            if k in _NON_PROP_ATTRS or k.startswith("{" + RDF + "}"):
                continue
            if not k.startswith("{"):
                continue  # unnamespaced attr: XML-internal, skip
            self.triples.append((subj, self._expand(k), _lit(v, None, lang)))
        for prop in el:
            self.property_element(subj, prop, base, lang)
        return subj

    def property_element(self, subj, el: ET.Element, base: str,
                         lang: str | None):
        base = el.get(_X("base"), base)
        lang = el.get(_X("lang"), lang)
        pred = self._expand(el.tag)
        if pred == RDF + "li":
            raise RdfXmlError("rdf:li containers are not supported")
        pt = el.get(_A("parseType"))
        if pt == "Collection":
            items = [self.node_element(c, base, lang) for c in el]
            self.triples.append((subj, pred, self._mk_list(items)))
            return
        if pt == "Resource":
            inner = self._fresh()
            self.triples.append((subj, pred, inner))
            for c in el:
                self.property_element(inner, c, base, lang)
            return
        if pt is not None:
            raise RdfXmlError(f'parseType="{pt}" is not supported')
        res = el.get(_A("resource"))
        if res is not None:
            self.triples.append((subj, pred, _iri(self._resolve(res, base))))
            return
        nid = el.get(_A("nodeID"))
        if nid is not None:
            self.triples.append((subj, pred, _bnode("_:" + nid)))
            return
        kids = list(el)
        if kids:
            if len(kids) != 1:
                raise RdfXmlError(
                    f"property element <{pred}> has {len(kids)} child "
                    "node elements (expected 1)")
            obj = self.node_element(kids[0], base, lang)
            self.triples.append((subj, pred, obj))
            return
        dt = el.get(_A("datatype"))
        text = el.text or ""
        self.triples.append(
            (subj, pred, _lit(text, dt, None if dt else lang)))

    def _mk_list(self, items: list):
        if not items:
            return _iri(RDF_NIL)
        head = self._fresh()
        cur = head
        for i, it in enumerate(items):
            self.triples.append((cur, RDF_FIRST, it))
            if i == len(items) - 1:
                self.triples.append((cur, RDF_REST, _iri(RDF_NIL)))
            else:
                nxt = self._fresh()
                self.triples.append((cur, RDF_REST, nxt))
                cur = nxt
        return head


def parse_rdfxml(text: str) -> list[tuple]:
    """RDF/XML document → [(subj_term, pred_iri, obj_term)], the same
    Term tuples sources/turtle.py produces."""
    try:
        root = ET.fromstring(text)
    except ET.ParseError as e:
        raise RdfXmlError(f"not well-formed XML: {e}") from e
    p = _Parser()
    base = root.get(_X("base"), "")
    lang = root.get(_X("lang"))
    if p._expand(root.tag) == RDF + "RDF":
        for child in root:
            p.node_element(child, base, lang)
    else:
        p.node_element(root, base, lang)
    return p.triples
