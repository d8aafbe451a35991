"""JSON-LD → RDF statements (practical subset).

The reference library itself has no JSON-LD support; this stage
exists because ``BASELINE.json:north_star`` names JSON-LD among the
per-document embedded syntaxes. Implemented from the public W3C
JSON-LD 1.0/1.1 "Deserialize JSON-LD to RDF" algorithm, covering the
subset that dominates Common-Crawl embedded metadata (schema.org
objects):

- ``@context``: inline dicts / lists of dicts; term definitions as
  string or ``{"@id", "@type", "@container", "@language"}``;
  ``@vocab``, ``@base``, ``@language`` defaults; compact IRIs.
  Remote (string) contexts resolve through a pluggable
  ``context_loader`` (production pipelines ship a pre-fetched
  snapshot directory — ``dir_context_loader`` — distributed to
  executors via ``spark-submit --files``; live HTTP fetch from
  inside a 1000-executor UDF would be a DDoS and is deliberately
  not offered). Without a loader, or on a snapshot miss, the island
  is recorded as a per-document error — skipped, never guessed.
  Cyclic remote-context chains are detected and rejected.
- node objects, ``@id``/``@type``, nested nodes → linked blank
  nodes, ``@value``/``@language``/``@type`` literals, ``@list`` →
  rdf:first/rest/nil chains, ``@graph`` (top-level and named),
  ``@reverse``.
- JSON scalars: str → plain literal (or term/default language);
  bool → xsd:boolean; int → xsd:integer; float → xsd:double with the
  canonical lexical form mandated by the W3C algorithm.

Keys that expand to neither a keyword nor an IRI are dropped, per
the spec. Blank labels are ``j=1, j=2, …`` ('=' not in PN_CHARS ⇒
collision-free with explicit ``_:`` labels).
"""

from __future__ import annotations

import json
import math
import re
from typing import Any

from serd_spark.rdf import uri as urimod
from serd_spark.rdf.model import (
    BLANK,
    IRI,
    LITERAL,
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    XSD_BOOLEAN,
    XSD_DOUBLE,
    XSD_INTEGER,
    ParseError,
    Statement,
    Term,
)

__all__ = ["parse_jsonld", "canonical_double"]

# a \uD800-\uDFFF escape: the only way a JSON text can decode to a
# str holding a surrogate
_SURROGATE_ESCAPE = re.compile(r"\\u[dD][89a-fA-F]")

_KEYWORDS = {
    "@context",
    "@id",
    "@type",
    "@value",
    "@language",
    "@list",
    "@set",
    "@graph",
    "@reverse",
    "@vocab",
    "@base",
    "@container",
    "@index",
    "@nest",
    "@json",
    "@none",
    "@direction",
    "@version",
    "@protected",
    "@prefix",
}


def canonical_double(v: float) -> str:
    """Canonical xsd:double lexical form per the JSON-LD → RDF value
    conversion (mantissa 'd.ddd', exponent 'E±n', no trailing
    mantissa zeros beyond one digit)."""
    if math.isinf(v):
        return "INF" if v > 0 else "-INF"
    if math.isnan(v):
        return "NaN"
    s = f"{v:.15E}"
    mant, exp = s.split("E")
    mant = mant.rstrip("0")
    if mant.endswith("."):
        mant += "0"
    e = int(exp)
    return f"{mant}E{e}"


class _Context:
    __slots__ = ("terms", "vocab", "base", "language")

    def __init__(self, base: str):
        self.terms: dict[str, dict] = {}
        self.vocab: str | None = None
        self.base = base
        self.language: str | None = None

    def copy(self) -> "_Context":
        c = _Context(self.base)
        c.terms = dict(self.terms)
        c.vocab = self.vocab
        c.language = self.language
        return c


class _JsonLdToRdf:
    def __init__(self, base_iri: str, context_loader=None):
        self.base = base_iri
        self.blank_n = 0
        self.statements: list[Statement] = []
        self.context_loader = context_loader
        self._ctx_loading: set[str] = set()  # remote-context cycle guard

    def _new_blank(self) -> Term:
        self.blank_n += 1
        return Term(BLANK, f"j={self.blank_n}")

    def _err(self, msg: str):
        raise ParseError(msg, 1, 1)

    # --- context processing ------------------------------------------------

    def _process_context(self, ctx: _Context, spec: Any) -> _Context:
        out = ctx.copy()
        specs = spec if isinstance(spec, list) else [spec]
        for s in specs:
            if s is None:
                out = _Context(self.base)
                continue
            if isinstance(s, str):
                # remote context: resolve the reference, look it up in
                # the offline snapshot, and process the document's own
                # @context (which may itself chain further references)
                u = urimod.resolve(out.base or self.base, s)
                if self.context_loader is None:
                    self._err(f"remote @context not supported offline: {s}")
                if u in self._ctx_loading:
                    self._err(f"cyclic remote @context: {u}")
                try:
                    doc = self.context_loader(u)
                except Exception as e:  # corrupt snapshot file, IO error
                    # loader failures must stay per-island (lax
                    # contract): one bad snapshot file must not kill
                    # the extraction task
                    self._err(f"failed loading remote @context {u}: {e}")
                if doc is None:
                    self._err(
                        f"remote @context not in offline snapshot: {u}"
                    )
                sub = doc.get("@context", doc) if isinstance(doc, dict) else doc
                self._ctx_loading.add(u)
                try:
                    out = self._process_context(out, sub)
                finally:
                    self._ctx_loading.discard(u)
                continue
            if not isinstance(s, dict):
                self._err("invalid @context")
            if "@vocab" in s:
                v = s["@vocab"]
                out.vocab = None if v is None else str(v)
            if "@base" in s:
                b = s["@base"]
                out.base = "" if b is None else urimod.resolve(out.base, str(b))
            if "@language" in s:
                lv = s["@language"]
                out.language = None if lv is None else str(lv)
            for k, v in s.items():
                if k.startswith("@"):
                    continue
                if v is None:
                    out.terms[k] = {"@id": None}
                elif isinstance(v, str):
                    out.terms[k] = {"@id": v}
                elif isinstance(v, dict):
                    out.terms[k] = v
        return out

    def _expand_iri(
        self, ctx: _Context, value: str, vocab: bool,
        doc_relative: bool = False, _seen: frozenset = frozenset(),
    ) -> str | None:
        """Expand a term / compact IRI / IRI reference. Returns None
        when it expands to nothing (dropped, per spec). ``_seen``
        breaks cyclic term aliases ({"a": "b", "b": "a"}) — adversarial
        embedded JSON-LD must never recurse unboundedly."""
        if value.startswith("@"):
            return value if value in _KEYWORDS else None
        td = ctx.terms.get(value)
        if td is not None and value not in _seen:
            tid = td.get("@id", value)
            if tid is None:
                return None
            if tid != value and isinstance(tid, str):
                return self._expand_iri(
                    ctx, tid, vocab=True, _seen=_seen | {value}
                )
        # compact IRI pre:suffix
        colon = value.find(":")
        if colon > 0:
            prefix, suffix = value[:colon], value[colon + 1 :]
            if not suffix.startswith("//"):
                ptd = ctx.terms.get(prefix)
                if ptd is not None and isinstance(ptd.get("@id"), str):
                    return ptd["@id"] + suffix
            return value  # already an absolute-ish IRI (scheme:...)
        if value == "_":  # pathological
            return None
        if vocab and ctx.vocab is not None:
            return ctx.vocab + value
        if doc_relative:
            return urimod.resolve(ctx.base or self.base, value)
        return None

    def _resolve_id(self, ctx: _Context, value: str) -> Term | None:
        if value.startswith("_:"):
            return Term(BLANK, "j=x-" + value[2:])
        out = self._expand_iri(ctx, value, vocab=False, doc_relative=True)
        if out is None or out.startswith("@"):
            return None
        return Term(IRI, out)

    # --- node processing -----------------------------------------------------

    def process(self, doc: Any) -> None:
        self._node(doc, _Context(self.base), graph=None)

    def _node(self, obj: Any, ctx: _Context, graph: Term | None) -> Term | None:
        """Process a node object / array; return the node's term (for
        arrays, None)."""
        if isinstance(obj, list):
            for item in obj:
                self._node(item, ctx, graph)
            return None
        if not isinstance(obj, dict):
            return None  # bare scalar at node position: no triples
        if "@context" in obj:
            ctx = self._process_context(ctx, obj["@context"])
        if "@value" in obj:
            return None  # value object at node position: nothing to emit

        subj: Term | None = None
        if "@id" in obj and isinstance(obj["@id"], str):
            subj = self._resolve_id(ctx, obj["@id"])
        if subj is None:
            subj = self._new_blank()

        for key, value in obj.items():
            if key in ("@context", "@id"):
                continue
            if key == "@type":
                types = value if isinstance(value, list) else [value]
                for t in types:
                    if not isinstance(t, str):
                        continue
                    tiri = self._expand_iri(ctx, t, vocab=True, doc_relative=True)
                    if tiri and not tiri.startswith("@"):
                        self._emit(subj, Term(IRI, RDF_TYPE), Term(IRI, tiri), graph)
                continue
            if key == "@graph":
                # named graph when the node has an explicit @id
                g = subj if "@id" in obj else graph
                self._node(value, ctx, g)
                continue
            if key == "@reverse":
                if isinstance(value, dict):
                    for rk, rv in value.items():
                        pred = self._expand_iri(ctx, rk, vocab=True)
                        if not pred or pred.startswith("@"):
                            continue
                        vals = rv if isinstance(rv, list) else [rv]
                        for v in vals:
                            t = self._node(v, ctx, graph)
                            if t is not None:
                                self._emit(t, Term(IRI, pred), subj, graph)
                continue
            if key.startswith("@"):
                continue
            pred_iri = self._expand_iri(ctx, key, vocab=True)
            if pred_iri is None or pred_iri.startswith("@"):
                continue
            pred = Term(IRI, pred_iri)
            td = ctx.terms.get(key, {})
            container = td.get("@container")
            vals = value if isinstance(value, list) else [value]
            if container == "@list" and not (
                isinstance(value, dict) and "@list" in value
            ):
                self._emit(subj, pred, self._list(vals, ctx, graph, td), graph)
                continue
            for v in vals:
                o = self._value(v, ctx, graph, td)
                if o is not None:
                    self._emit(subj, pred, o, graph)
        return subj

    def _list(
        self, items: list, ctx: _Context, graph: Term | None, td: dict
    ) -> Term:
        first_t = Term(IRI, RDF_FIRST)
        rest_t = Term(IRI, RDF_REST)
        nil = Term(IRI, RDF_NIL)
        terms = []
        for it in items:
            t = self._value(it, ctx, graph, td)
            if t is not None:
                terms.append(t)
        if not terms:
            return nil
        head = self._new_blank()
        node = head
        for i, t in enumerate(terms):
            self._emit(node, first_t, t, graph)
            if i == len(terms) - 1:
                self._emit(node, rest_t, nil, graph)
            else:
                nxt = self._new_blank()
                self._emit(node, rest_t, nxt, graph)
                node = nxt
        return head

    def _value(
        self, v: Any, ctx: _Context, graph: Term | None, td: dict
    ) -> Term | None:
        ttype = td.get("@type")
        if isinstance(v, dict):
            if "@list" in v:
                items = v["@list"]
                return self._list(
                    items if isinstance(items, list) else [items], ctx, graph, td
                )
            if "@value" in v:
                val = v["@value"]
                if val is None:
                    return None
                dt = v.get("@type")
                lang = v.get("@language")
                if isinstance(val, bool):
                    lex, default_dt = ("true" if val else "false"), XSD_BOOLEAN
                elif isinstance(val, int):
                    lex, default_dt = str(val), XSD_INTEGER
                elif isinstance(val, float):
                    lex, default_dt = canonical_double(val), XSD_DOUBLE
                else:
                    lex, default_dt = str(val), ""
                if dt:
                    dtx = self._expand_iri(ctx, str(dt), vocab=True)
                    return Term(LITERAL, lex, dtx or "", "")
                if lang:
                    return Term(LITERAL, lex, "", str(lang))
                return Term(LITERAL, lex, default_dt, "")
            # node object
            return self._node(v, ctx, graph)
        if isinstance(v, str):
            if ttype == "@id":
                return self._resolve_id(ctx, v)
            if ttype == "@vocab":
                x = self._expand_iri(ctx, v, vocab=True, doc_relative=True)
                return Term(IRI, x) if x else None
            lang = td.get("@language", ctx.language)
            if ttype and isinstance(ttype, str) and not ttype.startswith("@"):
                dtx = self._expand_iri(ctx, ttype, vocab=True)
                return Term(LITERAL, v, dtx or "", "")
            return Term(LITERAL, v, "", lang or "")
        if isinstance(v, bool):
            return Term(LITERAL, "true" if v else "false", XSD_BOOLEAN, "")
        if isinstance(v, int):
            return Term(LITERAL, str(v), XSD_INTEGER, "")
        if isinstance(v, float):
            return Term(LITERAL, canonical_double(v), XSD_DOUBLE, "")
        return None

    def _emit(self, s: Term, p: Term, o: Term, g: Term | None) -> None:
        self.statements.append(Statement(s, p, o, g))


def dir_context_loader(directory: str):
    """Context loader backed by a pre-fetched snapshot directory: the
    context for URL ``u`` lives at ``<directory>/<quote(u, safe='')>.json``
    (the full remote document — its ``@context`` member is used if
    present).  This is how a production run resolves schema.org-style
    remote contexts: snapshot once, ship with ``spark-submit --files``,
    never fetch from executors.  Returns None on a miss (→ per-island
    error, document skipped)."""
    import os
    from urllib.parse import quote

    def load(url: str):
        fn = os.path.join(directory, quote(url, safe="") + ".json")
        if not os.path.exists(fn):
            return None
        with open(fn, encoding="utf-8") as fh:
            return json.load(fh)

    return load


def parse_jsonld(
    text: str, base_iri: str = "", lax: bool = False, context_loader=None
) -> tuple[list[Statement], list[tuple[int, int, str]]]:
    """Parse a JSON-LD document string → (statements, errors).

    In lax mode JSON syntax errors / unresolvable remote contexts are
    recorded, not raised (matching the lax contract of the other
    per-island parsers).  ``context_loader`` (e.g.
    ``dir_context_loader``) resolves remote ``@context`` references
    from an offline snapshot; without one they are per-island errors.
    """
    try:
        doc = json.loads(text)
    except json.JSONDecodeError as e:
        if lax:
            return [], [(e.lineno, e.colno, f"bad JSON: {e.msg}")]
        raise ParseError(f"bad JSON: {e.msg}", e.lineno, e.colno) from e
    # json.loads decodes a lone "\ud800" escape into a str that no
    # UTF-8 sink (Arrow, parquet) can hold; a valid surrogate pair
    # decodes to one code point, so only a lone half fails to encode
    if _SURROGATE_ESCAPE.search(text):
        try:
            json.dumps(doc, ensure_ascii=False).encode("utf-8")
        except UnicodeEncodeError:
            msg = "bad JSON: lone surrogate \\u escape"
            if lax:
                return [], [(1, 1, msg)]
            raise ParseError(msg, 1, 1) from None
    conv = _JsonLdToRdf(base_iri, context_loader=context_loader)
    try:
        conv.process(doc)
    except ParseError as e:
        if lax:
            return [], [(e.line, e.col, e.message)]
        raise
    return conv.statements, []
