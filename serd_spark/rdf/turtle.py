"""Turtle / TriG recursive-descent parser.

Equivalent of the reference's statement parser (ref: src/n3.c —
``read_turtleTrigDoc → read_statement → read_directive |
read_triples``, terminals ``read_IRIREF``, ``read_PrefixedName``,
``read_BLANK_NODE_LABEL``, ``read_String``, ``read_langtag``,
``read_number``; SURVEY.md §2A op-3). Implemented from the published
W3C RDF 1.1 Turtle/TriG grammars (not translated from the C).

Properties shared with the reference:

- streaming emission order: a statement is emitted the moment its
  object term is *allocated* — for anonymous ``[...]`` / collection
  objects the parent triple precedes the inner triples, exactly like
  the reference's ``read_anon``/``read_collection`` callback order;
- document-scoped prefix/base env mutated in document order;
- strict vs lax error handling: strict raises
  :class:`~serd_spark.rdf.model.ParseError` at first error (≙
  ``SERD_ERR_BAD_SYNTAX``); lax records the error, resynchronizes at
  the next statement terminator, and continues (≙ ``serdi -l``);
- deterministic anonymous blank-node labels ``a=1, a=2, …`` in
  allocation order ('=' is not a PN_CHARS character, so generated
  labels can never collide with explicit ``_:label``s — the
  reference guards the same clash with ``SERD_ERR_ID_CLASH``).

Hot terminals are compiled regexes (C-speed scanning) because this
runs vectorized over millions of documents inside Arrow batches.
"""

from __future__ import annotations

import re

from serd_spark.rdf import chars
from serd_spark.rdf.env import Env
from serd_spark.rdf.model import (
    BLANK,
    IRI,
    LITERAL,
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    XSD_BOOLEAN,
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_INTEGER,
    ParseError,
    Statement,
    Term,
)

__all__ = ["TurtleParser", "parse_turtle", "parse_trig"]

# --- compiled terminals (grammar production names in comments) ----------

_PN_BASE = (
    "A-Za-z\u00c0-\u00d6\u00d8-\u00f6\u00f8-\u02ff\u0370-\u037d"
    "\u037f-\u1fff\u200c-\u200d\u2070-\u218f\u2c00-\u2fef"
    "\u3001-\ud7ff\uf900-\ufdcf\ufdf0-\ufffd\U00010000-\U000effff"
)
_PN_U = _PN_BASE + "_"
_PN = _PN_U + "\\-0-9\u00b7\u0300-\u036f\u203f-\u2040"

# [139s] IRIREF
_IRIREF = re.compile(
    r'<((?:[^\x00-\x20<>"{}|^`\\]|\\u[0-9A-Fa-f]{4}|\\U[0-9A-Fa-f]{8})*)>'
)
# [167s] PN_PREFIX (trailing-dot exclusion via backtracking)
_PN_PREFIX = re.compile(f"[{_PN_BASE}](?:[{_PN}.]*[{_PN}])?")
# [168s] PN_LOCAL with PLX (% / backslash escapes)
_PLX = r"%[0-9A-Fa-f]{2}|\\[_~.\-!$&'()*+,;=/?#@%]"
_PN_LOCAL = re.compile(
    f"(?:[{_PN_U}:0-9]|{_PLX})(?:(?:[{_PN}.:]|{_PLX})*(?:[{_PN}:]|{_PLX}))?"
)
# [141s] BLANK_NODE_LABEL
_BNODE_LABEL = re.compile(f"_:[{_PN_U}0-9](?:[{_PN}.]*[{_PN}])?")
# [144s] LANGTAG
_LANGTAG = re.compile(r"@([a-zA-Z]+(?:-[a-zA-Z0-9]+)*)")
# [19]-[21] INTEGER / DECIMAL / DOUBLE — double alternatives first so
# "1.5e0" is one token; bare "1." lexes as INTEGER 1 + '.' terminator.
_NUMBER = re.compile(
    r"[+-]?(?:\d+\.\d*[eE][+-]?\d+|\.\d+[eE][+-]?\d+|\d+[eE][+-]?\d+"
    r"|\d*\.\d+|\d+)"
)
# short string bodies (escape validity checked during unescape)
_STRING_DQ = re.compile(r'"((?:[^"\\\n\r]|\\.)*)"')
_STRING_SQ = re.compile(r"'((?:[^'\\\n\r]|\\.)*)'")
# whitespace + comments
_WS = re.compile(r"(?:[ \t\r\n]+|#[^\n\r]*)+")

_UCHAR = re.compile(r"\\(?:u([0-9A-Fa-f]{4})|U([0-9A-Fa-f]{8}))")

_BOOL_FOLLOW = set(" \t\r\n.,;)]}#\"'<")  # chars that may follow true/false


def _unescape_uchar_only(s: str, err) -> str:
    """Decode \\uXXXX / \\UXXXXXXXX (IRIREF allows only UCHAR)."""
    if "\\" not in s:
        return s

    def repl(m: re.Match) -> str:
        cp = int(m.group(1) or m.group(2), 16)
        if cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
            err(f"bad \\u escape codepoint U+{cp:X}")
        return chr(cp)

    out = _UCHAR.sub(repl, s)
    if "\\" in out:
        err("bad escape in IRI")
    return out


def _unescape_string(s: str, err) -> str:
    """Decode ECHAR + UCHAR escapes in a string body."""
    if "\\" not in s:
        return s
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c != "\\":
            out.append(c)
            i += 1
            continue
        if i + 1 >= n:
            err("trailing backslash in string")
        e = s[i + 1]
        if e in chars.ECHAR_DECODE:
            out.append(chars.ECHAR_DECODE[e])
            i += 2
        elif e == "u":
            hx = s[i + 2 : i + 6]
            if len(hx) != 4 or not all(h in chars.HEX_DIGITS for h in hx):
                err("bad \\u escape")
            cp = int(hx, 16)
            # a lone surrogate is no code point: no UTF-8 sink (Arrow,
            # parquet, N-Triples output) can hold it
            if 0xD800 <= cp <= 0xDFFF:
                err(f"bad \\u escape codepoint U+{cp:X}")
            out.append(chr(cp))
            i += 6
        elif e == "U":
            hx = s[i + 2 : i + 10]
            if len(hx) != 8 or not all(h in chars.HEX_DIGITS for h in hx):
                err("bad \\U escape")
            cp = int(hx, 16)
            if cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
                err(f"bad \\U escape codepoint U+{cp:X}")
            out.append(chr(cp))
            i += 10
        else:
            err(f"bad string escape '\\{e}'")
    return "".join(out)


def _unescape_pn_local(s: str) -> str:
    """Strip PN_LOCAL_ESC backslashes; %XX stays as-is (it is part of
    the IRI, per the Turtle spec)."""
    if "\\" not in s:
        return s
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        if s[i] == "\\" and i + 1 < n:
            out.append(s[i + 1])
            i += 2
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


class TurtleParser:
    """One-document Turtle or TriG parser.

    Equivalent reader state to ``SerdReader``: cursor, env, blank
    counter, statement sink (here: a list) — nothing survives across
    documents (ref: src/reader.c; SURVEY.md §4.2-6 determinism).
    """

    def __init__(
        self,
        text: str,
        base_iri: str = "",
        syntax: str = "turtle",
        lax: bool = False,
    ):
        self.s = text
        self.n = len(text)
        self.pos = 0
        self.env = Env(base_iri)
        self.trig = syntax == "trig"
        self.lax = lax
        self.blank_n = 0
        self.graph: Term | None = None
        self.statements: list[Statement] = []
        self.errors: list[tuple[int, int, str]] = []
        self.depth = 0

    # Web pages are adversarial input: cap structural nesting with a
    # deterministic ParseError instead of letting deep '[ [ [ …'
    # chains blow the Python stack (RecursionError would escape lax
    # handling and kill a whole Arrow batch). The reference survives
    # via its heap stack arena (ref: src/stack.h); real-world RDF
    # never approaches this depth.
    MAX_DEPTH = 128

    # --- infrastructure -------------------------------------------------

    def _linecol(self, pos: int) -> tuple[int, int]:
        line = self.s.count("\n", 0, pos) + 1
        nl = self.s.rfind("\n", 0, pos)
        return line, pos - nl

    def _err(self, msg: str):
        line, col = self._linecol(self.pos)
        raise ParseError(msg, line, col)

    def _skip_ws(self) -> None:
        # fast path: zero-or-one plain space (the dominant case in
        # machine-written Turtle) without a regex call
        s, p, n = self.s, self.pos, self.n
        if p < n:
            c = s[p]
            if c == " ":
                p += 1
                if p >= n:
                    self.pos = p
                    return
                c = s[p]
            if c not in " \t\r\n#":
                self.pos = p
                return
        m = _WS.match(s, p)
        if m:
            self.pos = m.end()

    def _peek(self) -> str:
        return self.s[self.pos] if self.pos < self.n else ""

    def _expect(self, ch: str) -> None:
        if not self.s.startswith(ch, self.pos):
            self._err(f"expected '{ch}'")
        self.pos += len(ch)

    def _emit(self, s: Term, p: Term, o: Term) -> None:
        self.statements.append(Statement(s, p, o, self.graph))

    def _new_blank(self) -> Term:
        # '=' is not in PN_CHARS → cannot collide with explicit labels
        self.blank_n += 1
        return Term(BLANK, f"a={self.blank_n}")

    # --- document -------------------------------------------------------

    def parse(self) -> list[Statement]:
        while True:
            self._skip_ws()
            if self.pos >= self.n:
                break
            start = self.pos
            try:
                self._read_statement()
            except ParseError as e:
                if not self.lax:
                    raise
                self.errors.append((e.line, e.col, e.message))
                self._resync(start)
        return self.statements

    def _resync(self, start: int, block: bool = False) -> None:
        """Lax-mode resynchronization: skip to just past the next
        statement terminator ('.' at top level, or '}' in TriG),
        ignoring terminators inside strings/IRIs (≙ serdi -l skipping
        the bad statement). Inside a TriG graph block (``block``) only
        the block's closing '}' terminates. A terminator AT the error
        (a stray '.') is the bad statement's own; every branch below
        moves past ``start``, so the scan may begin there."""
        i = max(self.pos, start)
        s, n = self.s, self.n
        while i < n:
            c = s[i]
            if c == "." and not block:
                self.pos = i + 1
                return
            if c == "}" and self.trig:
                self.pos = i + 1
                return
            if c in "\"'":
                # skip string (short or long) without unescaping
                if s.startswith(c * 3, i):
                    end = s.find(c * 3, i + 3)
                    i = n if end < 0 else end + 3
                else:
                    # short strings cannot contain raw newlines — an
                    # unterminated one ends the broken statement at
                    # the line break, so resync stops there
                    j = i + 1
                    while j < n and s[j] != c and s[j] not in "\n\r":
                        j += 2 if s[j] == "\\" else 1
                    if (j >= n or s[j] in "\n\r") and not block:
                        self.pos = j
                        return
                    i = j + 1
            elif c == "<":
                j = s.find(">", i + 1)
                nl = s.find("\n", i + 1)
                if j == -1 or (nl != -1 and nl < j):
                    i += 1
                else:
                    i = j + 1
            elif c == "#":
                j = s.find("\n", i)
                i = n if j == -1 else j + 1
            else:
                i += 1
        self.pos = n

    # --- statements -----------------------------------------------------

    def _read_statement(self) -> None:
        s = self.s
        p = self.pos
        # cheap first-char gate before any slicing/upper-casing: the
        # overwhelmingly common statement starts with an IRI/pname
        c0 = s[p] if p < self.n else ""
        if c0 == "@":
            if s.startswith("@prefix", p):
                self.pos = p + 7
                self._read_prefix_directive(sparql=False)
                return
            if s.startswith("@base", p):
                self.pos = p + 5
                self._read_base_directive(sparql=False)
                return
        elif c0 in "PpBb":
            word = s[p : p + 7]
            if word.upper().startswith("PREFIX") and not self._is_pname_ahead():
                self.pos = p + 6
                self._read_prefix_directive(sparql=True)
                return
            if word.upper().startswith("BASE") and not self._is_pname_ahead():
                self.pos = p + 4
                self._read_base_directive(sparql=True)
                return
        if self.trig:
            self._read_trig_block()
        else:
            self._read_triples()
            self._skip_ws()
            self._expect(".")

    def _is_pname_ahead(self) -> bool:
        """Disambiguate SPARQL-style PREFIX/BASE from a prefixed name
        like ``BASE:x`` — if the token resolves to a PNAME (has ':'
        immediately after the prefix chars) it is a name, not a
        directive."""
        m = _PN_PREFIX.match(self.s, self.pos)
        end = m.end() if m else self.pos
        return end < self.n and self.s[end] == ":"

    def _read_prefix_directive(self, sparql: bool) -> None:
        self._skip_ws()
        # PNAME_NS: optional PN_PREFIX then ':'
        m = _PN_PREFIX.match(self.s, self.pos)
        name = ""
        if m:
            name = m.group(0)
            self.pos = m.end()
        self._expect(":")
        self._skip_ws()
        iri_ref = self._read_iriref_raw()
        self.env.set_prefix(name, iri_ref)
        if not sparql:
            self._skip_ws()
            self._expect(".")

    def _read_base_directive(self, sparql: bool) -> None:
        self._skip_ws()
        iri_ref = self._read_iriref_raw()
        self.env.set_base(iri_ref)
        if not sparql:
            self._skip_ws()
            self._expect(".")

    # --- TriG blocks ------------------------------------------------------

    def _read_trig_block(self) -> None:
        c = self._peek()
        if c == "{":
            self._read_wrapped_graph(None)
            return
        if self.s[self.pos : self.pos + 5].upper() == "GRAPH" and not (
            self._is_pname_ahead()
        ):
            save = self.pos
            self.pos += 5
            self._skip_ws()
            label = self._read_label_or_subject()
            self._skip_ws()
            if self._peek() != "{":
                self.pos = save
                self._err("expected '{' after GRAPH label")
            self._read_wrapped_graph(label)
            return
        if c == "[":
            # triples2: blankNodePropertyList predicateObjectList? '.'
            before = len(self.statements)
            b = self._read_anon(None, None)
            self._skip_ws()
            if self._peek() != ".":
                self._read_predicate_object_list(b)
                self._skip_ws()
            elif len(self.statements) == before:
                self._err("empty blank node as lone subject")
            self._expect(".")
            return
        if c == "(":
            head = self._read_collection(None, None)
            self._skip_ws()
            self._read_predicate_object_list(head)
            self._skip_ws()
            self._expect(".")
            return
        # triplesOrGraph: labelOrSubject (wrappedGraph | pol '.')
        label = self._read_label_or_subject()
        self._skip_ws()
        if self._peek() == "{":
            self._read_wrapped_graph(label)
        else:
            self._read_predicate_object_list(label)
            self._skip_ws()
            self._expect(".")

    def _read_label_or_subject(self) -> Term:
        c = self._peek()
        if c == "<":
            return Term(IRI, self._read_iri_resolved())
        if c == "_":
            return self._read_blank_label()
        return self._read_prefixed_name()

    def _read_wrapped_graph(self, label: Term | None) -> None:
        start = self.pos
        self._expect("{")
        prev = self.graph
        self.graph = label
        try:
            while True:
                self._skip_ws()
                if self._peek() == "}":
                    self.pos += 1
                    break
                if self.pos >= self.n:
                    self._err("unterminated graph block")
                self._read_triples()
                self._skip_ws()
                if self._peek() == ".":
                    self.pos += 1
                elif self._peek() == "}":
                    self.pos += 1
                    break
                else:
                    self._err("expected '.' or '}' in graph block")
        except ParseError as e:
            if not self.lax:
                raise
            # resync to the block's own '}': resuming after the bad
            # statement's '.' would read the '}' as a statement start
            self.errors.append((e.line, e.col, e.message))
            self._resync(start, block=True)
        finally:
            self.graph = prev

    # --- triples ----------------------------------------------------------

    def _read_triples(self) -> None:
        c = self._peek()
        if c == "":
            self._err("unexpected end of input")
        if c == "[":
            before = len(self.statements)
            b = self._read_anon(None, None)
            self._skip_ws()
            nxt = self._peek()
            if nxt in ".}" or (self.pos >= self.n):
                # triples2: bare [ ... ] .  requires non-empty inner list
                # (ANON '[]' alone is only a subject, which needs a
                # predicateObjectList)
                if len(self.statements) == before:
                    self._err("empty blank node as lone subject")
                return
            self._read_predicate_object_list(b)
            return
        if c == "(":
            head = self._read_collection(None, None)
            self._skip_ws()
            self._read_predicate_object_list(head)
            return
        subj = self._read_subject()
        self._skip_ws()
        self._read_predicate_object_list(subj)

    def _read_subject(self) -> Term:
        c = self._peek()
        if c == "<":
            return Term(IRI, self._read_iri_resolved())
        if c == "_":
            return self._read_blank_label()
        if c in "\"'" or c.isdigit() or c in "+-":
            self._err("literal is not a valid subject")
        return self._read_prefixed_name()

    def _read_predicate_object_list(self, subj: Term) -> None:
        while True:
            verb = self._read_verb()
            self._skip_ws()
            self._read_object_list(subj, verb)
            self._skip_ws()
            if self._peek() != ";":
                return
            # consume runs of ';' (grammar allows empty items)
            while self._peek() == ";":
                self.pos += 1
                self._skip_ws()
            if self._peek() in ".}]" or self.pos >= self.n:
                return

    def _read_verb(self) -> Term:
        c = self._peek()
        if c == "a":
            nxt = self.s[self.pos + 1 : self.pos + 2]
            if nxt == "" or nxt in chars.WS or nxt in "<#[(\"'":
                self.pos += 1
                return Term(IRI, RDF_TYPE)
        if c == "<":
            return Term(IRI, self._read_iri_resolved())
        if c == "_":
            self._err("blank node is not a valid predicate")
        return self._read_prefixed_name()

    def _read_object_list(self, subj: Term, pred: Term) -> None:
        while True:
            self._read_object(subj, pred)
            self._skip_ws()
            if self._peek() != ",":
                return
            self.pos += 1
            self._skip_ws()

    def _read_object(self, subj: Term | None, pred: Term | None) -> None:
        """Parse one object and emit (subj, pred, object) — parent
        triple FIRST for anon/collection objects (streaming order,
        ref: src/reader.c#emit_statement + src/n3.c#read_anon)."""
        c = self._peek()
        if c == "":
            self._err("expected object")
        if c == "<":
            self._emit(subj, pred, Term(IRI, self._read_iri_resolved()))
            return
        if c == "_":
            self._emit(subj, pred, self._read_blank_label())
            return
        if c == "[":
            self._read_anon(subj, pred)
            return
        if c == "(":
            self._read_collection(subj, pred)
            return
        if c in "\"'":
            self._emit(subj, pred, self._read_literal())
            return
        if c.isdigit() or c in "+-" or (
            c == "." and self.s[self.pos + 1 : self.pos + 2].isdigit()
        ):
            self._emit(subj, pred, self._read_number())
            return
        # boolean keywords
        for kw in ("true", "false"):
            if self.s.startswith(kw, self.pos):
                end = self.pos + len(kw)
                after = self.s[end : end + 1]
                if after == ".":
                    # '.' is a boolean-follower ONLY as a statement
                    # terminator; 'true.x:y' is a conforming PNAME_LN
                    # ('.' is medial in PN_PREFIX), so look one
                    # further: a PN char or another '.' means we are
                    # inside a prefixed name, not at statement end
                    # (':' is NOT included — a prefix cannot end with
                    # '.', so 'true.:x' is boolean, dot, then ':x')
                    nxt = self.s[end + 1 : end + 2]
                    if nxt and (chars.is_pn_chars(nxt) or nxt == "."):
                        continue
                if after == "" or after in _BOOL_FOLLOW:
                    self.pos = end
                    self._emit(subj, pred, Term(LITERAL, kw, XSD_BOOLEAN, ""))
                    return
        self._emit(subj, pred, self._read_prefixed_name())

    # --- structured terms -------------------------------------------------

    def _read_anon(self, subj: Term | None, pred: Term | None) -> Term:
        """[ predicateObjectList? ] — allocate blank, emit parent
        triple (if any), then inner triples (ref: src/n3.c#read_anon)."""
        self._expect("[")
        b = self._new_blank()
        if subj is not None:
            self._emit(subj, pred, b)
        self._skip_ws()
        if self._peek() == "]":
            self.pos += 1
            return b
        self.depth += 1
        if self.depth > self.MAX_DEPTH:
            self._err("maximum nesting depth exceeded")
        try:
            self._read_predicate_object_list(b)
        finally:
            self.depth -= 1
        self._skip_ws()
        self._expect("]")
        return b

    def _read_collection(self, subj: Term | None, pred: Term | None) -> Term:
        """( object* ) → rdf:first/rdf:rest/rdf:nil chain (ref:
        src/n3.c#read_collection). Returns the head node."""
        self._expect("(")
        self._skip_ws()
        first_t = Term(IRI, RDF_FIRST)
        rest_t = Term(IRI, RDF_REST)
        nil = Term(IRI, RDF_NIL)
        if self._peek() == ")":
            self.pos += 1
            if subj is not None:
                self._emit(subj, pred, nil)
            return nil
        head = self._new_blank()
        if subj is not None:
            self._emit(subj, pred, head)
        self.depth += 1
        if self.depth > self.MAX_DEPTH:
            self._err("maximum nesting depth exceeded")
        try:
            node = head
            self._read_object(node, first_t)
            while True:
                self._skip_ws()
                if self._peek() == ")":
                    self.pos += 1
                    self._emit(node, rest_t, nil)
                    return head
                if self.pos >= self.n:
                    self._err("unterminated collection")
                nxt = self._new_blank()
                self._emit(node, rest_t, nxt)
                node = nxt
                self._read_object(node, first_t)
        finally:
            self.depth -= 1

    # --- terminals ----------------------------------------------------------

    def _read_iriref_raw(self) -> str:
        """IRIREF token → unescaped, UNresolved IRI string."""
        m = _IRIREF.match(self.s, self.pos)
        if not m:
            if self._peek() == "<":
                self._err("bad IRI character or unterminated IRI")
            self._err("expected IRI")
        self.pos = m.end()
        return _unescape_uchar_only(m.group(1), self._err)

    def _read_iri_resolved(self) -> str:
        raw = self._read_iriref_raw()
        return self.env.resolve(raw)

    def _read_blank_label(self) -> Term:
        m = _BNODE_LABEL.match(self.s, self.pos)
        if not m:
            self._err("bad blank node label")
        self.pos = m.end()
        return Term(BLANK, m.group(0)[2:])

    def _read_prefixed_name(self) -> Term:
        p0 = self.pos
        m = _PN_PREFIX.match(self.s, p0)
        pre_end = m.end() if m else p0
        if pre_end >= self.n or self.s[pre_end] != ":":
            self._err("expected prefixed name")
        ml = _PN_LOCAL.match(self.s, pre_end + 1)
        tok_end = ml.end() if ml else pre_end + 1
        # token-level memo (env-owned, cleared on prefix/base change):
        # vocabularies repeat the same handful of p-names endlessly
        # (a combined prefix+colon+local single-regex variant was
        # measured ~6% SLOWER — optional-group backtracking)
        token = self.s[p0:tok_end]
        cached = self.env.pn_cache.get(token)
        if cached is not None:
            self.pos = tok_end
            return cached
        prefix = self.s[p0:pre_end]
        local = _unescape_pn_local(ml.group(0)) if ml else ""
        self.pos = tok_end
        try:
            term = Term(IRI, self.env.expand(prefix, local))
        except KeyError:
            self.pos = p0
            self._err(f"undefined prefix '{prefix}:'")
        if len(self.env.pn_cache) < 4096:
            self.env.pn_cache[token] = term
        return term

    def _read_literal(self) -> Term:
        value = self._read_string_body()
        # optional LANGTAG or '^^' datatype
        c = self._peek()
        if c == "@":
            m = _LANGTAG.match(self.s, self.pos)
            if not m:
                self._err("bad language tag")
            self.pos = m.end()
            return Term(LITERAL, value, "", m.group(1))
        if self.s.startswith("^^", self.pos):
            self.pos += 2
            self._skip_ws()
            cc = self._peek()
            if cc == "<":
                dt = self._read_iri_resolved()
            else:
                dt_term = self._read_prefixed_name()
                dt = dt_term.value
            return Term(LITERAL, value, dt, "")
        return Term(LITERAL, value, "", "")

    def _read_string_body(self) -> str:
        s, p = self.s, self.pos
        q = s[p]
        if s.startswith(q * 3, p):
            return self._read_long_string(q)
        m = (_STRING_DQ if q == '"' else _STRING_SQ).match(s, p)
        if not m:
            self._err("unterminated string")
        self.pos = m.end()
        return _unescape_string(m.group(1), self._err)

    def _read_long_string(self, q: str) -> str:
        s = self.s
        i = self.pos + 3
        n = self.n
        start = i
        while i < n:
            c = s[i]
            if c == "\\":
                i += 2
                continue
            if c == q and s.startswith(q * 3, i):
                # greedy: extra quotes belong to the content
                j = i
                while j < n and s[j] == q:
                    j += 1
                close = j - 3
                body = s[start:close]
                self.pos = j
                return _unescape_string(body, self._err)
            i += 1
        self._err("unterminated long string")

    def _read_number(self) -> Term:
        m = _NUMBER.match(self.s, self.pos)
        if not m:
            self._err("bad numeric literal")
        tok = m.group(0)
        self.pos = m.end()
        if "e" in tok or "E" in tok:
            dt = XSD_DOUBLE
        elif "." in tok:
            dt = XSD_DECIMAL
        else:
            dt = XSD_INTEGER
        return Term(LITERAL, tok, dt, "")


def parse_turtle(
    text: str, base_iri: str = "", lax: bool = False
) -> tuple[list[Statement], list[tuple[int, int, str]]]:
    """Parse a Turtle document → (statements, lax-mode errors)."""
    p = TurtleParser(text, base_iri, syntax="turtle", lax=lax)
    stmts = p.parse()
    return stmts, p.errors


def parse_trig(
    text: str, base_iri: str = "", lax: bool = False
) -> tuple[list[Statement], list[tuple[int, int, str]]]:
    """Parse a TriG document → (statements, lax-mode errors)."""
    p = TurtleParser(text, base_iri, syntax="trig", lax=lax)
    stmts = p.parse()
    return stmts, p.errors
