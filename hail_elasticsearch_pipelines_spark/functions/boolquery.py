"""Boolean query language over the inverted index — the ES
query-string analog (the reference delegates query parsing entirely to
Elasticsearch; this is the native re-expression).

Grammar (case-insensitive keywords, parens for grouping):

    expr   := or
    or     := and ( OR and )*
    and    := unary ( AND unary )*
    unary  := NOT unary | atom
    atom   := TERM | '(' expr ')'

Semantics (Lucene BooleanQuery-shaped):
  * the boolean expression is a FILTER deciding which docs match;
  * a doc's SCORE is the BM25 sum over the query's POSITIVE terms that
    the doc contains (ascending term order, float64 — the same
    determinism contract as everywhere else);
  * NOT only excludes (pure negation has no candidates): a NOT that is
    not intersected with something positive raises.

Shared by the distributed searcher, the local searcher, and the oracle
so all three evaluate queries identically.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np

from .tokenize import py_tokenize

_TOKEN_RE = re.compile(
    r"\(|\)|\bAND\b|\bOR\b|\bNOT\b"
    r'|"[^"]*"(?:~[0-9]+)?'  # quoted phrase atom: "big table"~2
    r"|[^\s():]+:[\[{][^\[\]{}]*[\]}]"  # range atom: field:[lo TO hi]
    r"|[^\s()]+",
    re.IGNORECASE,
)
_PHRASE_ATOM_RE = re.compile(r'^"([^"]*)"(?:~([0-9]+))?$')
_FUZZY_RE = re.compile(r"^(.+)~([0-9])?$")
_BOOST_RE = re.compile(r"^(.+)\^(\d+(?:\.\d+)?)$")
_RANGE_RE = re.compile(
    r"^([^\s():]+):([\[{])\s*(\S+)\s+TO\s+(\S+)\s*([\]}])$", re.IGNORECASE
)


@dataclass
class Term:
    term: str
    # filter terms (e.g. `lang:en` facets) constrain matches but never
    # contribute to the BM25 score — the ES filter-context analog
    filter: bool = False
    # wildcard terms (`foo*`) hold the PREFIX; the searcher expands
    # them against its termdict via expand_wildcards before evaluation
    wildcard: bool = False
    # fuzzy terms (`foo~` / `foo~2`) hold the base term; ``fuzzy`` is
    # the max edit distance, expanded by the searcher like wildcards
    fuzzy: int = 0
    # query-time boost (`foo^2` — ES query_string clause boosting):
    # multiplies the term's idf at scoring time; bounds scale linearly
    # so every pruned kernel stays exact.  Scoring atoms only.
    boost: float = 1.0


@dataclass
class RangeTerm:
    """Doc-value atom resolved against the doc-value store — the ES
    query_string range syntax ``field:[lo TO hi]`` (`[`/`]` inclusive,
    `{`/`}` exclusive per ES; ``*`` = unbounded/None), the
    ``_exists_:field`` atom (both bounds None), or an EQUALITY atom
    ``field:value`` on a doc-value-only field (``eq`` set — the ES
    term query on an unindexed doc-valued field; multi-valued fields
    match when ANY element equals).  Pure filter context: constrains
    matches, never contributes to the BM25 score (same contract as
    facet atoms).  Searchers resolve it against the doc-value store
    and inject the allowed doc set under ``key()`` before
    evaluation."""

    field: str
    lo: object  # None = unbounded
    hi: object
    incl_lo: bool = True
    incl_hi: bool = True
    eq: object = None  # equality atom; lo/hi are None when set

    def key(self) -> str:
        if self.eq is not None:
            return f"{self.field}:={self.eq!r}"
        lo = "*" if self.lo is None else self.lo
        hi = "*" if self.hi is None else self.hi
        lb = "[" if self.incl_lo else "{"
        rb = "]" if self.incl_hi else "}"
        return f"{self.field}:{lb}{lo} TO {hi}{rb}"


@dataclass(frozen=True)
class NestedTerm:
    """Nested-object atom ``genotypes.sample_id:s1`` — an equality
    filter on one scalar leaf of an array-of-struct (ES ``nested``
    type) field, resolved against the index's exploded nested sidecar
    (the analog of ES's hidden nested sub-documents; the reference's
    mapping derivation emits ``"type": "nested"`` for exactly these
    columns, hail_scripts/v02/utils/elasticsearch_utils.py:22-28).
    Pure filter context: matches docs having ANY object whose leaf
    equals the value; never contributes to the BM25 score.  Searchers
    resolve it against the nested table and inject the matching doc
    set under ``key()`` before evaluation, exactly like range and
    phrase atoms.  Multi-condition SAME-OBJECT semantics need the
    ``search_nested`` API — two NestedTerm atoms ANDed in a query
    match ES's ``object`` (cross-object) behavior, not ``nested``."""

    path: str  # dotted "field.leaf"
    value: str  # facet-normalized match value ("" for exists atoms)
    exists: bool = False  # _exists_:field.leaf — any object holds the leaf

    def key(self) -> str:
        if self.exists:
            return f"_exists_:{self.path}"
        return f"{self.path}:={self.value}"


def nested_atoms(node) -> list:
    """Unique NestedTerm atoms of the AST, first-appearance order
    (deduped by key()) — the nested-sidecar sets a searcher must
    resolve before evaluation."""
    out, seen = [], set()

    def walk(n):
        if isinstance(n, NestedTerm):
            if n.key() not in seen:
                seen.add(n.key())
                out.append(n)
        elif isinstance(n, Not):
            walk(n.part)
        elif isinstance(n, (And, Or)):
            for p in n.parts:
                walk(p)

    walk(node)
    return out


@dataclass(frozen=True)
class PhraseTerm:
    """Quoted phrase atom ``"big table"`` (optional slop suffix
    ``"big table"~2``) — the ES query_string match_phrase clause, here
    in FILTER context: it constrains matches to docs containing the
    (in-order, slop-windowed) phrase but contributes no score — the
    phrase's tokens are not in the scoring set unless they also appear
    unquoted.  Searchers resolve it against positional postings and
    inject the matching doc set under ``key()`` before evaluation,
    exactly like range atoms ride the doc-value store."""

    tokens: tuple
    slop: int = 0

    def key(self) -> str:
        return '"' + " ".join(self.tokens) + f'"~{self.slop}'


def phrase_atoms(node) -> list:
    """Unique PhraseTerm atoms of the AST, first-appearance order
    (deduped by key()) — the positional sets a searcher must resolve
    before evaluation."""
    out, seen = [], set()

    def walk(n):
        if isinstance(n, PhraseTerm):
            if n.key() not in seen:
                seen.add(n.key())
                out.append(n)
        elif isinstance(n, Not):
            walk(n.part)
        elif isinstance(n, (And, Or)):
            for p in n.parts:
                walk(p)

    walk(node)
    return out


def _range_value(tok: str):
    """``*`` → None; else int, float, or the raw string (timestamps)."""
    if tok == "*":
        return None
    for conv in (int, float):
        try:
            return conv(tok)
        except ValueError:
            pass
    return tok


@dataclass
class And:
    parts: list


@dataclass
class Or:
    parts: list


@dataclass
class Not:
    part: object


class QueryParseError(ValueError):
    pass


def parse(
    query: str,
    analyzed_fields: "set[str] | frozenset[str]" = frozenset(),
    dv_fields: "set[str] | frozenset[str]" = frozenset(),
    nested_fields: "set[str] | frozenset[str]" = frozenset(),
):
    """Parse a boolean query string into an AST of Term/And/Or/Not.

    ``analyzed_fields``: names of extra ANALYZED text fields of the
    index (manifest params ``text_fields``).  A ``field:value`` atom
    whose field is in this set parses as a SCORING term over the
    field's prefixed postings (``title:foo`` — the ES per-field
    query-string syntax, elasticsearch_client.py:166-177).

    ``dv_fields``: stored non-facet doc-value columns.  A
    ``field:value`` atom on one of these parses as a doc-value
    EQUALITY filter (the ES term query on a doc-value-only field —
    every field stays queryable, indexed fields are just faster).

    ``nested_fields``: dotted ``field.leaf`` paths of the index's
    nested (array-of-struct) columns.  A ``field.leaf:value`` atom on
    one of these parses as a NestedTerm equality filter resolved
    against the nested sidecar.

    Any other ``field:value`` atom keeps the facet-filter meaning."""
    toks = _TOKEN_RE.findall(query)
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def eat(expected=None):
        nonlocal pos
        if pos >= len(toks):
            raise QueryParseError(f"unexpected end of query: {query!r}")
        t = toks[pos]
        if expected and t.upper() != expected:
            raise QueryParseError(f"expected {expected}, got {t!r}")
        pos += 1
        return t

    def atom():
        t = peek()
        if t is None:
            raise QueryParseError(f"unexpected end of query: {query!r}")
        if t == "(":
            eat()
            node = or_()
            eat(")")
            return node
        if t.upper() in ("AND", "OR", "NOT", ")"):
            raise QueryParseError(f"unexpected {t!r} in {query!r}")
        eat()
        ph = _PHRASE_ATOM_RE.match(t)
        if ph:
            toks = tuple(py_tokenize(ph.group(1)))
            if not toks:
                raise QueryParseError(f"empty phrase atom: {t!r}")
            if len(toks) == 1:
                # single-token phrase degrades to the plain term (it
                # scores, as in ES)
                return Term(toks[0])
            return PhraseTerm(toks, int(ph.group(2) or 0))
        boost = 1.0
        bm = _BOOST_RE.match(t)
        if bm and not _RANGE_RE.match(t):
            t, boost = bm.group(1), float(bm.group(2))
            if boost <= 0:
                raise QueryParseError(f"boost must be > 0 in {bm.group(0)!r}")
        if t.lower().startswith("_exists_:"):
            # ES `_exists_:field` — docs holding ANY value for the
            # doc-value field (filter context; an unbounded RangeTerm
            # resolves to the NULL-filtered value set on every path)
            if boost != 1.0:
                raise QueryParseError(
                    f"boost on a filter-context _exists_ atom: {t!r}"
                )
            fld = t.split(":", 1)[1]
            if "." in fld:  # nested leaf: any object holds the leaf
                if fld not in nested_fields:
                    raise QueryParseError(
                        f"unknown nested path {fld!r} in {t!r} — the "
                        "index's nested leaves are "
                        f"{sorted(nested_fields) or '(none)'}"
                    )
                return NestedTerm(fld, "", exists=True)
            # raw field name (doc-value column) — same convention as
            # the range-atom syntax, which also keeps underscores
            if not re.fullmatch(r"[a-z0-9_]+", fld):
                raise QueryParseError(f"bad _exists_ atom: {t!r}")
            return RangeTerm(fld, None, None)
        rng = _RANGE_RE.match(t)
        if rng:
            if boost != 1.0:
                raise QueryParseError(
                    f"boost on a filter-context range atom: {t!r}^{boost:g}"
                )
            field, lb, lo, hi, rb = rng.groups()
            lo_v, hi_v = _range_value(lo), _range_value(hi)
            if lo_v is None and hi_v is None:
                raise QueryParseError(
                    f"range atom needs at least one bound: {t!r}"
                )
            return RangeTerm(
                field, lo_v, hi_v, incl_lo=lb == "[", incl_hi=rb == "]"
            )
        fuzz = _FUZZY_RE.match(t)
        if t.endswith("*") and len(t) > 1 or fuzz:  # expansion atom
            edits = 0
            if fuzz:
                body, efield = fuzz.group(1), fuzz.group(2)
                edits = int(efield) if efield else 1
                if edits > 2:
                    raise QueryParseError(
                        f"fuzzy edit distance > 2 in {t!r} (ES caps at 2)"
                    )
            else:
                body = t[:-1]
            field = None
            if ":" in body:
                field, body = body.split(":", 1)
                nf = py_tokenize(field)
                if len(nf) != 1 or nf[0] not in analyzed_fields:
                    raise QueryParseError(
                        f"wildcard/fuzzy on non-analyzed field in {t!r}"
                    )
                field = nf[0]
            nb = py_tokenize(body)
            if len(nb) != 1:
                raise QueryParseError(f"bad wildcard/fuzzy atom: {t!r}")
            pre = f"{field}:{nb[0]}" if field else nb[0]
            if fuzz:
                return (
                    Term(pre, fuzzy=edits, boost=boost)
                    if edits
                    else Term(pre, boost=boost)
                )
            return Term(pre, wildcard=True, boost=boost)
        if ":" in t:  # field atom: analyzed term, dv filter, or facet
            field, value = t.split(":", 1)
            from ..operators.index_build import facet_token, py_facet_value

            if "." in field:  # nested-object leaf: genotypes.sample_id:s1
                if boost != 1.0:
                    raise QueryParseError(
                        f"boost on a filter-context nested atom: {t!r}"
                    )
                if field not in nested_fields:
                    raise QueryParseError(
                        f"unknown nested path {field!r} in {t!r} — the "
                        "index's nested leaves are "
                        f"{sorted(nested_fields) or '(none)'}"
                    )
                nv = py_facet_value(value)
                if not nv:
                    raise QueryParseError(f"bad nested atom: {t!r}")
                return NestedTerm(field, nv)
            if field in dv_fields:
                if boost != 1.0:
                    raise QueryParseError(
                        f"boost on a filter-context doc-value atom: {t!r}"
                    )
                if not value:
                    raise QueryParseError(f"bad doc-value atom: {t!r}")
                return RangeTerm(field, None, None, eq=_range_value(value))
            nf = py_tokenize(field)
            if len(nf) == 1 and nf[0] in analyzed_fields:
                nv = py_tokenize(value)
                if len(nv) != 1:
                    raise QueryParseError(
                        f"not a single indexable term for field "
                        f"{nf[0]!r}: {value!r}"
                    )
                return Term(f"{nf[0]}:{nv[0]}", boost=boost)
            if len(nf) != 1 or not py_facet_value(value):
                raise QueryParseError(f"bad facet atom: {t!r}")
            if boost != 1.0:
                raise QueryParseError(
                    f"boost on a filter-context facet atom: {t!r}^{boost:g}"
                )
            return Term(facet_token(nf[0], value), filter=True)
        normalized = py_tokenize(t)
        if len(normalized) != 1:
            raise QueryParseError(f"not a single indexable term: {t!r}")
        return Term(normalized[0], boost=boost)

    def unary():
        if peek() and peek().upper() == "NOT":
            eat()
            return Not(unary())
        return atom()

    def and_():
        parts = [unary()]
        while peek() and peek().upper() == "AND":
            eat()
            parts.append(unary())
        return parts[0] if len(parts) == 1 else And(parts)

    def or_():
        parts = [and_()]
        while peek() and peek().upper() == "OR":
            eat()
            parts.append(and_())
        return parts[0] if len(parts) == 1 else Or(parts)

    node = or_()
    if pos != len(toks):
        raise QueryParseError(f"trailing tokens in {query!r}: {toks[pos:]}")
    return node


# reserved no-match term for wildcards that expand to nothing: contains
# ':' outside the 'field:token' shape, so no indexed term can equal it
NO_MATCH_TERM = ":nomatch:"


def expand_wildcards(node, expander, fuzzy_expander=None):
    """Replace every wildcard Term with the OR of its prefix expansion
    (``expander(prefix) -> list[str]`` — a searcher's termdict range
    scan) and every fuzzy Term with its edit-distance expansion
    (``fuzzy_expander(term, max_edits) -> list[str]``).  An empty
    expansion becomes the reserved NO_MATCH_TERM (matches nothing,
    scores nothing) — ES semantics for both."""
    if isinstance(node, (RangeTerm, PhraseTerm, NestedTerm)):
        return node
    if isinstance(node, Term):
        if node.wildcard:
            terms = expander(node.term)
        elif node.fuzzy:
            if fuzzy_expander is None:
                raise QueryParseError(
                    "fuzzy atom present but no fuzzy expander provided"
                )
            terms = fuzzy_expander(node.term, node.fuzzy)
        else:
            return node
        if not terms:
            return Term(NO_MATCH_TERM)
        if len(terms) == 1:
            return Term(terms[0], boost=node.boost)
        return Or([Term(t, boost=node.boost) for t in sorted(terms)])
    if isinstance(node, Not):
        return Not(expand_wildcards(node.part, expander, fuzzy_expander))
    if isinstance(node, And):
        return And(
            [expand_wildcards(p, expander, fuzzy_expander) for p in node.parts]
        )
    if isinstance(node, Or):
        return Or(
            [expand_wildcards(p, expander, fuzzy_expander) for p in node.parts]
        )
    raise QueryParseError(f"unknown node {node!r}")


def expand_synonyms(node, synonyms: "dict[str, list[str]]"):
    """Query-time synonym expansion — the ES ``synonym_graph`` search
    analyzer re-expressed as a query rewrite: every analyzed scoring
    Term with an entry becomes the OR of itself and its synonyms, each
    synonym inheriting the term's boost.  Applies inside NOT too
    (analyzer semantics: ``NOT fast`` with fast→quick excludes docs
    containing EITHER).  Filter-context atoms (facets, ranges,
    phrases, nested) and wildcard/fuzzy atoms (expansion happens
    against the termdict, not the synonym map) are untouched.
    Synonyms must normalize to single index tokens."""
    norm: dict[str, list[str]] = {}
    for k, syns in synonyms.items():
        out = []
        for s in syns:
            ts = py_tokenize(s)
            if len(ts) != 1:
                raise QueryParseError(
                    f"synonym {s!r} for {k!r} is not a single index token"
                )
            out.append(ts[0])
        norm[k] = sorted(dict.fromkeys(out))

    def walk(n):
        if isinstance(n, (RangeTerm, PhraseTerm, NestedTerm)):
            return n
        if isinstance(n, Term):
            if n.filter or n.wildcard or n.fuzzy:
                return n
            syns = [s for s in norm.get(n.term, ()) if s != n.term]
            if not syns:
                return n
            return Or(
                [n] + [Term(s, boost=n.boost) for s in syns]
            )
        if isinstance(n, Not):
            return Not(walk(n.part))
        if isinstance(n, And):
            return And([walk(p) for p in n.parts])
        if isinstance(n, Or):
            return Or([walk(p) for p in n.parts])
        raise QueryParseError(f"unknown node {n!r}")

    return walk(node)


def range_atoms(node) -> list:
    """Unique RangeTerm atoms of the AST, in first-appearance order
    (deduped by key()) — the doc-value sets a searcher must resolve
    before evaluation."""
    out, seen = [], set()

    def walk(n):
        if isinstance(n, RangeTerm):
            if n.key() not in seen:
                seen.add(n.key())
                out.append(n)
        elif isinstance(n, Not):
            walk(n.part)
        elif isinstance(n, (And, Or)):
            for p in n.parts:
                walk(p)

    walk(node)
    return out


def filter_atoms(node) -> list:
    """Range, then phrase, then nested atoms of the AST — the
    filter-context sets a searcher resolves outside the term postings
    (none for a term-list query, ``node`` None)."""
    if node is None:
        return []
    return range_atoms(node) + phrase_atoms(node) + nested_atoms(node)


def reject_filter_atoms(node, api: str, allowed: tuple = ()) -> None:
    """Raise QueryParseError on the driver when the AST holds a filter
    atom ``api`` cannot evaluate (any type outside ``allowed``) — an
    API that reads term postings only would otherwise fail inside a
    task, or count an unresolvable atom as matching nothing."""
    for atom in filter_atoms(node):
        if not isinstance(atom, allowed):
            raise QueryParseError(
                f"{api} does not support the atom {atom.key()!r} (doc-value "
                "range, quoted phrase or nested)"
            )


def has_wildcards(node) -> bool:
    """True when any atom needs termdict expansion (wildcard OR fuzzy)."""
    if isinstance(node, (RangeTerm, PhraseTerm, NestedTerm)):
        return False
    if isinstance(node, Term):
        return node.wildcard or bool(node.fuzzy)
    if isinstance(node, Not):
        return has_wildcards(node.part)
    return any(has_wildcards(p) for p in node.parts)


def facet_atom_tokens(node) -> list[str]:
    """Sorted facet tokens (`__field_value__`) appearing anywhere in
    the AST — the field-existence check behind _validate/query."""
    out: set[str] = set()

    def walk(n):
        if isinstance(n, Term):
            if n.filter and n.term.startswith("__") and n.term.endswith("__"):
                out.add(n.term)
        elif isinstance(n, Not):
            walk(n.part)
        elif not isinstance(n, (RangeTerm, PhraseTerm, NestedTerm)):
            for p in n.parts:
                walk(p)

    walk(node)
    return sorted(out)


def positive_terms(node) -> list[str]:
    """Sorted positive (non-negated) terms — the scoring terms."""
    out: set[str] = set()

    def walk(n, negated: bool):
        if isinstance(n, (RangeTerm, PhraseTerm, NestedTerm)):
            pass  # filter context: never scores
        elif isinstance(n, Term):
            if not negated and not n.filter:
                out.add(n.term)
        elif isinstance(n, Not):
            walk(n.part, not negated)
        else:
            for p in n.parts:
                walk(p, negated)

    walk(node, False)
    return sorted(out)


def is_pure_negation(node) -> bool:
    """True when the AST's match set is a COMPLEMENT ("everything
    except these docs") — the shape eval_docs returns as a (NEG, docs)
    marker.  Only a NOT chain at the root has it: AND roots absorb
    inner negations against their positive side and OR roots reject
    them outright (both raise in eval_docs otherwise).  Counting APIs
    (filters/adjacency aggregations) must reject this shape at parse
    time — mapping it to doc_count 0 would be plausible-but-wrong
    (ADVICE r5)."""
    if isinstance(node, Not):
        return not is_pure_negation(node.part)
    return False


def term_boosts(node) -> dict[str, float]:
    """Per-term query boost for the positive scoring terms (only the
    ones != 1).  A term mentioned with several boosts takes the MAX —
    our scorer sums once per unique term, so per-clause re-summation
    (ES's behavior for duplicated clauses) can't apply; max is the
    deterministic, documented choice."""
    out: dict[str, float] = {}

    def walk(n, negated: bool):
        if isinstance(n, Term):
            if not negated and not n.filter and n.boost != 1.0:
                out[n.term] = max(out.get(n.term, 0.0), n.boost)
        elif isinstance(n, Not):
            walk(n.part, not negated)
        elif isinstance(n, (And, Or)):
            for p in n.parts:
                walk(p, negated)

    walk(node, False)
    return out


def required_terms(node) -> list[str]:
    """Terms EVERY match must contain: conjuncts reachable from the
    root through AND nodes only, not negated and not inside an OR.
    These seed block-max candidate pruning — a match list can be built
    from the rarest required term's postings and the other terms
    decoded only where those candidates fall."""
    out: set[str] = set()

    def walk(n):
        if isinstance(n, Term):
            out.add(n.term)
        elif isinstance(n, And):
            for p in n.parts:
                walk(p)
        # Or / Not / RangeTerm / PhraseTerm contribute no required terms
        # (phrase tokens are resolved positionally, not via the shared
        # decoded-term doc sets the block-skip seed path reads)

    walk(node)
    return sorted(out)


def all_terms(node) -> list[str]:
    out: set[str] = set()

    def walk(n):
        if isinstance(n, (RangeTerm, PhraseTerm, NestedTerm)):
            pass  # resolved against doc values / positions, not termdict
        elif isinstance(n, Term):
            out.add(n.term)
        elif isinstance(n, Not):
            walk(n.part)
        else:
            for p in n.parts:
                walk(p)

    walk(node)
    return sorted(out)


_NEG = "NEG"  # marker: (NEG, excluded_docs) — "everything except these"


def eval_docs(node, doc_sets: dict[str, np.ndarray]):
    """Evaluate the AST to a sorted doc-id array given each term's doc
    set (absent term → empty).  Negations propagate as (NEG, docs)
    markers and must be absorbed by an AND with a positive side."""
    empty = np.array([], dtype=np.int64)
    if isinstance(node, (RangeTerm, PhraseTerm, NestedTerm)):
        if node.key() not in doc_sets:
            # callers that support ranges always inject a (possibly
            # empty) set per atom; absence means an API that can't
            # resolve doc values — fail loud, never silently empty
            raise QueryParseError(
                f"atom {node.key()!r} not resolved (doc-value range or "
                "quoted phrase) — this API does not support such atoms "
                "(use search_bool)"
            )
        return doc_sets[node.key()]
    if isinstance(node, Term):
        return doc_sets.get(node.term, empty)
    if isinstance(node, Not):
        inner = eval_docs(node.part, doc_sets)
        if isinstance(inner, tuple):  # NOT NOT x == x
            return inner[1]
        return (_NEG, inner)
    if isinstance(node, Or):
        parts = [eval_docs(p, doc_sets) for p in node.parts]
        if any(isinstance(p, tuple) for p in parts):
            raise QueryParseError("pure negation in OR is unbounded; use AND NOT")
        out = parts[0]
        for p in parts[1:]:
            out = np.union1d(out, p)
        return out
    if isinstance(node, And):
        parts = [eval_docs(p, doc_sets) for p in node.parts]
        pos = [p for p in parts if not isinstance(p, tuple)]
        neg = [p[1] for p in parts if isinstance(p, tuple)]
        if not pos:
            raise QueryParseError("AND of pure negations is unbounded")
        out = pos[0]
        for p in pos[1:]:
            out = np.intersect1d(out, p, assume_unique=True)
        for n in neg:
            out = np.setdiff1d(out, n, assume_unique=True)
        return out
    raise QueryParseError(f"unknown node {node!r}")


def score_candidates(
    candidates: np.ndarray,
    postings: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
    pos_terms_sorted: list[str],
    idf: dict[str, float],
    avgdl: "float | dict[str, float]",
) -> np.ndarray:
    """BM25 sum over positive terms present per candidate doc, ascending
    term order (float64 determinism contract).  ``avgdl`` may be a
    per-term map (fielded atoms score with their FIELD's avgdl — see
    bm25._adl)."""
    from ..operators.bm25 import _adl
    from ..operators.index_build import bm25_tf_weight

    scores = np.zeros(len(candidates), dtype=np.float64)
    for t in pos_terms_sorted:
        if t not in postings or postings[t][0].size == 0:
            continue
        d, tf, dl = postings[t]
        idx = np.searchsorted(d, candidates)
        idx_c = np.clip(idx, 0, len(d) - 1)
        hit = d[idx_c] == candidates
        if hit.any():
            w = bm25_tf_weight(tf[idx_c[hit]], dl[idx_c[hit]], _adl(avgdl, t))
            scores[hit] += idf[t] * w
    return scores


def _phrase_in_tokens(tokens: list, phrase: tuple, slop: int) -> bool:
    """In-order windowed phrase containment over one doc's token list —
    the same greedy-chain semantics as the positional index kernel
    (operators/bm25._phrase_match_counts), boolean-only."""
    n = len(phrase)
    for p0, t in enumerate(tokens):
        if t != phrase[0]:
            continue
        prev = p0
        ok = True
        for i in range(1, n):
            nxt = next(
                (
                    q
                    for q in range(prev + 1, min(p0 + i + slop + 1, len(tokens)))
                    if tokens[q] == phrase[i]
                ),
                None,
            )
            if nxt is None:
                ok = False
                break
            prev = nxt
        if ok:
            return True
    return False


def eval_doc(node, tokens: list, fields: dict, token_set: "set | None" = None) -> bool:
    """Evaluate the AST against ONE document — the ES percolator's
    match test.  ``tokens``: the doc's analyzed body tokens (in order,
    for phrase atoms); ``fields``: metadata column → value (strings,
    numbers, timestamps, lists; analyzed extra text fields appear as
    their raw strings and are tokenized on demand).  ``token_set``:
    optional precomputed set(tokens) — exact-term membership then costs
    O(1) instead of an O(|tokens|) list scan (the percolator builds the
    set once per doc and evaluates thousands of Terms against it).

    Queries meant for percolation should parse with ``dv_fields`` set
    to the metadata columns, so ``field:value`` atoms carry the field
    name explicitly (RangeTerm.eq) instead of a baked facet token.
    Pure negation is fine here (per-doc boolean, no unbounded set)."""
    from .tokenize import py_tokenize

    if isinstance(node, RangeTerm):
        v = fields.get(node.field)
        if v is None or (isinstance(v, (list, tuple)) and not len(v)):
            return False
        vals = list(v) if isinstance(v, (list, tuple)) else [v]

        def _norm(b, x):
            # query-string bounds on date fields arrive as ISO strings;
            # normalize against datetime-like document values
            if isinstance(b, str) and hasattr(x, "year"):
                import pandas as pd

                return pd.Timestamp(b)
            return b

        if node.eq is not None:
            return any(x == _norm(node.eq, x) for x in vals)
        if node.lo is None and node.hi is None:  # _exists_
            return True

        def _cmp(x):
            lo, hi = _norm(node.lo, x), _norm(node.hi, x)
            if lo is not None:
                if x < lo or (x == lo and not node.incl_lo):
                    return False
            if hi is not None:
                if x > hi or (x == hi and not node.incl_hi):
                    return False
            return True

        return any(_cmp(x) for x in vals)
    if isinstance(node, NestedTerm):
        # percolation docs are flat (url/text/meta rows) — nested
        # array-of-struct payloads are an index-side shape; fail loud
        # rather than silently not matching
        raise QueryParseError(
            f"nested atom {node.key()!r} is not supported in percolation"
        )
    if isinstance(node, PhraseTerm):
        return _phrase_in_tokens(tokens, node.tokens, node.slop)
    if isinstance(node, Term):
        field, body = (
            node.term.split(":", 1) if ":" in node.term else (None, node.term)
        )
        cand = (
            py_tokenize(str(fields.get(field) or ""))
            if field is not None
            else tokens
        )
        if node.wildcard:
            return any(t.startswith(body) for t in cand)
        if node.fuzzy:
            from ..operators.bm25 import py_levenshtein_within

            e = node.fuzzy
            return any(
                py_levenshtein_within(t, body, e) for t in set(cand)
            )
        if field is None and token_set is not None:
            return body in token_set
        return body in cand
    if isinstance(node, Not):
        return not eval_doc(node.part, tokens, fields, token_set)
    if isinstance(node, And):
        return all(eval_doc(p, tokens, fields, token_set) for p in node.parts)
    if isinstance(node, Or):
        return any(eval_doc(p, tokens, fields, token_set) for p in node.parts)
    raise QueryParseError(f"unknown node {node!r}")
