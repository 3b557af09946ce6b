"""SPARQL basic-graph-pattern subset compiled to DataFrame joins over the
(subj, pred, obj, obj_is_literal) triple table.

The reference's published query surface IS SPARQL: its README tells users to
load the N-Triples output "into third-party tools to query with SPARQL" and
demonstrates the library-listing and class-star queries that way (reference
``README.md:56-99``). This module makes that surface native: the same query
text runs directly against the engine's distributed triple table — each
triple pattern becomes a filtered scan, shared variables become equi-joins,
and Catalyst handles join ordering / broadcast selection exactly as it does
for the hand-written kg_* queries (which are this compiler's ground truth in
tests and in the hash-backed ``kg_sparql_library_names`` oracle).

Supported subset (the shapes the reference README exercises, plus the
obvious conveniences):

- ``PREFIX pfx: <iri>`` declarations; ``a`` for rdf:type
- ``SELECT [DISTINCT] ?v ... | *``; aggregate projections
  ``(COUNT(*) AS ?n)`` / ``(COUNT(?v) AS ?n)`` with ``GROUP BY ?v ...``
- ``WHERE { s p o . ... }`` basic graph patterns; terms are variables,
  ``<full-iris>``, ``pfx:local`` names, or ``"string literals"``
- property paths in predicate position: sequence ``p1/p2/...``, inverse
  ``^p``, one-or-more ``p+``, and alternative ``p1|p2`` steps over constant
  IRIs (``?c woc:extends+/woc:hasSimpleName ?n``) — sequence/inverse steps
  compile to the same self-joins the hand-written 2-hop queries use (with
  untypeable internal join variables excluded from ``SELECT *``), ``+`` to
  a bounded localCheckpoint-barriered closure, ``|`` to a predicate isin;
  ``*``/``?`` and ``^``-with-``+``/``|`` combinations raise
- ``OPTIONAL { ... }`` (single level) -> the WHOLE group compiled as one
  sub-BGP (its patterns inner-joined, its filters applied inside) and
  left-joined on the variables shared with the required part — standard
  SPARQL group semantics: if any pattern of the group fails, every
  variable the group binds comes back unbound (null). Filters inside an
  OPTIONAL may only reference variables the group itself binds; a filter
  on an outer-only variable raises (the LeftJoin-expr form is unsupported)
- ``{ A } UNION { B } [UNION { C }…]`` (one block per group, not nested;
  outer patterns distribute into every branch; unbound branch variables
  come back null) -> null-padded unionByName
- ``VALUES ?v { … }`` / ``VALUES (?v1 ?v2) { (…) … }`` inline binding
  tables -> broadcast inner join (``UNDEF`` and VALUES-inside-OPTIONAL
  raise)
- ``FILTER regex(?v, "re")`` / ``FILTER (?v = term)`` / ``FILTER (?v != term)``
  / ``FILTER [!]isLiteral(?v)`` (contradictory polarities on one variable
  short-circuit the branch to empty, matching SPARQL's unsatisfiable set)
- ``ORDER BY [ASC|DESC] ?v ...`` and ``LIMIT n``

Scale notes: a constant predicate/subject/object lands in the parquet scan
as a pushed filter; per-pattern scans are column-pruned to the variables
used; join keys are the shared variables (IRI strings — uniform md5-derived
content hashes, so no key skew); no pattern ever materializes the full
table driver-side.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from codeontologypython_spark import woc
from codeontologypython_spark.operators.relational import bounded_fixpoint

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<string>"(?:[^"\\]|\\.)*")
      | (?P<iri><[^>\s]+>)
      | (?P<var>\?[A-Za-z_][A-Za-z0-9_]*)
      | (?P<pname>[A-Za-z_][A-Za-z0-9_-]*:[A-Za-z_][A-Za-z0-9_]*)
      | (?P<keyword>(?i:PREFIX|SELECT|DISTINCT|WHERE|OPTIONAL|FILTER|REGEX
                     |ORDER|GROUP|BY|ASC|DESC|LIMIT|COUNT|AS|ISLITERAL
                     |UNION|VALUES|UNDEF))(?![A-Za-z0-9_])
      | (?P<a>a)(?![A-Za-z0-9_])
      | (?P<decl>[A-Za-z_][A-Za-z0-9_-]*:)
      | (?P<num>[0-9]+)
      | (?P<punct>[{}().=!,*/^|+])
    )""",
    re.VERBOSE)


def _tokenize(q: str) -> list[tuple[str, str]]:
    out, i = [], 0
    # full-line comments only: '#' also appears inside IRIs
    # (…rdf-syntax-ns#type), so inline comments are not supported
    q = "\n".join(line for line in q.split("\n")
                  if not line.lstrip().startswith("#"))
    while i < len(q):
        if q[i].isspace():
            i += 1
            continue
        m = _TOKEN_RE.match(q, i)
        if not m:
            raise ValueError(f"SPARQL parse error at: {q[i:i+30]!r}")
        kind = m.lastgroup
        out.append((kind, m.group(kind)))
        i = m.end()
    return out


@dataclass
class _Pattern:
    s: tuple[str, str]
    # predicate term: ("var"|"iri", name) or ("alt", (iri, iri, ...)) from
    # a path alternative p1|p2
    p: tuple
    o: tuple[str, str]
    # one-or-more quantifier (p+): compiled as a bounded iterative closure
    plus: bool = False


@dataclass
class _Query:
    select: list[str]
    distinct: bool
    # UNION alternatives: each branch is an independent BGP with its own
    # (patterns, filters, optional-groups); each optional group is itself a
    # (patterns, filters) unit left-joined as a whole. A query without
    # UNION has exactly one branch (``patterns``/``filters``/``optionals``
    # mirror branch 0 for convenience).
    branches: list[tuple[list[_Pattern], list[tuple],
                         list[tuple[list[_Pattern], list[tuple]]]]] = \
        field(default_factory=list)
    # (alias, counted_var | None-for-*) aggregate projections, in the
    # position they appeared within the SELECT list
    aggregates: list[tuple[str, str | None]] = field(default_factory=list)
    group_by: list[str] = field(default_factory=list)
    order_by: list[tuple[str, bool]] = field(default_factory=list)
    limit: int | None = None
    # parser-generated join variables from property-path expansion —
    # excluded from SELECT * (untypeable: they don't match the ?var lexer
    # rule, so user queries can never reference them)
    internal_vars: set[str] = field(default_factory=set)

    @property
    def patterns(self) -> list[_Pattern]:
        return self.branches[0][0] if self.branches else []

    @property
    def filters(self) -> list[tuple]:
        return self.branches[0][1] if self.branches else []

    @property
    def optionals(self) -> list[tuple[list[_Pattern], list[tuple]]]:
        return self.branches[0][2] if self.branches else []


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]]):
        self.toks = tokens
        self.i = 0
        self.prefixes: dict[str, str] = {"rdf": woc.RDF}
        self.internal_vars: set[str] = set()

    def _fresh_var(self) -> str:
        # leading digit makes the name unmatchable by the ?var lexer rule,
        # so path-internal variables can never collide with user variables
        v = f"0pp{len(self.internal_vars)}"
        self.internal_vars.add(v)
        return v

    def _peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else ("eof", "")

    def _next(self):
        t = self._peek()
        self.i += 1
        return t

    def _expect(self, kind: str, value: str | None = None):
        k, v = self._next()
        if k != kind or (value is not None and v.upper() != value.upper()
                         and v != value):
            raise ValueError(f"expected {value or kind}, got {v!r}")
        return v

    def _term(self) -> tuple[str, str]:
        k, v = self._next()
        if k == "var":
            return ("var", v[1:])
        if k == "iri":
            return ("iri", v[1:-1])
        if k == "pname":
            pfx, local = v.split(":", 1)
            if pfx not in self.prefixes:
                raise ValueError(f"undeclared prefix {pfx!r}")
            return ("iri", self.prefixes[pfx] + local)
        if k == "a":
            return ("iri", woc.RDF_TYPE)
        if k == "string":
            return ("lit", v[1:-1].replace('\\"', '"').replace("\\\\", "\\"))
        raise ValueError(f"bad term {v!r}")

    def parse(self) -> _Query:
        while self._peek()[1].upper() == "PREFIX":
            self._next()
            decl = self._expect("decl")
            iri = self._expect("iri")
            self.prefixes[decl[:-1]] = iri[1:-1]
        self._expect("keyword", "SELECT")
        distinct = False
        if self._peek()[1].upper() == "DISTINCT":
            self._next()
            distinct = True
        select: list[str] = []
        aggregates: list[tuple[str, str | None]] = []
        while True:
            k, v = self._peek()
            if k == "var":
                select.append(v[1:])
                self._next()
            elif k == "punct" and v == "(":
                # ( COUNT( * | ?v ) AS ?alias )
                self._next()
                self._expect("keyword", "COUNT")
                self._expect("punct", "(")
                k2, v2 = self._next()
                if (k2, v2) == ("punct", "*"):
                    counted = None
                elif k2 == "var":
                    counted = v2[1:]
                else:
                    raise ValueError(f"bad COUNT argument {v2!r}")
                self._expect("punct", ")")
                self._expect("keyword", "AS")
                alias = self._expect("var")[1:]
                self._expect("punct", ")")
                select.append(alias)
                aggregates.append((alias, counted))
            elif k == "punct" and v == "*":
                select = []
                self._next()
                break
            else:
                break
        q = _Query(select=select, distinct=distinct, aggregates=aggregates)
        self._expect("keyword", "WHERE")
        pats, flts, opts, unions = self._group(optional=False)
        if unions:
            # join distributes over union: outer patterns/filters/optional
            # groups replicate into every branch
            q.branches = [(pats + up, flts + uf, opts + uo)
                          for up, uf, uo in unions]
        else:
            q.branches = [(pats, flts, opts)]
        q.internal_vars = self.internal_vars
        while True:
            k, v = self._peek()
            if v.upper() == "ORDER":
                self._next()
                self._expect("keyword", "BY")
                while True:
                    k2, v2 = self._peek()
                    asc = True
                    if v2.upper() in ("ASC", "DESC"):
                        asc = v2.upper() == "ASC"
                        self._next()
                        self._expect("punct", "(")
                        q.order_by.append((self._expect("var")[1:], asc))
                        self._expect("punct", ")")
                    elif k2 == "var":
                        q.order_by.append((self._next()[1][1:], True))
                    else:
                        break
            elif v.upper() == "GROUP":
                self._next()
                self._expect("keyword", "BY")
                while self._peek()[0] == "var":
                    q.group_by.append(self._next()[1][1:])
            elif v.upper() == "LIMIT":
                self._next()
                q.limit = int(self._expect("num"))
            elif k == "eof":
                break
            else:
                raise ValueError(f"unexpected trailing token {v!r}")
        return q

    def _group(self, optional: bool) -> tuple[list, list, list, list]:
        """Parse one {...} group. Returns (patterns, filters, optionals,
        unions). ``optionals`` holds each ``OPTIONAL { ... }`` group as its
        own (patterns, filters) unit — compiled as one sub-BGP and
        left-joined as a whole, per SPARQL group semantics. ``unions`` is
        non-empty iff the group contains a ``{A} UNION {B} [UNION {C}…]``
        block — each element is that branch's own (patterns, filters,
        optionals)."""
        patterns: list[_Pattern] = []
        filters: list[tuple] = []
        optionals: list[tuple[list, list]] = []
        unions: list[tuple[list, list, list]] = []
        self._expect("punct", "{")
        while True:
            k, v = self._peek()
            if k == "punct" and v == "}":
                self._next()
                return (patterns, filters, optionals, unions)
            if k == "punct" and v == ".":
                self._next()
                continue
            if k == "punct" and v == "{":
                if optional:
                    raise ValueError("UNION inside OPTIONAL not supported")
                subs = []
                while True:
                    sp, sf, so, su = self._group(optional=False)
                    if su:
                        raise ValueError("nested UNION not supported")
                    subs.append((sp, sf, so))
                    if self._peek()[1].upper() == "UNION":
                        self._next()
                        continue
                    break
                if len(subs) == 1:  # plain nested group: inline it
                    patterns.extend(subs[0][0])
                    filters.extend(subs[0][1])
                    optionals.extend(subs[0][2])
                elif unions:
                    raise ValueError("only one UNION block per group")
                else:
                    unions = subs
                continue
            if v.upper() == "OPTIONAL":
                if optional:
                    raise ValueError("nested OPTIONAL not supported")
                self._next()
                op, of, oo, ou = self._group(optional=True)
                if oo or ou:
                    raise ValueError(
                        "OPTIONAL/UNION inside OPTIONAL not supported")
                optionals.append((op, of))
                continue
            if v.upper() == "FILTER":
                self._next()
                filters.append(self._filter())
                continue
            if v.upper() == "VALUES":
                if optional:
                    raise ValueError("VALUES inside OPTIONAL not supported")
                self._next()
                # rides in the filters list (it distributes into UNION
                # branches the same way); _compile_bgp strips it out
                filters.append(self._values())
                continue
            s = self._term()
            steps = self._path()
            o = self._term()
            if len(steps) == 1 and not steps[0][1] and not steps[0][2]:
                patterns.append(_Pattern(s, steps[0][0], o))
            else:
                # property path: expand into a chain of patterns over
                # fresh internal join variables; an inverse step swaps its
                # pattern's subject/object
                cur = s
                for j, (term, inv, plus) in enumerate(steps):
                    nxt = (o if j == len(steps) - 1
                           else ("var", self._fresh_var()))
                    patterns.append(
                        _Pattern(nxt, term, cur, plus=plus) if inv
                        else _Pattern(cur, term, nxt, plus=plus))
                    cur = nxt

    def _path(self) -> list[tuple[tuple, bool, bool]]:
        """Predicate position: a plain term (possibly a variable), or a
        property path ``elt ('/' elt)*`` with
        ``elt := ['^'] iri ['+'] | iri ('|' iri)+`` — sequence, inverse,
        one-or-more, and alternative steps over constant IRIs (the SPARQL
        1.1 path subset whose expansion is self-joins plus a bounded
        closure for '+'; ``*``/``?`` quantifiers, '^' combined with
        '+'/'|', and quantified alternative groups are not supported —
        they raise rather than mis-evaluate). Returns
        [(term, inverted, plus), ...] where term may be
        ("alt", (iri, ...))."""
        steps: list[tuple[tuple, bool, bool]] = []
        while True:
            inv = False
            if self._peek() == ("punct", "^"):
                self._next()
                inv = True
            term = self._term()
            if term[0] == "var":
                nk, nv = self._peek()
                if inv or steps or (nk == "punct" and nv in ("/", "|", "+")):
                    raise ValueError(
                        "property path steps must be constant IRIs")
                return [(term, False, False)]
            if term[0] != "iri":
                raise ValueError("property path steps must be constant IRIs")
            plus = False
            if self._peek() == ("punct", "+"):
                self._next()
                plus = True
                if inv:
                    raise ValueError("'^' combined with '+' not supported")
            if self._peek() == ("punct", "|"):
                if inv or plus:
                    raise ValueError(
                        "'|' cannot combine with '^' or '+' in one step")
                alts = [term[1]]
                while self._peek() == ("punct", "|"):
                    self._next()
                    if self._peek() == ("punct", "^"):
                        raise ValueError(
                            "path alternatives must be constant IRIs "
                            "('^' inside '|' not supported)")
                    alt = self._term()
                    if alt[0] != "iri":
                        raise ValueError(
                            "path alternatives must be constant IRIs")
                    alts.append(alt[1])
                if self._peek() == ("punct", "+"):
                    raise ValueError(
                        "'+' on an alternative group not supported")
                term = ("alt", tuple(alts))
            steps.append((term, inv, plus))
            if self._peek() == ("punct", "/"):
                self._next()
                continue
            return steps

    def _values(self) -> tuple:
        """``VALUES ?v { t … }`` / ``VALUES (?v1 ?v2) { (t1 t2) … }`` —
        an inline binding table (SPARQL 1.1 §10.2), compiled as a
        broadcast inner join into its branch on the shared variables.
        ``UNDEF`` rows are rejected (they would need the null-tolerant
        join semantics this compiler deliberately refuses elsewhere)."""
        if self._peek() == ("punct", "("):
            self._next()
            vars_: list[str] = []
            while self._peek()[0] == "var":
                vars_.append(self._next()[1][1:])
            self._expect("punct", ")")
            if not vars_:
                raise ValueError("VALUES needs at least one variable")
            self._expect("punct", "{")
            rows = []
            while self._peek() == ("punct", "("):
                self._next()
                row = tuple(self._values_term() for _ in vars_)
                self._expect("punct", ")")
                rows.append(row)
            self._expect("punct", "}")
        else:
            vars_ = [self._expect("var")[1:]]
            self._expect("punct", "{")
            rows = []
            while self._peek() != ("punct", "}"):
                rows.append((self._values_term(),))
            self._expect("punct", "}")
        if len(set(vars_)) != len(vars_):
            raise ValueError("duplicate variable in VALUES")
        return ("values", tuple(vars_), tuple(rows))

    def _values_term(self) -> str:
        k, v = self._peek()
        if k == "keyword" and v.upper() == "UNDEF":
            raise ValueError("UNDEF in VALUES not supported")
        kind, val = self._term()
        if kind == "var":
            raise ValueError("variables not allowed in VALUES rows")
        return val

    def _is_literal_filter(self) -> tuple:
        # [!] isLiteral(?v)  — the '(' of any enclosing FILTER(...) is
        # consumed by the caller
        negated = False
        if self._peek() == ("punct", "!"):
            self._next()
            negated = True
        self._expect("keyword", "ISLITERAL")
        self._expect("punct", "(")
        var = self._expect("var")[1:]
        self._expect("punct", ")")
        return ("isliteral", var, negated)

    def _filter(self) -> tuple:
        k, v = self._peek()
        if v.upper() == "REGEX":
            self._next()
            self._expect("punct", "(")
            var = self._expect("var")[1:]
            self._expect("punct", ",")
            pat = self._expect("string")[1:-1]
            self._expect("punct", ")")
            return ("regex", var, pat)
        if v.upper() == "ISLITERAL":
            return self._is_literal_filter()
        self._expect("punct", "(")
        k2, v2 = self._peek()
        if v2 == "!" or v2.upper() == "ISLITERAL":
            # probe: '!' here is either !isLiteral or != comparison; a
            # comparison starts with a var, so '!' or ISLITERAL first means
            # the isLiteral form
            flt = self._is_literal_filter()
            self._expect("punct", ")")
            return flt
        var = self._expect("var")[1:]
        k, op = self._next()
        if (k, op) == ("punct", "!"):
            self._expect("punct", "=")
            op = "!="
        elif (k, op) == ("punct", "="):
            op = "="
        else:
            raise ValueError(f"bad filter operator {op!r}")
        term = self._term()
        self._expect("punct", ")")
        return ("cmp", var, op, term)


def parse_sparql(query: str) -> _Query:
    return _Parser(_tokenize(query)).parse()


def _pattern_df(triples: DataFrame, pat: _Pattern,
                lit_req: dict[str, bool]) -> tuple[DataFrame, set]:
    df = triples
    cols, vars_ = [], set()
    for col, (kind, val) in (("subj", pat.s), ("pred", pat.p), ("obj", pat.o)):
        if kind == "var":
            if col == "obj" and val in lit_req:
                # isLiteral(?v) constraints push down into every scan where
                # the variable sits in object position (the only position
                # that carries the flag; literals can never be subjects or
                # predicates, handled in sparql_to_df)
                df = df.filter(F.col("obj_is_literal") == lit_req[val])
            if val in vars_:   # repeated var within one pattern (?x p ?x)
                first = next(c for c, (k2, v2) in
                             zip(("subj", "pred", "obj"),
                                 (pat.s, pat.p, pat.o))
                             if k2 == "var" and v2 == val)
                df = df.filter(F.col(col) == F.col(first))
            else:
                cols.append(F.col(col).alias(val))
                vars_.add(val)
        elif kind == "iri":
            df = df.filter(F.col(col) == val)
            if col == "obj":
                df = df.filter(~F.col("obj_is_literal"))
        elif kind == "alt":  # p1|p2 — parser emits alt only for predicates
            df = df.filter(F.col(col).isin(list(val)))
        else:  # literal
            if col != "obj":
                raise ValueError("string literals only valid in object position")
            df = df.filter((F.col(col) == val) & F.col("obj_is_literal"))
    return df.select(*cols), vars_


_PLUS_MAX_ROUNDS = 10  # same bound as the alias chase (tracking.py:343)


def _plus_pattern_df(triples: DataFrame, pat: _Pattern,
                     lit_req: dict[str, bool]) -> tuple[DataFrame, set]:
    """Compile one ``p+`` (one-or-more) path step to variable bindings via
    :func:`relational.bounded_fixpoint` — each round ONE shuffle join.
    Scale shape: a constant SUBJECT seeds a forward walk and a constant
    OBJECT (with variable subject) seeds a BACKWARD walk, so either
    anchored form is linear in the REACHABLE set rather than in the full
    edge relation (``<cls> woc:extends+ ?anc`` /
    ``?desc woc:extends+ <cls>``); only the fully-variable form walks the
    whole relation.
    Only IRI nodes are traversed through — a literal object is a dead end
    (literals never appear in subject position) — while the LAST hop's
    literal flag is kept so isLiteral() pushdown still applies to the
    object variable. Lifetime: the per-round checkpoints live until the
    session ends (bounded: at most _PLUS_MAX_ROUNDS rounds, each
    frontier-sized); reaching the bound raises."""
    kind, val = pat.p
    pred_f = (F.col("pred") == val) if kind == "iri" \
        else F.col("pred").isin(list(val))
    edges = (triples.filter(pred_f)
             .select(F.col("subj").alias("src"), F.col("obj").alias("dst"),
                     F.col("obj_is_literal").alias("lit"))
             .distinct())
    sk, sv = pat.s
    ok_, ov = pat.o
    if sk == "lit":
        raise ValueError("string literals only valid in object position")
    if sk == "var" and ok_ != "var":
        # backward walk: seed at the constant object and prepend hops.
        # Every closure row already ends at the object, so the final-hop
        # literal flag is fixed by the seed edges; the node traversed
        # THROUGH when prepending (the new edge's object) must be an IRI.
        seed = edges.filter(
            (F.col("dst") == ov)
            & (F.col("lit") if ok_ == "lit" else ~F.col("lit")))
        pre = edges.select(F.col("src").alias("p_src"),
                           F.col("dst").alias("m"),
                           F.col("lit").alias("p_lit"))

        def step(frontier, _closure):
            return (frontier.join(pre, F.col("src") == F.col("m"))
                    .filter(~F.col("p_lit"))
                    .select(F.col("p_src").alias("src"), "dst", "lit"))
    else:
        seed = edges.filter(F.col("src") == sv) if sk == "iri" else edges
        nxt = edges.select(F.col("src").alias("m"), F.col("dst").alias("nxt"),
                           F.col("lit").alias("nlit"))

        def step(frontier, _closure):
            return (frontier.filter(~F.col("lit"))
                    .join(nxt, F.col("dst") == F.col("m"))
                    .select("src", F.col("nxt").alias("dst"),
                            F.col("nlit").alias("lit")))

    # the fixpoint's per-round dedup keeps SPARQL 1.1 arbitrary-length paths
    # duplicate-free: diamond-converging paths enter (and re-expand) once
    closure, rounds = bounded_fixpoint(
        seed.localCheckpoint(eager=False), step, ["src", "dst", "lit"],
        _PLUS_MAX_ROUNDS, "plus_round")
    if rounds == _PLUS_MAX_ROUNDS:
        # the bound is an extraction heuristic; for a QUERY a silent
        # truncation would return a wrong answer indistinguishable from a
        # right one — raise instead (module contract: fail loudly rather
        # than mis-evaluate)
        raise ValueError(
            f"p+ path did not converge within {_PLUS_MAX_ROUNDS} rounds "
            "(graph has longer simple paths); raise _PLUS_MAX_ROUNDS or "
            "anchor the path")
    cols, vars_ = [], set()
    if sk == "var":
        cols.append(F.col("src").alias(sv))
        vars_.add(sv)
    if ok_ == "var":
        if ov in lit_req:
            closure = closure.filter(F.col("lit") == lit_req[ov])
        if ov in vars_:  # ?x p+ ?x — cycles through x
            closure = closure.filter(F.col("dst") == F.col("src"))
        else:
            cols.append(F.col("dst").alias(ov))
            vars_.add(ov)
    elif ok_ == "iri":
        closure = closure.filter((F.col("dst") == ov) & ~F.col("lit"))
    else:  # literal object: only a depth-1 (or literal-final) hop can match
        closure = closure.filter((F.col("dst") == ov) & F.col("lit"))
    return closure.select(*cols), vars_


def _filter_refs(f: tuple) -> list[str]:
    """Variables a regex/compare FILTER references, in order."""
    if f[0] == "regex":
        return [f[1]]
    return [f[1]] + ([f[3][1]] if f[3][0] == "var" else [])


def _apply_filters(acc: DataFrame, bound: set[str],
                   filters: list[tuple]) -> DataFrame:
    """Apply regex/compare FILTERs to a binding table; every variable they
    reference must be bound (ValueError names the first that is not)."""
    for flt in filters:
        missing = [v for v in _filter_refs(flt) if v not in bound]
        if missing:
            raise ValueError(
                f"FILTER references unbound variable ?{missing[0]}")
        if flt[0] == "regex":
            acc = acc.filter(F.col(flt[1]).rlike(flt[2]))
        else:
            _, var, op, (kind, val) = flt
            rhs = F.col(val) if kind == "var" else F.lit(val)
            acc = acc.filter(F.col(var) == rhs if op == "="
                             else F.col(var) != rhs)
    return acc


def _compile_required(triples: DataFrame, patterns: list[_Pattern],
                      filters: list[tuple]) -> tuple[DataFrame, set[str]]:
    """Compile an inner-join-only BGP (the required part of a branch, or
    one OPTIONAL group's body) to a DataFrame of variable bindings."""
    lit_req: dict[str, bool] = {}
    unsat = False
    for f in filters:
        if f[0] != "isliteral":
            continue
        want = not f[2]
        if lit_req.setdefault(f[1], want) != want:
            # isLiteral(?v) AND !isLiteral(?v): the binding set is empty —
            # short-circuit rather than letting last-writer-wins pick one
            unsat = True
    filters = [f for f in filters if f[0] != "isliteral"]
    subj_pred_vars = {v for p in patterns
                      for (k, v) in (p.s, p.p) if k == "var"}
    acc: DataFrame | None = None
    bound: set[str] = set()
    for pat in patterns:
        df, vars_ = (_plus_pattern_df(triples, pat, lit_req) if pat.plus
                     else _pattern_df(triples, pat, lit_req))
        if acc is None:
            acc, bound = df, set(vars_)
            continue
        on = sorted(bound & vars_)
        acc = acc.join(df, on) if on else acc.crossJoin(df)
        bound |= vars_
    for var, must_lit in lit_req.items():
        if var not in bound:
            raise ValueError(f"isLiteral filter on unbound variable ?{var}")
        if must_lit and var in subj_pred_vars:
            # a variable also bound in subject/predicate position can never
            # be a literal: the constraint is unsatisfiable
            unsat = True
    if unsat:
        acc = acc.filter(F.lit(False))
    return _apply_filters(acc, bound, filters), bound


def _compile_bgp(triples: DataFrame, patterns: list[_Pattern],
                 filters: list[tuple],
                 optionals: list[tuple[list[_Pattern], list[tuple]]],
                 ) -> tuple[DataFrame, set[str]]:
    """Compile one branch (a UNION alternative, or the whole WHERE clause
    when there is no UNION): the required BGP, then each OPTIONAL group as
    ONE left-joined sub-BGP. Group semantics: the group's patterns
    inner-join and its filters apply INSIDE the group, so a partial match
    (some patterns hold, others don't) binds nothing — every group
    variable comes back null together, and a filtered-out group row never
    eliminates the required-side row it left-joins onto."""
    # VALUES blocks ride in the filters list (UNION distribution for free)
    # — strip them out before any filter-shape processing
    values = [f for f in filters if f[0] == "values"]
    filters = [f for f in filters if f[0] != "values"]
    if not patterns:
        raise ValueError("query has only OPTIONAL patterns")
    # branch-level cmp/regex filters may reference variables an OPTIONAL
    # group binds: those apply AFTER the left joins, where SQL null
    # comparison semantics (null -> filter drops the row) coincide with
    # SPARQL's eval-error-eliminates-row rule for unbound variables
    req_vars = {v for p in patterns for (k, v) in (p.s, p.p, p.o)
                if k == "var"}

    # isLiteral is implemented as scan-time pushdown on obj_is_literal, so
    # it can only constrain variables the REQUIRED part binds; after the
    # left join the flag column is gone, so a top-level isLiteral on an
    # OPTIONAL-bound variable has no faithful compilation — reject it with
    # an accurate message instead of the generic "unbound variable" one
    opt_vars = {v for opats, _ in optionals for p in opats
                for (k, v) in (p.s, p.p, p.o) if k == "var"}
    for f in filters:
        if f[0] == "isliteral" and f[1] not in req_vars and f[1] in opt_vars:
            raise ValueError(
                f"FILTER [!]isLiteral(?{f[1]}) at the top level constrains "
                "a variable bound only inside an OPTIONAL group — "
                "unsupported (move the filter into the OPTIONAL group, or "
                "bind the variable in the required part)")

    post = [f for f in filters
            if f[0] != "isliteral" and not set(_filter_refs(f)) <= req_vars]
    acc, bound = _compile_required(triples, patterns,
                                   [f for f in filters if f not in post])
    # inline binding tables join right after the required part: tiny by
    # construction -> broadcast; SPARQL multiset semantics (duplicate
    # VALUES rows multiply) fall out of the plain inner join.
    # A VALUES variable bound ONLY inside an OPTIONAL group has no faithful
    # compilation here (joining it before the left join pre-binds the value
    # and fabricates bindings the LeftJoin should have left null) — refuse
    # loudly, mirroring the top-level isLiteral-on-OPTIONAL-var guard
    for _, vvars, _ in values:
        conflict = sorted(set(vvars) & (opt_vars - req_vars))
        if conflict:
            raise ValueError(
                "VALUES binds variables bound only inside an OPTIONAL "
                f"group: {conflict} — unsupported (bind them in the "
                "required part, or move the VALUES into the group)")
    for _, vvars, vrows in values:
        spark = acc.sparkSession
        schema = ", ".join(f"`{v}` string" for v in vvars)
        vdf = spark.createDataFrame([tuple(r) for r in vrows], schema)
        on = sorted(bound & set(vvars))
        acc = (acc.join(F.broadcast(vdf), on) if on
               else acc.crossJoin(F.broadcast(vdf)))
        bound |= set(vvars)
    # variables introduced by earlier OPTIONAL groups may be null; SQL null
    # join keys never match, which diverges from SPARQL's unbound-is-
    # compatible rule — refuse that shape loudly
    nullable: set[str] = set()
    for opats, oflts in optionals:
        try:
            sub, sub_bound = _compile_required(triples, opats, oflts)
        except ValueError as e:
            if "unbound variable" in str(e):
                raise ValueError(
                    "FILTER inside OPTIONAL may only reference variables "
                    f"bound within the group ({e})") from e
            raise
        on = sorted(bound & sub_bound)
        if not on:
            raise ValueError("OPTIONAL group shares no variable")
        conflict = sorted(set(on) & nullable)
        if conflict:
            raise ValueError(
                "OPTIONAL group joins on variables an earlier OPTIONAL may "
                f"have left unbound: {conflict}")
        acc = acc.join(sub, on, "left")
        nullable |= sub_bound - bound
        bound |= sub_bound
    return _apply_filters(acc, bound, post), bound


def sparql_to_df(triples: DataFrame, query: str) -> DataFrame:
    """Compile and run ``query`` against the triple table; returns a
    DataFrame whose columns are the selected variables (without '?')."""
    q = parse_sparql(query)
    if not any(pats or opts for pats, _, opts in q.branches):
        raise ValueError("empty WHERE clause")
    compiled = [_compile_bgp(triples, pats, flts, opts)
                for pats, flts, opts in q.branches]
    if len(compiled) == 1:
        acc, bound = compiled[0]
    else:
        # UNION: pad each branch to the union of variables (unbound -> null,
        # standard SPARQL semantics), then unionByName
        bound = set().union(*(b for _, b in compiled))
        all_vars = sorted(bound)
        padded = [df.select(*[(F.col(v) if v in b
                               else F.lit(None).cast("string").alias(v))
                              for v in all_vars])
                  for df, b in compiled]
        acc = padded[0]
        for p in padded[1:]:
            acc = acc.unionByName(p)
    # SELECT * excludes parser-generated property-path join variables
    select = q.select or sorted(bound - q.internal_vars)
    agg_names = {a for a, _ in q.aggregates}
    missing = [v for v in select if v not in bound and v not in agg_names]
    if missing:
        raise ValueError(f"unbound select variables: {missing}")
    if q.aggregates:
        for g in q.group_by:
            if g not in bound:
                raise ValueError(f"GROUP BY on unbound variable ?{g}")
        bad = [v for v in select
               if v not in agg_names and v not in q.group_by]
        if bad:
            raise ValueError(f"selected variables not in GROUP BY: {bad}")
        aggs = [(F.count("*") if counted is None
                 else F.count(F.col(counted))).alias(alias)
                for alias, counted in q.aggregates]
        acc = (acc.groupBy(*q.group_by).agg(*aggs)
               if q.group_by else acc.agg(*aggs))
    acc = acc.select(*select)
    if q.distinct:
        acc = acc.distinct()
    if q.order_by:
        acc = acc.orderBy(*[F.col(v).asc() if asc else F.col(v).desc()
                            for v, asc in q.order_by])
    if q.limit is not None:
        acc = acc.limit(q.limit)
    return acc
