"""Solr request-surface dispatch: local-params syntax + the QParser registry.

Two reference pieces re-expressed here:

- `{!type param=value ...}body` local-params parsing —
  QueryParsing.parseLocalParams (solr/core/src/java/org/apache/solr/search/
  QueryParsing.java:103-171) with its exact token rules: a bare first word is
  shorthand for `type=word`, `$name` values dereference request params,
  quoted values use '/" with backslash escapes, unquoted values run to
  whitespace or '}', and a local `v` parameter overrides the body
  (QParser.java getParser).
- the built-in parser registry QParserPlugin.standardPlugins
  (solr/core/src/java/org/apache/solr/search/QParserPlugin.java:32-52):
  lucene (default), func, prefix, boost, dismax, edismax, field, raw, term,
  query (nested), frange, geofilt, bbox, join, surround, switch, maxscore —
  each dispatched to this engine's existing operator, so the whole query
  surface is reachable through one Solr-shaped entry point.

Also a function-query EXPRESSION parser (FunctionQParser.parseValueSource,
solr/core/src/java/org/apache/solr/search/FunctionQParser.java:221-380) for
the ValueSource names that map to pure Column factories — what `bf=`,
`{!func}`, `{!frange}` and `{!boost b=}` strings contain in practice.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import valuesources as vs


class SyntaxError_(ValueError):
    """QueryParsing.SyntaxError analog."""


# ---------------------------------------------------------------------------
# local params: {!type k=v k2='quoted' k3=$deref}body
# ---------------------------------------------------------------------------
def _is_id_start(ch: str) -> bool:
    return ch.isalpha() or ch == "_"


def _is_id_part(ch: str) -> bool:
    return ch.isalnum() or ch in "_$."


def parse_local_params(
    txt: str, params: dict[str, str] | None = None
) -> tuple[dict[str, str] | None, str]:
    """Returns (local_params, rest-of-string); (None, txt) when `txt` does
    not start with '{!'. Faithful transcription of
    QueryParsing.parseLocalParams (QueryParsing.java:103-171) + StrParser
    getId/getQuotedString: bare word → type, `=` then `$name` dereferences
    `params`, quotes escape with backslash, unquoted values end at
    whitespace or '}' (no escaping)."""
    if not txt.startswith("{!"):
        return None, txt
    target: dict[str, str] = {}
    pos, end = 2, len(txt)
    while True:
        # eat whitespace (StrParser.eatws runs inside getId; peek at the
        # loop top sees it first, so skip here before testing endChar)
        while pos < end and txt[pos].isspace():
            pos += 1
        if pos >= end:
            raise SyntaxError_(f"Missing '}}' parsing local params '{txt}'")
        if txt[pos] == "}":
            pos += 1
            break
        if not _is_id_start(txt[pos]):
            raise SyntaxError_(
                f"Expected ending character '}}' parsing local params '{txt}'"
            )
        id_start = pos
        pos += 1
        while pos < end and _is_id_part(txt[pos]):
            pos += 1
        key = txt[id_start:pos]
        if pos < end and txt[pos] == "=":
            pos += 1
            deref = False
            if pos < end and txt[pos] == "$":
                deref = True
                pos += 1
            if pos < end and txt[pos] in "\"'":
                quote = txt[pos]
                pos += 1
                out = []
                while True:
                    if pos >= end:
                        raise SyntaxError_(f"Missing closing quote in '{txt}'")
                    ch = txt[pos]
                    if ch == "\\" and pos + 1 < end:
                        out.append(txt[pos + 1])
                        pos += 2
                        continue
                    if ch == quote:
                        pos += 1
                        break
                    out.append(ch)
                    pos += 1
                val = "".join(out)
            else:
                val_start = pos
                while True:
                    if pos >= end:
                        raise SyntaxError_(
                            f"Missing end to unquoted value starting at "
                            f"{val_start} str='{txt}'"
                        )
                    if txt[pos] == "}" or txt[pos].isspace():
                        val = txt[val_start:pos]
                        break
                    pos += 1
            if deref:
                val = (params or {}).get(val)
        else:
            # single word: {!func} is shorthand for type=func
            val, key = key, "type"
        target[key] = val
    return target, txt[pos:]


# ---------------------------------------------------------------------------
# function-query expressions: recip(ms(NOW,ts),...) etc.
# ---------------------------------------------------------------------------
# name -> (factory, spec) where spec marks which positions are plain floats
# (the reference parses those with parseFloat, everything else as a nested
# ValueSource — FunctionQParser.java:221-380 / ValueSourceParser.java:88-775)
_FLOAT_TAIL = {
    "recip": (vs.recip, 1),  # recip(x, m, a, b): floats from arg 1
    "linear": (vs.linear, 1),  # linear(x, m, c)
    "map": (vs.map_, 1),  # map(x, min, max, target)
}
_ALL_COLS = {
    "sum": vs.sum_,
    "sub": vs.sub,
    "product": vs.product,
    "div": vs.div,
    "mod": vs.mod,
    "abs": vs.abs_,
    "max": vs.max_,
    "min": vs.min_,
    "sqrt": vs.sqrt,
    "pow": vs.pow_,
    "log": vs.log,
    "ln": vs.ln,
    "if": vs.if_,
    "exists": vs.exists,
    "not": vs.not_,
    "and": vs.and_,
    "or": vs.or_,
    "xor": vs.xor,
    "def": vs.def_,
}
_NO_ARGS = {"pi": vs.pi, "e": vs.e, "true": vs.true_, "false": vs.false_}


class _FuncParser:
    def __init__(self, s: str):
        self.s = s
        self.pos = 0

    def _ws(self):
        while self.pos < len(self.s) and self.s[self.pos].isspace():
            self.pos += 1

    def _peek(self) -> str:
        self._ws()
        return self.s[self.pos] if self.pos < len(self.s) else ""

    def _number(self) -> float:
        self._ws()
        start = self.pos
        if self._peek() in "+-":
            self.pos += 1
        while self.pos < len(self.s) and (
            self.s[self.pos].isdigit() or self.s[self.pos] in ".eE+-"
        ):
            # stop '+-' unless it follows an exponent marker
            if self.s[self.pos] in "+-" and self.s[self.pos - 1] not in "eE":
                break
            self.pos += 1
        try:
            return float(self.s[start : self.pos])
        except ValueError:
            raise SyntaxError_(f"Expected number at {start} in '{self.s}'") from None

    def expr(self) -> Column:
        ch = self._peek()
        if ch == "" :
            raise SyntaxError_(f"Unexpected end of function '{self.s}'")
        if ch.isdigit() or ch in "+-.":
            return F.lit(self._number()).cast("double")
        if ch in "\"'":
            quote = ch
            self.pos += 1
            start = self.pos
            while self.pos < len(self.s) and self.s[self.pos] != quote:
                self.pos += 1
            val = self.s[start : self.pos]
            self.pos += 1
            return vs.literal(val)
        # identifier: function call or field reference
        start = self.pos
        while self.pos < len(self.s) and (
            self.s[self.pos].isalnum() or self.s[self.pos] in "_."
        ):
            self.pos += 1
        name = self.s[start : self.pos]
        if not name:
            raise SyntaxError_(f"Expected identifier at {start} in '{self.s}'")
        if self._peek() != "(":
            return vs.field(name).cast("double")
        self.pos += 1  # '('
        lname = name.lower()
        if lname in _NO_ARGS:
            self._expect(")")
            return _NO_ARGS[lname]()
        if lname in _FLOAT_TAIL:
            factory, n_cols = _FLOAT_TAIL[lname]
            cols = []
            for i in range(n_cols):
                cols.append(self.expr())
                self._expect(",")
            floats = [self._number()]
            while self._peek() == ",":
                self.pos += 1
                floats.append(self._number())
            self._expect(")")
            return factory(*cols, *floats)
        if lname == "field":  # field("name") / field(name)
            inner = self.expr()
            self._expect(")")
            return inner
        if lname in _ALL_COLS:
            args = [self.expr()]
            while self._peek() == ",":
                self.pos += 1
                args.append(self.expr())
            self._expect(")")
            return _ALL_COLS[lname](*args)
        raise SyntaxError_(f"Unknown function '{name}' in '{self.s}'")

    def _expect(self, ch: str):
        if self._peek() != ch:
            raise SyntaxError_(
                f"Expected '{ch}' at {self.pos} in '{self.s}'"
            )
        self.pos += 1


def parse_function(expr: str) -> Column:
    """Function-query string → ValueSource Column (FunctionQParser.java:
    221-380): numbers are literals, bare identifiers are field references,
    calls dispatch to the ValueSourceParser registry subset that maps to
    pure Column factories (sum/sub/product/div/mod/abs/max/min/sqrt/pow/
    log/ln/recip/linear/map/if/exists/not/and/or/xor/def/pi/e)."""
    if expr is None:
        # a $param dereference that resolved to nothing reaches here as None
        raise SyntaxError_("missing function expression (undefined $param?)")
    p = _FuncParser(expr)
    col = p.expr()
    if p._peek() != "":
        raise SyntaxError_(f"Trailing input at {p.pos} in '{expr}'")
    return col


# ---------------------------------------------------------------------------
# the registry dispatch
# ---------------------------------------------------------------------------
class SolrQueries:
    """The q/fq request surface over one Searcher: dispatches `{!type ...}`
    to the engine operator each QParserPlugin wraps (QParserPlugin.java:
    32-52; SolrIndexSearcher runs the parsed Query + fq DocSets).

    `source` is the stored-fields frame (key_col + doc columns) backing
    func/frange/join/geofilt; `dismax` an optional DisMaxSearcher for
    dismax/edismax; `params` the request params `$name` dereferences use.
    """

    def __init__(
        self,
        searcher,
        source: DataFrame | None = None,
        dismax=None,
        params: dict[str, str] | None = None,
        key_col: str = "url",
        lat_col: str = "lat",
        lon_col: str = "lon",
        config=None,
    ):
        self.searcher = searcher
        self.source = source
        self.dismax = dismax
        self.params = params or {}
        self.key_col = key_col
        self.lat_col = lat_col
        self.lon_col = lon_col
        # optional SolrConfig (sources/solrconfig.py): handler defaults/
        # appends/invariants resolve into every handler_select request
        self.config = config

    def handler_select(self, params: dict, handler: str = "/select") -> dict:
        """/select through the configured requestHandler: the effective
        params are invariants ▷ (user ▷ defaults) + appends
        (SolrPluginUtils.setDefaults semantics) from solrconfig.xml."""
        if self.config is None:
            return self.select(params)
        return self.select(self.config.handler_params(handler, params))

    # -- helpers -------------------------------------------------------------
    def _need_source(self, qtype: str) -> DataFrame:
        if self.source is None:
            raise ValueError(f"{{!{qtype}}} needs a source frame")
        return self.source

    def _doc_values(self, col: Column, alias: str) -> DataFrame:
        """(doc_id, alias) frame: the ValueSource evaluated per doc."""
        src = self._need_source("func")
        keyed = self.searcher.docs.select("doc_id", self.key_col)
        return keyed.join(
            src.select(self.key_col, col.alias(alias)), self.key_col
        ).select("doc_id", alias)

    def _rows_to_docset(self, rows: DataFrame) -> DataFrame:
        keyed = self.searcher.docs.select("doc_id", self.key_col)
        return keyed.join(
            rows.select(self.key_col).distinct(), self.key_col, "left_semi"
        ).select("doc_id")

    def _field_predicate(self, body: str) -> Column:
        """`field:value` → Catalyst predicate (the LuceneQParser fq shape
        for stored fields); numbers compare numerically, `[a TO b]` is a
        range (TermRangeQuery / NumericRangeQuery shape)."""
        if ":" not in body:
            raise SyntaxError_(f"expected field:value, got '{body}'")
        fname, val = body.split(":", 1)
        fname, val = fname.strip(), val.strip()
        if val.startswith("[") and val.endswith("]") and " TO " in val:
            lo, hi = val[1:-1].split(" TO ")
            lo, hi = lo.strip(), hi.strip()
            col = F.col(fname)
            pred = F.lit(True)
            if lo != "*":
                pred = pred & (col >= _typed(lo))
            if hi != "*":
                pred = pred & (col <= _typed(hi))
            return pred
        if val.startswith('"') and val.endswith('"'):
            return F.col(fname) == val[1:-1]
        return F.col(fname) == _typed(val)

    def _const_score(self, docset: DataFrame, k: int, boost: float = 1.0) -> DataFrame:
        scored = docset.select(
            "doc_id", F.lit(float(boost)).cast("float").alias("score")
        )
        return self.searcher._topk(self.searcher._drop_deleted(scored), k)

    # -- q= ------------------------------------------------------------------
    def query(self, q: str, k: int = 10, filter_docs: DataFrame | None = None) -> DataFrame:
        local, rest = parse_local_params(q, self.params)
        if local is None:
            local, rest = {"type": "lucene"}, q
        qtype = local.get("type") or "lucene"
        body = local["v"] if "v" in local and local["v"] is not None else rest.strip()
        s = self.searcher

        # `f` targeting a STORED (non-indexed-text) field: the engine has a
        # scored index only for the text field(s); stored-field term/prefix/
        # field queries execute constant-score over the source frame (the
        # SolrConstantScoreQuery shape), exactly like the docset() branch —
        # never silently searched against the wrong field.
        fname = local.get("f")
        stored_f = fname is not None and fname != "text" and self.source is not None
        if qtype == "lucene":
            if filter_docs is None:
                return s.query(body, k=k)
            # fq composes BEFORE the top-k: score the parsed clause tree
            # unsorted, restrict to the DocSet, then one
            # TakeOrderedAndProject (getDocListC's filtered collect)
            from .parser import parse

            scored = s._clauses_scored(parse(body))
            if scored is None:
                return s._empty()
            return s._topk(
                s._drop_deleted(s._apply_filter(scored, filter_docs)), k
            )
        if qtype in ("term", "raw"):
            # TermQParserPlugin / RawQParserPlugin: the value is NOT analyzed
            if stored_f:
                return self._const_score(self.docset(q), k)
            return s.boolean_search(should=[body], k=k, filter_docs=filter_docs)
        if qtype == "prefix":
            if stored_f:
                lit = body.replace("%", r"\%").replace("_", r"\_")
                ds = s.filter_docs_from_source(
                    self.source, F.col(fname).like(lit + "%"), key_col=self.key_col
                )
                return self._const_score(ds, k)
            if filter_docs is not None:
                lit = body.replace("%", r"\%").replace("_", r"\_")
                terms = s._rewrite_terms(F.col("term").like(lit + "%"))
                if not terms:
                    return s._empty()
                return s.boolean_search(should=terms, k=k, filter_docs=filter_docs)
            return s.prefix_search(body, k=k)
        if qtype == "field":
            if stored_f:
                ds = s.filter_docs_from_source(
                    self.source, F.col(fname) == _typed(body), key_col=self.key_col
                )
                return self._const_score(ds, k)
            toks = s.analyze_query(body)
            if not toks:
                return s._empty()
            if len(toks) == 1:
                return s.boolean_search(should=toks, k=k, filter_docs=filter_docs)
            return s.phrase_search(toks, k=k, filter_docs=filter_docs)
        if qtype in ("dismax", "edismax"):
            if self.dismax is None:
                raise ValueError("dismax dispatch needs a DisMaxSearcher")
            get = lambda p, d=None: local.get(p, self.params.get(p, d))  # noqa: E731
            if get("qf") is None:
                raise SyntaxError_("dismax/edismax needs a qf parameter")
            return self.dismax.dismax_search(
                body,
                qf=get("qf"),
                tie=float(get("tie", 0.0)),
                mm=int(get("mm", 0)),
                pf=get("pf"),
                k=k,
            )
        if qtype == "maxscore":
            must, should, must_not = [], [], []
            for word in body.split():
                bucket = (
                    must if word.startswith("+")
                    else must_not if word.startswith("-")
                    else should
                )
                bucket.extend(s.analyze_query(word.lstrip("+-")))
            return s.max_score_search(
                must=must, should=should, must_not=must_not,
                tie=float(local.get("tie", 0.0)), k=k, filter_docs=filter_docs,
            )
        if qtype == "surround":
            from .surround import surround_search

            return surround_search(s, body, k=k)
        if qtype == "xmlparser":
            # CoreParser XML query syntax (query/xmlparser.py)
            from .xmlparser import xml_query_search

            return xml_query_search(
                s, local.get("v") or body, k=k, filter_docs=filter_docs
            )
        if qtype == "complexphrase":
            # ComplexPhraseQParserPlugin: wildcard/fuzzy/OR-groups inside a
            # quoted phrase → span rewrite (query/complexphrase.py)
            from .complexphrase import complex_phrase_search

            return complex_phrase_search(
                s, local.get("v") or body, k=k,
                in_order=local.get("inOrder", "true") != "false",
                filter_docs=filter_docs,
            )
        if qtype == "frange":
            col = parse_function(body)
            return vs.function_range_query(
                s, self._need_source("frange"), col,
                l=_opt_float(local.get("l")), u=_opt_float(local.get("u")),
                incl=local.get("incl", "true") != "false",
                incu=local.get("incu", "true") != "false",
                boost=float(local.get("boost", 1.0)), k=k, key_col=self.key_col,
            )
        if qtype == "func":
            frame = self._doc_values(parse_function(body), "score")
            scored = frame.select("doc_id", F.col("score").cast("float"))
            return s._topk(s._drop_deleted(scored), k)
        if qtype == "boost":
            if local.get("b") is None:
                raise SyntaxError_("{!boost} needs a b=<function> parameter")
            terms = s.analyze_query(body)
            bframe = self._doc_values(parse_function(local["b"]), "boost_v")
            return vs.boosted_topk(s, terms, bframe, "boost_v", k=k)
        if qtype == "query":
            # NestedQParserPlugin: re-parse v under defType
            inner = local.get("v") or body
            def_type = local.get("defType", "lucene")
            if not inner.startswith("{!"):
                inner = f"{{!{def_type}}}{inner}"
            return self.query(inner, k=k, filter_docs=filter_docs)
        if qtype == "switch":
            case_val = body.strip()
            key = f"case.{case_val}" if case_val else "case"
            target = local.get(key, local.get("default"))
            if target is None:
                raise SyntaxError_(f"No switch case matched '{case_val}'")
            return self.query(target, k=k, filter_docs=filter_docs)
        if qtype in ("join", "geofilt", "bbox"):
            return self._const_score(self.docset(q), k)
        raise SyntaxError_(f"Unknown query parser '{qtype}'")

    # -- the /select request lifecycle ------------------------------------------
    def _source_with_ids(self) -> DataFrame:
        src = self._need_source("select")
        return self.searcher.docs.select("doc_id", self.key_col).join(
            src, self.key_col
        )

    def select(self, params: dict) -> dict:
        """The /select request lifecycle (SearchHandler.java:164-217):
        QueryComponent answers q over the intersected fq DocSets with
        start/rows paging (SolrIndexSearcher.getDocListC), then the other
        components — facet.field / facet.query / stats.field — run over the
        SAME q+fq match DocSet (SimpleFacets.java:336-448,
        StatsValuesFactory.java:82-181). `sort` ('field asc|desc') replaces
        the score ordering with a TopFieldCollector-style field sort; `fl`
        lists stored source columns to return with each hit.

        Returns {'response': {'numFound', 'start', 'docs'}, 'facet_counts',
        'stats'} with docs as plain dicts — the NamedList analog."""
        from .components import (
            docset_intersect,
            facet_query,
            sort_topk,
            stats_component,
        )

        q = params.get("q", "")
        fq = params.get("fq") or []
        if isinstance(fq, str):
            fq = [fq]
        start = int(params.get("start", 0))
        rows = int(params.get("rows", 10))
        fl = params.get("fl") or []
        if isinstance(fl, str):
            fl = [c.strip() for c in fl.split(",") if c.strip()]

        # multi-select faceting (SimpleFacets.java:316-334 /
        # QueryParsing tag semantics): fq may carry {!tag=name}; facet
        # params may carry {!ex=name[,name2] key=alias} to compute their
        # counts over the match set WITH those filters excluded — the
        # lucene/facet DrillSideways pattern expressed Solr-style.
        tagged: list[tuple[frozenset, DataFrame]] = []
        filter_docs = None
        for f in fq:
            tags, body = self._strip_tag(f)
            ds = self.docset(body)
            tagged.append((tags, ds))
            filter_docs = ds if filter_docs is None else docset_intersect(filter_docs, ds)

        # the q+fq DocSet every non-query component consumes
        q_set = self.docset(q).select("doc_id")
        match_set = q_set
        if filter_docs is not None:
            match_set = docset_intersect(match_set, filter_docs)
        match_set = match_set.persist()
        num_found = match_set.count()

        _ex_cache: dict = {}

        def match_set_excluding(ex_tags: frozenset) -> DataFrame:
            """q ∩ every fq whose tags don't intersect ex_tags."""
            if not ex_tags or not any(t & ex_tags for t, _ in tagged):
                return match_set
            key = ex_tags
            if key not in _ex_cache:
                ms = q_set
                for t, ds in tagged:
                    if not (t & ex_tags):
                        ms = docset_intersect(ms, ds)
                _ex_cache[key] = ms.persist()
            return _ex_cache[key]

        sort = params.get("sort")
        if sort and not sort.startswith("score"):
            fname, _, direction = sort.partition(" ")
            ranked = sort_topk(
                self._source_with_ids().join(match_set, "doc_id", "left_semi"),
                [(fname, direction.strip().lower() != "desc")],
                start + rows,
            ).select("doc_id", F.col(fname).cast("double").alias("score"))
        else:
            ranked = self.query(q, k=start + rows, filter_docs=filter_docs)

        page = ranked.limit(start + rows).collect()[start:]
        docs = [{"doc_id": r.doc_id, "score": float(r.score)} for r in page]
        if fl and docs:
            ids = [d["doc_id"] for d in docs]
            stored = (
                self._source_with_ids()
                .where(F.col("doc_id").isin(ids))
                .select("doc_id", *fl)
                .collect()
            )
            by_id = {r.doc_id: r.asDict() for r in stored}
            for d in docs:
                for c in fl:
                    d[c] = by_id.get(d["doc_id"], {}).get(c)

        out: dict = {
            "response": {"numFound": num_found, "start": start, "docs": docs}
        }

        if str(params.get("responseLog", "")).lower() == "true" and docs:
            # ResponseLogComponent.java:40-80: 'key:score,key:score,...'
            # over the returned page, keys = the unique key field (url)
            ids = [d["doc_id"] for d in docs]
            key_rows = (
                self.searcher.docs
                .where(F.col("doc_id").isin(ids))
                .select("doc_id", self.key_col)
                .collect()
            )
            key_by_id = {r["doc_id"]: r[self.key_col] for r in key_rows}
            out["responseLog"] = ",".join(
                f"{key_by_id.get(d['doc_id'], d['doc_id'])}:{d['score']}"
                for d in docs)

        ff = params.get("facet.field") or []
        if isinstance(ff, str):
            ff = [ff]
        if ff:
            out["facet_counts"] = {}
            limit = int(params.get("facet.limit", 20))
            mincount = int(params.get("facet.mincount", 1))
            for spec in ff:
                ex_tags, key, col = self._parse_facet_spec(spec)
                src = self._source_with_ids().join(
                    match_set_excluding(ex_tags), "doc_id", "left_semi")
                buckets = (
                    src.groupBy(col)
                    .count()
                    .where(F.col("count") >= mincount)
                    .orderBy(F.col("count").desc(), F.col(col).asc())
                    .limit(limit)
                    .collect()
                )
                out["facet_counts"][key or col] = {
                    r[col]: r["count"] for r in buckets}

        fqueries = params.get("facet.query") or {}
        if fqueries:
            by_set: dict = {}
            for name, p in fqueries.items():
                ex_tags, key, body = self._parse_facet_spec(name)
                cond = self._field_predicate(p) if isinstance(p, str) else p
                by_set.setdefault(ex_tags, {})[key or body] = cond
            merged: dict = {}
            for ex_tags, conds in by_set.items():
                row = facet_query(
                    self._source_with_ids(), conds,
                    matches=match_set_excluding(ex_tags),
                ).collect()[0]
                merged.update(row.asDict())
            out.setdefault("facet_counts", {})["facet_queries"] = merged

        fr = params.get("facet.range") or []
        if isinstance(fr, str):
            fr = [fr]
        if fr:
            from .components import facet_range

            ranges: dict = {}
            for spec in fr:
                ex_tags, key, col = self._parse_facet_spec(spec)
                gap = float(params.get(f"f.{col}.facet.range.gap",
                                       params.get("facet.range.gap", 1.0)))
                rows_ = facet_range(
                    self._source_with_ids(), col, gap,
                    mincount=int(params.get("facet.mincount", 0)),
                    matches=match_set_excluding(ex_tags),
                ).collect()
                ranges[key or col] = {
                    float(r["bucket_lo"]): r["cnt"] for r in rows_}
            out.setdefault("facet_counts", {})["facet_ranges"] = ranges

        sf = params.get("stats.field")
        if sf:
            ex_tags, key, col = self._parse_facet_spec(sf)
            st = stats_component(
                self._source_with_ids(), col,
                matches=match_set_excluding(ex_tags),
            ).collect()[0]
            out["stats"] = {key or col: st.asDict()}

        fp = params.get("facet.pivot") or []
        if isinstance(fp, str):
            fp = [fp]
        if fp:
            from .components import facet_pivot

            pivots: dict = {}
            for spec in fp:
                ex_tags, key, cols = self._parse_facet_spec(spec)
                col_list = [c.strip() for c in cols.split(",") if c.strip()]
                rows_ = facet_pivot(
                    self._source_with_ids(), col_list,
                    matches=match_set_excluding(ex_tags),
                ).collect()
                pivots[key or cols] = [
                    {**{c: r[c] for c in col_list}, "count": r["cnt"]}
                    for r in rows_
                ]
            out.setdefault("facet_counts", {})["facet_pivot"] = pivots

        if str(params.get("group", "")).lower() == "true" \
                and params.get("group.field"):
            from .components import grouping_top_docs

            gf = params["group.field"]
            gsort = params.get("group.sort") or "doc_id asc"
            gcol, _, gdir = gsort.partition(" ")
            grows = grouping_top_docs(
                self._source_with_ids(), gf, gcol,
                int(params.get("group.limit", 1)),
                asc=gdir.strip().lower() != "desc",
                matches=match_set,
            ).collect()
            groups: dict = {}
            for r in grows:
                groups.setdefault(r[gf], []).append(
                    {"doc_id": r["doc_id"], gcol: r[gcol]})
            out["grouped"] = {
                gf: {"matches": num_found, "groups": [
                    {"groupValue": k, "doclist": v}
                    for k, v in groups.items()
                ]}
            }

        if str(params.get("hl", "")).lower() == "true" and docs:
            from .highlight import highlight

            hits_df = self.searcher.spark.createDataFrame(
                [(d["doc_id"], d["score"]) for d in docs],
                "doc_id long, score double",
            )
            snips = highlight(
                self.searcher, hits_df, self._need_source("hl"),
                q, key_col=self.key_col,
                text_col=params.get("hl.fl", "text"),
                max_passages=int(params.get("hl.snippets", 1)),
            ).collect()
            by_id = {r.doc_id: r.snippet for r in snips}
            out["highlighting"] = {
                d["doc_id"]: {params.get("hl.fl", "text"):
                              by_id.get(d["doc_id"])}
                for d in docs
            }

        if str(params.get("debugQuery", "")).lower() == "true":
            out["debug"] = {
                "explain": {
                    d["doc_id"]: self.searcher.explain(q, d["doc_id"])
                    for d in docs
                }
            }

        if str(params.get("mlt", "")).lower() == "true" and docs:
            from .components import more_like_this

            mlt_count = int(params.get("mlt.count", 5))
            text_col = params.get("mlt.fl", "text")
            seed_ids = [d["doc_id"] for d in
                        docs[: int(params.get("mlt.maxdocs", 1))]]
            seeds = (
                self._source_with_ids()
                .where(F.col("doc_id").isin(seed_ids))
                .select("doc_id", text_col)
                .collect()
            )
            out["moreLikeThis"] = {}
            for r in seeds:
                hits, terms = more_like_this(
                    self.searcher, r[text_col] or "",
                    max_query_terms=int(params.get("mlt.maxqt", 5)),
                    k=mlt_count + 1,
                    min_doc_freq=int(params.get("mlt.mindf", 1)),
                    min_term_freq=int(params.get("mlt.mintf", 1)),
                )
                out["moreLikeThis"][r["doc_id"]] = {
                    "interestingTerms": terms,
                    "docs": [
                        {"doc_id": h.doc_id, "score": float(h.score)}
                        for h in hits.collect()
                        if h.doc_id != r["doc_id"]
                    ][:mlt_count],
                }

        if (
            str(params.get("clustering", "")).lower() == "true"
            and str(params.get("clustering.results", "true")).lower() == "true"
            and docs
        ):
            # ClusteringComponent (solr/contrib/clustering,
            # ClusteringComponent.java:117-130): the SearchClusteringEngine
            # clusters THIS page of results; carrot.snippet names the
            # stored field, response key is "clusters"
            from .clustering import cluster_search_results

            snippet_col = params.get("carrot.snippet", "text")
            page_ids = [d["doc_id"] for d in docs]
            snips = (
                self._source_with_ids()
                .where(F.col("doc_id").isin(page_ids))
                .select("doc_id", snippet_col)
                .collect()
            )
            texts = {int(r["doc_id"]): r[snippet_col] for r in snips}
            if str(params.get("carrot.produceSummary", "")).lower() == "true":
                # CarrotClusteringEngine.getDocuments:396-457: highlight the
                # snippet field with EMPTY pre/post tags, join fragments
                # with " . " (no cross-fragment phrases), fall back to the
                # full content when highlighting yields nothing
                from .highlight import format_passages, highlight_passages

                terms = set(self.searcher.analyze_query(q))
                frag = int(params.get(
                    "carrot.fragSize", params.get("hl.fragsize", 100)))
                nsnip = int(params.get(
                    "carrot.summarySnippets", params.get("hl.snippets", 1)))
                for did, text in texts.items():
                    ps = [
                        p for p in highlight_passages(
                            text or "", terms, max_passages=nsnip)
                        if p["matches"]
                    ]
                    if ps:
                        texts[did] = " . ".join(
                            format_passages(
                                [p], (text or "")[:10000], pre="", post="")[:frag]
                            for p in ps
                        )
            out["clusters"] = cluster_search_results(
                texts,
                num_descriptions=int(params.get("carrot.numDescriptions", 5)),
            )

        sq = params.get("spellcheck.q")
        if str(params.get("spellcheck", "")).lower() == "true" and sq:
            from .components import spellcheck as _spellcheck

            sugg = _spellcheck(
                self.searcher, sq,
                max_edits=int(params.get("spellcheck.maxEdits", 2)),
                n=int(params.get("spellcheck.count", 10)),
            ).collect()
            out["spellcheck"] = {
                "suggestions": {sq: [
                    {"word": r["term"], "freq": int(r["df"])} for r in sugg
                ]}
            }

        for ms in _ex_cache.values():
            ms.unpersist()
        match_set.unpersist()
        return out

    def select_response(self, params: dict) -> str | bytes:
        """/select with a serialized body: runs select() and writes the
        response in the wt= format (QueryResponseWriter registry —
        json/xml/csv/python/ruby/php/phps text, javabin bytes;
        response_writers.py), timing the request for responseHeader.QTime
        as SolrCore does."""
        import time

        from .response_writers import write_response

        t0 = time.time()
        out = self.select(params)
        return write_response(
            out, wt=params.get("wt", "json"), params=params,
            qtime_ms=int((time.time() - t0) * 1000))

    @staticmethod
    def _strip_tag(fq: str) -> tuple[frozenset, str]:
        """Harvest {!tag=a,b} from an fq; returns (tags, fq-without-tag) so
        the DocSet builder never sees the bookkeeping param."""
        local, rest = parse_local_params(fq, {})
        if local is None or "tag" not in local:
            return frozenset(), fq
        tags = frozenset(t for t in local["tag"].split(",") if t)
        others = {k: v for k, v in local.items() if k not in ("tag",)}
        if not others:
            return tags, rest
        inner = " ".join(
            k if v is None else f"{k}={v}" for k, v in others.items())
        return tags, "{!%s}%s" % (inner, rest)

    @staticmethod
    def _parse_facet_spec(spec: str) -> tuple[frozenset, str | None, str]:
        """{!ex=a,b key=alias}field → (ex tags, output key, field)."""
        local, rest = parse_local_params(spec, {})
        if local is None:
            return frozenset(), None, spec
        ex = frozenset(
            t for t in (local.get("ex") or "").split(",") if t)
        return ex, local.get("key"), rest.strip()

    # -- fq= (non-scoring DocSets) --------------------------------------------
    def docset(self, fq: str) -> DataFrame:
        """fq → DocSet (doc_id frame) for search(filter_docs=...) /
        put_filter — the filterCache entry shape (SolrIndexSearcher fq path)."""
        local, rest = parse_local_params(fq, self.params)
        s = self.searcher
        if local is None:
            if ":" in fq:
                return s.filter_docs_from_source(
                    self._need_source("fq"), self._field_predicate(fq),
                    key_col=self.key_col,
                )
            return s.match_docs(s.analyze_query(fq))
        qtype = local.get("type") or "lucene"
        body = local["v"] if "v" in local and local["v"] is not None else rest.strip()
        if qtype == "frange":
            return vs.function_range_docset(
                s, self._need_source("frange"), parse_function(body),
                l=_opt_float(local.get("l")), u=_opt_float(local.get("u")),
                incl=local.get("incl", "true") != "false",
                incu=local.get("incu", "true") != "false", key_col=self.key_col,
            )
        if qtype in ("geofilt", "bbox"):
            from .spatial import bbox_filter, geofilt

            lat, lon = (float(x) for x in local["pt"].split(","))
            fn = geofilt if qtype == "geofilt" else bbox_filter
            rows = fn(
                self._need_source(qtype), self.lat_col, self.lon_col,
                lat, lon, float(local["d"]),
            )
            return self._rows_to_docset(rows)
        if qtype == "join":
            from .components import solr_join

            src = self._need_source("join")
            rows = solr_join(
                src, local["from"], src, local["to"], self._field_predicate(body)
            )
            return self._rows_to_docset(rows)
        if qtype in ("term", "raw"):
            fname = local.get("f")
            if fname and self.source is not None and fname != "text":
                return s.filter_docs_from_source(
                    self.source, F.col(fname) == _typed(body), key_col=self.key_col
                )
            return s.match_docs([body])
        # everything else: run the query, keep the doc_ids
        hits = self.query(fq, k=s.stats.max_doc)
        return hits.select("doc_id")


def _typed(val: str):
    try:
        f = float(val)
        return int(f) if f.is_integer() and "." not in val and "e" not in val.lower() else f
    except ValueError:
        return val


def _opt_float(v: str | None) -> float | None:
    return None if v is None else float(v)
