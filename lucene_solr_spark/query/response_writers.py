"""Solr response writers — the wt= registry serializing a query response
(the NamedList tree) to the wire formats clients parse.

Reference (solr/core/src/java/org/apache/solr/response/):
- JSONResponseWriter.java — wt=json with json.nl ∈ {flat,map,arrarr,
  arrmap} NamedList styles (flat is the default; SimpleOrderedMap always
  renders as a JSON object, java:297-309), json.wrf wrapper function,
  trailing newline; string escaping per writeStr (quotes, backslash,
  control chars, and U+2028/U+2029 as \\u escapes — the JavaScript line
  terminators that would break json.wrf output; everything else raw).
- XMLResponseWriter.java / XMLWriter.java — typed elements <str>/<int>/
  <long>/<float>/<double>/<bool>/<date>/<arr>/<lst>, the doc list as
  <result name numFound start [maxScore]><doc>…; XML 1.0 header +
  <response> envelope.
- CSVResponseWriter.java — fl-ordered header, csv.separator /
  csv.mv.separator / csv.encapsulator / csv.escape / csv.null /
  csv.newline / csv.header plus per-field f.<f>.csv.separator overrides;
  multivalued fields join on the mv separator and the JOINED string is
  then CSV-encapsulated (goldens in TestCSVResponseWriter.java:52-111).
- PythonResponseWriter.java — JSON deltas: None/True/False, single-quoted
  strings with a u prefix when non-ASCII escapes were needed (one \\u
  escape per UTF-16 unit, so an astral character is a surrogate pair),
  float('NaN') / float('Inf').
- RubyResponseWriter.java — key=>value, nil, single-quoted strings with
  only \\ and ' escaped (raw UTF-8 passes through), (0.0/0.0), (1.0/0.0).
- PHPResponseWriter.java — array(...) for maps AND arrays, 'k'=>v,
  NamedLists always map-mangled (duplicate keys become k__1, k__2 …).
- PHPSerializedResponseWriter.java — PHP serialize() format with UTF-8
  BYTE lengths (s:<bytes>:"...";), docs keyed by integer index
  (golden TestPHPSerializedResponseWriter.java:95-103).

Out of scope: BinaryResponseWriter (javabin — a JVM object wire format),
RawResponseWriter (pass-through of a content stream), XSLTResponseWriter
(JAXP transform of the XML writer's output), SchemaXml (admin surface).

Numeric rendering matters for byte parity: Java's Double.toString /
Float.toString use decimal form only in [1e-3, 1e7) and scientific
"d.dddEn" outside it — `java_double_str` / `java_float_str` re-render
Python's shortest-round-trip digits into that grammar (e.g. Python
'-1e+300' → Java '-1.0E300').

These are driver-side serializers of an already-collected response page
(top-k docs + aggregates) — the one place in the engine where data is
legitimately driver-resident, exactly as in Solr where the writer runs
on the responding node.
"""

from __future__ import annotations

import math
from datetime import datetime, timezone
from decimal import Decimal
from typing import Any, Iterable

__all__ = [
    "NamedList", "DocList", "F32",
    "java_double_str", "java_float_str", "solr_date_str",
    "write_response", "SUPPORTED_WT",
]


class NamedList:
    """Ordered (name, value) pairs, duplicates allowed — obeys json.nl.
    (The SimpleOrderedMap always-a-map behavior is plain Python dict.)"""

    def __init__(self, pairs: Iterable[tuple[str, Any]] = ()):
        self.pairs = list(pairs)

    def add(self, name: str, value: Any) -> "NamedList":
        self.pairs.append((name, value))
        return self


class DocList:
    """SolrDocumentList: numFound/start/docs (+ maxScore when requested)."""

    def __init__(self, num_found: int, start: int, docs: list[dict],
                 max_score: float | None = None):
        self.num_found = num_found
        self.start = start
        self.docs = docs
        self.max_score = max_score


class F32(float):
    """Marks a value as a Java float (32-bit) for Float.toString
    rendering — scores and maxScore in the reference are floats."""


def _shortest_digits(v: float, single: bool) -> tuple[str, int]:
    """(digit string, decimal exponent) of the shortest round-trip
    rendering — Python repr is shortest for doubles; numpy gives the
    float32 shortest form."""
    if single:
        import numpy as np

        s = repr(np.float32(v))
    else:
        s = repr(float(v))
    d = Decimal(s)
    sign, digits, exp = d.as_tuple()
    ds = "".join(map(str, digits)).rstrip("0") or "0"
    # exponent of the leading digit: len-1 + exp adjusts to scientific
    e = len("".join(map(str, digits))) - 1 + exp
    return ds, e


def _java_fp_str(v: float, single: bool) -> str:
    if math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "Infinity" if v > 0 else "-Infinity"
    if v == 0:
        return "-0.0" if math.copysign(1.0, v) < 0 else "0.0"
    sign = "-" if v < 0 else ""
    ds, e = _shortest_digits(abs(v), single)
    # Double.toString: decimal form iff 10^-3 <= |v| < 10^7
    if -3 <= e < 7:
        if e >= 0:
            intpart = ds[: e + 1].ljust(e + 1, "0")
            frac = ds[e + 1:] or "0"
            return f"{sign}{intpart}.{frac}"
        return f"{sign}0.{'0' * (-e - 1)}{ds}"
    frac = ds[1:] or "0"
    return f"{sign}{ds[0]}.{frac}E{e}"


def java_double_str(v: float) -> str:
    """Java Double.toString."""
    return _java_fp_str(v, single=False)


def java_float_str(v: float) -> str:
    """Java Float.toString."""
    return _java_fp_str(v, single=True)


def solr_date_str(dt: datetime) -> str:
    """TrieDateField canonical form: UTC, 'Z', millis only when nonzero."""
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    base = dt.strftime("%Y-%m-%dT%H:%M:%S")
    if dt.microsecond:
        base += ".%03d" % (dt.microsecond // 1000)
    return base + "Z"


def _fp_str(v: float) -> str:
    return java_float_str(v) if isinstance(v, F32) else java_double_str(v)


# ---------------------------------------------------------------------------
# JSON family (JSONWriter + the Python/Ruby/PHP subclasses)
# ---------------------------------------------------------------------------

class _JSONWriter:
    NULL = "null"
    TRUE = "true"
    FALSE = "false"
    NAN = '"NaN"'
    INF = '"Infinity"'
    NEG_INF = '"-Infinity"'
    MANGLE_MAPS = False  # PHPWriter name-mangles duplicate NamedList keys

    def __init__(self, params: dict):
        self.out: list[str] = []
        self.nl_style = params.get("json.nl", "flat")
        self.params = params

    # -- tokens ------------------------------------------------------------
    def map_open(self):
        self.out.append("{")

    def map_close(self):
        self.out.append("}")

    def map_sep(self):
        self.out.append(",")

    def arr_open(self):
        self.out.append("[")

    def arr_close(self):
        self.out.append("]")

    def arr_sep(self):
        self.out.append(",")

    def write_key(self, name: str):
        self.write_str(str(name))
        self.out.append(":")

    def write_null(self):
        self.out.append(self.NULL)

    def write_bool(self, v: bool):
        self.out.append(self.TRUE if v else self.FALSE)

    def write_int(self, v: int):
        self.out.append(str(v))

    def write_fp(self, v: float):
        if math.isnan(v):
            self.out.append(self.NAN)
        elif math.isinf(v):
            self.out.append(self.INF if v > 0 else self.NEG_INF)
        else:
            self.out.append(_fp_str(v))

    def write_str(self, s: str):
        # JSONWriter.writeStr: escape ", \, named controls, and \u for
        # other chars < 0x20 plus U+2028/U+2029; everything else raw
        buf = ['"']
        for ch in s:
            if ch == '"' or ch == "\\":
                buf.append("\\" + ch)
            elif ch == "\n":
                buf.append("\\n")
            elif ch == "\r":
                buf.append("\\r")
            elif ch == "\t":
                buf.append("\\t")
            elif ch == "\b":
                buf.append("\\b")
            elif ch == "\f":
                buf.append("\\f")
            elif ch < " " or ch in "\u2028\u2029":
                buf.append("\\u%04x" % ord(ch))
            else:
                buf.append(ch)
        buf.append('"')
        self.out.append("".join(buf))

    def write_date(self, dt: datetime):
        self.write_str(solr_date_str(dt))

    # -- compounds ---------------------------------------------------------
    def write_map(self, m: dict):
        self.map_open()
        for i, (k, v) in enumerate(m.items()):
            if i:
                self.map_sep()
            self.write_key(str(k))
            self.write_val(v)
        self.map_close()

    def write_named_list(self, nl: NamedList):
        style = self.nl_style
        if style == "map":
            self._write_nl_map(nl, mangle=False)
        elif style == "arrarr":
            self.arr_open()
            for i, (k, v) in enumerate(nl.pairs):
                if i:
                    self.arr_sep()
                self.arr_open()
                self.write_str(str(k)) if k is not None else self.write_null()
                self.arr_sep()
                self.write_val(v)
                self.arr_close()
            self.arr_close()
        elif style == "arrmap":
            self.arr_open()
            for i, (k, v) in enumerate(nl.pairs):
                if i:
                    self.arr_sep()
                if k is None:
                    self.write_val(v)
                else:
                    self.map_open()
                    self.write_key(k)
                    self.write_val(v)
                    self.map_close()
            self.arr_close()
        else:  # flat
            self.arr_open()
            for i, (k, v) in enumerate(nl.pairs):
                if i:
                    self.arr_sep()
                self.write_str(str(k) if k is not None else "")
                self.arr_sep()
                self.write_val(v)
            self.arr_close()

    def _write_nl_map(self, nl: NamedList, mangle: bool):
        self.map_open()
        seen: dict[str, int] = {}
        for i, (k, v) in enumerate(nl.pairs):
            if i:
                self.map_sep()
            key = k if k is not None else ""
            if mangle:
                n = seen.get(key, 0)
                seen[key] = n + 1
                if n:
                    key = f"{key}__{n}"
            self.write_key(key)
            self.write_val(v)
        self.map_close()

    def write_array(self, arr: Iterable):
        self.arr_open()
        for i, v in enumerate(arr):
            if i:
                self.arr_sep()
            self.write_val(v)
        self.arr_close()

    def write_doc_list(self, dl: DocList):
        # writeStartDocumentList (JSONResponseWriter.java:363-396)
        self.map_open()
        self.write_key("numFound")
        self.write_int(dl.num_found)
        self.map_sep()
        self.write_key("start")
        self.write_int(dl.start)
        if dl.max_score is not None:
            self.map_sep()
            self.write_key("maxScore")
            self.write_fp(F32(dl.max_score))
        self.map_sep()
        self.write_key("docs")
        self.arr_open()
        for i, doc in enumerate(dl.docs):
            if i:
                self.arr_sep()
            self.write_map(doc)
        self.arr_close()
        self.map_close()

    def write_val(self, v: Any):
        if v is None:
            self.write_null()
        elif isinstance(v, bool):
            self.write_bool(v)
        elif isinstance(v, int):
            self.write_int(v)
        elif isinstance(v, float):
            self.write_fp(v)
        elif isinstance(v, str):
            self.write_str(v)
        elif isinstance(v, datetime):
            self.write_date(v)
        elif isinstance(v, DocList):
            self.write_doc_list(v)
        elif isinstance(v, NamedList):
            self.write_named_list(v)
        elif isinstance(v, dict):
            self.write_map(v)  # SimpleOrderedMap: always a map
        elif isinstance(v, (list, tuple)):
            self.write_array(v)
        else:
            self.write_str(str(v))

    def render(self, rsp: NamedList) -> str:
        wrf = self.params.get("json.wrf")
        if wrf:
            self.out.append(wrf + "(")
        # the response root is a SimpleOrderedMap (SolrQueryResponse.values)
        # — always a map, regardless of json.nl
        self._write_nl_map(rsp, mangle=self.MANGLE_MAPS)
        if wrf:
            self.out.append(")")
        self.out.append("\n")
        return "".join(self.out)


class _PythonWriter(_JSONWriter):
    NULL = "None"
    TRUE = "True"
    FALSE = "False"
    NAN = "float('NaN')"
    INF = "float('Inf')"
    NEG_INF = "-float('Inf')"

    def write_str(self, s: str):
        buf = []
        need_unicode = False
        for ch in s:
            if ch in ("'", "\\"):
                buf.append("\\" + ch)
            elif ch == "\r":
                buf.append("\\r")
            elif ch == "\n":
                buf.append("\\n")
            elif ch == "\t":
                buf.append("\\t")
            elif ch < " " or ch > "\x7f":
                # one escape per UTF-16 unit, as Java iterates chars
                units = ch.encode("utf-16-be", "surrogatepass")
                for i in range(0, len(units), 2):
                    buf.append("\\u%02x%02x" % (units[i], units[i + 1]))
                need_unicode = True
            else:
                buf.append(ch)
        self.out.append(("u'" if need_unicode else "'") + "".join(buf) + "'")

    def write_date(self, dt: datetime):
        self.write_str(solr_date_str(dt))


class _RubyWriter(_JSONWriter):
    NULL = "nil"
    NAN = "(0.0/0.0)"
    INF = "(1.0/0.0)"
    NEG_INF = "-(1.0/0.0)"

    def write_key(self, name: str):
        self.write_str(name)
        self.out.append("=>")

    def write_str(self, s: str):
        buf = ["'"]
        for ch in s:
            if ch in ("'", "\\"):
                buf.append("\\")
            buf.append(ch)
        buf.append("'")
        self.out.append("".join(buf))


class _PHPWriter(_JSONWriter):
    NULL = "null"
    NAN = "'NaN'"
    INF = "'Infinity'"
    NEG_INF = "'-Infinity'"
    MANGLE_MAPS = True

    def map_open(self):
        self.out.append("array(")

    def map_close(self):
        self.out.append(")")

    def arr_open(self):
        self.out.append("array(")

    def arr_close(self):
        self.out.append(")")

    def write_key(self, name: str):
        self.write_str(name)
        self.out.append("=>")

    def write_str(self, s: str):
        buf = ["'"]
        for ch in s:
            if ch in ("'", "\\"):
                buf.append("\\")
            buf.append(ch)
        buf.append("'")
        self.out.append("".join(buf))

    def write_named_list(self, nl: NamedList):
        # PHPWriter: always map-mangled (duplicate keys become k__N)
        self._write_nl_map(nl, mangle=True)


class _PHPSerializedWriter:
    """PHP serialize(): a:N:{...}, s:<utf8 bytes>:"...";, i:, b:, d:."""

    def __init__(self, params: dict):
        self.out: list[str] = []

    def write_str(self, s: str):
        self.out.append('s:%d:"%s";' % (len(s.encode("utf-8")), s))

    def write_val(self, v: Any):
        if v is None:
            self.out.append("N;")
        elif isinstance(v, bool):
            self.out.append("b:1;" if v else "b:0;")
        elif isinstance(v, int):
            self.out.append("i:%d;" % v)
        elif isinstance(v, float):
            self.out.append("d:%s;" % _fp_str(v))
        elif isinstance(v, str):
            self.write_str(v)
        elif isinstance(v, datetime):
            self.write_str(solr_date_str(v))
        elif isinstance(v, DocList):
            n = 3 + (v.max_score is not None)
            self.out.append("a:%d:{" % n)
            self.write_str("numFound")
            self.out.append("i:%d;" % v.num_found)
            self.write_str("start")
            self.out.append("i:%d;" % v.start)
            if v.max_score is not None:
                self.write_str("maxScore")
                self.out.append("d:%s;" % java_float_str(v.max_score))
            self.write_str("docs")
            self.out.append("a:%d:{" % len(v.docs))
            for i, doc in enumerate(v.docs):
                self.out.append("i:%d;" % i)
                self.write_val(doc)
            self.out.append("}")
            self.out.append("}")
        elif isinstance(v, NamedList):
            self.out.append("a:%d:{" % len(v.pairs))
            for k, val in v.pairs:
                self.write_str(k if k is not None else "")
                self.write_val(val)
            self.out.append("}")
        elif isinstance(v, dict):
            self.out.append("a:%d:{" % len(v))
            for k, val in v.items():
                self.write_str(str(k))
                self.write_val(val)
            self.out.append("}")
        elif isinstance(v, (list, tuple)):
            self.out.append("a:%d:{" % len(v))
            for i, val in enumerate(v):
                self.out.append("i:%d;" % i)
                self.write_val(val)
            self.out.append("}")
        else:
            self.write_str(str(v))

    def render(self, rsp: NamedList) -> str:
        self.write_val(rsp)
        return "".join(self.out)


# ---------------------------------------------------------------------------
# XML
# ---------------------------------------------------------------------------

_XML_HEADER = '<?xml version="1.0" encoding="UTF-8"?>\n'


def _xml_escape(s: str, attr: bool = False) -> str:
    s = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    if attr:
        s = s.replace('"', "&quot;")
    return s


class _XMLWriter:
    def __init__(self, params: dict):
        self.out: list[str] = []

    def _tag(self, tag: str, name: str | None, body: str):
        if name is None:
            self.out.append(f"<{tag}>{body}</{tag}>")
        else:
            self.out.append(
                f'<{tag} name="{_xml_escape(name, attr=True)}">{body}</{tag}>')

    def write_val(self, name: str | None, v: Any):
        if v is None:
            # XMLWriter.writeNull → <null name="..."/>
            self.out.append(
                "<null/>" if name is None
                else f'<null name="{_xml_escape(name, attr=True)}"/>')
        elif isinstance(v, bool):
            self._tag("bool", name, "true" if v else "false")
        elif isinstance(v, int):
            tag = "int" if -(1 << 31) <= v < (1 << 31) else "long"
            self._tag(tag, name, str(v))
        elif isinstance(v, F32):
            self._tag("float", name, java_float_str(v))
        elif isinstance(v, float):
            self._tag("double", name, java_double_str(v))
        elif isinstance(v, str):
            self._tag("str", name, _xml_escape(v))
        elif isinstance(v, datetime):
            self._tag("date", name, solr_date_str(v))
        elif isinstance(v, DocList):
            attrs = (f' name="{_xml_escape(name or "response", attr=True)}"'
                     f' numFound="{v.num_found}" start="{v.start}"')
            if v.max_score is not None:
                attrs += f' maxScore="{java_float_str(v.max_score)}"'
            self.out.append(f"<result{attrs}>")
            for doc in v.docs:
                self.out.append("<doc>")
                for k, val in doc.items():
                    self.write_val(k, val)
                self.out.append("</doc>")
            self.out.append("</result>")
        elif isinstance(v, NamedList):
            self._compound("lst", name, v.pairs)
        elif isinstance(v, dict):
            self._compound("lst", name, list(v.items()))
        elif isinstance(v, (list, tuple)):
            self._compound("arr", name, [(None, x) for x in v])
        else:
            self._tag("str", name, _xml_escape(str(v)))

    def _compound(self, tag: str, name: str | None, pairs):
        open_ = (f"<{tag}>" if name is None
                 else f'<{tag} name="{_xml_escape(name, attr=True)}">')
        self.out.append(open_)
        for k, v in pairs:
            self.write_val(k, v)
        self.out.append(f"</{tag}>")

    def render(self, rsp: NamedList) -> str:
        self.out.append(_XML_HEADER)
        self.out.append("<response>")
        for k, v in rsp.pairs:
            self.write_val(k, v)
        self.out.append("</response>\n")
        return "".join(self.out)


# ---------------------------------------------------------------------------
# CSV
# ---------------------------------------------------------------------------

def _csv_value(v: Any) -> str:
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return _fp_str(v)
    if isinstance(v, datetime):
        return solr_date_str(v)
    return str(v)


def _csv_encode(s: str, sep: str, encapsulator: str | None,
                escape: str | None, newline: str) -> str:
    """CSVStrategy: with an escape char, escape sep/escape occurrences;
    otherwise encapsulate when the value contains sep, the encapsulator,
    or a newline char."""
    if escape:
        out = []
        for ch in s:
            if ch == sep or ch == escape:
                out.append(escape)
            out.append(ch)
        return "".join(out)
    enc = encapsulator if encapsulator is not None else '"'
    if (sep in s) or (enc in s) or ("\n" in s) or ("\r" in s):
        return enc + s.replace(enc, enc + enc) + enc
    return s


def _write_csv(dl: DocList, params: dict) -> str:
    fl = params.get("fl") or []
    if isinstance(fl, str):
        fl = [c.strip() for c in fl.split(",") if c.strip()]
    if not fl and dl.docs:
        fl = list(dl.docs[0].keys())
    sep = params.get("csv.separator", ",")
    mv_sep_default = params.get("csv.mv.separator", sep)
    enc = params.get("csv.encapsulator")
    esc = params.get("csv.escape")
    null = params.get("csv.null", "")
    newline = params.get("csv.newline", "\n")
    header = str(params.get("csv.header", "true")).lower() != "false"

    lines = []
    if header:
        lines.append(sep.join(
            _csv_encode(f, sep, enc, esc, newline) for f in fl))
    for doc in dl.docs:
        cells = []
        for f in fl:
            v = doc.get(f)
            if isinstance(v, (list, tuple)):
                # per-field mv separator: f.<field>.csv.separator
                mv_sep = params.get(f"f.{f}.csv.separator", mv_sep_default)
                joined = mv_sep.join(_csv_value(x) for x in v)
                cells.append(_csv_encode(joined, sep, enc, esc, newline))
            elif v is None:
                cells.append(null)
            else:
                cells.append(_csv_encode(_csv_value(v), sep, enc, esc, newline))
        lines.append(sep.join(cells))
    return newline.join(lines) + newline if lines else ""


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------

SUPPORTED_WT = ("json", "xml", "csv", "python", "ruby", "php", "phps",
                "javabin")

_WRITERS = {
    "json": _JSONWriter,
    "python": _PythonWriter,
    "ruby": _RubyWriter,
    "php": _PHPWriter,
    "phps": _PHPSerializedWriter,
    "xml": _XMLWriter,
}


def _solrify(rsp: dict | NamedList, params: dict, qtime_ms: int) -> NamedList:
    """Shape a facade select() dict into the canonical Solr response tree:
    responseHeader first (unless omitHeader), the doc list as a DocList,
    facet count sections as NamedLists (so json.nl styles apply to them,
    as they do to Solr's facet NamedLists)."""
    out = NamedList()
    if isinstance(rsp, NamedList):
        return rsp
    if str(params.get("omitHeader", "")).lower() != "true":
        hdr = {"status": 0, "QTime": int(qtime_ms)}
        shown = {k: v for k, v in params.items()
                 if k not in ("omitHeader",) and v is not None}
        if shown:
            hdr["params"] = {k: (str(v) if not isinstance(v, list) else
                                 [str(x) for x in v])
                             for k, v in shown.items()}
        out.add("responseHeader", hdr)
    for key, val in rsp.items():
        if key == "response" and isinstance(val, dict) and "docs" in val:
            out.add("response", DocList(
                val.get("numFound", len(val["docs"])),
                val.get("start", 0), val["docs"],
                val.get("maxScore")))
        elif key == "facet_counts" and isinstance(val, dict):
            # facade shape: {field: {value: count}, facet_queries: {...},
            # facet_ranges: {...}, facet_pivot: {...}} → Solr's canonical
            # facet_counts envelope, with the per-field count maps as
            # NamedLists so json.nl styles apply (facet counts are the
            # NamedLists in a real Solr response)
            # facet_counts / facet_fields are SimpleOrderedMaps (always
            # JSON objects); each FIELD's value→count list is the
            # NamedList that obeys json.nl
            fc: dict = {"facet_queries": NamedList(
                val.get("facet_queries", {}).items())}
            fc["facet_fields"] = {
                section: (NamedList(sval.items())
                          if isinstance(sval, dict) else sval)
                for section, sval in val.items()
                if section not in ("facet_queries", "facet_ranges",
                                   "facet_pivot", "facet_dates")}
            fc["facet_dates"] = val.get("facet_dates", {})
            fc["facet_ranges"] = {
                fname: ({"counts": NamedList(
                    (str(k), v) for k, v in counts.items())}
                        if isinstance(counts, dict) else counts)
                for fname, counts in val.get("facet_ranges", {}).items()}
            if "facet_pivot" in val:
                fc["facet_pivot"] = val["facet_pivot"]
            out.add("facet_counts", fc)
        else:
            out.add(key, val)
    return out


def write_response(rsp: dict | NamedList, wt: str = "json",
                   params: dict | None = None, qtime_ms: int = 0) -> str | bytes:
    """QueryResponseWriter.write: serialize a select() response dict (or a
    hand-built NamedList) in the requested wt format — text for every wt
    except javabin, which returns bytes."""
    params = dict(params or {})
    wt = wt or params.get("wt", "json")
    if wt not in SUPPORTED_WT:
        raise ValueError(f"unsupported wt={wt!r}; one of {SUPPORTED_WT}")
    tree = _solrify(rsp, params, qtime_ms)
    if wt == "javabin":
        # BinaryResponseWriter: the SolrJ wire format — returns BYTES
        # (javabin.py; numFound/start force the Java Long encoding via
        # the DocList writer, matching SolrDocumentList)
        from .javabin import dumps

        tree.ordered = True  # the response root is a SimpleOrderedMap
        return dumps(tree)
    if wt == "csv":
        dl = next((v for k, v in tree.pairs
                   if isinstance(v, DocList)), DocList(0, 0, []))
        return _write_csv(dl, params)
    return _WRITERS[wt](params).render(tree)
