"""Response writer parity (solr/response/*ResponseWriter.java).

CSV goldens ported from TestCSVResponseWriter.java:52-111, the PHP
serialize golden from TestPHPSerializedResponseWriter.java:40-103;
JSON/XML/Python/Ruby shapes checked structurally plus eval round-trips.
"""

import json
import math
from datetime import datetime

from lucene_solr_spark.query.response_writers import (
    F32,
    DocList,
    NamedList,
    java_double_str,
    java_float_str,
    solr_date_str,
    write_response,
)


def csv(docs, **params):
    dl = {"response": {"numFound": len(docs), "start": 0, "docs": docs}}
    params.setdefault("omitHeader", "true")
    return write_response(dl, wt="csv", params=params)


DOC1 = {"id": "1", "foo_s": "hi", "foo_i": -1, "foo_l": 12345678987654321,
        "foo_b": False, "foo_f": F32(1.414), "foo_d": -1.0e300,
        "foo_dt": datetime(2000, 1, 2, 3, 4, 5)}


class TestJavaNumberStrings:
    def test_double(self):
        # Java Double.toString grammar: decimal in [1e-3, 1e7), else E form
        assert java_double_str(-1.0e300) == "-1.0E300"
        assert java_double_str(1.0) == "1.0"
        assert java_double_str(0.001) == "0.001"
        assert java_double_str(0.0001) == "1.0E-4"
        assert java_double_str(9999999.0) == "9999999.0"
        assert java_double_str(1.0e7) == "1.0E7"
        assert java_double_str(1.414) == "1.414"
        assert java_double_str(0.0) == "0.0"
        assert java_double_str(-0.0) == "-0.0"
        assert java_double_str(float("nan")) == "NaN"
        assert java_double_str(float("inf")) == "Infinity"
        assert java_double_str(12.434) == "12.434"

    def test_float(self):
        assert java_float_str(1.414) == "1.414"
        assert java_float_str(2.718) == "2.718"
        assert java_float_str(0.0) == "0.0"
        # float32 shortest digits differ from the double's
        assert java_float_str(0.1) == "0.1"

    def test_date(self):
        assert solr_date_str(datetime(2000, 1, 2, 3, 4, 5)) == \
            "2000-01-02T03:04:05Z"
        assert solr_date_str(
            datetime(2000, 1, 2, 3, 4, 5, 123000)) == \
            "2000-01-02T03:04:05.123Z"


class TestCSV:
    """Goldens: TestCSVResponseWriter.testCSVOutput."""

    def test_basic_types_and_field_order(self):
        out = csv([DOC1],
                  fl="id,foo_s,foo_i,foo_l,foo_b,foo_f,foo_d,foo_dt")
        assert out == ("id,foo_s,foo_i,foo_l,foo_b,foo_f,foo_d,foo_dt\n"
                       "1,hi,-1,12345678987654321,false,1.414,-1.0E300,"
                       "2000-01-02T03:04:05Z\n")

    def test_score_and_no_header(self):
        out = csv([{"id": "1", "score": F32(0.0), "foo_s": "hi"}],
                  fl="id,score,foo_s", **{"csv.header": "false"})
        assert out == "1,0.0,hi\n"

    def test_multivalued(self):
        out = csv([{"id": "2", "v_ss": ["hi", "there"]}],
                  fl="id,v_ss", **{"csv.header": "false"})
        assert out == '2,"hi,there"\n'

    def test_separator_change(self):
        out = csv([{"id": "2", "v_ss": ["hi", "there"]}], fl="id,v_ss",
                  **{"csv.header": "false", "csv.separator": "|"})
        assert out == '2|"hi|there"\n'

    def test_mv_separator(self):
        out = csv([{"id": "2", "v_ss": ["hi", "there"]}], fl="id,v_ss",
                  **{"csv.header": "false", "csv.mv.separator": "|"})
        assert out == "2,hi|there\n"

    def test_per_field_mv_separator(self):
        out = csv([{"id": "2", "v_ss": ["hi", "there"],
                    "v2_ss": ["nice", "output"]}], fl="id,v_ss,v2_ss",
                  **{"csv.header": "false", "csv.mv.separator": "|",
                     "f.v2_ss.csv.separator": ":"})
        assert out == "2,hi|there,nice:output\n"

    def test_null_and_alternate_null(self):
        docs = [{"id": "2", "foo_s": None, "v_ss": ["hi", "there"]}]
        out = csv(docs, fl="id,foo_s,v_ss",
                  **{"csv.header": "false", "csv.mv.separator": "|"})
        assert out == "2,,hi|there\n"
        out = csv(docs, fl="id,foo_s,v_ss",
                  **{"csv.header": "false", "csv.mv.separator": "|",
                     "csv.null": "NULL"})
        assert out == "2,NULL,hi|there\n"

    def test_alternate_newline(self):
        out = csv([{"id": "2", "v_ss": ["hi", "there"]}], fl="id,v_ss",
                  **{"csv.header": "false", "csv.newline": "\r\n"})
        assert out == '2,"hi,there"\r\n'

    def test_alternate_encapsulator(self):
        out = csv([{"id": "2", "v_ss": ["hi", "there"]}], fl="id,v_ss",
                  **{"csv.header": "false", "csv.encapsulator": "'"})
        assert out == "2,'hi,there'\n"

    def test_escape_instead_of_encapsulator(self):
        out = csv([{"id": "2", "v_ss": ["hi", "there"]}], fl="id,v_ss",
                  **{"csv.header": "false", "csv.escape": "\\"})
        assert out == "2,hi\\,there\n"

    def test_multiple_lines(self):
        out = csv([{"id": "1", "v_ss": None, "foo_s": "hi"},
                   {"id": "2", "v_ss": ["hi", "there"], "foo_s": None}],
                  fl="id,v_ss,foo_s", **{"csv.header": "false"})
        assert out == '1,,hi\n2,"hi,there",\n'


class TestPHPS:
    def test_named_list_golden(self):
        # TestPHPSerializedResponseWriter.testStandardResponse
        nl = NamedList([("data1", "hello"), ("data2", 42), ("data3", True)])
        out = write_response(nl, wt="phps")
        assert out == ('a:3:{s:5:"data1";s:5:"hello";s:5:"data2";i:42;'
                       's:5:"data3";b:1;}')

    def test_doc_list_golden(self):
        # testSolrDocuments — the full serialize() shape incl. nested
        # map and array values and integer doc indexes
        d1 = {"id": "1", "data1": "hello", "data2": 42, "data3": True,
              "data4": {"data4.1": "hashmap", "data4.2": "hello"},
              "data5": ["data5.1", "data5.2", "data5.3"]}
        d2 = {"id": "2"}
        nl = NamedList([("response", DocList(0, 0, [d1, d2]))])
        out = write_response(nl, wt="phps")
        assert out == (
            'a:1:{s:8:"response";a:3:{s:8:"numFound";i:0;s:5:"start";i:0;'
            's:4:"docs";a:2:{i:0;a:6:{s:2:"id";s:1:"1";s:5:"data1";'
            's:5:"hello";s:5:"data2";i:42;s:5:"data3";b:1;s:5:"data4";'
            'a:2:{s:7:"data4.1";s:7:"hashmap";s:7:"data4.2";s:5:"hello";}'
            's:5:"data5";a:3:{i:0;s:7:"data5.1";i:1;s:7:"data5.2";'
            'i:2;s:7:"data5.3";}}i:1;a:1:{s:2:"id";s:1:"2";}}}}')

    def test_utf8_byte_lengths(self):
        nl = NamedList([("k", "żółć")])
        out = write_response(nl, wt="phps")
        assert 's:8:"żółć";' in out  # 4 chars, 8 UTF-8 bytes


class TestJSON:
    def _rsp(self):
        return {
            "response": {"numFound": 2, "start": 0, "docs": [
                {"id": "1", "score": F32(1.5)}, {"id": "2", "score": F32(1.0)},
            ]},
            "facet_counts": {"cat": {"electronics": 10, "memory": 3}},
        }

    def test_shape_and_flat_nl(self):
        out = write_response(self._rsp(), params={"q": "*:*"})
        data = json.loads(out)
        assert data["responseHeader"]["status"] == 0
        assert data["responseHeader"]["params"] == {"q": "*:*"}
        assert data["response"]["numFound"] == 2
        assert data["response"]["docs"][0] == {"id": "1", "score": 1.5}
        # json.nl default 'flat': NamedList as [k1, v1, k2, v2]
        assert data["facet_counts"]["facet_fields"]["cat"] == \
            ["electronics", 10, "memory", 3]

    def test_nl_map_style(self):
        out = write_response(self._rsp(),
                             params={"json.nl": "map", "omitHeader": "true"})
        data = json.loads(out)
        assert data["facet_counts"]["facet_fields"]["cat"] == \
            {"electronics": 10, "memory": 3}

    def test_nl_arrarr_arrmap(self):
        out = write_response(self._rsp(), params={
            "json.nl": "arrarr", "omitHeader": "true"})
        assert json.loads(out)["facet_counts"]["facet_fields"]["cat"] == \
            [["electronics", 10], ["memory", 3]]
        out = write_response(self._rsp(), params={
            "json.nl": "arrmap", "omitHeader": "true"})
        assert json.loads(out)["facet_counts"]["facet_fields"]["cat"] == \
            [{"electronics": 10}, {"memory": 3}]

    def test_wrapper_function(self):
        out = write_response(self._rsp(), params={
            "json.wrf": "cb", "omitHeader": "true"})
        assert out.startswith("cb(") and out.rstrip().endswith(")")
        json.loads(out.rstrip()[3:-1])

    def test_string_escaping(self):
        nl = NamedList([("s", 'a"b\\c\nd\x7f')])
        out = write_response(nl, wt="json")
        assert json.loads(out)["s"] == 'a"b\\c\nd\x7f'
        assert "d\x7f" in out  # JSONWriter.writeStr emits U+007F raw

    def test_latin1_band_raw_and_js_line_terminators_escaped(self):
        s = "\x80nbsp\xa0 line\u2028para\u2029"
        out = write_response(NamedList([("s", s)]), wt="json",
                             params={"json.wrf": "cb"})
        assert "\x80nbsp\xa0" in out
        assert "\\u2028" in out and "\\u2029" in out
        assert "\u2028" not in out and "\u2029" not in out
        assert json.loads(out.rstrip()[3:-1])["s"] == s

    def test_trailing_newline(self):
        assert write_response(self._rsp()).endswith("\n")


class TestPythonRuby:
    def test_python_eval_round_trip(self):
        rsp = {"response": {"numFound": 1, "start": 0, "docs": [
            {"id": "1", "t": True, "n": None, "s": "żółć", "f": 1.414}]}}
        out = write_response(rsp, wt="python", params={"omitHeader": "true"})
        data = eval(out)  # the writer exists to be eval()'d
        doc = data["response"]["docs"][0]
        assert doc == {"id": "1", "t": True, "n": None, "s": "żółć",
                       "f": 1.414}

    def test_python_astral_chars_are_surrogate_pairs(self):
        s = "hi \U0001F600!"
        out = write_response(NamedList([("s", s)]), wt="python")
        assert "u'hi \\ud83d\\ude00!'" in out
        got = eval(out)["s"]  # lone surrogates in Python 3, one char in 2
        assert got.encode("utf-16-le", "surrogatepass").decode("utf-16-le") == s

    def test_python_nan_inf(self):
        out = write_response(NamedList([("a", float("nan")),
                                        ("b", float("inf"))]), wt="python")
        d = eval(out)
        assert math.isnan(d["a"]) and math.isinf(d["b"])

    def test_ruby_shape(self):
        out = write_response(
            NamedList([("k", "it's"), ("n", None), ("b", True)]), wt="ruby")
        assert out == "{'k'=>'it\\'s','n'=>nil,'b'=>true}\n"

    def test_php_shape(self):
        out = write_response(
            NamedList([("k", "v"), ("arr", [1, 2]), ("n", None)]), wt="php")
        assert out == "array('k'=>'v','arr'=>array(1,2),'n'=>null)\n"

    def test_php_mangles_duplicate_nl_keys(self):
        out = write_response(NamedList([("a", 1), ("a", 2)]), wt="php")
        assert out == "array('a'=>1,'a__1'=>2)\n"


class TestXML:
    def test_typed_elements(self):
        rsp = {"response": {"numFound": 1, "start": 0, "docs": [DOC1]}}
        out = write_response(rsp, wt="xml", params={"omitHeader": "true"})
        assert out.startswith('<?xml version="1.0" encoding="UTF-8"?>\n')
        assert '<result name="response" numFound="1" start="0">' in out
        assert '<str name="id">1</str>' in out
        assert '<int name="foo_i">-1</int>' in out
        assert '<long name="foo_l">12345678987654321</long>' in out
        assert '<bool name="foo_b">false</bool>' in out
        assert '<float name="foo_f">1.414</float>' in out
        assert '<double name="foo_d">-1.0E300</double>' in out
        assert '<date name="foo_dt">2000-01-02T03:04:05Z</date>' in out
        assert out.rstrip().endswith("</response>")

    def test_escaping_and_arrays(self):
        nl = NamedList([("s", "a<b&c"), ("arr", ["x", 1])])
        out = write_response(nl, wt="xml")
        assert '<str name="s">a&lt;b&amp;c</str>' in out
        assert ('<arr name="arr"><str>x</str><int>1</int></arr>') in out

    def test_max_score_attr(self):
        nl = NamedList([("response", DocList(5, 0, [], max_score=2.5))])
        out = write_response(nl, wt="xml")
        assert 'maxScore="2.5"' in out

    def test_header_lst(self):
        out = write_response({"response": {"numFound": 0, "start": 0,
                                           "docs": []}},
                             wt="xml", params={"q": "x"})
        assert '<lst name="responseHeader">' in out
        assert '<int name="status">0</int>' in out


class TestFullComponentSerialization:
    """Every wt serializes a response carrying all facade sections."""

    RSP = {
        "response": {"numFound": 3, "start": 0, "docs": [
            {"id": "a", "score": F32(1.5), "tags": ["x", "y"], "n": None}]},
        "facet_counts": {
            "cat": {"a": 2, "b": 1},
            "facet_queries": {"q1": 5},
            "facet_ranges": {"price": {0.0: 3, 10.0: 1}},
            "facet_pivot": {"cat,lang": [
                {"cat": "a", "lang": "en", "count": 2}]},
        },
        "stats": {"rank": {"count": 3, "min": 1.0, "max": 9.0,
                           "mean": 4.0, "missing": 0}},
        "grouped": {"cat": {"matches": 3, "groups": [
            {"groupValue": "a", "doclist": [{"doc_id": 1, "rank": 2.0}]}]}},
        "highlighting": {"1": {"text": ["a <em>hit</em>"]}},
        "spellcheck": {"suggestions": {"spak": [
            {"word": "spark", "freq": 4}]}},
        "responseLog": "u1:1.5,u2:0.5",
    }

    def test_all_writers_accept_full_response(self):
        import json as _json

        for wt in ("json", "xml", "csv", "python", "ruby", "php", "phps",
                   "javabin"):
            out = write_response(self.RSP, wt=wt,
                                 params={"omitHeader": "true"})
            assert out  # no writer chokes on any section
        data = _json.loads(write_response(
            self.RSP, wt="json", params={"omitHeader": "true"}))
        assert data["grouped"]["cat"]["matches"] == 3
        assert data["highlighting"]["1"]["text"] == ["a <em>hit</em>"]
        assert data["stats"]["rank"]["count"] == 3
        assert data["responseLog"] == "u1:1.5,u2:0.5"
        xml = write_response(self.RSP, wt="xml",
                             params={"omitHeader": "true"})
        assert '<lst name="grouped">' in xml
        assert "&lt;em&gt;hit&lt;/em&gt;" in xml
        from lucene_solr_spark.query.javabin import loads as jb_loads

        back = jb_loads(write_response(self.RSP, wt="javabin",
                                       params={"omitHeader": "true"}))
        names = [k for k, _ in back.pairs]
        assert "grouped" in names and "spellcheck" in names


def test_javabin_entry_points_are_annotated_bytes():
    import typing

    from lucene_solr_spark.query.qparser import SolrQueries

    for fn in (write_response, SolrQueries.select_response):
        assert typing.get_type_hints(fn)["return"] == str | bytes
    rsp = {"response": {"numFound": 0, "start": 0, "docs": []}}
    assert isinstance(write_response(rsp, wt="javabin"), bytes)
    assert isinstance(write_response(rsp, wt="json"), str)
