"""Validation matrix tests: discovery order, DOCTYPE probe, DTD/XSD
branches (lxml-gated — skip-marked so they run on cluster images that
install lxml), and the always-available well-formedness fallback.

Reference parity: /root/reference/R/schema_validator.R:52-148.
"""

from __future__ import annotations

import os

import pytest

from xml_to_parquet_spark.validation.xml_validation import (
    HAS_LXML,
    _check_one,
    discover_schema_file,
    find_schema_file,
    has_internal_dtd,
    well_formed_check,
)

GOOD = '<?xml version="1.0"?><r><a>1</a></r>'
BAD = '<?xml version="1.0"?><r><a>1</a>'
DTD_DOC_VALID = (
    '<?xml version="1.0"?>\n'
    "<!DOCTYPE note [<!ELEMENT note (to)><!ELEMENT to (#PCDATA)>]>\n"
    "<note><to>x</to></note>\n"
)
DTD_DOC_INVALID = (
    '<?xml version="1.0"?>\n'
    "<!DOCTYPE note [<!ELEMENT note (to)><!ELEMENT to (#PCDATA)>]>\n"
    "<note><wrong>x</wrong></note>\n"
)


def _write(d, name, body):
    p = os.path.join(d, name)
    with open(p, "w") as fh:
        fh.write(body)
    return p


def _read(path):
    with open(path, "rb") as fh:
        return fh.read()


def _check(path, schema_file):
    """``_check_one`` over the file's bytes, as the input scan calls it."""
    return _check_one(path, _read(path), schema_file)


def test_find_schema_file_order(tmp_path):
    d = str(tmp_path / "xml")
    s = str(tmp_path / "schemas")
    os.makedirs(d)
    os.makedirs(s)
    xml = _write(d, "orders.xml", GOOD)
    # lowest-priority candidate first, then increasingly specific ones win
    _write(s, "default.xsd", "x")
    assert find_schema_file(xml, "xsd", s).endswith("default.xsd")
    _write(d, "schema.xsd", "x")
    assert find_schema_file(xml, "xsd", s).endswith(os.path.join("xml", "schema.xsd"))
    _write(s, "schema.xsd", "x")
    assert find_schema_file(xml, "xsd", s).endswith(os.path.join("schemas", "schema.xsd"))
    _write(d, "orders.xsd", "x")
    assert find_schema_file(xml, "xsd", s).endswith(os.path.join("xml", "orders.xsd"))
    _write(s, "orders.xsd", "x")
    assert find_schema_file(xml, "xsd", s).endswith(os.path.join("schemas", "orders.xsd"))


def test_discover_prefers_xsd_over_dtd(tmp_path):
    d = str(tmp_path)
    xml = _write(d, "a.xml", GOOD)
    _write(d, "a.dtd", "<!ELEMENT r (a)>")
    assert discover_schema_file(xml).endswith("a.dtd")
    _write(d, "a.xsd", "x")
    assert discover_schema_file(xml).endswith("a.xsd")


def test_has_internal_dtd(tmp_path):
    d = str(tmp_path)
    assert has_internal_dtd(_read(_write(d, "d.xml", DTD_DOC_VALID)))
    assert not has_internal_dtd(_read(_write(d, "p.xml", GOOD)))


def test_well_formedness_fallback(tmp_path):
    d = str(tmp_path)
    assert well_formed_check(_write(d, "good.xml", GOOD))
    assert not well_formed_check(_write(d, "bad.xml", BAD))


@pytest.mark.skipif(not HAS_LXML, reason="lxml not in this container image")
def test_internal_dtd_validation_lxml(tmp_path):
    d = str(tmp_path)
    ok = _write(d, "ok.xml", DTD_DOC_VALID)
    nok = _write(d, "nok.xml", DTD_DOC_INVALID)
    assert _check(ok, None) == ("success", "")
    status, err = _check(nok, None)
    assert status == "validation_error" and err


@pytest.mark.skipif(not HAS_LXML, reason="lxml not in this container image")
def test_external_dtd_validation_lxml(tmp_path):
    d = str(tmp_path)
    dtd = _write(d, "note.dtd", "<!ELEMENT note (to)><!ELEMENT to (#PCDATA)>")
    ok = _write(d, "ok.xml", "<note><to>x</to></note>")
    nok = _write(d, "nok.xml", "<note><wrong>x</wrong></note>")
    assert _check(ok, dtd) == ("success", "")
    status, err = _check(nok, dtd)
    assert status == "validation_error" and err


# ---------------------------------------------------------------------------
# XSD branch — runs in THIS container via the stdlib subset validator
# (ladder: lxml → xmlschema → xsd_subset; see xml_validation._check_one).
# Schema shape mirrors the reference's products schema constructs
# (/root/reference/R/schemas/products.xsd:1-23: nested sequence,
# minOccurs/maxOccurs, typed leaves, required attribute).
# ---------------------------------------------------------------------------

ITEMS_XSD = """<?xml version="1.0" encoding="UTF-8"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="items">
    <xs:complexType>
      <xs:sequence>
        <xs:element name="item" maxOccurs="unbounded">
          <xs:complexType>
            <xs:sequence>
              <xs:element name="label" type="xs:string"/>
              <xs:element name="cost" type="xs:decimal"/>
              <xs:element name="count" type="xs:integer"/>
              <xs:element name="score" type="xs:decimal" minOccurs="0"/>
            </xs:sequence>
            <xs:attribute name="sku" type="xs:string" use="required"/>
            <xs:attribute name="group" type="xs:string"/>
          </xs:complexType>
        </xs:element>
      </xs:sequence>
    </xs:complexType>
  </xs:element>
</xs:schema>
"""

ITEMS_OK = (
    '<items><item sku="a1"><label>x</label><cost>1.50</cost>'
    "<count>3</count></item>"
    '<item sku="a2" group="g"><label>y</label><cost>2</cost>'
    "<count>1</count><score>4.5</score></item></items>"
)


def test_xsd_validation_valid_runs_here(tmp_path):
    d = str(tmp_path)
    xsd = _write(d, "items.xsd", ITEMS_XSD)
    ok = _write(d, "ok.xml", ITEMS_OK)
    assert _check(ok, xsd) == ("success", "")


@pytest.mark.parametrize(
    "doc,expect_in_err",
    [
        # missing required attribute
        (
            "<items><item><label>x</label><cost>1</cost>"
            "<count>2</count></item></items>",
            "sku",
        ),
        # non-decimal cost
        (
            '<items><item sku="s"><label>x</label><cost>abc</cost>'
            "<count>2</count></item></items>",
            "decimal",
        ),
        # missing mandatory child (cost)
        (
            '<items><item sku="s"><label>x</label>'
            "<count>2</count></item></items>",
            "cost",
        ),
        # unexpected extra child
        (
            '<items><item sku="s"><label>x</label><cost>1</cost>'
            "<count>2</count><bogus>z</bogus></item></items>",
            "bogus",
        ),
        # wrong root element
        ("<products/>", "root"),
    ],
)
def test_xsd_validation_invalid_runs_here(tmp_path, doc, expect_in_err):
    d = str(tmp_path)
    xsd = _write(d, "items.xsd", ITEMS_XSD)
    nok = _write(d, "nok.xml", doc)
    status, err = _check(nok, xsd)
    assert status == "validation_error", (status, err)
    assert expect_in_err in err


def test_xsd_malformed_doc_is_error_not_validation_error(tmp_path):
    d = str(tmp_path)
    xsd = _write(d, "items.xsd", ITEMS_XSD)
    bad = _write(d, "bad.xml", "<items><item sku='s'>")
    status, err = _check(bad, xsd)
    assert status == "error" and err


def test_xsd_occurrence_bounds(tmp_path):
    from xml_to_parquet_spark.validation import xsd_subset

    d = str(tmp_path)
    xsd = _write(
        d,
        "s.xsd",
        """<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="r"><xs:complexType><xs:sequence>
    <xs:element name="a" type="xs:string" minOccurs="2" maxOccurs="3"/>
  </xs:sequence></xs:complexType></xs:element>
</xs:schema>""",
    )
    assert xsd_subset.validate(b"<r><a/><a/></r>", xsd) == []
    assert xsd_subset.validate(b"<r><a/><a/><a/></r>", xsd) == []
    assert xsd_subset.validate(b"<r><a/></r>", xsd)  # below min
    assert xsd_subset.validate(b"<r><a/><a/><a/><a/></r>", xsd)  # above max


# ---------------------------------------------------------------------------
# DTD branch — runs in THIS container via the stdlib subset validator
# (ladder: lxml → dtd_subset; see xml_validation._check_one).  The same
# valid/invalid fixture pair the lxml tests use executes un-skipped here
# (round-4 VERDICT next-round item #2).
# ---------------------------------------------------------------------------


def test_internal_dtd_validation_runs_here(tmp_path):
    d = str(tmp_path)
    ok = _write(d, "ok.xml", DTD_DOC_VALID)
    nok = _write(d, "nok.xml", DTD_DOC_INVALID)
    assert _check(ok, None) == ("success", "")
    status, err = _check(nok, None)
    assert status == "validation_error"
    assert "wrong" in err or "model" in err


def test_external_dtd_validation_runs_here(tmp_path):
    d = str(tmp_path)
    dtd = _write(d, "note.dtd", "<!ELEMENT note (to)><!ELEMENT to (#PCDATA)>")
    ok = _write(d, "ok.xml", "<note><to>x</to></note>")
    nok = _write(d, "nok.xml", "<note><wrong>x</wrong></note>")
    assert _check(ok, dtd) == ("success", "")
    status, err = _check(nok, dtd)
    assert status == "validation_error" and err


def test_doctype_system_id_resolved_relative_to_document(tmp_path):
    d = str(tmp_path)
    _write(d, "note.dtd", "<!ELEMENT note (to)><!ELEMENT to (#PCDATA)>")
    doc = '<!DOCTYPE note SYSTEM "note.dtd"><note><wrong>x</wrong></note>'
    nok = _write(d, "nok.xml", doc)
    status, err = _check(nok, None)
    assert status == "validation_error" and err


def test_dtd_subset_content_models():
    from xml_to_parquet_spark.validation import dtd_subset

    dtd = (
        "<!ELEMENT r (a, b?, (c | d)*)>"
        "<!ELEMENT a (#PCDATA)><!ELEMENT b (#PCDATA)>"
        "<!ELEMENT c EMPTY><!ELEMENT d (#PCDATA)>"
    )

    def errs(body):
        doc = f"<!DOCTYPE r [{dtd}]>{body}".encode()
        return dtd_subset.validate(doc)

    assert errs("<r><a>1</a></r>") == []
    assert errs("<r><a>1</a><b>2</b><c/><d>x</d><c/></r>") == []
    assert errs("<r><b>2</b></r>")  # missing required a
    assert errs("<r><a>1</a><a>2</a></r>")  # a not repeatable
    assert errs("<r><a>1</a><c>text</c></r>")  # c declared EMPTY
    assert errs("<r><a>1</a>loose text</r>")  # children model: no PCDATA


def test_dtd_subset_attlist_checks():
    from xml_to_parquet_spark.validation import dtd_subset

    dtd = (
        "<!ELEMENT r EMPTY>"
        '<!ATTLIST r id NMTOKEN #REQUIRED '
        'kind (big | small) "small" '
        'ver CDATA #FIXED "1.0">'
    )

    def errs(attrs):
        doc = f"<!DOCTYPE r [{dtd}]><r {attrs}/>".encode()
        return dtd_subset.validate(doc)

    assert errs('id="x1"') == []
    assert errs('id="x1" kind="big" ver="1.0"') == []
    assert any("required attribute id" in e for e in errs(""))
    assert any("not in" in e for e in errs('id="x1" kind="huge"'))
    assert any("fixed value" in e for e in errs('id="x1" ver="2.0"'))
    assert any("not a valid NMTOKEN" in e for e in errs('id="a b"'))


def test_dtd_subset_never_false_invalid_outside_subset(tmp_path):
    """Parameter-entity content models degrade to ANY — a DTD beyond the
    subset must not reject a document libxml2 would accept.  PE
    references inside declarations are only legal in an EXTERNAL DTD
    (XML 1.0 §2.8), so the out-of-subset DTD goes in a file."""
    from xml_to_parquet_spark.validation import dtd_subset

    dtd = _write(
        str(tmp_path),
        "r.dtd",
        '<!ENTITY % kids "(a|b)*">\n'
        "<!ELEMENT r %kids;>\n"
        "<!ELEMENT a (#PCDATA)><!ELEMENT b (#PCDATA)>",
    )
    doc = b"<r><a>1</a><b>2</b></r>"
    assert dtd_subset.validate(doc, dtd_file=dtd) == []


def test_dtd_subset_undeclared_element_and_root_mismatch():
    from xml_to_parquet_spark.validation import dtd_subset

    doc = b"<!DOCTYPE r [<!ELEMENT r (a)>]><r><a><x/></a></r>"
    errs = dtd_subset.validate(doc)
    assert any("No declaration for element a" in e for e in errs)
    doc2 = b"<!DOCTYPE other [<!ELEMENT other EMPTY>]><r/>"
    assert any("DOCTYPE" in e for e in dtd_subset.validate(doc2))


# ---------------------------------------------------------------------------
# XSD subset extensions (r5): xs:choice, xs:all, named global complexTypes,
# element refs — with the same never-false-invalid degrade contract.
# ---------------------------------------------------------------------------

_XS_HEAD = '<?xml version="1.0"?>\n<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">'


def test_xsd_subset_choice(tmp_path):
    from xml_to_parquet_spark.validation import xsd_subset

    xsd = _write(
        str(tmp_path),
        "s.xsd",
        _XS_HEAD
        + """
  <xs:element name="r"><xs:complexType><xs:sequence>
    <xs:element name="head" type="xs:string"/>
    <xs:choice minOccurs="1" maxOccurs="unbounded">
      <xs:element name="a" type="xs:string"/>
      <xs:element name="b" type="xs:integer"/>
    </xs:choice>
  </xs:sequence></xs:complexType></xs:element>
</xs:schema>""",
    )
    ok = b"<r><head>h</head><a>x</a><b>3</b><a>y</a></r>"
    assert xsd_subset.validate(ok, xsd) == []
    assert xsd_subset.validate(b"<r><head>h</head></r>", xsd)  # choice min 1
    assert xsd_subset.validate(b"<r><head>h</head><c/></r>", xsd)  # not an alt
    # typed alternative still value-checked
    assert xsd_subset.validate(b"<r><head>h</head><b>notint</b></r>", xsd)


def test_xsd_subset_choice_alternative_bounds(tmp_path):
    """ADVICE r5: per-alternative minOccurs/maxOccurs inside a choice —
    `<a/><a/><a/>` is valid under (a* | b) and must not be reported as
    an unexpected child (false 'invalid' = contract violation)."""
    from xml_to_parquet_spark.validation import xsd_subset

    xsd = _write(
        str(tmp_path),
        "s.xsd",
        _XS_HEAD
        + """
  <xs:element name="r"><xs:complexType>
    <xs:choice>
      <xs:element name="a" type="xs:string" minOccurs="0"
                  maxOccurs="unbounded"/>
      <xs:element name="b" type="xs:integer"/>
    </xs:choice>
  </xs:complexType></xs:element>
</xs:schema>""",
    )
    assert xsd_subset.validate(b"<r><a/><a/><a/></r>", xsd) == []
    assert xsd_subset.validate(b"<r><b>3</b></r>", xsd) == []
    assert xsd_subset.validate(b"<r/>", xsd) == []  # a allows zero
    # b's own (1,1) bound still enforced
    assert xsd_subset.validate(b"<r><b>1</b><b>2</b></r>", xsd)
    # REPEATED choice over a REPEATABLE alternative is ambiguous for a
    # greedy matcher -> must degrade to lenient (never false-invalid)
    xsd2 = _write(
        str(tmp_path),
        "s2.xsd",
        _XS_HEAD
        + """
  <xs:element name="r"><xs:complexType>
    <xs:choice minOccurs="2" maxOccurs="2">
      <xs:element name="a" type="xs:string" maxOccurs="3"/>
      <xs:element name="b" type="xs:string"/>
    </xs:choice>
  </xs:complexType></xs:element>
</xs:schema>""",
    )
    # valid as (a a)(a a) but greedy would split (a a a)(a) -> lenient
    assert xsd_subset.validate(b"<r><a/><a/><a/><a/></r>", xsd2) == []


def test_dtd_subset_wellformedness_floor(tmp_path):
    """ADVICE r5: a NON-well-formed document must raise ParseError even
    when its DOCTYPE resolves to no usable DTD (unresolvable SYSTEM id,
    or declarations entirely outside the subset)."""
    import xml.etree.ElementTree as ET

    import pytest

    from xml_to_parquet_spark.validation import dtd_subset

    bad = b'<!DOCTYPE root SYSTEM "missing.dtd"><root><unclosed></root>'
    with pytest.raises(ET.ParseError):
        dtd_subset.validate(bad, base_dir=str(tmp_path))
    # no DOCTYPE at all: still the well-formedness floor
    with pytest.raises(ET.ParseError):
        dtd_subset.validate(b"<root><unclosed></root>")
    # well-formed + unresolvable SYSTEM id stays valid (reference NA branch)
    ok = b'<!DOCTYPE root SYSTEM "missing.dtd"><root/>'
    assert dtd_subset.validate(ok, base_dir=str(tmp_path)) == []


def test_dtd_subset_doctype_in_cdata_ignored():
    """ADVICE r5: a literal '<!DOCTYPE' inside a CDATA section is content,
    not the document's doctype — the document has no DTD and must be
    reported valid."""
    from xml_to_parquet_spark.validation import dtd_subset

    doc = (
        b"<real><![CDATA[<!DOCTYPE fake [ <!ELEMENT fake EMPTY> ]>]]>"
        b"</real>"
    )
    assert dtd_subset.validate(doc) == []


def test_xsd_subset_all_group(tmp_path):
    from xml_to_parquet_spark.validation import xsd_subset

    xsd = _write(
        str(tmp_path),
        "s.xsd",
        _XS_HEAD
        + """
  <xs:element name="r"><xs:complexType><xs:all>
    <xs:element name="a" type="xs:string"/>
    <xs:element name="b" type="xs:string" minOccurs="0"/>
  </xs:all></xs:complexType></xs:element>
</xs:schema>""",
    )
    assert xsd_subset.validate(b"<r><a>1</a><b>2</b></r>", xsd) == []
    assert xsd_subset.validate(b"<r><b>2</b><a>1</a></r>", xsd) == []  # order-free
    assert xsd_subset.validate(b"<r><a>1</a></r>", xsd) == []  # b optional
    assert xsd_subset.validate(b"<r><b>2</b></r>", xsd)  # a required
    assert xsd_subset.validate(b"<r><a>1</a><a>1</a></r>", xsd)  # a twice


def test_xsd_subset_named_type_and_ref(tmp_path):
    from xml_to_parquet_spark.validation import xsd_subset

    xsd = _write(
        str(tmp_path),
        "s.xsd",
        _XS_HEAD
        + """
  <xs:complexType name="ItemType">
    <xs:sequence><xs:element name="qty" type="xs:integer"/></xs:sequence>
    <xs:attribute name="sku" type="xs:string" use="required"/>
  </xs:complexType>
  <xs:element name="item" type="ItemType"/>
  <xs:element name="order"><xs:complexType><xs:sequence>
    <xs:element ref="item" maxOccurs="unbounded"/>
  </xs:sequence></xs:complexType></xs:element>
</xs:schema>""",
    )
    ok = b'<order><item sku="s1"><qty>2</qty></item></order>'
    assert xsd_subset.validate(ok, xsd) == []
    assert xsd_subset.validate(  # missing required attr from named type
        b"<order><item><qty>2</qty></item></order>", xsd
    )
    assert xsd_subset.validate(  # typed leaf inside named type checked
        b'<order><item sku="s"><qty>x</qty></item></order>', xsd
    )
    # the globally-declared element also validates standalone
    assert xsd_subset.validate(b'<item sku="s"><qty>1</qty></item>', xsd) == []


def test_xsd_subset_recursive_type_degrades_lenient(tmp_path):
    from xml_to_parquet_spark.validation import xsd_subset

    xsd = _write(
        str(tmp_path),
        "s.xsd",
        _XS_HEAD
        + """
  <xs:complexType name="Node">
    <xs:sequence>
      <xs:element name="child" type="Node" minOccurs="0"/>
    </xs:sequence>
  </xs:complexType>
  <xs:element name="tree" type="Node"/>
</xs:schema>""",
    )
    # recursion is outside the subset: any nesting depth accepted
    assert xsd_subset.validate(
        b"<tree><child><child/></child></tree>", xsd
    ) == []


def test_xsd_subset_unknown_group_degrades_lenient(tmp_path):
    from xml_to_parquet_spark.validation import xsd_subset

    xsd = _write(
        str(tmp_path),
        "s.xsd",
        _XS_HEAD
        + """
  <xs:element name="r"><xs:complexType><xs:sequence>
    <xs:any processContents="lax"/>
  </xs:sequence></xs:complexType></xs:element>
</xs:schema>""",
    )
    assert xsd_subset.validate(b"<r><whatever/></r>", xsd) == []


def test_xsd_subset_complexcontent_extension_degrades_lenient(tmp_path):
    """complexContent extensions are outside the subset — they must
    degrade to LENIENT, not to empty-content (which would reject valid
    children: a false 'invalid'). Attribute checks still apply."""
    from xml_to_parquet_spark.validation import xsd_subset

    xsd = _write(
        str(tmp_path),
        "s.xsd",
        _XS_HEAD
        + """
  <xs:complexType name="Base">
    <xs:sequence><xs:element name="a" type="xs:string"/></xs:sequence>
  </xs:complexType>
  <xs:element name="r"><xs:complexType>
    <xs:complexContent><xs:extension base="Base">
      <xs:sequence><xs:element name="b" type="xs:string"/></xs:sequence>
    </xs:extension></xs:complexContent>
  </xs:complexType></xs:element>
  <xs:element name="empty_with_attrs"><xs:complexType>
    <xs:attribute name="id" type="xs:string" use="required"/>
  </xs:complexType></xs:element>
</xs:schema>""",
    )
    # extension content accepted (lenient), never rejected
    assert xsd_subset.validate(b"<r><a>1</a><b>2</b></r>", xsd) == []
    # attrs-only type: attribute checks still enforced, children rejected
    assert xsd_subset.validate(b'<empty_with_attrs id="x"/>', xsd) == []
    assert xsd_subset.validate(b"<empty_with_attrs/>", xsd)  # missing id
    assert xsd_subset.validate(  # content where none is declared
        b'<empty_with_attrs id="x"><kid/></empty_with_attrs>', xsd
    )


def test_dtd_subset_ignores_doctype_in_comment():
    from xml_to_parquet_spark.validation import dtd_subset

    doc = b"<!-- example: <!DOCTYPE other [<!ELEMENT other EMPTY>]> -->\n<r><a/></r>"
    assert dtd_subset.validate(doc) == []
    # a real DOCTYPE after a comment still validates
    doc2 = (
        b"<!-- note -->\n"
        b"<!DOCTYPE r [<!ELEMENT r (a)><!ELEMENT a EMPTY>]>\n"
        b"<r><a/></r>"
    )
    assert dtd_subset.validate(doc2) == []
    doc3 = (
        b"<!-- note -->\n"
        b"<!DOCTYPE r [<!ELEMENT r (a)><!ELEMENT a EMPTY>]>\n"
        b"<r><b/></r>"
    )
    assert dtd_subset.validate(doc3)


def test_xsd_subset_choice_with_sequence_alternative(tmp_path):
    """r9 (VERDICT r8 #6): an inline (1,1) xs:sequence as a choice
    alternative — dispatched on its required first element — validates
    exactly instead of degrading the whole model to lenient."""
    from xml_to_parquet_spark.validation import xsd_subset

    xsd = _write(
        str(tmp_path),
        "s.xsd",
        _XS_HEAD
        + """
  <xs:element name="r"><xs:complexType>
    <xs:choice>
      <xs:element name="a" type="xs:string"/>
      <xs:sequence>
        <xs:element name="b" type="xs:integer"/>
        <xs:element name="c" type="xs:string" minOccurs="0"/>
      </xs:sequence>
    </xs:choice>
  </xs:complexType></xs:element>
</xs:schema>""",
    )
    assert xsd_subset.validate(b"<r><a>x</a></r>", xsd) == []
    assert xsd_subset.validate(b"<r><b>3</b><c>t</c></r>", xsd) == []
    assert xsd_subset.validate(b"<r><b>3</b></r>", xsd) == []  # c optional
    assert xsd_subset.validate(b"<r><c>t</c></r>", xsd)  # head b missing
    assert xsd_subset.validate(b"<r><b>no</b></r>", xsd)  # b not integer
    assert xsd_subset.validate(b"<r><b>3</b><d/></r>", xsd)  # stray child


def test_xsd_subset_nested_choice_flattens(tmp_path):
    from xml_to_parquet_spark.validation import xsd_subset

    xsd = _write(
        str(tmp_path),
        "s.xsd",
        _XS_HEAD
        + """
  <xs:element name="r"><xs:complexType>
    <xs:choice>
      <xs:element name="a" type="xs:string"/>
      <xs:choice>
        <xs:element name="b" type="xs:integer"/>
        <xs:element name="c" type="xs:string"/>
      </xs:choice>
    </xs:choice>
  </xs:complexType></xs:element>
</xs:schema>""",
    )
    for ok in (b"<r><a>x</a></r>", b"<r><b>1</b></r>", b"<r><c>y</c></r>"):
        assert xsd_subset.validate(ok, xsd) == []
    assert xsd_subset.validate(b"<r><d/></r>", xsd)  # no alternative
    assert xsd_subset.validate(b"<r><b>x</b></r>", xsd)  # type check holds


def test_xsd_subset_choice_ambiguous_shapes_stay_lenient(tmp_path):
    """Repeated compound choices and duplicate heads are ambiguous for
    greedy matching — they must degrade to lenient (accept anything),
    never false-'invalid'."""
    from xml_to_parquet_spark.validation import xsd_subset

    xsd = _write(
        str(tmp_path),
        "amb1.xsd",
        _XS_HEAD
        + """
  <xs:element name="r"><xs:complexType>
    <xs:choice maxOccurs="unbounded">
      <xs:element name="a" type="xs:string"/>
      <xs:sequence><xs:element name="b" type="xs:string"/></xs:sequence>
    </xs:choice>
  </xs:complexType></xs:element>
</xs:schema>""",
    )
    # lenient: even a stray child passes (false-valid allowed by contract)
    assert xsd_subset.validate(b"<r><zz/></r>", xsd) == []
    xsd2 = _write(
        str(tmp_path),
        "amb2.xsd",
        _XS_HEAD
        + """
  <xs:element name="r"><xs:complexType>
    <xs:choice>
      <xs:element name="a" type="xs:string"/>
      <xs:sequence>
        <xs:element name="a" type="xs:string"/>
        <xs:element name="b" type="xs:string"/>
      </xs:sequence>
    </xs:choice>
  </xs:complexType></xs:element>
</xs:schema>""",
    )
    assert xsd_subset.validate(b"<r><zz/></r>", xsd2) == []  # dup heads


def test_xsd_subset_attribute_group(tmp_path):
    """r9 (VERDICT r8 #6): xs:attributeGroup refs — including a nested
    group ref — validate exactly like inline attributes."""
    from xml_to_parquet_spark.validation import xsd_subset

    xsd = _write(
        str(tmp_path),
        "s.xsd",
        _XS_HEAD
        + """
  <xs:attributeGroup name="inner">
    <xs:attribute name="n" type="xs:integer" use="required"/>
  </xs:attributeGroup>
  <xs:attributeGroup name="outer">
    <xs:attribute name="tag" type="xs:string"/>
    <xs:attributeGroup ref="inner"/>
  </xs:attributeGroup>
  <xs:element name="r"><xs:complexType>
    <xs:sequence>
      <xs:element name="a" type="xs:string" minOccurs="0"/>
    </xs:sequence>
    <xs:attribute name="id" type="xs:integer" use="required"/>
    <xs:attributeGroup ref="outer"/>
  </xs:complexType></xs:element>
</xs:schema>""",
    )
    assert xsd_subset.validate(b'<r id="1" n="2" tag="t"/>', xsd) == []
    assert xsd_subset.validate(b'<r id="1" n="2"/>', xsd) == []  # tag opt
    assert xsd_subset.validate(b'<r id="1"/>', xsd)  # n required via group
    assert xsd_subset.validate(b'<r id="1" n="xx"/>', xsd)  # n not integer
    assert xsd_subset.validate(b'<r n="2"/>', xsd)  # id still required


def test_xsd_subset_attribute_group_cycle_is_safe(tmp_path):
    from xml_to_parquet_spark.validation import xsd_subset

    xsd = _write(
        str(tmp_path),
        "cyc.xsd",
        _XS_HEAD
        + """
  <xs:attributeGroup name="g1">
    <xs:attribute name="x" type="xs:integer" use="required"/>
    <xs:attributeGroup ref="g2"/>
  </xs:attributeGroup>
  <xs:attributeGroup name="g2">
    <xs:attributeGroup ref="g1"/>
    <xs:attribute name="y" type="xs:integer"/>
  </xs:attributeGroup>
  <xs:element name="r"><xs:complexType>
    <xs:attributeGroup ref="g1"/>
  </xs:complexType></xs:element>
</xs:schema>""",
    )
    # no infinite loop; both reachable attributes enforced
    assert xsd_subset.validate(b'<r x="1" y="2"/>', xsd) == []
    assert xsd_subset.validate(b'<r y="2"/>', xsd)  # x required
    assert xsd_subset.validate(b'<r x="1" y="zz"/>', xsd)  # y typed


# ---------------------------------------------------------------------------
# DTD subset extensions (r10, VERDICT r9 item 7): internal parameter
# entities expanded exactly; conditional sections INCLUDE/IGNORE resolved
# (keyword may itself be a PE reference) — same degrade contract for the
# still-external cases.
# ---------------------------------------------------------------------------


def test_dtd_param_entities_validated_exactly(tmp_path):
    """The r298 test's PE content model no longer degrades to ANY — a
    violating document is now REJECTED, like libxml2 would."""
    from xml_to_parquet_spark.validation import dtd_subset

    dtd = _write(
        str(tmp_path),
        "pe.dtd",
        '<!ENTITY % kids "(a|b)*">\n'
        "<!ELEMENT r %kids;>\n"
        "<!ELEMENT a (#PCDATA)><!ELEMENT b (#PCDATA)>"
        "<!ELEMENT c EMPTY>",
    )
    ok = b"<r><a>1</a><b>2</b></r>"
    assert dtd_subset.validate(ok, dtd_file=dtd) == []
    bad = b"<r><c/></r>"  # c not in the expanded (a|b)* model
    assert any(
        "do not match model" in e
        for e in dtd_subset.validate(bad, dtd_file=dtd)
    )


def test_dtd_param_entities_chain_and_attlist(tmp_path):
    from xml_to_parquet_spark.validation import dtd_subset

    dtd = _write(
        str(tmp_path),
        "chain.dtd",
        '<!ENTITY % base "a">\n'
        '<!ENTITY % kids "(%base;, b?)">\n'
        '<!ENTITY % common-atts \'id NMTOKEN #REQUIRED\'>\n'
        "<!ELEMENT r %kids;>\n"
        "<!ATTLIST r %common-atts;>\n"
        "<!ELEMENT a EMPTY><!ELEMENT b EMPTY>",
    )
    assert dtd_subset.validate(b'<r id="x"><a/></r>', dtd_file=dtd) == []
    assert any(
        "required attribute id" in e
        for e in dtd_subset.validate(b"<r><a/></r>", dtd_file=dtd)
    )
    assert any(
        "do not match model" in e
        for e in dtd_subset.validate(b'<r id="x"><b/></r>', dtd_file=dtd)
    )


def test_dtd_param_entity_bomb_degrades_not_hangs(tmp_path):
    from xml_to_parquet_spark.validation import dtd_subset

    dtd = _write(
        str(tmp_path),
        "bomb.dtd",
        '<!ENTITY % a "%b;%b;%b;%b;%b;%b;%b;%b;">\n'
        '<!ENTITY % b "%a;%a;%a;%a;%a;%a;%a;%a;">\n'
        "<!ELEMENT r %a;>",
    )
    # unresolvable/exploding PE → r degrades to ANY; never false invalid
    assert dtd_subset.validate(b"<r><x/></r>", dtd_file=dtd) == [
        "No declaration for element x"
    ]


def test_dtd_conditional_sections(tmp_path):
    from xml_to_parquet_spark.validation import dtd_subset

    dtd = _write(
        str(tmp_path),
        "cond.dtd",
        '<!ENTITY % draft "INCLUDE">\n'
        '<!ENTITY % final "IGNORE">\n'
        "<![%draft;[ <!ELEMENT r (a)> ]]>\n"
        "<![%final;[ <!ELEMENT r (b)> <!ELEMENT ghost EMPTY> ]]>\n"
        "<![INCLUDE[ <!ELEMENT a (#PCDATA)> ]]>\n"
        "<![IGNORE[ <!ELEMENT a EMPTY> ]]>",
    )
    # draft model (a) active; final model (b) and ghost dropped
    assert dtd_subset.validate(b"<r><a>t</a></r>", dtd_file=dtd) == []
    assert any(
        "do not match model" in e
        for e in dtd_subset.validate(b"<r><b/></r>", dtd_file=dtd)
    )
    assert any(
        "No declaration for element ghost" in e
        for e in dtd_subset.validate(b"<r><a>t</a><ghost/></r>", dtd_file=dtd)
    ) or any(
        "do not match model" in e
        for e in dtd_subset.validate(b"<r><a>t</a><ghost/></r>", dtd_file=dtd)
    )


def test_dtd_conditional_unresolved_keyword_degrades(tmp_path):
    """<![%ext;[...]]> with an external (undeclared) PE keyword: content
    kept but its elements degrade to ANY — inclusion under a wrong model
    must not reject a document libxml2 might accept."""
    from xml_to_parquet_spark.validation import dtd_subset

    dtd = _write(
        str(tmp_path),
        "ext.dtd",
        "<![%ext;[ <!ELEMENT r (a)> ]]>\n<!ELEMENT a EMPTY>",
    )
    assert dtd_subset.validate(b"<r><a/><a/></r>", dtd_file=dtd) == []


def test_dtd_conditional_unresolved_attlist_degrades(tmp_path):
    """ADVICE r10: an <!ATTLIST> inside an unresolved conditional section
    targeting an element declared OUTSIDE it must be dropped along with
    the section's content models — if the section is really IGNORE, its
    #REQUIRED/#FIXED/enum checks would produce a false 'invalid'."""
    from xml_to_parquet_spark.validation import dtd_subset

    dtd = _write(
        str(tmp_path),
        "extatt.dtd",
        "<!ELEMENT r (a)*>\n<!ELEMENT a EMPTY>\n"
        '<![%ext;[ <!ATTLIST a id CDATA #REQUIRED '
        'kind (x|y) #REQUIRED> ]]>',
    )
    # no attributes at all: must validate (the ATTLIST is untrusted)
    assert dtd_subset.validate(b"<r><a/></r>", dtd_file=dtd) == []
    # value outside the untrusted enum: must also validate
    assert dtd_subset.validate(b'<r><a kind="z"/></r>', dtd_file=dtd) == []
    # a RESOLVED section's ATTLIST still applies (no over-degrade)
    dtd2 = _write(
        str(tmp_path),
        "incatt.dtd",
        "<!ELEMENT r (a)*>\n<!ELEMENT a EMPTY>\n"
        "<![INCLUDE[ <!ATTLIST a id CDATA #REQUIRED> ]]>",
    )
    assert any(
        "missing required attribute id" in e
        for e in dtd_subset.validate(b"<r><a/></r>", dtd_file=dtd2)
    )


# ---------------------------------------------------------------------------
# XSD -> typed output (r12, VERDICT r11 item 5 / SURVEY.md:82)
# ---------------------------------------------------------------------------

# the reference's R/schemas/products.xsd:1-23 shape, verbatim subset
_PRODUCTS_XSD = """<?xml version="1.0" encoding="UTF-8"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="products">
    <xs:complexType>
      <xs:sequence>
        <xs:element name="record" maxOccurs="unbounded">
          <xs:complexType>
            <xs:sequence>
              <xs:element name="name" type="xs:string"/>
              <xs:element name="price" type="xs:decimal"/>
              <xs:element name="quantity" type="xs:integer"/>
              <xs:element name="rating" type="xs:decimal" minOccurs="0"/>
            </xs:sequence>
            <xs:attribute name="id" type="xs:string" use="required"/>
            <xs:attribute name="category" type="xs:string"/>
          </xs:complexType>
        </xs:element>
      </xs:sequence>
    </xs:complexType>
  </xs:element>
</xs:schema>
"""


def test_xsd_leaf_types_products_xsd(tmp_path):
    from xml_to_parquet_spark.validation.xsd_subset import xsd_leaf_types

    p = tmp_path / "products.xsd"
    p.write_text(_PRODUCTS_XSD)
    types = xsd_leaf_types(str(p))
    # strings (name, id, category) intentionally absent: no cast needed
    assert types == {
        "price": "decimal(38,9)",
        "quantity": "bigint",
        "rating": "decimal(38,9)",
    }


def test_xsd_leaf_types_conflicting_declarations_degrade(tmp_path):
    from xml_to_parquet_spark.validation.xsd_subset import xsd_leaf_types

    xsd = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="root">
    <xs:complexType><xs:sequence>
      <xs:element name="a"><xs:complexType><xs:sequence>
        <xs:element name="v" type="xs:decimal"/>
      </xs:sequence></xs:complexType></xs:element>
      <xs:element name="b"><xs:complexType><xs:sequence>
        <xs:element name="v" type="xs:integer"/>
        <xs:element name="w" type="xs:boolean"/>
      </xs:sequence></xs:complexType></xs:element>
    </xs:sequence></xs:complexType>
  </xs:element>
</xs:schema>
"""
    p = tmp_path / "c.xsd"
    p.write_text(xsd)
    types = xsd_leaf_types(str(p))
    assert "v" not in types  # decimal vs integer: ambiguous -> absent
    assert types["w"] == "boolean"


def test_apply_xsd_types_and_star_keeps_declared_types(spark, tmp_path):
    from xml_to_parquet_spark.plans.star_transformer import build_star_schema
    from xml_to_parquet_spark.sources.xml_source import (
        apply_xsd_types,
        read_xml_records,
    )

    (tmp_path / "products.xsd").write_text(_PRODUCTS_XSD)
    (tmp_path / "products.xml").write_text(
        """<?xml version="1.0"?>
<products>
  <record id="1" category="a"><name>x</name><price>799.99</price>
    <quantity>50</quantity><rating>4.5</rating></record>
  <record id="2" category="b"><name>y</name><price>29.99</price>
    <quantity>200</quantity><rating>oops</rating></record>
</products>
"""
    )
    records = apply_xsd_types(
        read_xml_records(spark, str(tmp_path / "*.xml"), lineage=False),
        str(tmp_path / "products.xsd"),
    )
    dt = dict(records.dtypes)
    assert dt["price"] == "decimal(38,9)"
    assert dt["quantity"] == "bigint"
    assert dt["rating"] == "decimal(38,9)"
    assert dt["name"] == "string"  # declared xs:string: untouched
    star = build_star_schema(
        records,
        {
            "record_id": {"classification": "identifier"},
            "category": {"classification": "dimension"},
            "price": {"classification": "measure"},
            "quantity": {"classification": "measure"},
            "rating": {"classification": "measure"},
        },
        id_column="record_id",
        include_audit=False,
    )
    fdt = dict(star.fact.dtypes)
    # the star build must NOT widen XSD-typed measures back to double
    assert fdt["price"] == "decimal(38,9)"
    assert fdt["quantity"] == "bigint"
    rows = {r.record_id: r for r in star.fact.collect()}
    from decimal import Decimal

    assert rows["1"].price == Decimal("799.990000000")
    assert rows["1"].quantity == 50
    assert rows["2"].rating is None  # try_cast: null-on-fail, no ANSI error


def test_star_untyped_measures_still_coerce_to_double(spark):
    # the legacy path (no XSD): string measures coerce to double as before
    from xml_to_parquet_spark.plans.star_transformer import build_star_schema

    df = spark.createDataFrame(
        [("1", "2.5"), ("2", "bad")], "record_id string, m string"
    )
    star = build_star_schema(
        df,
        {
            "record_id": {"classification": "identifier"},
            "m": {"classification": "measure"},
        },
        id_column="record_id",
        include_audit=False,
    )
    assert dict(star.fact.dtypes)["m"] == "double"
    vals = {r.record_id: r.m for r in star.fact.collect()}
    assert vals == {"1": 2.5, "2": None}


def test_one_scan_matches_per_file_checks_and_wholetext_keys(spark, tmp_path):
    """``scan_xml_files`` validates the bytes in each scanned row and
    extracts keys from the same row: every file's (status, error) equals
    the driver-side ``_check_one`` of that file with its discovered
    schema, and the key rows equal the whole-file text read's regex over
    the same directory.  The corpus covers every validator branch, a
    relative DTD system id, a comment key and ISO-8859-1 bytes."""
    from xml_to_parquet_spark.sources.xml_source import (
        COMMENT_PATTERNS,
        list_xml_files,
        scan_xml_files,
    )
    from xml_to_parquet_spark.sql_text import string_literal

    d = str(tmp_path)
    _write(d, "xsd_ok.xsd", ITEMS_XSD)
    _write(d, "xsd_bad.xsd", ITEMS_XSD)
    _write(d, "note.dtd", "<!ELEMENT note (to)><!ELEMENT to (#PCDATA)>")
    _write(d, "xsd_ok.xml", "<!-- OrderType:B2B -->" + ITEMS_OK)
    _write(d, "xsd_bad.xml", ITEMS_OK.replace("<count>3", "<count>3.5"))
    _write(d, "malformed.xml", BAD)
    _write(d, "dtd_internal.xml", DTD_DOC_INVALID)
    _write(
        d,
        "dtd_relative.xml",
        '<!DOCTYPE note SYSTEM "note.dtd"><!-- Region:EMEA -->'
        "<note><to>x</to></note>",
    )
    _write(d, "plain.xml", "<!-- not a key --><r><a>1</a></r>")
    with open(os.path.join(d, "latin1.xml"), "wb") as fh:
        fh.write(
            '<?xml version="1.0" encoding="ISO-8859-1"?>\n'
            "<!-- City:Zürich --><r><a>Café</a></r>".encode("latin-1")
        )
    files = list_xml_files(d)

    validation, keys = scan_xml_files(
        spark, d, files, pathGlobFilter="*.xml"
    )
    got = {
        r.source_file_path: (r.status, r.error) for r in validation.collect()
    }
    want = {
        f: _check_one(f, _read(f), discover_schema_file(f)) for f in files
    }
    assert got == want
    assert {os.path.basename(f): s for f, (s, _) in got.items()} == {
        "dtd_internal.xml": "validation_error",
        "dtd_relative.xml": "success",
        "latin1.xml": "success",
        "malformed.xml": "error",
        "plain.xml": "success",
        "xsd_bad.xml": "validation_error",
        "xsd_ok.xml": "success",
    }

    comment = string_literal(r"<!--([\s\S]*?)-->")
    first = f"trim(regexp_extract(value, {comment}, 1))"
    anchored = string_literal(COMMENT_PATTERNS["standard"])
    wholetext = (
        spark.read.option("pathGlobFilter", "*.xml")
        .text(d, wholetext=True)
        .selectExpr(
            "input_file_name() AS source_file_path",
            f"regexp_extract({first}, {anchored}, 1) AS business_key_name",
            f"regexp_extract({first}, {anchored}, 2) AS business_key_value",
        )
        .filter("business_key_name != ''")
    )
    assert sorted(keys.collect()) == sorted(wholetext.collect())
    assert {r.business_key_name for r in keys.collect()} == {
        "OrderType", "Region", "City",
    }
