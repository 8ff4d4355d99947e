"""XML ingest tests (SURVEY §2.1 S1-S6, FIXTURES.md §A).

Fixture XML mirrors the reference's example shapes: flat records with
attributes + leaf children (products), nested children (orders), comment
business keys, ragged/duplicate-tag/adversarial variants.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from xml_to_parquet_spark.sources import (
    attach_business_keys,
    extract_business_keys,
    flatten_records,
    read_xml_auto,
    read_xml_records,
)

PRODUCTS_XML = """<?xml version="1.0" encoding="UTF-8"?>
<products>
  <record id="1" category="electronics" brand="Samsung">
    <name>Galaxy S21</name>
    <price>799.99</price>
    <quantity>50</quantity>
    <rating>4.5</rating>
  </record>
  <record id="2" category="electronics" brand="Apple">
    <name>iPhone 13</name>
    <price>999.99</price>
    <quantity>30</quantity>
    <rating>4.8</rating>
  </record>
  <record id="3" category="accessories" brand="Samsung">
    <name>Charger</name>
    <price>29.99</price>
    <quantity>200</quantity>
  </record>
</products>
"""

ORDERS_XML = """<?xml version="1.0" encoding="UTF-8"?>
<orders>
  <record id="1001" customer="ABC Corp" region="North">
    <order_date>2024-01-15</order_date>
    <items>
      <total_amount>2549.97</total_amount>
      <item_count>3</item_count>
      <discount>127.50</discount>
    </items>
    <status>completed</status>
  </record>
  <record id="1002" customer="XYZ Ltd" region="South">
    <order_date>2024-01-16</order_date>
    <items>
      <total_amount>999.99</total_amount>
      <item_count>1</item_count>
      <discount>0.00</discount>
    </items>
    <status>pending</status>
  </record>
</orders>
"""

COMMENT_XML = """<?xml version="1.0" encoding="UTF-8"?>
<!-- OrderType:B2B -->
<orders>
  <record id="2001" customer="Acme" region="East">
    <status>completed</status>
  </record>
  <record id="2002" customer="Beta" region="West">
    <status>pending</status>
  </record>
</orders>
"""

DUP_TAGS_XML = """<?xml version="1.0"?>
<root>
  <item id="1">
    <name>first</name>
    <name>second</name>
    <other>x</other>
  </item>
  <item id="2">
    <name>only</name>
    <other>y</other>
  </item>
</root>
"""

RAGGED_XML = """<?xml version="1.0"?>
<root>
  <record id="1"><a>1</a><b>2</b></record>
  <record id="2"><b>3</b><c>4</c></record>
</root>
"""

NO_ID_XML = """<?xml version="1.0"?>
<root>
  <record><v>10</v></record>
  <record><v>20</v></record>
</root>
"""

FALLBACK_TAG_XML = """<?xml version="1.0"?>
<library>
  <book isbn="111"><title>A</title></book>
  <book isbn="222"><title>B</title></book>
</library>
"""


@pytest.fixture(scope="module")
def xml_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("xml_fixtures")
    for name, content in [
        ("products.xml", PRODUCTS_XML),
        ("orders.xml", ORDERS_XML),
    ]:
        (d / name).write_text(content)
    return str(d)


def _write(tmp_path, name, content):
    p = tmp_path / name
    p.write_text(content)
    return str(p)


def test_products_flat_parse(spark, tmp_path):
    path = _write(tmp_path, "products.xml", PRODUCTS_XML)
    df = read_xml_records(spark, path, lineage=False)
    rows = {r.id: r for r in df.collect()}
    assert set(rows) == {"1", "2", "3"}
    r1 = rows["1"]
    assert (r1.category, r1.brand, r1.name, r1.price) == (
        "electronics", "Samsung", "Galaxy S21", "799.99",
    )
    assert r1.record_id == "1"
    assert rows["3"].rating is None  # ragged: missing optional child


def test_orders_nested_flatten(spark, tmp_path):
    path = _write(tmp_path, "orders.xml", ORDERS_XML)
    df = read_xml_records(spark, path, lineage=False)
    r = {row.id: row for row in df.collect()}["1001"]
    # grandchildren text space-concatenated into the child's column, in
    # DOCUMENT order (total_amount, item_count, discount) — reference
    # parity via the probe-derived order; the inferred schema alone would
    # give alphabetical. Lexical values ("127.50") preserved via
    # inferSchema=false.
    assert r.items == "2549.97 3 127.50"
    assert r.status == "completed"
    assert r.order_date == "2024-01-15"


def test_nested_flatten_schema_order_fallback(spark, tmp_path):
    path = _write(tmp_path, "orders.xml", ORDERS_XML)
    df = read_xml_records(spark, path, lineage=False, document_order=False)
    r = {row.id: row for row in df.collect()}["1001"]
    # document_order=False keeps the inferred schema's alphabetical order
    assert r.items == "127.50 3 2549.97"


NONALPHA_NESTED_XML = """<?xml version="1.0"?>
<root>
  <record id="1">
    <shipping>
      <zip>90210</zip>
      <city>Oslo</city>
      <street>Main St</street>
      <extra><note>b</note><aaa>a</aaa></extra>
    </shipping>
  </record>
  <record id="2">
    <shipping>
      <zip>10001</zip>
      <city>Bergen</city>
      <street>Side St</street>
    </shipping>
  </record>
</root>
"""


def test_document_order_concat_matches_reference(spark, tmp_path):
    """Non-alphabetical nested elements: the concat string must follow the
    XML document order (zip, city, street — and depth-first into nested
    grandchildren) exactly as the reference's xml2::xml_text would."""
    from xml_to_parquet_spark.sources import derive_document_order

    path = _write(tmp_path, "nonalpha.xml", NONALPHA_NESTED_XML)
    order = derive_document_order(spark, path, "record")
    assert order[("shipping",)] == ["zip", "city", "street", "extra"]
    assert order[("shipping", "extra")] == ["note", "aaa"]

    df = read_xml_records(spark, path, lineage=False)
    rows = {r.id: r for r in df.collect()}
    assert rows["1"].shipping == "90210 Oslo Main St b a"
    assert rows["2"].shipping == "10001 Bergen Side St"


def test_comment_business_key(spark, tmp_path):
    path = _write(tmp_path, "bk.xml", COMMENT_XML)
    keys = extract_business_keys(spark, path)
    k = keys.collect()
    assert len(k) == 1
    assert (k[0].business_key_name, k[0].business_key_value) == ("OrderType", "B2B")

    records = read_xml_records(spark, path)
    out = attach_business_keys(records, keys)
    rows = out.collect()
    assert all(r.OrderType == "B2B" for r in rows)
    assert all(r.business_key_name == "OrderType" for r in rows)


def test_business_key_colliding_with_record_column_replaces(spark, tmp_path):
    """A business key named like an existing record column must REPLACE it
    (withColumn semantics), not create an ambiguous duplicate column."""
    xml = COMMENT_XML.replace("OrderType:B2B", "region:Override")
    path = _write(tmp_path, "bk_collide.xml", xml)
    records = read_xml_records(spark, path)
    out = attach_business_keys(records, extract_business_keys(spark, path))
    assert out.columns.count("region") == 1
    assert all(r.region == "Override" for r in out.collect())


def test_comment_nonmatching_ignored(spark, tmp_path):
    xml = COMMENT_XML.replace("OrderType:B2B", "just a note, no key")
    path = _write(tmp_path, "nokey.xml", xml)
    assert extract_business_keys(spark, path).count() == 0


def test_duplicate_tags_make_unique(spark, tmp_path):
    path = _write(tmp_path, "dup.xml", DUP_TAGS_XML)
    df = read_xml_records(spark, path, lineage=False)
    assert "name" in df.columns and "name.1" in df.columns
    rows = {r.id: r for r in df.collect()}
    assert rows["1"]["name"] == "first" and rows["1"]["name.1"] == "second"
    assert rows["2"]["name"] == "only" and rows["2"]["name.1"] is None


def test_ragged_union_nulls(spark, tmp_path):
    path = _write(tmp_path, "ragged.xml", RAGGED_XML)
    df = read_xml_records(spark, path, lineage=False)
    rows = {r.id: r for r in df.collect()}
    assert rows["1"].c is None and rows["2"].a is None


def test_no_id_generates_record_id(spark, tmp_path):
    path = _write(tmp_path, "noid.xml", NO_ID_XML)
    df = read_xml_records(spark, path, lineage=False)
    ids = [r.record_id for r in df.collect()]
    assert len(ids) == 2 and len(set(ids)) == 2 and all(ids)


def test_resolve_row_tag_caches_single_probe(spark, tmp_path):
    from xml_to_parquet_spark.sources import xml_source

    path = _write(tmp_path, "lib.xml", FALLBACK_TAG_XML)
    assert xml_source.resolve_row_tag(spark, path) == "book"
    # cached: a second resolve must not touch Spark at all (spark=None
    # would raise on any read attempt)
    assert xml_source.resolve_row_tag(None, path) == "book"


def test_row_tag_fallback_to_root_children(spark, tmp_path):
    path = _write(tmp_path, "books.xml", FALLBACK_TAG_XML)
    df = read_xml_records(spark, path, lineage=False)
    rows = {r.isbn: r for r in df.collect()}
    assert rows["111"].title == "A"


def test_directory_scan_and_lineage(spark, xml_dir):
    df = read_xml_records(spark, os.path.join(xml_dir, "*.xml"))
    rows = df.collect()
    # products(3) + orders(2) union with null-fill
    assert len(rows) == 5
    names = {r.source_file_name for r in rows}
    assert names == {"products.xml", "orders.xml"}
    assert all(r.load_timestamp is not None for r in rows)
    # ragged columns null-filled across files
    got = {r.id: r for r in rows}
    assert got["1001"].price is None and got["1"].status is None


def test_directory_probe_follows_path_glob_filter(spark, tmp_path):
    """The row-tag probe of a directory read reads the first file the
    read's ``pathGlobFilter`` keeps, not a sibling that sorts first."""
    d = tmp_path / "mixed"
    d.mkdir()
    (d / "a_schema.xsd").write_text('<xs:schema xmlns:xs="x"/>')
    _write(d, "b.xml", PRODUCTS_XML)
    df = read_xml_records(
        spark, str(d), lineage=False, pathGlobFilter="*.xml"
    )
    assert sorted(r.id for r in df.collect()) == ["1", "2", "3"]


def test_malformed_xml_permissive(spark, tmp_path):
    path = _write(tmp_path, "bad.xml", "<root><record id='1'><a>1</a></record>")
    # PERMISSIVE mode (default) routes unparseable rows to _corrupt_record
    df = read_xml_auto(
        spark, path, row_tag="record", columnNameOfCorruptRecord="_corrupt_record"
    )
    assert df.count() >= 1


def _canon(dt):
    """Order/nullability-insensitive canonical form of a Spark DataType."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return (
            "struct",
            tuple(sorted((f.name, _canon(f.dataType)) for f in dt.fields)),
        )
    if isinstance(dt, T.ArrayType):
        return ("array", _canon(dt.elementType))
    return dt.typeName()


@pytest.mark.parametrize(
    "name,xml,tag",
    [
        ("products", PRODUCTS_XML, "record"),
        ("orders", ORDERS_XML, "record"),
        ("comment", COMMENT_XML, "record"),
        ("dup_tags", DUP_TAGS_XML, "record"),
        ("ragged", RAGGED_XML, "record"),
        ("no_id", NO_ID_XML, "record"),
        ("nonalpha", NONALPHA_NESTED_XML, "record"),
    ],
)
def test_derived_schema_matches_spark_inference(
    spark, tmp_path, name, xml, tag
):
    """derive_schema_from_files must reproduce exactly the schema Spark's
    XML reader infers under inferSchema=false — the imposed-schema fast
    path must be invisible to everything downstream of the read."""
    from xml_to_parquet_spark.sources.xml_source import (
        derive_schema_from_files,
        read_xml_auto,
        resolve_row_tag,
    )

    path = _write(tmp_path, f"{name}.xml", xml)
    rt = resolve_row_tag(spark, path) or tag
    inferred = read_xml_auto(spark, path, rt).schema
    derived = derive_schema_from_files([path], rt)
    assert derived is not None, "derivation unexpectedly bailed"
    assert _canon(derived) == _canon(inferred)


def test_derived_schema_bails_on_namespaces(tmp_path):
    from xml_to_parquet_spark.sources.xml_source import (
        derive_schema_from_files,
    )

    p = tmp_path / "ns.xml"
    p.write_text(
        "<?xml version='1.0'?><root xmlns:x='http://e.x'>"
        "<record><x:a>1</x:a></record></root>"
    )
    assert derive_schema_from_files([str(p)], "record") is None


def test_imposed_schema_read_equals_inferred_read(spark, tmp_path):
    """Full read parity: rows parsed under the derived schema match the
    rows parsed under Spark's own discovery, fixture by fixture."""
    from xml_to_parquet_spark.sources.xml_source import read_xml_records

    path = _write(tmp_path, "orders.xml", ORDERS_XML)
    plain = read_xml_records(spark, path, lineage=False)
    fast = read_xml_records(
        spark, path, lineage=False, schema_sample_paths=[path]
    )
    assert sorted(plain.columns) == sorted(fast.columns)
    key = [c for c in plain.columns]
    a = sorted(tuple(r) for r in plain.select(*key).collect())
    b = sorted(tuple(r) for r in fast.select(*key).collect())
    assert a == b


def test_derived_schema_matches_inference_on_random_structures(
    spark, tmp_path
):
    """Fixed-seed randomized XML corpus: nested structs, repeated
    siblings, optional fields, attributes, text+attr mixes — derived
    schema must equal Spark's inference on every document."""
    import random

    from xml_to_parquet_spark.sources.xml_source import (
        derive_schema_from_files,
        read_xml_auto,
    )

    rng = random.Random(20260814)
    tags = ["alpha", "beta", "gamma", "delta", "epsi"]

    def elem(depth: int) -> str:
        tag = rng.choice(tags) + str(depth)
        attrs = ""
        if rng.random() < 0.4:
            attrs = f' k{rng.randint(0, 2)}="v{rng.randint(0, 9)}"'
        if depth >= 2 or rng.random() < 0.5:
            return f"<{tag}{attrs}>t{rng.randint(0, 99)}</{tag}>"
        n = rng.randint(1, 3)
        body = "".join(elem(depth + 1) for _ in range(n))
        if rng.random() < 0.3:  # repeated sibling
            body += elem(depth + 1)
        return f"<{tag}{attrs}>{body}</{tag}>"

    for case in range(12):
        recs = "".join(
            "<record>" + "".join(elem(0) for _ in range(rng.randint(1, 4)))
            + "</record>"
            for _ in range(rng.randint(2, 5))
        )
        p = tmp_path / f"rand_{case}.xml"
        p.write_text(f"<?xml version='1.0'?><root>{recs}</root>")
        inferred = read_xml_auto(spark, str(p), "record").schema
        derived = derive_schema_from_files([str(p)], "record")
        if derived is None:
            # legitimate bail-out (order-dependent three-way shape merge)
            # — the caller falls back to Spark's own inference
            continue
        assert _canon(derived) == _canon(inferred), (
            case,
            derived.simpleString(),
            inferred.simpleString(),
        )


# ---------------------------------------------------------------------------
# Probe boundedness (VERDICT r5 #1): the rowTag/doc-order probe must hold at
# most PROBE_CAP_BYTES of any file driver-side — a multi-GB single XML file
# (the reference's iTunes.xml scenario) must not be collected whole.
# ---------------------------------------------------------------------------


def test_probe_bounded_on_huge_file(spark, tmp_path):
    from xml_to_parquet_spark.sources.xml_source import (
        PROBE_CAP_BYTES,
        derive_document_order,
        invalidate_xml_probe_cache,
        probe_first_file,
        resolve_row_tag,
    )

    path = tmp_path / "huge.xml"
    rec = (
        '<record id="%d"><zebra>z</zebra><alpha>a</alpha>'
        "<mid><beta>b</beta><acorn>c</acorn></mid></record>"
    )
    with open(path, "w") as fh:
        fh.write("<?xml version='1.0'?>\n<records>\n")
        i = 0
        block = "".join(rec % j for j in range(64))
        while fh.tell() < 120 * (1 << 20):  # >100 MB
            fh.write(block.replace('id="', f'id="{i}_'))
            i += 1
        fh.write("</records>\n")
    assert os.path.getsize(path) > 100 * (1 << 20)

    invalidate_xml_probe_cache()
    text = probe_first_file(spark, str(path))
    assert text is not None
    # the bound: at most the cap reaches the driver
    assert len(text.encode("utf-8", errors="replace")) <= PROBE_CAP_BYTES
    # discovery still works off the capped prefix (incl. the truncated
    # tail record the pull parser must tolerate)
    assert resolve_row_tag(spark, str(path)) == "record"
    order = derive_document_order(spark, str(path), "record")
    assert order[()] == ["zebra", "alpha", "mid"]
    assert order[("mid",)] == ["beta", "acorn"]
    invalidate_xml_probe_cache()


def test_probe_fallback_bounded_one_line_file(spark, tmp_path, monkeypatch):
    """The py4j-less fallback path (text reader) must be BYTE-bounded too:
    a minified one-line XML file larger than the cap must reach the driver
    truncated executor-side (VERDICT r6 #3 — previously the substring
    happened after collect, so one giant row could land whole)."""
    from xml_to_parquet_spark.sources import xml_source as xs

    cap = 4096
    one_line = (
        "<?xml version='1.0'?><records>"
        + "".join(f'<record id="{i}"><aa>x</aa></record>' for i in range(4000))
        + "</records>"
    )  # single line, ~150 KB >> cap
    path = _write(tmp_path, "oneline.xml", one_line)
    assert os.path.getsize(path) > 10 * cap
    assert "\n" not in one_line

    def _boom(*a, **k):
        raise RuntimeError("no py4j filesystem in this session")

    monkeypatch.setattr(xs, "_hadoop_head_bytes", _boom)
    xs.invalidate_xml_probe_cache()
    text = xs.probe_first_file(spark, path, cap=cap)
    assert text is not None
    # the bound held on the fallback path: at most cap chars survive
    assert len(text) <= cap
    # and discovery still works off the capped prefix
    assert xs.resolve_row_tag(spark, path) == "record"
    xs.invalidate_xml_probe_cache()


def test_document_order_from_truncated_prefix(spark, tmp_path):
    """A tiny cap that cuts the file mid-record: document order must come
    from the complete events in the prefix instead of failing."""
    from xml_to_parquet_spark.sources.xml_source import (
        derive_document_order,
        invalidate_xml_probe_cache,
        probe_first_file,
    )

    xml = (
        "<?xml version='1.0'?><root>"
        + "".join(
            f'<record id="{i}"><bb>1</bb><aa>2</aa></record>'
            for i in range(50)
        )
        + "</root>"
    )
    path = _write(tmp_path, "trunc.xml", xml)
    invalidate_xml_probe_cache()
    # prime the cache with a 150-byte prefix (cuts inside record 2)
    text = probe_first_file(spark, path, cap=150)
    assert len(text.encode()) <= 150
    order = derive_document_order(spark, path, "record")
    assert order[()] == ["bb", "aa"]
    invalidate_xml_probe_cache()


# ---------------------------------------------------------------------------
# read_xml_split: byte-range-splittable single-huge-file ingest (r12)
# ---------------------------------------------------------------------------


def _write_big_xml(path, n=400):
    with open(path, "w") as fh:
        fh.write('<?xml version="1.0" encoding="UTF-8"?>\n<products>\n')
        for i in range(n):
            rating = f"<rating>{i % 5}.{i % 10}</rating>" if i % 3 else ""
            tags = "".join(f"<tag>t{j}</tag>" for j in range(i % 3))
            fh.write(
                f'  <record id="{i}" category="c{i % 7}">\n'
                f"    <name>item &amp; {i}</name><price>{i % 997}.50</price>\n"
                f"    <quantity>{i % 50}</quantity>{rating}{tags}\n"
                f"  </record>\n"
            )
        fh.write("</products>\n")


def test_read_xml_split_equals_native_reader(spark, tmp_path):
    from xml_to_parquet_spark.sources.xml_source import (
        read_xml_auto,
        read_xml_split,
    )

    p = str(tmp_path / "big.xml")
    _write_big_xml(p)
    native = read_xml_auto(spark, p, "record")
    split = read_xml_split(spark, p, "record")
    assert split.columns == native.columns
    n_rows = sorted(map(str, native.collect()))
    s_rows = sorted(map(str, split.collect()))
    assert s_rows == n_rows
    assert len(s_rows) == 400


def test_read_xml_split_actually_splits(spark, tmp_path):
    from xml_to_parquet_spark.sources.xml_source import (
        read_xml_auto,
        read_xml_split,
    )

    p = str(tmp_path / "big.xml")
    _write_big_xml(p, n=3000)  # ~350 KB
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
        native = read_xml_auto(spark, p, "record")
        split = read_xml_split(spark, p, "record")
        # the native XML source is one task per file no matter the split
        # size; the text-source path parallelizes the SAME file
        assert native.rdd.getNumPartitions() == 1
        assert split.rdd.getNumPartitions() > 1
        assert split.count() == 3000
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_read_xml_split_probe_schema_no_discovery_scan(spark, tmp_path):
    # the head probe covers the record shape -> schema derivation must
    # not fall back to the native discovery scan; optional fields seen
    # anywhere in the head union in
    from xml_to_parquet_spark.sources import xml_source

    p = str(tmp_path / "big.xml")
    _write_big_xml(p, n=50)
    sch = xml_source._split_probe_schema(spark, p, "record")
    assert sch is not None
    names = [f.name for f in sch.fields]
    assert "_id" in names and "rating" in names and "tag" in names
    import pyspark.sql.types as T

    assert isinstance(sch["tag"].dataType, T.ArrayType)  # repeated child


def test_read_xml_split_rejects_self_closing_records(spark, tmp_path):
    # VERDICT r12 item 4: a self-closing <record/> has no </record>
    # delimiter — pre-guard, it rode into the next chunk and corrupted
    # that row SILENTLY (no parse error anywhere)
    import pytest

    from xml_to_parquet_spark.sources.xml_source import read_xml_split

    p = str(tmp_path / "selfclose.xml")
    with open(p, "w") as fh:
        fh.write("<root>\n")
        fh.write('<record id="1"><name>a</name></record>\n')
        fh.write('<record id="2"/>\n')
        fh.write('<record id="3"><name>c</name></record>\n')
        fh.write("</root>\n")
    with pytest.raises(ValueError, match="self-closing"):
        read_xml_split(spark, p, "record")


def test_read_xml_split_rejects_cdata_close_tag(spark, tmp_path):
    import pytest

    from xml_to_parquet_spark.sources.xml_source import read_xml_split

    p = str(tmp_path / "cdata.xml")
    with open(p, "w") as fh:
        fh.write("<root>\n")
        fh.write(
            "<record><body><![CDATA[literal </record> inside]]>"
            "</body></record>\n"
        )
        fh.write("<record><body>plain</body></record>\n")
        fh.write("</root>\n")
    with pytest.raises(ValueError, match="CDATA"):
        read_xml_split(spark, p, "record")


def test_read_xml_split_rejects_comment_close_tag(spark, tmp_path):
    import pytest

    from xml_to_parquet_spark.sources.xml_source import read_xml_split

    p = str(tmp_path / "comment.xml")
    with open(p, "w") as fh:
        fh.write("<root>\n<!-- see </record> below -->\n")
        fh.write("<record><name>a</name></record>\n")
        fh.write("</root>\n")
    with pytest.raises(ValueError, match="comment"):
        read_xml_split(spark, p, "record")


def test_read_xml_split_rejects_whitespace_close_tag(spark, tmp_path):
    # ADVICE r12: '</record >' is legal XML (ETag ::= '</' Name S? '>')
    # but never matches the exact-byte lineSep — pre-guard the whole
    # file collapsed into one chunk and from_xml yielded 1 corrupt row
    import pytest

    from xml_to_parquet_spark.sources.xml_source import read_xml_split

    p = str(tmp_path / "wsclose.xml")
    with open(p, "w") as fh:
        fh.write("<root>\n")
        for i in range(5):
            fh.write(f"<record><name>n{i}</name></record >\n")
        fh.write("</root>\n")
    with pytest.raises(ValueError, match="whitespace|never occurs"):
        read_xml_split(spark, p, "record")


def test_read_xml_split_guard_passes_clean_files(spark, tmp_path):
    # the guard must not reject the documented-good shape (and CDATA /
    # comments WITHOUT the close tag inside are fine)
    from xml_to_parquet_spark.sources.xml_source import read_xml_split

    p = str(tmp_path / "clean.xml")
    with open(p, "w") as fh:
        fh.write("<root>\n<!-- a harmless comment -->\n")
        fh.write(
            "<record><name><![CDATA[ok & raw]]></name></record>\n"
        )
        fh.write("<record><name>b</name></record>\n")
        fh.write("</root>\n")
    assert read_xml_split(spark, p, "record").count() == 2


def test_read_xml_split_rejects_unresolvable(spark, tmp_path):
    import pytest

    from xml_to_parquet_spark.sources.xml_source import read_xml_split

    p = str(tmp_path / "empty_dir")
    (tmp_path / "empty_dir").mkdir()
    with pytest.raises(Exception):
        read_xml_split(spark, str(p) + "/*.xml", None)
