"""Seeded XML corpora for the two ETL workloads.

The record shape follows ``tools/bench_xml_etl.py`` (orders with a
low-cardinality customer/region/status mix, numeric measures, a date and
a filler text column).  Values are drawn from ``random.Random(seed)``, so
one seed always gives byte-identical files.  The generator also returns
what a correct pass must produce: the set of files made invalid, the
distinct values of every dimension-grade column among valid records, and
integer checksums of the measures over valid records.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

REGIONS = ["EU", "US", "APAC", "LATAM", "MEA"]
STATUSES = ["shipped", "pending", "returned"]
FILLER = (
    "standard handling applies to this order line and no special "
    "routing instructions were supplied by the customer desk "
)
N_CUSTOMERS = 997

# A sibling schema.xsd that every valid file satisfies; an injected bad
# file carries a non-integer <quantity>, which is well-formed XML but
# fails the xs:integer leaf type.
XSD = """<?xml version="1.0"?>
<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
  <xs:element name="orders">
    <xs:complexType>
      <xs:sequence>
        <xs:element name="order" minOccurs="1" maxOccurs="unbounded">
          <xs:complexType>
            <xs:sequence>
              <xs:element name="customer_name" type="xs:string"/>
              <xs:element name="region" type="xs:string"/>
              <xs:element name="status" type="xs:string"/>
              <xs:element name="priority" type="xs:integer"/>
              <xs:element name="price" type="xs:decimal"/>
              <xs:element name="quantity" type="xs:integer"/>
              <xs:element name="discount" type="xs:decimal"/>
              <xs:element name="order_date" type="xs:date"/>
              <xs:element name="notes" type="xs:string"/>
            </xs:sequence>
            <xs:attribute name="id" type="xs:string" use="required"/>
          </xs:complexType>
        </xs:element>
      </xs:sequence>
    </xs:complexType>
  </xs:element>
</xs:schema>
"""


@dataclass
class Corpus:
    """Generated input directory plus the facts a correct pass yields."""

    input_dir: str
    n_files: int
    records_per_file: int
    mb: float
    invalid_files: set[str] = field(default_factory=set)
    # over records of valid files only
    dim_values: dict[str, set] = field(default_factory=dict)
    quantity_sum: int = 0
    price_cents_sum: int = 0

    @property
    def valid_records(self) -> int:
        return (self.n_files - len(self.invalid_files)) * self.records_per_file


def _record(rid: int, rng: random.Random, bad: bool) -> tuple[str, dict]:
    vals = {
        "customer_name": f"customer_{rng.randrange(N_CUSTOMERS)}",
        "region": rng.choice(REGIONS),
        "status": rng.choice(STATUSES),
        "priority": 1 + rng.randrange(5),
        "price_cents": 1000 + rng.randrange(9000),
        "quantity": 1 + rng.randrange(40),
        "discount": rng.randrange(10),
        "order_date": f"2024-{1 + rng.randrange(12):02d}-"
        f"{1 + rng.randrange(28):02d}",
        "notes": f"{FILLER}lane {rng.randrange(23)}",
    }
    qty = f"{vals['quantity']}.5" if bad else str(vals["quantity"])
    xml = (
        f'  <order id="O{rid:08d}">\n'
        f"    <customer_name>{vals['customer_name']}</customer_name>\n"
        f"    <region>{vals['region']}</region>\n"
        f"    <status>{vals['status']}</status>\n"
        f"    <priority>{vals['priority']}</priority>\n"
        f"    <price>{vals['price_cents'] // 100}."
        f"{vals['price_cents'] % 100:02d}</price>\n"
        f"    <quantity>{qty}</quantity>\n"
        f"    <discount>0.0{vals['discount']}</discount>\n"
        f"    <order_date>{vals['order_date']}</order_date>\n"
        f"    <notes>{vals['notes']}</notes>\n"
        f"  </order>\n"
    )
    return xml, vals


# categorical columns: a dimension built from one of them has one row per
# distinct value among valid records
DIM_COLUMNS = ("customer_name", "region", "status", "notes", "order_date")


def generate(
    root: str,
    seed: int,
    n_files: int,
    records_per_file: int,
    invalid_share: float = 0.0,
    with_xsd: bool = False,
) -> Corpus:
    """Write ``n_files`` XML files under ``root`` and return their facts.

    ``invalid_share`` of the files (chosen by ``seed``, at least one when
    the share is positive) get one XSD-invalid record; they are only
    invalid against the sibling ``schema.xsd`` written when ``with_xsd``.
    """
    rng = random.Random(seed)
    os.makedirs(root)
    n_bad = round(n_files * invalid_share)
    if invalid_share > 0:
        n_bad = max(1, n_bad)
    bad_idx = set(rng.sample(range(n_files), n_bad))
    corpus = Corpus(root, n_files, records_per_file, 0.0)
    corpus.dim_values = {c: set() for c in DIM_COLUMNS}
    # every file's first comment is "batch:<id>", which the pipeline turns
    # into business_key_name/business_key_value and a "batch" column
    corpus.dim_values["business_key_name"] = {"batch"}
    for k in ("business_key_value", "batch"):
        corpus.dim_values[k] = set()
    total = 0
    for f in range(n_files):
        bad_at = rng.randrange(records_per_file) if f in bad_idx else -1
        parts = []
        file_vals = []
        for r in range(records_per_file):
            xml, vals = _record(f * records_per_file + r, rng, r == bad_at)
            parts.append(xml)
            file_vals.append(vals)
        name = f"orders_{f:05d}.xml"
        batch = f"B{seed % 1000:03d}-{f:05d}"
        payload = (
            "<?xml version='1.0'?>\n"
            f"<!-- batch:{batch} -->\n"
            f"<orders>\n{''.join(parts)}</orders>\n"
        )
        path = os.path.join(root, name)
        with open(path, "w") as fh:
            fh.write(payload)
        total += len(payload)
        if f in bad_idx:
            corpus.invalid_files.add(name)
            continue
        corpus.dim_values["business_key_value"].add(batch)
        corpus.dim_values["batch"].add(batch)
        for vals in file_vals:
            for c in DIM_COLUMNS:
                corpus.dim_values[c].add(vals[c])
            corpus.quantity_sum += vals["quantity"]
            corpus.price_cents_sum += vals["price_cents"]
    if with_xsd:
        with open(os.path.join(root, "schema.xsd"), "w") as fh:
            fh.write(XSD)
    corpus.mb = total / 1e6
    return corpus
