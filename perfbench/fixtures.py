"""Seeded input generation for the benchmark.

Everything the program under test reads is made here from ``--seed``: a
PurchaseOrder XSD, PurchaseOrder documents (plain, ``.gz``, tar.gz and zip
archives) and the TPC-H-shaped Parquet tables the registry queries read.
Generation runs before any timing and is cached on disk by a key over the
seed, the size parameters and ``GENERATOR_VERSION``.

Alongside the files, each fixture set carries a ``manifest.json`` with what
the generator knows the program must produce: document and item counts per
file, XML byte totals, and the expected output row of a sample of
documents (attributes as ``elem@attr``, xs:decimal as double, xs:date as
``yyyy-MM-dd HH:mm:ss.SSS``).
"""

from __future__ import annotations

import gzip
import hashlib
import io
import json
import os
import random
import shutil
import tarfile
import zipfile

GENERATOR_VERSION = 6
KEEP_CACHED_SETS = 6

# The W3C XML Schema primer's purchase-order shape: named and anonymous
# complex types, element ref=, optional elements, unbounded repetition,
# required and fixed attributes, pattern and maxExclusive restrictions,
# decimal / date / NMTOKEN builtins and annotations.
PURCHASE_ORDER_XSD = """<?xml version="1.0" encoding="UTF-8"?>
<xsd:schema xmlns:xsd="http://www.w3.org/2001/XMLSchema">
  <xsd:annotation>
    <xsd:documentation xml:lang="en">Purchase order schema for benchmark fixtures.</xsd:documentation>
  </xsd:annotation>
  <xsd:element name="purchaseOrder" type="PurchaseOrderType"/>
  <xsd:element name="comment" type="xsd:string"/>
  <xsd:complexType name="PurchaseOrderType">
    <xsd:sequence>
      <xsd:element name="shipTo" type="USAddress"/>
      <xsd:element name="billTo" type="USAddress"/>
      <xsd:element ref="comment" minOccurs="0"/>
      <xsd:element name="items" type="Items"/>
    </xsd:sequence>
    <xsd:attribute name="orderDate" type="xsd:date"/>
  </xsd:complexType>
  <xsd:complexType name="USAddress">
    <xsd:sequence>
      <xsd:element name="name" type="xsd:string"/>
      <xsd:element name="street" type="xsd:string"/>
      <xsd:element name="city" type="xsd:string"/>
      <xsd:element name="state" type="xsd:string"/>
      <xsd:element name="zip" type="xsd:decimal"/>
    </xsd:sequence>
    <xsd:attribute name="country" type="xsd:NMTOKEN" fixed="US"/>
  </xsd:complexType>
  <xsd:complexType name="Items">
    <xsd:sequence>
      <xsd:element name="item" minOccurs="0" maxOccurs="unbounded">
        <xsd:complexType>
          <xsd:sequence>
            <xsd:element name="productName" type="xsd:string"/>
            <xsd:element name="quantity">
              <xsd:simpleType>
                <xsd:restriction base="xsd:positiveInteger">
                  <xsd:maxExclusive value="100"/>
                </xsd:restriction>
              </xsd:simpleType>
            </xsd:element>
            <xsd:element name="USPrice" type="xsd:decimal"/>
            <xsd:element ref="comment" minOccurs="0"/>
            <xsd:element name="shipDate" type="xsd:date" minOccurs="0"/>
          </xsd:sequence>
          <xsd:attribute name="partNum" type="SKU" use="required"/>
        </xsd:complexType>
      </xsd:element>
    </xsd:sequence>
  </xsd:complexType>
  <xsd:simpleType name="SKU">
    <xsd:restriction base="xsd:string">
      <xsd:pattern value="\\d{3}-[A-Z]{2}"/>
    </xsd:restriction>
  </xsd:simpleType>
</xsd:schema>
"""

# Sizes of one fixture set. ``bulk_*`` feed the ingest workload's bulk calls,
# ``compat_*`` its per-file requests, ``sf`` the query tables.
PARAMS = {
    "bulk_docs": 80,  # plain + .gz documents for convert_to_dataset
    "bulk_gz_share": 0.25,
    "bulk_small_items": 800,  # items spread over the small documents
    "bulk_huge_items": [6000, 8000],  # the multi-MB tail
    "bulk_archives": 2,  # per kind (tar.gz and zip)
    "bulk_members": 20,  # members per archive
    "compat_plain": 5,  # with the .gz and the zip, 7 requests a pass
    "compat_gz": 1,
    "compat_zip": 1,  # each zip holds two members
    "sf": 0.01,
}

_FIRST = ["Alice", "Robert", "Maria", "Wei", "Fatima", "Lars", "Priya", "Diego", "Yuki", "Omar"]
_LAST = ["Smith", "Jones", "Garcia", "Chen", "Khan", "Berg", "Patel", "Lopez", "Sato", "Haddad"]
_STREETS = ["Maple Street", "Oak Avenue", "Pine Road", "Elm Court", "Cedar Lane", "Birch Way"]
_CITIES = [
    ("Mill Valley", "CA"), ("Old Town", "PA"), ("Austin", "TX"), ("Portland", "OR"),
    ("Madison", "WI"), ("Boulder", "CO"), ("Salem", "MA"), ("Tucson", "AZ"),
]
_PRODUCTS = [
    "Lawnmower", "Baby Monitor", "Garden Hose", "Desk Lamp", "Kettle", "Toaster",
    "Bookshelf", "Rain Jacket", "Hiking Boots", "Coffee Grinder", "Blender", "Drill",
]
_COMMENTS = [
    "Hurry, my lawn is going wild!", "Confirm this is electric", "Gift wrap please",
    "Leave at the back door", "Fragile & heavy", "Ship with the <next> order",
]


def _xml_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _date(rng: random.Random) -> str:
    return f"{rng.randint(1995, 2024)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


def _ts(date: str | None) -> str | None:
    return None if date is None else f"{date} 00:00:00.000"


def _address(rng: random.Random) -> dict:
    city, state = rng.choice(_CITIES)
    return {
        "name": f"{rng.choice(_FIRST)} {rng.choice(_LAST)}",
        "street": f"{rng.randint(1, 9999)} {rng.choice(_STREETS)}",
        "city": city,
        "state": state,
        "zip": f"{rng.randint(10000, 99999)}",
    }


def make_document(rng: random.Random, n_items: int) -> tuple[str, dict]:
    """One PurchaseOrder document and the output row the program must
    produce for it (full schema, no path pruning)."""
    order_date = _date(rng)
    ship, bill = _address(rng), _address(rng)
    comment = rng.choice(_COMMENTS) if rng.random() < 0.6 else None
    parts = [f'<?xml version="1.0"?>\n<purchaseOrder orderDate="{order_date}">\n']
    for tag, a in (("shipTo", ship), ("billTo", bill)):
        parts.append(
            f'  <{tag} country="US">\n'
            f"    <name>{a['name']}</name>\n    <street>{a['street']}</street>\n"
            f"    <city>{a['city']}</city>\n    <state>{a['state']}</state>\n"
            f"    <zip>{a['zip']}</zip>\n  </{tag}>\n"
        )
    if comment is not None:
        parts.append(f"  <comment>{_xml_escape(comment)}</comment>\n")
    parts.append("  <items>\n")
    items = []
    for _ in range(n_items):
        part_num = f"{rng.randint(0, 999):03d}-{chr(65 + rng.randint(0, 25))}{chr(65 + rng.randint(0, 25))}"
        name = rng.choice(_PRODUCTS)
        qty = rng.randint(1, 99)
        price = f"{rng.randint(1, 99999) / 100:.2f}"
        icomment = rng.choice(_COMMENTS) if rng.random() < 0.3 else None
        ship_date = _date(rng) if rng.random() < 0.5 else None
        parts.append(
            f'    <item partNum="{part_num}">\n      <productName>{name}</productName>\n'
            f"      <quantity>{qty}</quantity>\n      <USPrice>{price}</USPrice>\n"
        )
        if icomment is not None:
            parts.append(f"      <comment>{_xml_escape(icomment)}</comment>\n")
        if ship_date is not None:
            parts.append(f"      <shipDate>{ship_date}</shipDate>\n")
        parts.append("    </item>\n")
        items.append(
            {
                "item@partNum": part_num,
                "productName": name,
                "quantity": qty,
                "USPrice": float(price),
                "comment": icomment,
                "shipDate": _ts(ship_date),
            }
        )
    parts.append("  </items>\n</purchaseOrder>\n")

    def addr_row(tag, a):
        return {f"{tag}@country": "US", **{k: a[k] for k in ("name", "street", "city", "state")},
                "zip": float(a["zip"])}

    row = {
        "purchaseOrder": {
            "purchaseOrder@orderDate": _ts(order_date),
            "shipTo": addr_row("shipTo", ship),
            "billTo": addr_row("billTo", bill),
            "comment": comment,
            "items": {"item": items},
        }
    }
    return "".join(parts), row


def _heavy_tail_counts(rng: random.Random, n: int, total: int) -> list[int]:
    """``n`` lognormal item counts rescaled to sum to exactly ``total``, so
    every seed gets the same amount of work in a different arrangement."""
    w = [rng.lognormvariate(0.0, 0.9) for _ in range(n)]
    scale = (total - n) / sum(w)
    counts = [1 + int(x * scale) for x in w]
    for i in rng.sample(range(n), total - sum(counts)):
        counts[i] += 1
    return counts


class _Writer:
    """Accumulates files of one fixture set and the manifest entries."""

    def __init__(self, root: str, rng: random.Random):
        self.root = root
        self.rng = rng

    def doc(self, n_items: int) -> tuple[bytes, dict, int]:
        text, row = make_document(self.rng, n_items)
        return text.encode(), row, n_items

    def write(self, rel: str, data: bytes) -> str:
        path = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(data)
        return path


def _gz(data: bytes) -> bytes:
    # mtime=0 keeps the bytes a pure function of the seed
    return gzip.compress(data, compresslevel=6, mtime=0)


def _tar_gz(members: list[tuple[str, bytes]]) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz", compresslevel=6) as tf:
        for name, data in members:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            info.mtime = 946684800
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def _zip(members: list[tuple[str, bytes]]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in members:
            zf.writestr(zipfile.ZipInfo(name, date_time=(2000, 1, 1, 0, 0, 0)), data,
                        compress_type=zipfile.ZIP_DEFLATED)
    return buf.getvalue()


def _gen_bulk(w: _Writer, p: dict) -> dict:
    rng = w.rng
    n_huge = len(p["bulk_huge_items"])
    n_small = p["bulk_docs"] - n_huge
    counts = _heavy_tail_counts(rng, n_small, p["bulk_small_items"])
    counts += [c + rng.randint(0, 200) for c in p["bulk_huge_items"]]
    rng.shuffle(counts)
    docs = []
    for i, n in enumerate(counts):
        data, row, items = w.doc(n)
        if rng.random() < p["bulk_gz_share"]:
            name = f"po_{i:05d}.xml.gz"
            w.write(f"bulk/docs/{name}", _gz(data))
        else:
            name = f"po_{i:05d}.xml"
            w.write(f"bulk/docs/{name}", data)
        docs.append({"src": name, "items": items, "xml_bytes": len(data), "row": row})
    archives = {}
    for kind, ext, pack in (("tar", "tar.gz", _tar_gz), ("zip", "zip", _zip)):
        entries = []
        for a in range(p["bulk_archives"]):
            name = f"batch_{a:03d}.{ext}"
            members = []
            for m in range(p["bulk_members"]):
                data, row, items = w.doc(rng.randint(1, 12))
                member = f"po_{a:03d}_{m:03d}.xml"
                members.append((member, data))
                entries.append({"src": name, "member": member, "items": items,
                                "xml_bytes": len(data), "row": row})
            w.write(f"bulk/{kind}/{name}", pack(members))
        archives[kind] = entries
    return {
        "docs": {"n": len(docs), "items": sum(d["items"] for d in docs),
                 "xml_bytes": sum(d["xml_bytes"] for d in docs),
                 "sample": rng.sample(docs, 8)},
        **{
            kind: {"n": len(e), "items": sum(d["items"] for d in e),
                   "xml_bytes": sum(d["xml_bytes"] for d in e),
                   "sample": rng.sample(e, 6)}
            for kind, e in archives.items()
        },
    }


def _include_items(row: dict) -> dict:
    """Expected row under the include path ``/purchaseOrder/items/item``."""
    po = row["purchaseOrder"]
    return {"purchaseOrder": {"purchaseOrder@orderDate": po["purchaseOrder@orderDate"],
                              "items": po["items"]}}


def _gen_compat(w: _Writer, n_plain: int, n_gz: int, n_zip: int) -> list:
    """Small per-file requests. Item counts are fixed, so every seed sends
    the same amount of XML in different documents."""
    rng = w.rng
    requests = []
    for i in range(n_plain):
        data, row, _ = w.doc(4 + 4 * (i % 5))
        w.write(f"compat/order_{i:03d}.xml", data)
        requests.append({"input": f"order_{i:03d}.xml", "xml_bytes": len(data), "docs": 1,
                         "outputs": {f"order_{i:03d}.xml.parquet": _include_items(row)}})
    for i in range(n_gz):
        data, row, _ = w.doc(10)
        stem = f"gzorder_{i:03d}.xml"
        w.write(f"compat/{stem}.gz", _gz(data))
        requests.append({"input": f"{stem}.gz", "xml_bytes": len(data), "docs": 1,
                         "outputs": {f"gzorder_{i:03d}.{stem}.parquet": _include_items(row)}})
    for i in range(n_zip):
        members, outputs = [], {}
        for m in range(2):
            data, row, _ = w.doc(6)
            member = f"member_{m}.xml"
            members.append((member, data))
            outputs[f"pack_{i:03d}.{member}.parquet"] = _include_items(row)
        w.write(f"compat/pack_{i:03d}.zip", _zip(members))
        requests.append({"input": f"pack_{i:03d}.zip", "docs": 2,
                         "xml_bytes": sum(len(d) for _, d in members), "outputs": outputs})
    rng.shuffle(requests)
    return requests


def cache_root(workdir: str) -> str:
    return os.path.join(workdir, "fixtures")


def fixture_set(workdir: str, seed: int, params: dict | None = None,
                parts: tuple[str, ...] = ("xml",)) -> tuple[str, dict]:
    """Return (directory, manifest) of the fixture set for ``seed``,
    generating it on first use. ``parts`` picks ``xml`` (documents and
    archives) and/or ``tables`` (query Parquet tables)."""
    params = {**PARAMS, **(params or {})}
    key = hashlib.sha256(
        json.dumps([GENERATOR_VERSION, seed, params, sorted(parts)], sort_keys=True).encode()
    ).hexdigest()[:16]
    root = os.path.join(cache_root(workdir), f"s{seed}_{key}")
    manifest_path = os.path.join(root, "manifest.json")
    if os.path.exists(manifest_path):
        os.utime(root)
        with open(manifest_path) as fh:
            return root, json.load(fh)
    _evict(cache_root(workdir))
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest: dict = {"seed": seed, "params": params}
    if "xml" in parts:
        w = _Writer(tmp, random.Random(f"xml-{seed}"))
        w.write("purchase_order.xsd", PURCHASE_ORDER_XSD.encode())
        manifest["bulk"] = _gen_bulk(w, params)
        manifest["compat"] = _gen_compat(
            w, params["compat_plain"], params["compat_gz"], params["compat_zip"]
        )
    if "tables" in parts:
        from perfbench import tables

        manifest["tables"] = tables.generate(os.path.join(tmp, "tables"), seed, params["sf"])
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, root)
    return root, manifest


def _evict(cache: str) -> None:
    """Keep the most recently used fixture sets; drop the rest."""
    if not os.path.isdir(cache):
        return
    sets = sorted(
        (os.path.join(cache, d) for d in os.listdir(cache)),
        key=os.path.getmtime,
        reverse=True,
    )
    for d in sets[KEEP_CACHED_SETS - 1:]:
        shutil.rmtree(d, ignore_errors=True)

