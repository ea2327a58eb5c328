"""The one revision log behind the record, JSON and XML stores
(store/manifest.py): the MCP read guard covers every read path, a
naive instant means UTC in every point-in-time lookup, and manifests
written in the established on-disk format open unchanged."""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import pytest

from sirix_spark.store.docstore import DocumentStore
from sirix_spark.store.xmlstore import XmlStore


def run(spark, store, query: str) -> str:
    from sirix_spark.jsoniq.docmodel import DocEvaluator

    return DocEvaluator(spark, store).execute(query)


def _write(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


# ------------------------------------------------ MCP guard, all reads
def _handlers(root: str, store: DocumentStore, read_only: bool = True):
    from sirix_spark.mcpserver import (
        AccessControl,
        AuditLog,
        McpServerConfig,
        OutputSanitizer,
        SnapshotRegistry,
        ToolHandlers,
    )

    config = McpServerConfig(
        database_path=root, read_only=read_only, audit_log=False,
        deny_databases=("secretdb",),
    )
    return ToolHandlers(
        config,
        AccessControl(config),
        OutputSanitizer(config),
        SnapshotRegistry(root),
        AuditLog.create(config),
        store,
    )


@pytest.fixture()
def mcp_root(spark, tmp_path):
    store = DocumentStore(spark, str(tmp_path))
    store.store("pubdb", "p", '{"k":"ok"}')
    store.store("secretdb", "r", '{"k":"s3"}')
    XmlStore(str(tmp_path)).store("pubdb", "p.xml", "<a>ok</a>")
    XmlStore(str(tmp_path)).store("secretdb", "r.xml", "<a>s3</a>")
    return str(tmp_path), store


@pytest.fixture()
def mcp(mcp_root):
    return _handlers(*mcp_root)


@pytest.mark.parametrize(
    "query",
    [
        "jn:doc('secretdb','r',1).k",
        "xml:doc('secretdb','r.xml')",
        "xml:doc('secretdb','r.xml',1)",
        "doc('r.xml')",
    ],
)
def test_mcp_query_into_denied_db_is_refused(mcp, query):
    r = mcp.query({"query": query, "database": "pubdb"})
    assert r.is_error, r.text
    assert "Access denied" in r.text
    assert "s3" not in r.text


def test_mcp_query_into_allowed_db_still_reads(mcp):
    for query in ("jn:doc('pubdb','p',1).k", "xml:doc('pubdb','p.xml',1)"):
        r = mcp.query({"query": query, "database": "pubdb"})
        assert not r.is_error, r.text
        assert "ok" in r.text


def test_mcp_query_xml_writes_are_guarded(mcp_root):
    root, store = mcp_root
    r = _handlers(root, store).query(
        {"query": "xml:store('pubdb','n.xml','<a/>')", "database": "pubdb"}
    )
    assert r.is_error and "read-only" in r.text, r.text
    assert not XmlStore(root).exists("pubdb", "n.xml")
    r = _handlers(root, store, read_only=False).query(
        {"query": "xml:store('secretdb','r.xml','<b/>')", "database": "pubdb"}
    )
    assert r.is_error and "Access denied" in r.text, r.text
    assert XmlStore(root).read_text("secretdb", "r.xml", 1) == "<a>s3</a>"


# ------------------------------------------- naive instants are UTC
BITEMPORAL = (
    '[{"id":1,"validFrom":"2020-01-01T00:00:00Z","validTo":"2020-12-31T23:59:59Z"},'
    '{"id":2,"validFrom":"2021-01-01T00:00:00Z","validTo":"2021-12-31T23:59:59Z"}]'
)


@pytest.fixture()
def docstore(spark, tmp_path):
    ds = DocumentStore(spark, str(tmp_path))
    ds.store("db", "r", BITEMPORAL, commit_ts="2024-01-01T00:00:00Z")
    ds.set_valid_time_paths("db", "r", "validFrom", "validTo")
    ds.commit("db", "r", '[{"id":3,"validFrom":"2020-01-01T00:00:00Z","validTo":null}]')
    return ds


@pytest.mark.parametrize("instant", ["2024-06-01T00:00:00", "2000-01-01T00:00:00"])
def test_jn_open_naive_equals_utc(spark, docstore, instant):
    naive = run(spark, docstore, f"sdb:revision(jn:open('db','r', xs:dateTime('{instant}')))")
    aware = run(spark, docstore, f"sdb:revision(jn:open('db','r', xs:dateTime('{instant}Z')))")
    assert naive == aware
    assert naive == ("1" if instant.startswith("2024") else "")


@pytest.mark.parametrize("tx", ["2024-06-01T00:00:00", "2000-01-01T00:00:00"])
def test_jn_open_bitemporal_naive_equals_utc(spark, docstore, tx):
    q = "jn:open-bitemporal('db','r', xs:dateTime('{}'), xs:dateTime('2020-07-01T00:00:00Z'))"
    naive = run(spark, docstore, q.format(tx))
    assert naive == run(spark, docstore, q.format(tx + "Z"))
    ids = [json.loads(x)["id"] for x in naive.split(" ")] if naive else []
    assert ids == ([1] if tx.startswith("2024") else [])


# ---------------------------------------- manifests in the stored format
XML_MANIFEST = {
    "revisions": [
        {"revision": 1, "committed_at": "2024-01-01T00:00:00+00:00"},
        {"revision": 2, "committed_at": "2024-03-01T00:00:00+00:00"},
    ],
    "next_key": 9,
    "indexes": [{"number": 0, "kind": "name", "content_type": None, "paths": ["b"]}],
}


@pytest.fixture()
def xml_literal(spark, tmp_path):
    ds = DocumentStore(spark, str(tmp_path))
    d = os.path.join(str(tmp_path), "__xml__", "x", "r.xml")
    _write(os.path.join(d, "manifest.json"), json.dumps(XML_MANIFEST, indent=1))
    _write(os.path.join(d, "r1.xml"), "<a><b>one</b></a>")
    _write(os.path.join(d, "k1.json"), "[1, 2, 3]")
    _write(os.path.join(d, "r2.xml"), "<a><b>two</b><c/></a>")  # no sidecar: keys 1..N
    return ds


def test_xml_manifest_literal_opens_unchanged(spark, xml_literal):
    xs = XmlStore(xml_literal.root)
    assert xs.revisions("x", "r.xml") == [1, 2]
    assert xs.latest_revision("x", "r.xml") == 2
    utc = timezone.utc
    assert xs.open_at("x", "r.xml", datetime(2024, 2, 1, tzinfo=utc)) == 1
    assert xs.open_at("x", "r.xml", datetime(2024, 3, 1, tzinfo=utc)) == 2
    assert xs.read_keys("x", "r.xml", 1) == [1, 2, 3]
    assert xs.read_keys("x", "r.xml", 2) is None
    assert xs.next_key("x", "r.xml") == 9
    assert xs.node_revisions("x", "r.xml", 4) == [2]
    assert xs.find_index("x", "r.xml", "name", None, ("b",)) == 0
    assert run(spark, xml_literal, "xml:doc('x','r.xml', 1)") == "<a><b>one</b></a>"
    # a new commit keeps the format: same fields, next_key advanced
    xs.commit("x", "r.xml", "<a/>", keys=[1, 12])
    with open(os.path.join(xs.root, "x", "r.xml", "manifest.json")) as f:
        m = json.load(f)
    assert m["revisions"][:2] == XML_MANIFEST["revisions"]
    assert set(m["revisions"][2]) == {"revision", "committed_at"}
    assert (m["indexes"], m["next_key"]) == (XML_MANIFEST["indexes"], 13)


def test_xml_open_at_naive_equals_utc(xml_literal):
    xs = XmlStore(xml_literal.root)
    for naive, rev in [
        (datetime(2100, 1, 1), 2),
        (datetime(2024, 2, 1), 1),
        (datetime(2000, 1, 1), None),
    ]:
        assert xs.open_at("x", "r.xml", naive) == rev
        assert xs.open_at("x", "r.xml", naive.replace(tzinfo=timezone.utc)) == rev


@pytest.mark.parametrize(
    "t1,t2,count", [("2024-02-01T00:00:00", "2100-01-01T00:00:00", "1"),
                    ("2000-01-01T00:00:00", "2100-01-01T00:00:00", "2")],
)
def test_xml_open_revisions_naive_equals_utc(spark, xml_literal, t1, t2, count):
    q = "count(xml:open-revisions('x','r.xml', xs:dateTime('{}'), xs:dateTime('{}')))"
    assert run(spark, xml_literal, q.format(t1, t2)) == count
    assert run(spark, xml_literal, q.format(t1 + "Z", t2 + "Z")) == count


DOC_MANIFEST = {
    "revisions": [
        {
            "revision": 1,
            "committed_at": "2024-01-01T00:00:00+00:00",
            "author": "admin",
            "author_id": "00000000-0000-0000-0000-000000000000",
            "message": "first",
        },
        {
            "revision": 2,
            "committed_at": "2024-03-01T00:00:00+00:00",
            "author": "bob",
            "author_id": "u-1",
        },
    ],
    "indexes": [{"number": 0, "kind": "cas", "content_type": "xs:integer", "paths": ["/[]"]}],
    "next_key": 7,
    "valid_time": {"from": "validFrom", "to": "validTo"},
}


def test_json_manifest_literal_opens_unchanged(spark, tmp_path):
    ds = DocumentStore(spark, str(tmp_path))
    d = os.path.join(str(tmp_path), "db", "r.jn")
    _write(os.path.join(d, "manifest.json"), json.dumps(DOC_MANIFEST, indent=1))
    _write(os.path.join(d, "r1.json"), "[1,2]")
    _write(os.path.join(d, "k1.json"), "[1, 2, 3]")
    _write(os.path.join(d, "r2.json"), "[1,2,5]")
    _write(os.path.join(d, "k2.json"), "[1, 2, 3, 6]")
    assert ds.revisions("db", "r.jn") == [1, 2]
    assert [ds.rev_entry("db", "r.jn", r) for r in (1, 2)] == DOC_MANIFEST["revisions"]
    q = "sdb:revision(jn:open('db','r.jn', xs:dateTime('2024-02-01T00:00:00Z')))"
    assert run(spark, ds, q) == "1"
    assert ds.read_keys("db", "r.jn", 2) == [1, 2, 3, 6]
    assert ds.next_key("db", "r.jn") == 7
    assert ds.node_revisions("db", "r.jn", 6) == [2]
    assert ds.find_index("db", "r.jn", "cas", "xs:integer", ("/[]",)) == 0
    assert ds.valid_time_config("db", "r.jn") == {"from": "validFrom", "to": "validTo"}
    assert run(spark, ds, "jn:doc('db','r.jn', 1)") == "[1,2]"
    assert run(spark, ds, "sdb:author-name(jn:doc('db','r.jn', 2))") == "bob"
    # a new commit keeps the format: same fields, next_key advanced
    ds.commit("db", "r.jn", "[1]", keys=[1, 2])
    with open(os.path.join(d, "manifest.json")) as f:
        m = json.load(f)
    assert m["revisions"][:2] == DOC_MANIFEST["revisions"]
    assert set(m["revisions"][2]) == {"revision", "committed_at", "author", "author_id"}
    assert (m["indexes"], m["next_key"], m["valid_time"]) == (
        DOC_MANIFEST["indexes"], 7, DOC_MANIFEST["valid_time"],
    )


RECORD_MANIFEST = {
    "revisions": [
        {
            "revision": 1, "committed_at": "2024-01-01T00:00:00+00:00", "author": None,
            "message": None, "kind": "checkpoint", "n_upserts": 2, "n_deletes": 0,
        },
        {
            "revision": 2, "committed_at": "2024-03-01T00:00:00+00:00", "author": "ann",
            "message": "m", "kind": "delta", "n_upserts": 1, "n_deletes": 0,
        },
    ]
}


def test_record_manifest_literal_opens_unchanged(spark, tmp_path):
    from sirix_spark.store.store import VersionedStore

    vs = VersionedStore(spark, str(tmp_path))
    d = os.path.join(str(tmp_path), "db", "r")
    spark.createDataFrame([(1, "a"), (2, "b")], "record_key long, v string").write.parquet(
        os.path.join(d, "r000001", "data")
    )
    spark.createDataFrame([(2, "B")], "record_key long, v string").write.parquet(
        os.path.join(d, "r000002", "upserts")
    )
    _write(os.path.join(d, "manifest.json"), json.dumps(RECORD_MANIFEST, indent=1))

    def rows(df):
        return sorted((r.record_key, r.v) for r in df.collect())

    assert vs.latest_revision("db", "r") == 2
    assert rows(vs.doc("db", "r")) == [(1, "a"), (2, "B")]
    assert rows(vs.doc("db", "r", timestamp=datetime(2024, 2, 1))) == [(1, "a"), (2, "b")]
    window = (datetime(2023, 12, 1), datetime(2024, 2, 1, tzinfo=timezone.utc))
    assert vs.open_revisions("db", "r", *window) == [1]
    assert vs.revision_timestamp("db", "r", 2) == datetime(2024, 3, 1, tzinfo=timezone.utc)
    hist = vs.history("db", "r").orderBy("revision").collect()
    assert [(h.revision, h.author, h.kind) for h in hist] == [(1, None, "checkpoint"), (2, "ann", "delta")]
    # a new commit keeps the format: every entry carries the same fields
    vs.insert_records("db", "r", spark.createDataFrame([(3, "c")], "id long, v string"), key="id")
    with open(os.path.join(d, "manifest.json")) as f:
        m = json.load(f)
    assert m["revisions"][:2] == RECORD_MANIFEST["revisions"]
    assert list(m["revisions"][2]) == list(RECORD_MANIFEST["revisions"][0])
