"""Versioned XML resources — the BasicXmlDBStore analog (reference:
bundles/sirix-query/src/main/java/io/sirix/query/node/BasicXmlDBStore
plus XmlResourceSession revisions). The revision log of the JSON
document store (store/manifest.py: manifest + one text file per
revision) under ``root/__xml__``; reads shred through
sources/xml_source.py into the relational node table, so axis
navigation over any revision is a Spark plan.

Temporal functions served from the manifest: xml:doc(db,res[,rev]),
xml:open(db,res,pointInTime), xml:open-revisions(db,res,t1,t2)
(function/xml/io/{DocByPointInTime,OpenRevisions}Test)."""

from __future__ import annotations

import json
import os

from sirix_spark.store.manifest import DocumentLog, Manifest, new_entry


class XmlStoreError(ValueError):
    pass


class XmlStore(DocumentLog):
    """Key sidecars hold the nodeKey of every node in SHREDDER
    enumeration order, EXCLUDING the document node (always key 0, the
    reference's Fixed.DOCUMENT_NODE_KEY); without one, the keys are the
    enumeration indexes 1..N themselves (exactly _shred_one's own
    numbering)."""

    error = XmlStoreError
    EXT = "xml"
    REVISION_FILE = r"[rk](\d+)\.(?:xml|json)"

    def __init__(self, root: str):
        super().__init__(os.path.join(root, "__xml__"))

    def store(self, db: str, res: str, xml: str, keys: list[int] | None = None) -> int:
        os.makedirs(self._res_dir(db, res), exist_ok=True)
        return self._commit_text(Manifest(self, db, res), xml, keys)

    def commit(self, db: str, res: str, xml: str, keys: list[int] | None = None) -> int:
        return self._commit_text(self._manifest(db, res), xml, keys)

    def _commit_text(self, m: Manifest, xml: str, keys: list[int] | None) -> int:
        n = m.latest_revision() + 1
        self._write_text(m.db, m.res, n, xml)
        if keys is not None:
            self._write_keys(m.db, m.res, n, keys)
        return self._commit(m, new_entry(n), keys)

    def _write_text(self, db: str, res: str, n: int, xml: str) -> None:
        self._write_file(db, res, f"r{n}.xml", xml)

    def _write_keys(self, db: str, res: str, n: int, keys: list[int]) -> None:
        self._write_file(db, res, f"k{n}.json", json.dumps(keys))

    def _node_count(self, db: str, res: str, revision: int) -> int:
        return len(self.nodes_rows(db, res, revision)) - 1  # minus the document node

    def nodes_rows(self, db: str, res: str, revision: int) -> list[dict]:
        """Shred a revision into the relational XML node-table rows
        (sources/xml_source.py schema) — axis queries build on it."""
        from sirix_spark.sources.xml_source import _shred_one

        return _shred_one(f"{db}/{res}@r{revision}", self.read_text(db, res, revision))
