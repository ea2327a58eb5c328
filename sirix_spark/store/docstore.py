"""Document-mode versioned store (arbitrary JSON resources).

The record-mode `VersionedStore` (store.py) is the scale path for
tabular/record collections; this store covers the reference's other
storage shape — a single arbitrary JSON document per resource, with
revisions, commits, and secondary-index metadata
(BasicJsonDBStore.java / JsonResourceSession).  Documents here are
query-able through the node-table representation
(sirix_spark/store/docnodes.py) — all reads are Spark DataFrame
plans; only the transactional surface (commit files, manifest) is
driver-side, as in any engine's txn coordinator.

Revisions are kept by the one revision log of all three stores
(store/manifest.py: commit point, recovery, point-in-time rule, key
sidecars, index registry). Layout::

    root/<db>/<res>/manifest.json     revisions + index registry
    root/<db>/<res>/r<N>.json         document text per revision
    root/<db>/<res>/k<N>.json         nodeKey of each node, pre-order
    root/__xml__/<db>/<res>/          XML resources (``store.xml``)
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from sirix_spark.store.docnodes import nodes_df, shred_text
from sirix_spark.store.manifest import DocumentLog, Manifest, RevisionEntry, new_entry
from sirix_spark.store.xmlstore import XmlStore


class DocStoreError(ValueError):
    pass


@dataclass
class DocHandle:
    """One opened (db, res, revision) — the jn:doc(...) value."""

    store: "DocumentStore"
    db: str
    res: str
    revision: int
    _nodes: DataFrame | None = field(default=None, repr=False)
    _rows: list | None = field(default=None, repr=False)

    @property
    def doc_id(self) -> str:
        return f"{self.db}/{self.res}@r{self.revision}"

    def text(self) -> str:
        return self.store.read_text(self.db, self.res, self.revision)

    def rows(self) -> list:
        if self._rows is None:
            self._rows = shred_text(
                self.text(),
                doc_id=self.doc_id,
                keys=self.store.read_keys(self.db, self.res, self.revision),
            )
        return self._rows

    def nodes(self) -> DataFrame:
        if self._nodes is None:
            self._nodes = nodes_df(self.store.spark, self.rows())
        return self._nodes

    def root_kind(self) -> str:
        return self.rows()[0][3]


class DocumentStore(DocumentLog):
    error = DocStoreError

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        path_summary: bool = True,
        path_stats: bool | None = None,
    ):
        """``path_summary``/``path_stats`` mirror BasicJsonDBStore's
        buildPathSummary/buildPathStatistics (PathSummaryOffTest):
        statistics DEFAULT to the summary setting — turning the
        summary off silently turns the defaulted statistics off with
        it — but asking for stats WITHOUT a summary explicitly is
        impossible and fails closed. In this engine the summary is a
        derived DataFrame view, so 'off' disables the serving surface
        (path_summary_stats raises), not resource creation."""
        if path_stats is None:
            path_stats = path_summary
        if path_stats and not path_summary:
            raise DocStoreError(
                "path statistics require a path summary "
                "(buildPathSummary(false) + buildPathStatistics(true))"
            )
        self.path_summary = path_summary
        self.path_stats = path_stats
        self.spark = spark
        super().__init__(root)

    @property
    def xml(self) -> XmlStore:
        """The XML resources of this store (root/__xml__)."""
        return XmlStore(self.root)

    # ------------------------------------------------------------ store
    def store(
        self,
        db: str,
        res: str,
        text: str,
        author: str | None = None,
        author_id: str | None = None,
        message: str | None = None,
        commit_ts: str | None = None,
        keys: list[int] | None = None,
    ) -> int:
        """jn:store — create the resource at revision 1 (the text is
        validated/canonicalized through one parse). `message` /
        `commit_ts` are the reference's jn:store/jn:load option-object
        fields commitMessage / commitTimestamp
        (json/BasicJsonDBStore options; LoadIntegrationTest.java) —
        recorded in the revision entry, where commit_ts overrides the
        wall-clock committed_at so jn:open(point-in-time) sees the
        caller-declared instant. ``keys`` (default: sequential) are the
        nodeKeys of the text's nodes in pre-order."""
        from sirix_spark.store.docnodes import dumps_doc, enum_count, loads_doc

        canon = dumps_doc(loads_doc(text))
        if self.exists(db, res):
            # jn:store replaces an existing resource (Brackit store
            # createNew semantics — the reference drops and recreates)
            self.drop_resource(db, res)
        os.makedirs(self._res_dir(db, res), exist_ok=True)
        if keys is None:
            keys = list(range(1, enum_count(loads_doc(canon)) + 1))
        self._write_revision(db, res, 1, canon, keys=keys)
        # next_key is the reference's monotonic nodeKey counter: never
        # reused, advanced by every insert (stable identity across
        # revisions — SirixDeweyID-free key allocation)
        m = Manifest(self, db, res, {"revisions": [], "indexes": []})
        return self._commit(m, self._entry(1, author, author_id, message, commit_ts), keys)

    def load(
        self,
        db: str,
        res: str,
        uri: str,
        message: str | None = None,
        commit_ts: str | None = None,
    ) -> int:
        """jn:load — read a JSON file (file:// URI or path)."""
        path = uri[7:] if uri.startswith("file://") else uri
        with open(path, encoding="utf-8-sig") as f:
            return self.store(
                db, res, f.read(), message=message, commit_ts=commit_ts
            )

    # the reference's default commit user (Databases.openJsonDatabase
    # without an explicit User — GetAuthorName.java serves "admin")
    DEFAULT_AUTHOR = "admin"
    DEFAULT_AUTHOR_ID = "00000000-0000-0000-0000-000000000000"

    @staticmethod
    def _entry(
        n: int,
        author: str | None = None,
        author_id: str | None = None,
        message: str | None = None,
        commit_ts: str | None = None,
    ) -> RevisionEntry:
        """commit_ts: the commitTimestamp option (the reference parses
        a LocalDateTime, so naive is UTC)."""
        return new_entry(
            n,
            commit_ts,
            author=author or DocumentStore.DEFAULT_AUTHOR,
            author_id=author_id or DocumentStore.DEFAULT_AUTHOR_ID,
            **({} if message is None else {"message": message}),
        )

    def _write_revision(
        self, db: str, res: str, n: int, text: str, keys: list[int] | None = None
    ) -> None:
        self._write_file(db, res, f"r{n}.json", text)
        if keys is not None:
            self._write_file(db, res, f"k{n}.json", json.dumps(keys))

    def _node_count(self, db: str, res: str, revision: int) -> int:
        from sirix_spark.store.docnodes import enum_count, loads_doc

        return enum_count(loads_doc(self.read_text(db, res, revision)))

    # ------------------------------------------------------- revisions
    def doc(self, db: str, res: str, revision: int | None = None) -> DocHandle:
        if revision is None:
            revision = self.latest_revision(db, res)
        return DocHandle(self, db, res, revision)

    def commit(
        self,
        db: str,
        res: str,
        text: str | None = None,
        keys: list[int] | None = None,
        author: str | None = None,
        author_id: str | None = None,
        message: str | None = None,
    ) -> int:
        """sdb:commit — write a new revision (same content unless an
        update supplies new text; index creation commits this way).

        ``keys`` is the pre-order nodeKey sequence of the new text
        (stable identity — the committer tracked keys through the
        mutation, store/docwtx.py). Omitted with unchanged text, the
        previous revision's keys carry over (an empty commit preserves
        every node's identity); omitted WITH new text, the revision
        renumbers sequentially (legacy, identity-breaking — no
        in-repo caller does this any more)."""
        m = self._manifest(db, res)
        n = m.latest_revision() + 1
        if text is None:
            text = self.read_text(db, res, n - 1)
            if keys is None:
                keys = self.read_keys(db, res, n - 1)
        self._write_revision(db, res, n, text, keys=keys)
        return self._commit(m, self._entry(n, author, author_id, message), keys)

    # --------------------------------------------------------- indexes
    @staticmethod
    def _covers(registered: list[str], path: str) -> bool:
        """A registered pattern covers a requested path it equals or
        matches (e.g. a ``//[]`` index answers ``/[]/test/[]`` — the
        reference's findCASIndex path-class containment)."""
        from sirix_spark.jsoniq.docindex import path_pattern_regex

        if path in registered:
            return True
        # wildcard indexes subsume *pattern* requests too: a `//*`
        # index answers any request ending in a field step, `//[]` any
        # request ending in an array step
        last = path.rsplit("/", 1)[-1]
        for pat in registered:
            if pat == "//*" and last not in ("[]", ""):
                return True
            if pat == "//[]" and last == "[]":
                return True
        return any(
            re.fullmatch(path_pattern_regex(pat).strip("^$"), path)
            for pat in registered
        )

    # ------------------------------------------------------ valid time
    def set_valid_time_paths(
        self, db: str, res: str, valid_from: str, valid_to: str
    ) -> None:
        """ResourceConfiguration.validTimePaths analog: record the
        member fields carrying the valid-time interval and auto-
        register the CAS indexes the reference builds for them
        (StoreValidTimeAutoIndex — xs:dateTime CAS on both paths).
        Leading '$.' is normalized away (ValidTimeConfig)."""
        frm = valid_from[2:] if valid_from.startswith("$.") else valid_from
        to = valid_to[2:] if valid_to.startswith("$.") else valid_to
        m = self._manifest(db, res)
        m.data["valid_time"] = {"from": frm, "to": to}
        m.save()
        self.create_index(
            db, res, "cas", "xs:dateTime", (f"//[]/{frm}", f"//[]/{to}")
        )

    def valid_time_config(self, db: str, res: str) -> dict | None:
        return self._manifest(db, res).data.get("valid_time")

    # ------------------------------------------------------------- diff
    def diff_json(self, db: str, res: str, r1: int, r2: int) -> str:
        """jn:diff — node-level diff of two revisions in the
        reference's wire shape (Diff.java:200 createMetaInfo +
        JsonDiffSerializer.java op objects): ``{"database","resource",
        "old-revision","new-revision","diffs":[{"insert":{...}},
        {"delete":{...}},{"update":{...}},{"replace":{...}}]}``.

        The op set comes from the same set-based differ the record
        store uses (operators/diff.py — full-outer join over flattened
        node rows, parent-suppressed); nodeKeys are this store's
        pre-order keys resolved per revision."""
        from sirix_spark.operators.diff import json_node_diff

        old_text = self.read_text(db, res, r1)
        new_text = self.read_text(db, res, r2)
        meta = {
            "database": db,
            "resource": res,
            "old-revision": r1,
            "new-revision": r2,
            "diffs": [],
        }
        if old_text == new_text:
            return json.dumps(meta, separators=(",", ":"), ensure_ascii=False)
        df = self.spark.createDataFrame(
            [(1, old_text, new_text)], "id int, old string, new string"
        )
        ops = json_node_diff(df, ["id"], "old", "new").collect()

        def flatten_keys(text: str) -> dict[str, int]:
            rows = shred_text(text)
            by_key = {r[1]: r for r in rows}
            memo: dict[int, str] = {}

            def fp(key: int) -> str:
                if key in memo:
                    return memo[key]
                _, k, parent, kind, fname, cont, ordv = by_key[key][:7]
                if parent is None:
                    p = ""
                elif fname is not None:
                    base = parent if kind == "field" else cont
                    p = fp(base) + "/" + fname
                else:
                    p = fp(cont) + f"/[{ordv}]"
                memo[key] = p
                return p

            out: dict[str, int] = {}
            for r in rows:
                if r[3] == "field":
                    continue
                out.setdefault(fp(r[1]), r[1])
            return out

        old_keys = flatten_keys(old_text)
        new_keys = flatten_keys(new_text)
        diffs = []
        for row in sorted(ops, key=lambda r: r["path"]):
            path, op = row["path"], row["op"]
            if op == "insert":
                body = {
                    "nodeKey": new_keys.get(path),
                    "path": path,
                    "data": row["new_value"],
                }
            elif op == "delete":
                body = {"nodeKey": old_keys.get(path), "path": path}
            else:  # update | replace
                body = {
                    "nodeKey": new_keys.get(path),
                    "path": path,
                    "value": row["new_value"],
                }
            diffs.append({op: body})
        meta["diffs"] = diffs
        return json.dumps(meta, separators=(",", ":"), ensure_ascii=False)
