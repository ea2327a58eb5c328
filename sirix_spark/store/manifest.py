"""The revision log: one catalog of committed revisions for the record
(store.py), JSON document (docstore.py) and XML (xmlstore.py) stores.

Design (the single transaction log of Delta Lake, VLDB 2020): each
resource directory ``root/<db>/<res>/`` holds a ``manifest.json`` that
is the only commit point and the only place a revision is resolved.

- A commit writes its revision files first, then replaces the manifest
  atomically (tmp + rename, :func:`save_json`). A kill before the
  rename leaves files past the head revision and perhaps a stranded
  ``manifest.json.tmp``; :meth:`RevisionLog.recover` deletes them.
- A revision is opened by number or by instant. One point-in-time rule
  (:meth:`Manifest.revisions_in`) serves both the single-instant lookup
  and the ``[t1, t2]`` window; a naive instant is UTC.
- Each entry records ``revision`` and ``committed_at`` (aware ISO-8601
  UTC) plus the store's own fields: author and message, and for the
  record store the commit kind and counts.

Reference parity: revision number + commit timestamp + author +
message per revision (SirixQueryContext.java:57-92 commit metadata;
GetRevisionTimestamp.java / GetAuthorID/Name.java accessors;
/history endpoint SirixVerticle.kt:508). Single-writer semantics, like
the reference's one-write-transaction-per-resource model
(JsonNodeTrx.java).

:class:`DocumentLog` adds what the JSON and XML stores share: revision
text ``r{n}.<ext>``, the node-key sidecar ``k{n}.json`` with the
``next_key`` counter, and the index registry.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from dataclasses import dataclass
from datetime import datetime, timezone

MANIFEST = "manifest.json"


def save_json(path: str, obj) -> None:
    """Atomic write (tmp + rename): a kill never leaves a torn file."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)


def utc(instant: datetime | str) -> datetime:
    """An aware instant from a datetime or ISO-8601 text; naive is UTC."""
    if isinstance(instant, str):
        instant = datetime.fromisoformat(instant.replace("Z", "+00:00"))
    return instant if instant.tzinfo else instant.replace(tzinfo=timezone.utc)


class RevisionEntry(dict):
    """One item of the manifest's ``revisions`` list: the dict as
    stored (each store writes its own fields), read by attribute. A
    field its store did not write reads as None."""

    def __getattr__(self, name: str):
        return self.get(name)


def new_entry(
    revision: int, at: datetime | str | None = None, **fields
) -> RevisionEntry:
    """The entry of a commit at ``at`` (default: now)."""
    committed = utc(at or datetime.now(timezone.utc)).isoformat()
    return RevisionEntry(revision=revision, committed_at=committed, **fields)


class Manifest:
    """One resource's manifest: its revision entries plus the store's
    own fields in ``data`` (next_key, indexes, valid_time)."""

    def __init__(self, log: RevisionLog, db: str, res: str, data: dict | None = None):
        self.log, self.db, self.res = log, db, res
        self.data = data if data is not None else {"revisions": []}
        self.entries = self.data["revisions"] = [
            RevisionEntry(e) for e in self.data["revisions"]
        ]

    def save(self) -> None:
        self.log._write_manifest(self.db, self.res, self.data)

    def append(self, entry: RevisionEntry) -> None:
        """Commit ``entry``, which must follow the head revision."""
        if entry.revision != self.latest_revision() + 1:
            raise ValueError(
                f"revision {entry.revision} is not successor of {self.latest_revision()}"
            )
        self.entries.append(entry)
        self.save()

    def latest_revision(self) -> int:
        return self.entries[-1].revision if self.entries else 0

    def entry(self, revision: int) -> RevisionEntry:
        if not 1 <= revision <= len(self.entries):
            raise (self.log.error or KeyError)(
                f"no revision {revision} of {self.db}/{self.res}"
                f" (not in [1, {len(self.entries)}])"
            )
        return self.entries[revision - 1]

    def revisions_in(self, start, end) -> list[int]:
        """The point-in-time rule: revisions committed in [start, end],
        in commit order. A start of None is open; naive is UTC."""
        lo = None if start is None else utc(start)
        hi = utc(end)
        revs = []
        for e in self.entries:
            t = utc(e.committed_at)
            if (lo is None or lo <= t) and t <= hi:
                revs.append(e.revision)
        return revs

    def revision_at(self, instant) -> int | None:
        """Latest revision committed at or before ``instant``; None
        before the first (jn:open, DocByPointInTime.java)."""
        revs = self.revisions_in(None, instant)
        return revs[-1] if revs else None

    def latest_checkpoint_at_or_before(self, revision: int) -> int:
        ckpt = 0
        for e in self.entries[:revision]:
            if e.kind == "checkpoint":
                ckpt = e.revision
        return ckpt


class RevisionLog:
    """Versioned resources under ``root/<db>/<res>/``, each with its
    manifest and per-revision files."""

    # what reading a resource without a manifest raises; None reads it
    # as an empty log (the record store's "no revisions yet")
    error: type[Exception] | None = None
    # the files of one revision, group 1 = its number (for recover)
    REVISION_FILE = r"r(\d{6})"

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _res_dir(self, db: str, res: str) -> str:
        return os.path.join(self.root, db, res)

    def _manifest_path(self, db: str, res: str) -> str:
        return os.path.join(self._res_dir(db, res), MANIFEST)

    def _open(self, db: str, res: str, path: str) -> str | None:
        """The one read path: the text of ``path``, a file of resource
        db/res, or None when it is absent. Every manifest, revision
        text and key sidecar is read here, so an override guards them
        all."""
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return f.read()

    def _read(self, db: str, res: str, name: str) -> str | None:
        path = os.path.join(self._res_dir(db, res), name)
        return self._open(db, res, path)

    def _manifest(self, db: str, res: str) -> Manifest:
        text = self._read(db, res, MANIFEST)
        if text is None and self.error is not None:
            raise self.error(f"unknown resource {db}/{res}")
        return Manifest(self, db, res, None if text is None else json.loads(text))

    def _write_manifest(self, db: str, res: str, data: dict) -> None:
        """The commit point."""
        save_json(self._manifest_path(db, res), data)

    def exists(self, db: str, res: str) -> bool:
        return os.path.exists(self._manifest_path(db, res))

    def database_exists(self, db: str) -> bool:
        return os.path.isdir(os.path.join(self.root, db))

    def drop_resource(self, db: str, res: str) -> None:
        """jn:drop-resource (DropResource.java)."""
        if not self.exists(db, res):
            raise (self.error or KeyError)(f"unknown resource {db}/{res}")
        shutil.rmtree(self._res_dir(db, res))

    def drop_database(self, db: str) -> None:
        """jn:drop-database (DropDatabase.java)."""
        if not self.database_exists(db):
            raise (self.error or KeyError)(f"unknown database {db}")
        shutil.rmtree(os.path.join(self.root, db))

    def recover(self, db: str, res: str) -> list[str]:
        """Delete what a commit killed before its manifest rename left
        behind: revision files beyond the head and a stranded
        manifest.json.tmp. The manifest always names a fully-committed
        prefix, so everything past it is garbage. Returns the removed
        paths (reference: PowerLossSimulationTest /
        CrashRecoveryInjectionTest semantics)."""
        removed: list[str] = []
        if not self.exists(db, res):
            return removed
        head = self._manifest(db, res).latest_revision()
        d = self._res_dir(db, res)
        for name in sorted(os.listdir(d)):
            m = re.fullmatch(self.REVISION_FILE, name)
            if (m and int(m.group(1)) > head) or name == MANIFEST + ".tmp":
                path = os.path.join(d, name)
                if os.path.isdir(path):
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    os.remove(path)
                removed.append(path)
        return removed

    # ------------------------------------------------------- revisions
    def entries(self, db: str, res: str) -> list[RevisionEntry]:
        return self._manifest(db, res).entries

    def rev_entry(self, db: str, res: str, revision: int | None = None) -> RevisionEntry:
        """A revision's entry (default: the head's)."""
        m = self._manifest(db, res)
        return m.entry(m.latest_revision() if revision is None else revision)

    def revisions(self, db: str, res: str) -> list[int]:
        return [e.revision for e in self.entries(db, res)]

    def latest_revision(self, db: str, res: str) -> int:
        """sdb:most-recent-revision (GetMostRecentRevision.java)."""
        return self._manifest(db, res).latest_revision()

    def open_at(self, db: str, res: str, instant) -> int | None:
        """Latest revision committed at or before ``instant`` (None
        before the first)."""
        return self._manifest(db, res).revision_at(instant)

    def open_revisions(self, db: str, res: str, start, end) -> list[int]:
        """jn:open-revisions: every revision committed in [start, end]
        (OpenRevisions.java)."""
        return self._manifest(db, res).revisions_in(start, end)


@dataclass
class IndexDef:
    number: int
    kind: str  # cas | path | name
    content_type: str | None  # xs:string / xs:integer / … (cas only)
    paths: tuple[str, ...]


class DocumentLog(RevisionLog):
    """Revision log of whole-document resources: revision n is the text
    file ``r{n}.<EXT>``, optionally with the sidecar ``k{n}.json``
    holding each node's stable key in the store's enumeration order.
    A revision without a sidecar has sequential keys 1..N (the legacy
    layout, still written by XML writers that track no keys)."""

    EXT = "json"
    REVISION_FILE = r"[rk](\d+)\.json"

    def _write_file(self, db: str, res: str, name: str, text: str) -> None:
        with open(os.path.join(self._res_dir(db, res), name), "w") as f:
            f.write(text)

    def _commit(self, m: Manifest, entry: RevisionEntry, keys: list[int] | None) -> int:
        """Commit a revision whose files are written: advance the
        never-reused next_key past ``keys``, then append ``entry``."""
        if keys is not None:
            m.data["next_key"] = max(m.data.get("next_key", 1), max(keys, default=0) + 1)
        m.append(entry)
        return entry.revision

    def read_text(self, db: str, res: str, revision: int) -> str:
        text = self._read(db, res, f"r{revision}.{self.EXT}")
        if text is None:
            raise self.error(f"no revision {revision} of {db}/{res}")
        return text

    def read_keys(self, db: str, res: str, revision: int) -> list[int] | None:
        """Key sidecar of a revision (None: sequential keys 1..N)."""
        text = self._read(db, res, f"k{revision}.json")
        return None if text is None else json.loads(text)

    def _node_count(self, db: str, res: str, revision: int) -> int:
        """Number of keyed nodes in a revision's text."""
        raise NotImplementedError

    def _keys(self, db: str, res: str, revision: int):
        keys = self.read_keys(db, res, revision)
        if keys is None:
            return range(1, self._node_count(db, res, revision) + 1)
        return keys

    def next_key(self, db: str, res: str) -> int:
        nk = self._manifest(db, res).data.get("next_key")
        if nk is None:
            # Legacy fallback must scan ALL revisions, not just the
            # latest: a key issued in an earlier revision and since
            # deleted must never be reissued, or node_revisions /
            # sdb:item-history would conflate two distinct nodes.
            nk = 1 + max(
                (max(self._keys(db, res, r), default=0) for r in self.revisions(db, res)),
                default=0,
            )
        return nk

    def node_revisions(self, db: str, res: str, key: int) -> list[int]:
        """Revisions whose tree contains node ``key`` — the probe behind
        jn:first-existing / jn:last-existing / sdb:item-history /
        sdb:is-deleted (RecordPersister node-history reads)."""
        return [r for r in self.revisions(db, res) if key in self._keys(db, res, r)]

    # --------------------------------------------------------- indexes
    # The node table's columns already serve every scan the reference
    # answers from its index trees (SURVEY.md §7 'Do NOT port'); the
    # registry keeps find-index numbering and commit semantics.
    def create_index(
        self, db: str, res: str, kind: str, content_type: str | None, paths: tuple[str, ...]
    ) -> int:
        """jn:/xml:create-{cas,path,name}-index — register the
        definition once (creating it again returns its number)."""
        m = self._manifest(db, res)
        idxs = m.data.setdefault("indexes", [])
        for e in idxs:
            if (
                e["kind"] == kind
                and e["content_type"] == content_type
                and tuple(e["paths"]) == tuple(paths)
            ):
                return e["number"]
        number = max((e["number"] for e in idxs), default=-1) + 1
        idxs.append(
            {"number": number, "kind": kind, "content_type": content_type, "paths": list(paths)}
        )
        m.save()
        return number

    def drop_index(self, db: str, res: str, kind: str, number: int | None = None) -> int:
        """jn:drop-*-index — remove matching definitions (all of the
        kind when no number is given); returns how many dropped."""
        m = self._manifest(db, res)
        idxs = m.data.get("indexes", [])
        keep = [
            e for e in idxs
            if not (e["kind"] == kind and (number is None or e["number"] == number))
        ]
        m.data["indexes"] = keep
        m.save()
        return len(idxs) - len(keep)

    def index_def(self, db: str, res: str, number: int) -> IndexDef:
        for e in self._manifest(db, res).data.get("indexes", []):
            if e["number"] == number:
                return IndexDef(e["number"], e["kind"], e["content_type"], tuple(e["paths"]))
        raise self.error(f"no index {number} on {db}/{res}")

    def find_index(
        self, db: str, res: str, kind: str, content_type: str | None, paths: tuple[str, ...]
    ) -> int | None:
        """First index of ``kind`` (and content type, for cas and
        projection indexes) whose paths cover every requested one."""
        for e in self._manifest(db, res).data.get("indexes", []):
            if e["kind"] != kind:
                continue
            if kind in ("cas", "projection") and e["content_type"] != content_type:
                continue
            if all(self._covers(e["paths"], p) for p in paths):
                return e["number"]
        return None

    @staticmethod
    def _covers(registered: list[str], path: str) -> bool:
        return path in registered

    # ------------------------------------------------------- lifecycle
    def resources(self, db: str) -> list[str]:
        if not self.database_exists(db):
            return []
        return sorted(r for r in os.listdir(os.path.join(self.root, db)) if self.exists(db, r))

    def databases_with(self, res: str) -> list[str]:
        """The databases holding a resource named ``res``."""
        return sorted(db for db in os.listdir(self.root) if self.exists(db, res))
