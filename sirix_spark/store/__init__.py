"""Versioned snapshot store — the Spark-native re-expression of the
reference's bitemporal, append-only resource storage
(docs/ARCHITECTURE.md:66-160: Database → Resource → Revision → tree).

Design (SURVEY.md §1.5, §7):
- A *resource* is a keyed record set. Every commit appends an
  immutable revision; all revisions stay queryable.
- Physical layout is delta + periodic checkpoint (merge-on-read) —
  the Spark analog of the reference's sliding-snapshot page
  versioning (docs/ARCHITECTURE.md:1560): commits are O(delta), and
  read cost is bounded by the checkpoint interval, so time-travel
  opens stay flat in revision count (the reference's headline
  property, docs/BENCHMARKS.md:141-153).
- One revision log (store/manifest.py) serves the record, JSON
  document and XML stores: a manifest per resource records revision,
  committed_at, author, message — the analog of RevisionRootPage
  metadata and the /history endpoint (crud/HistoryHandler.kt) — and
  is the only commit point (atomic tmp+rename) and the only place a
  revision number or instant is resolved.
"""

from sirix_spark.store.store import VersionedStore

__all__ = ["VersionedStore"]
