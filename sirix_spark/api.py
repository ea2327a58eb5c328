"""User-facing API: the JSONiq-visible surface of the reference as a
Python module, so a SirixDB user can switch 1:1.

Naming maps (SURVEY.md §2.10 — function registrations in
function/jn/JNFun.java:84-260 and function/sdb/SDBFun.java):

    jn:store(db,res,json)          → Sirix.store / store_json
    jn:load(db,res,path)           → Sirix.load
    jn:doc(db,res[,rev])           → Resource.doc / __call__
    jn:open(db,res,ts)             → Resource.open(timestamp)
    jn:open-revisions(ts1,ts2)     → Resource.open_revisions
    jn:all-times($n)               → Resource.all_times
    jn:past/jn:future              → Resource.past / future
    jn:previous/jn:next            → Resource.previous / next
    jn:first/jn:last               → Resource.first / last
    jn:diff(db,res,r1,r2)          → Resource.diff / diff_json
    jn:valid-at / open-bitemporal  → Resource.valid_at / open_bitemporal
    sdb:revision / timestamp       → Resource.revision_of / timestamp_of
    sdb:most-recent-revision       → Resource.most_recent_revision
    sdb:item-history($n)           → Resource.item_history
    sdb:select-item(key)           → Resource.select_item
    sdb:is-deleted                 → Resource.is_deleted
    sdb:hash($n)                   → Resource.with_hash (stable payload hash)
    sdb:explain                    → sirix_spark.plans.explain_str
    jn:size / array ops            → pyspark built-ins (size, slice, ...)
    xml:load / xml import          → Sirix.read_xml / shred_xml
    xml serialize (function/xml/io)→ Sirix.serialize_xml

Queries themselves are plain DataFrame operations on what these
return — the engine adds no query dialect of its own (SURVEY.md §3:
Catalyst replaces the Brackit compile chain).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sirix_spark.operators import temporal as _temporal
from sirix_spark.store import VersionedStore
from sirix_spark.store.store import RECORD_KEY


class Sirix:
    """Top-level handle (the Databases/Database analog)."""

    def __init__(self, spark: SparkSession, root: str, checkpoint_every: int = 10):
        self.spark = spark
        self.store = VersionedStore(spark, root, checkpoint_every=checkpoint_every)

    # --- lifecycle ---
    def store_df(self, db: str, res: str, df: DataFrame, key: str, **kw) -> "Resource":
        self.store.store(db, res, df, key=key, **kw)
        return self.resource(db, res)

    def store_json(self, db: str, res: str, json_strings: list[str], key: str, **kw) -> "Resource":
        """jn:store — parse JSON strings into a new resource."""
        rdd = self.spark.sparkContext.parallelize(json_strings)
        df = self.spark.read.json(rdd)
        return self.store_df(db, res, df, key=key, **kw)

    def load(self, db: str, res: str, path: str, key: str, **kw) -> "Resource":
        """jn:load — parse JSON file(s)."""
        self.store.load_json(db, res, path, key=key, **kw)
        return self.resource(db, res)

    # --- XML (the xml: function family; sources/xml_source.py) ---
    def read_xml(self, path: str) -> DataFrame:
        """Shred whole XML files at `path` into the node table."""
        from sirix_spark.sources.xml_source import read_xml

        return read_xml(self.spark, path)

    @staticmethod
    def shred_xml(df: DataFrame, doc_col: str = "doc", xml_col: str = "xml") -> DataFrame:
        from sirix_spark.sources.xml_source import shred_xml

        return shred_xml(df, doc_col, xml_col)

    @staticmethod
    def serialize_xml(nodes: DataFrame) -> DataFrame:
        from sirix_spark.sources.xml_source import serialize_xml

        return serialize_xml(nodes)

    def resource(self, db: str, res: str) -> "Resource":
        return Resource(self, db, res)

    def exists_database(self, db: str) -> bool:
        return self.store.database_exists(db)

    def exists_resource(self, db: str, res: str) -> bool:
        return self.store.exists(db, res)

    def drop_database(self, db: str) -> None:
        self.store.drop_database(db)

    def serve(
        self,
        host: str = "127.0.0.1",
        port: int = 0,
        token: str | None = None,
        scopes: dict | None = None,
    ):
        """Start the REST façade over this store (SirixVerticle analog;
        rest.py). Returns the started server; `.port` / `.stop()`.
        `token` enables bearer-token auth; `scopes` enables per-
        database roles {token: {db: "rw"|"ro", "*": mode}}
        (Keycloak-role-layer analog)."""
        from sirix_spark.rest import SirixRestServer

        return SirixRestServer(
            self, host=host, port=port, token=token, scopes=scopes
        ).start()


class Resource:
    """One versioned record set (the JsonResourceSession analog)."""

    def __init__(self, sirix: Sirix, db: str, res: str):
        self._s = sirix.store
        self.db = db
        self.res = res

    # --- reads / time travel ---
    def doc(self, revision: int | None = None) -> DataFrame:
        return self._s.doc(self.db, self.res, revision=revision)

    __call__ = doc

    def open(self, timestamp: datetime) -> DataFrame:
        return self._s.doc(self.db, self.res, timestamp=timestamp)

    def open_revisions(self, ts1: datetime, ts2: datetime) -> list[int]:
        return self._s.open_revisions(self.db, self.res, ts1, ts2)

    def history(self) -> DataFrame:
        return self._s.history(self.db, self.res)

    def most_recent_revision(self) -> int:
        return self._s.latest_revision(self.db, self.res)

    def timestamp_of(self, revision: int) -> datetime:
        return self._s.revision_timestamp(self.db, self.res, revision)

    def select_item(self, key, revision: int | None = None) -> DataFrame:
        """sdb:select-item — fetch one record by its stable key."""
        return self.doc(revision).filter(F.col(RECORD_KEY) == key)

    # --- temporal axes ---
    def history_view(self, max_revision: int | None = None) -> DataFrame:
        return self._s.history_view(self.db, self.res, max_revision)

    def all_times(self, key=None) -> DataFrame:
        return _temporal.all_times(self.history_view(), key)

    def past(self, revision: int, include_self: bool = False) -> DataFrame:
        return _temporal.past(self.history_view(), revision, include_self)

    def future(self, revision: int, include_self: bool = False) -> DataFrame:
        return _temporal.future(self.history_view(), revision, include_self)

    def previous(self, cols: list[str]) -> DataFrame:
        return _temporal.with_previous(self.history_view(), cols)

    def next(self, cols: list[str]) -> DataFrame:
        return _temporal.with_next(self.history_view(), cols)

    def first(self) -> DataFrame:
        return _temporal.first(self.history_view())

    def last(self) -> DataFrame:
        return _temporal.last(self.history_view())

    def item_history(self) -> DataFrame:
        return _temporal.item_history(self.history_view())

    def is_deleted(self, key, revision: int) -> bool:
        return _temporal.is_deleted(self.history_view(), key, revision)

    # --- updates (JSONiq update spec analogs) ---
    def insert(self, records: DataFrame, key: str, **kw) -> int:
        return self._s.insert_records(self.db, self.res, records, key=key, **kw)

    def upsert(self, records: DataFrame, key: str, **kw) -> int:
        return self._s.upsert_records(self.db, self.res, records, key=key, **kw)

    def replace_where(self, cond, updates: dict, **kw) -> int:
        return self._s.replace_where(self.db, self.res, cond, updates, **kw)

    def delete_where(self, cond, **kw) -> int:
        return self._s.delete_where(self.db, self.res, cond, **kw)

    def rename_field(self, old: str, new: str, **kw) -> int:
        return self._s.rename_field(self.db, self.res, old, new, **kw)

    # --- diff / bitemporal ---
    def diff(self, r1: int, r2: int) -> DataFrame:
        return self._s.diff(self.db, self.res, r1, r2)

    def diff_json(self, r1: int, r2: int) -> str:
        return self._s.diff_json(self.db, self.res, r1, r2)

    def valid_at(self, instant: datetime, revision: int | None = None, **cols) -> DataFrame:
        return self._s.valid_at(self.doc(revision), instant, **cols)

    def open_bitemporal(self, tx_time: datetime, valid_time: datetime, **cols) -> DataFrame:
        return self._s.open_bitemporal(self.db, self.res, tx_time, valid_time, **cols)

    # --- secondary indexes (jn:create-*-index family) ---
    @property
    def indexes(self):
        from sirix_spark.store.indexes import ProjectionIndexes

        return _BoundIndexes(ProjectionIndexes(self._s), self.db, self.res)

    # --- metadata ---
    def with_hash(self, revision: int | None = None) -> DataFrame:
        """sdb:hash — stable content hash per record (GetHash.java;
        the reference keeps rolling node hashes, we hash the payload
        struct)."""
        df = self.doc(revision)
        payload = [c for c in df.columns if c != RECORD_KEY]
        return df.withColumn(
            "hash", F.sha2(F.to_json(F.struct(*[F.col(c) for c in payload])), 256)
        )


class _BoundIndexes:
    """Resource-bound view of the index API (create/find/scan/drop)."""

    def __init__(self, idx, db: str, res: str):
        self._idx = idx
        self._db = db
        self._res = res

    def create_projection(self, name: str, columns: list[str], sort_by=None, **kw):
        return self._idx.create_projection_index(
            self._db, self._res, name, columns, sort_by=sort_by, **kw
        )

    def create_cas(self, name: str, column: str, **kw):
        return self._idx.create_cas_index(self._db, self._res, name, column, **kw)

    def create_vector(self, name: str, column: str = "embedding", **kw):
        return self._idx.create_vector_index(self._db, self._res, name, column, **kw)

    def find_vector(self, column: str = "embedding", revision: int | None = None):
        return self._idx.find_vector_index(self._db, self._res, column, revision)

    def vector_search(self, queries, k: int = 10, **kw):
        return self._idx.vector_search(self._db, self._res, queries, k=k, **kw)

    def find(self, columns: list[str], revision: int | None = None):
        return self._idx.find_index(self._db, self._res, columns, revision)

    def scan(self, columns: list[str], revision: int | None = None, predicate=None):
        return self._idx.scan(self._db, self._res, columns, revision, predicate)

    def drop(self, name: str) -> bool:
        return self._idx.drop_index(self._db, self._res, name)
