"""Model-based oracle tests for the versioned store — the port of the
reference's property/model tests (JsonModelBasedOracleTest.java,
FIXTURES.md §4/§5): run a scripted commit sequence against both the
store and an in-memory dict model; every revision read, time-travel
open, history listing, temporal op, and diff must match the model.
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta, timezone

import pytest

from sirix_spark.operators import temporal as T
from sirix_spark.store import VersionedStore
from sirix_spark.store.store import RECORD_KEY

T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)


def ts(day):
    return T0 + timedelta(days=day)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    # checkpoint_every=3 exercises both delta and checkpoint commits.
    return VersionedStore(
        spark, str(tmp_path_factory.mktemp("vstore")), checkpoint_every=3
    )


@pytest.fixture(scope="module")
def scripted(spark, store):
    """Commit script (FIXTURES.md §4 temporal_orders): store, update,
    insert, delete, update — tracking an in-memory model snapshot
    after every commit."""
    from pyspark.sql import functions as F

    db, res = "testdb", "orders"
    orders = [
        (1, "alice", 100, "new"),
        (2, "bob", 250, "new"),
        (3, "carol", 75, "new"),
    ]
    df = spark.createDataFrame(
        orders, "order_id long, customer string, amount long, status string"
    )
    model: dict[int, dict] = {}
    snapshots: list[dict[int, dict]] = []

    store.store(db, res, df, key="order_id", message="initial", author="alice",
                commit_timestamp=ts(0))
    for oid, cust, amt, st in orders:
        model[oid] = {"customer": cust, "amount": amt, "status": st}
    snapshots.append(json.loads(json.dumps({str(k): v for k, v in model.items()})))

    # r2: update order 2 status (delta commit)
    store.replace_where(
        db, res, F.col(RECORD_KEY) == 2, {"status": "shipped"},
        message="ship 2", author="bob", commit_timestamp=ts(1),
    )
    model[2]["status"] = "shipped"
    snapshots.append(json.loads(json.dumps({str(k): v for k, v in model.items()})))

    # r3: insert order 4 (checkpoint commit: 3 % 3 == 0)
    new = spark.createDataFrame(
        [(4, "dave", 500, "new")],
        "order_id long, customer string, amount long, status string",
    )
    store.insert_records(db, res, new, key="order_id", message="add 4",
                         author="alice", commit_timestamp=ts(2))
    model[4] = {"customer": "dave", "amount": 500, "status": "new"}
    snapshots.append(json.loads(json.dumps({str(k): v for k, v in model.items()})))

    # r4: delete order 1 (delta)
    store.delete_where(db, res, F.col(RECORD_KEY) == 1, message="del 1",
                       author="bob", commit_timestamp=ts(3))
    del model[1]
    snapshots.append(json.loads(json.dumps({str(k): v for k, v in model.items()})))

    # r5: update order 3 amount (delta)
    store.replace_where(db, res, F.col(RECORD_KEY) == 3, {"amount": 80},
                        message="fix 3", author="carol", commit_timestamp=ts(4))
    model[3]["amount"] = 80
    snapshots.append(json.loads(json.dumps({str(k): v for k, v in model.items()})))

    return db, res, snapshots


def _doc_as_model(store, db, res, **kw):
    rows = store.doc(db, res, **kw).collect()
    return {
        str(r[RECORD_KEY]): {
            "customer": r["customer"], "amount": r["amount"], "status": r["status"]
        }
        for r in rows
    }


def test_every_revision_matches_model(store, scripted):
    db, res, snapshots = scripted
    for r, expected in enumerate(snapshots, start=1):
        assert _doc_as_model(store, db, res, revision=r) == expected, f"revision {r}"


def test_open_by_timestamp_boundaries(store, scripted):
    db, res, snapshots = scripted
    # exactly at commit time → that revision; just before → previous
    assert _doc_as_model(store, db, res, timestamp=ts(2)) == snapshots[2]
    assert _doc_as_model(store, db, res, timestamp=ts(2) - timedelta(seconds=1)) == snapshots[1]
    assert _doc_as_model(store, db, res, timestamp=ts(100)) == snapshots[-1]
    with pytest.raises(KeyError):
        store.doc(db, res, timestamp=ts(0) - timedelta(days=1))


def test_history_listing(store, scripted):
    db, res, _ = scripted
    hist = {r["revision"]: r for r in store.history(db, res).collect()}
    assert len(hist) == 5
    assert hist[1]["author"] == "alice" and hist[1]["message"] == "initial"
    assert hist[4]["message"] == "del 1"
    assert hist[3]["kind"] == "checkpoint"
    assert hist[4]["kind"] == "delta"
    assert store.latest_revision(db, res) == 5
    assert store.revision_timestamp(db, res, 2) == ts(1)


def test_open_revisions_window(store, scripted):
    db, res, _ = scripted
    assert store.open_revisions(db, res, ts(1), ts(3)) == [2, 3, 4]


def test_temporal_operators(store, scripted):
    db, res, _ = scripted
    hv = store.history_view(db, res)

    # all-times of order 2: status new@r1, shipped@r2..r5
    o2 = {r["revision"]: r["status"] for r in T.all_times(hv, 2).collect()}
    assert o2 == {1: "new", 2: "shipped", 3: "shipped", 4: "shipped", 5: "shipped"}

    # previous/next over the revision axis
    pn = {
        (r[RECORD_KEY], r["revision"]): (r["prev_status"], r["next_status"])
        for r in T.with_next(T.with_previous(hv, ["status"]), ["status"]).collect()
    }
    assert pn[(2, 1)] == (None, "shipped")
    assert pn[(2, 2)] == ("new", "shipped")

    # first/last
    firsts = {r[RECORD_KEY]: r["revision"] for r in T.first(hv).collect()}
    lasts = {r[RECORD_KEY]: r["revision"] for r in T.last(hv).collect()}
    assert firsts == {1: 1, 2: 1, 3: 1, 4: 3}
    assert lasts == {1: 3, 2: 5, 3: 5, 4: 5}  # order 1 deleted in r4

    # item-history: only revisions where the record changed
    ih = sorted(
        (r[RECORD_KEY], r["revision"]) for r in T.item_history(hv).collect()
    )
    assert ih == [(1, 1), (2, 1), (2, 2), (3, 1), (3, 5), (4, 3)]

    # past/future
    assert T.past(hv, 2).select("revision").distinct().count() == 1
    assert T.future(hv, 4, include_self=True).select("revision").distinct().count() == 2

    # tombstone semantics
    assert T.is_deleted(hv, 1, 4) is True
    assert T.is_deleted(hv, 1, 3) is False
    assert T.is_deleted(hv, 2, 5) is False


def test_diff_ops(store, scripted):
    db, res, _ = scripted
    ops = {r[RECORD_KEY]: r["op"] for r in store.diff(db, res, 1, 5).collect()}
    assert ops == {1: "delete", 2: "update", 3: "update", 4: "insert"}

    # default = node mode (JsonDiffSerializer granularity): whole-doc
    # ops at path '', changed leaves as per-field ops at their path
    payload = json.loads(store.diff_json(db, res, 1, 5))
    assert payload["old-revision"] == 1 and payload["new-revision"] == 5
    by = {(d["recordKey"], d["path"]): d for d in payload["diffs"]}
    ins = by[(4, "")]
    assert ins["type"] == "insert" and json.loads(ins["new"])["customer"] == "dave"
    dele = by[(1, "")]
    assert dele["type"] == "delete" and "new" not in dele
    upd = by[(2, "/status")]
    assert upd["type"] == "update" and (upd["old"], upd["new"]) == ("new", "shipped")

    # legacy record mode keeps whole-record payloads
    payload = json.loads(store.diff_json(db, res, 1, 5, mode="record"))
    by_key = {d["recordKey"]: d for d in payload["diffs"]}
    assert by_key[4]["new"]["customer"] == "dave"
    assert by_key[2]["old"]["status"] == "new" and by_key[2]["new"]["status"] == "shipped"

    # identity diff is empty
    assert store.diff(db, res, 5, 5).count() == 0


def test_rename_field(store, scripted, spark):
    db, res, _ = scripted
    store.rename_field(db, res, "status", "state", message="rename")
    cols = store.doc(db, res).columns
    assert "state" in cols and "status" not in cols
    # earlier revisions unaffected
    assert "status" in store.doc(db, res, revision=5).columns


def test_bitemporal_scenario(store, spark):
    """FIXTURES.md §5: price correction. r1 (tx Jan 10): price=100
    valid from Jan 1. r2 (tx Jan 20): corrected to 95 valid from
    Jan 1."""
    db, res = "testdb", "prices"
    r1 = spark.createDataFrame(
        [(1, 100, datetime(2024, 1, 1), None)],
        "id long, price long, validFrom timestamp, validTo timestamp",
    )
    store.store(db, res, r1, key="id", commit_timestamp=ts(9))
    r2 = spark.createDataFrame(
        [(1, 95, datetime(2024, 1, 1), None)],
        "id long, price long, validFrom timestamp, validTo timestamp",
    )
    store.upsert_records(db, res, r2, key="id", commit_timestamp=ts(19))

    jan16 = datetime(2024, 1, 16, tzinfo=timezone.utc)
    jan1 = datetime(2024, 1, 1, tzinfo=timezone.utc)

    # "What did we THINK the price was on Jan 16?" → tx-time Jan 16
    thought = store.open_bitemporal(db, res, tx_time=jan16, valid_time=jan16)
    assert [r["price"] for r in thought.collect()] == [100]

    # "What WAS the price on Jan 1 (best knowledge)?" → latest tx time
    actual = store.valid_at(store.doc(db, res), jan1)
    assert [r["price"] for r in actual.collect()] == [95]


def test_lifecycle(store, spark):
    db = "lifecycle_db"
    df = spark.createDataFrame([(1, "x")], "id long, v string")
    assert not store.exists(db, "r")
    store.store(db, "r", df, key="id")
    assert store.database_exists(db) and store.exists(db, "r")
    with pytest.raises(ValueError):
        store.store(db, "r", df, key="id")
    store.drop_resource(db, "r")
    assert not store.exists(db, "r")
    store.drop_database(db)
    assert not store.database_exists(db)


def test_path_summary_off_combination(spark, tmp_path):
    """PathSummaryOffTest: statistics default to the summary setting,
    so summary-off alone works (resources still create and serve);
    explicitly asking for statistics WITHOUT a summary is impossible
    and fails closed at construction."""
    import pytest as _pytest

    from sirix_spark.store.docstore import DocStoreError, DocumentStore

    s = DocumentStore(spark, str(tmp_path / "a"), path_summary=False)
    assert s.path_stats is False  # defaulted off with the summary
    s.store("json-path1", "a.jn", '[{"age":10},{"age":20}]')
    assert s.exists("json-path1", "a.jn")
    with _pytest.raises(DocStoreError, match="path statistics require"):
        DocumentStore(
            spark, str(tmp_path / "b"), path_summary=False, path_stats=True
        )
