"""Vector collection = a Parquet table + declared vector properties.

The reference's "collection" is a Qdrant collection created with
``VectorParams(size, distance)`` and filled via point upserts
(``Qdrant/VectorDB/Database.py:10-20``, ``Qdrant/main.py:58-78``).
Here a collection is a warehouse directory of Parquet plus a tiny JSON
properties sidecar (vector dim + metric), with the invariants the
reference only implied made explicit and *validated at write time*:

* ``vector`` column is ARRAY<FLOAT/DOUBLE> with ``size(vector) == dim``
* vectors are L2-normalized when ``metric == "cosine"`` (so search can
  always score with a dot product)
* ``id`` is unique — upsert is last-writer-wins on id

Write-time validation is a filter + count on the violating rows — a
narrow scan, no shuffle.  Upsert without Delta is expressed as
anti-join + union rewrite (at scale you'd swap the sink for Delta's
``MERGE INTO`` keyed on id; the logical op is identical).

For the production 100 TB sink shape — snapshot isolation, file-level
copy-on-write MERGE, time travel, multi-writer optimistic concurrency
— use :mod:`legalchatbot_vectordb_exp_spark.sources.versioned`.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from legalchatbot_vectordb_exp_spark.functions.vector import (
    dot,
    l2_norm,
    l2_normalize,
    nearest_centroid,
    normalize_vec,
    vector_lit,
)

_PROPS_FILE = "_collection.json"

# journaled-swap protocol files (see _journaled_swap /
# _apply_merge_swap / _recover_merge): the journal lives INSIDE the
# collection directory (`_`-prefixed, so the parquet reader ignores
# it); staging and trash are SIBLING directories, never scanned.
_MERGE_JOURNAL = "_sparse_merge_commit.json"

# adaptive doc-slicing (create_sparse doc_slices="auto"): hard cap on
# any single bucket's slice count — past this the per-slice files are
# small enough that further splitting only buys file-count overhead
_AUTO_SLICE_MAX = 64
_MERGE_STAGING_SUFFIX = ".merge_staging"
_MERGE_TRASH_SUFFIX = ".merge_trash"

# dynamic-partition write sizing (create_sparse / merge_sparse): the
# writer pays a per-file open/sort/commit cost, so the write-task count
# is derived from the DATA — enough tasks that no task owns more than
# ~_PARTS_PER_WRITE_TASK partition dirs or sorts more than
# ~_ROWS_PER_WRITE_TASK posting rows.  Never a core-count constant:
# a tiny layout writes with a handful of tasks (measured 9.4 s → 2.2 s
# for the identical 247-file sf0.1 layout when the task count dropped
# from the 32-core shuffle default to 4), a 100 TB layout derives
# thousands of tasks from its row count.
_PARTS_PER_WRITE_TASK = 64
_ROWS_PER_WRITE_TASK = 4_000_000


def _write_tasks(n_rows: int, n_parts: int) -> int:
    return max(
        1,
        -(-int(n_parts) // _PARTS_PER_WRITE_TASK),
        -(-int(n_rows) // _ROWS_PER_WRITE_TASK),
    )


def _part_rel(part_cols, key) -> str:
    """Relative dir of one partition key, e.g. ``bucket=3/dslice=1``."""
    return os.path.join(*(f"{c}={v}" for c, v in zip(part_cols, key)))


def _data_entries(d: str) -> list[str]:
    """Entries of ``d`` that hold table data: parquet files, partition
    dirs and their ``.crc`` twins.  ``_``-prefixed sidecars (props,
    journal, ``_SUCCESS``, attached sparse layouts) are not data."""
    return sorted(
        n for n in os.listdir(d) if not n.lstrip(".").startswith("_")
    )


def _no_fault(stage: str) -> None:
    """Crash-injection seam: tests monkeypatch ``_MERGE_FAULT`` to
    raise at a precise point of the journaled swap protocol and then
    assert the collection reopens at exactly the pre- or the
    post-rewrite state.  Production: no-op."""
    return


_MERGE_FAULT = _no_fault

# DBSF fusion collects each prefetch on the driver (the sequential
# rank-order fold IS the cross-engine determinism contract); this cap
# bounds that collect so a caller can't turn it into a million-row
# driver materialization by passing a huge prefetch_limit.
DBSF_PREFETCH_CAP = 1024


class VectorCollection:
    """DDL/upsert/search-surface for one vector table under a warehouse
    directory (mirrors the reference Database wrapper's capability set:
    create/recreate, upsert, catalog listing, top-k search input)."""

    # (collection path, where-string) -> cached (n, m) cardinality
    # row for search_ivf's filtered planner; write paths invalidate
    # the collection's entries (see _invalidate_card_cache)
    _CARD_CACHE: dict = {}

    def __init__(self, spark: SparkSession, warehouse: str, name: str):
        self.spark = spark
        self.warehouse = warehouse
        self.name = name
        self.path = os.path.join(warehouse, name)

    def _invalidate_card_cache(self) -> None:
        for key in [
            k for k in VectorCollection._CARD_CACHE if k[0] == self.path
        ]:
            del VectorCollection._CARD_CACHE[key]

    # ------------------------------------------------------------- catalog

    @staticmethod
    def list_collections(warehouse: str) -> list[str]:
        """Names of all collections in the warehouse
        (``Database.get_collections``, ``Qdrant/VectorDB/Database.py:7-8``)."""
        if not os.path.isdir(warehouse):
            return []
        return sorted(
            d
            for d in os.listdir(warehouse)
            if os.path.isfile(os.path.join(warehouse, d, _PROPS_FILE))
        )

    @property
    def properties(self) -> dict:
        with open(os.path.join(self.path, _PROPS_FILE)) as f:
            return json.load(f)

    def exists(self) -> bool:
        return os.path.isfile(os.path.join(self.path, _PROPS_FILE))

    # ----------------------------------------------------------------- DDL

    def create(
        self,
        df: DataFrame,
        dim: int,
        metric: str = "cosine",
        vector_col: str = "vector",
        id_col: str = "id",
        normalize: bool = True,
    ) -> "VectorCollection":
        """Truncate-and-create (the reference's ``recreate_collection``,
        ``Qdrant/VectorDB/Database.py:10-14``): overwrite the table,
        record (dim, metric) properties, validate, optionally normalize."""
        out = self._validated(df, dim, vector_col, id_col)
        if normalize and metric == "cosine":
            out = out.withColumn(vector_col, l2_normalize(vector_col))
        out.write.mode("overwrite").parquet(self.path)
        with open(os.path.join(self.path, _PROPS_FILE), "w") as f:
            json.dump(
                {
                    "dim": dim,
                    "metric": metric,
                    "vector_col": vector_col,
                    "id_col": id_col,
                },
                f,
            )
        self._invalidate_card_cache()
        return self

    def _validated(
        self, df: DataFrame, dim: int, vector_col: str, id_col: str
    ) -> DataFrame:
        # one aggregation job for both invariants (dim violations as a
        # conditional sum, duplicates as rows minus distinct ids),
        # not two full scans — this runs on every create/upsert
        row = df.agg(
            F.sum(
                (F.col(vector_col).isNull() | (F.size(vector_col) != dim))
                .cast("int")
            ).alias("bad"),
            (F.count(F.lit(1)) - F.countDistinct(F.col(id_col))).alias(
                "dupes"
            ),
        ).first()
        bad, dupes = row["bad"] or 0, row["dupes"] or 0
        if bad:
            raise ValueError(
                f"collection {self.name}: {bad} rows violate dim={dim}"
            )
        if dupes:
            raise ValueError(
                f"collection {self.name}: {dupes} duplicate ids"
            )
        return df

    # -------------------------------------------------------------- upsert

    def upsert(self, df: DataFrame) -> "VectorCollection":
        """Last-writer-wins upsert on id (``Database.upsert``,
        ``Qdrant/VectorDB/Database.py:16-20``): anti-join existing rows
        against incoming ids, union, rewrite the whole table through
        :meth:`_journaled_swap`.  With a Delta sink this
        becomes ``MERGE INTO ... WHEN MATCHED UPDATE WHEN NOT MATCHED
        INSERT`` and the rewrite disappears."""
        props = self.properties
        id_col, vector_col = props["id_col"], props["vector_col"]
        incoming = self._validated(df, props["dim"], vector_col, id_col)
        if props["metric"] == "cosine":
            incoming = incoming.withColumn(
                vector_col, l2_normalize(vector_col)
            )
        existing = self.read()
        merged = existing.join(
            incoming.select(id_col), on=id_col, how="left_anti"
        ).unionByName(incoming)
        self._journaled_swap(merged.write.mode("overwrite").parquet)
        return self

    # ------------------------------------------ point API (Qdrant parity)

    def retrieve(self, ids: list) -> list:
        """Fetch points by id (Qdrant ``retrieve``): an isin-pushed
        scan — on an id-clustered table the predicate prunes row
        groups before any IO — returned in ascending id order."""
        props = self.properties
        id_col = props["id_col"]
        return (
            self.read()
            .filter(F.col(id_col).isin(list(ids)))
            .orderBy(F.col(id_col).asc())
            .collect()
        )

    def count(self, where=None) -> int:
        """Exact point count, optionally filtered (Qdrant ``count``
        with ``count_filter``): one aggregate job whose predicate is a
        scan-stage PushedFilter — at 100 TB this is parquet row-group
        stats plus a narrow scan of the filter column only."""
        base = self.read()
        if where is not None:
            base = base.filter(
                F.expr(where) if isinstance(where, str) else where
            )
        return base.count()

    def delete_where(self, predicate) -> "VectorCollection":
        """DELETE points matching a payload predicate (Qdrant
        ``delete`` with a filter selector).  SQL DELETE semantics: a
        row where the predicate is NULL is KEPT.  Expressed as one
        filtered rewrite; on the versioned sink the same op is
        file-level copy-on-write or a deletion vector
        (:meth:`..versioned.VersionedCollection.delete_where`)."""
        pred = (
            F.expr(predicate) if isinstance(predicate, str) else predicate
        )
        survivors = self.read().filter(
            ~F.coalesce(pred, F.lit(False))
        )
        self._journaled_swap(survivors.write.mode("overwrite").parquet)
        return self

    def set_payload(
        self, assignments: dict, where
    ) -> "VectorCollection":
        """UPDATE payload columns where a predicate holds (Qdrant
        ``set_payload`` with a filter selector): each assignment is a
        ``when(pred, expr).otherwise(current)`` projection — pure
        scan-stage expression work, one rewrite, vectors untouched.
        ``assignments`` maps column name → SQL expression string."""
        props = self.properties
        protected = {props["id_col"], props["vector_col"]}
        bad = protected & set(assignments)
        if bad:
            raise ValueError(
                f"set_payload cannot modify {sorted(bad)}; use upsert "
                f"for vector/id changes"
            )
        pred = F.expr(where) if isinstance(where, str) else where
        hit = F.coalesce(pred, F.lit(False))
        base = self.read()
        # ONE select, not chained withColumn: the predicate and every
        # assignment expression resolve against the ORIGINAL row —
        # UPDATE semantics.  (Chained withColumn would re-evaluate the
        # filter and later expressions against already-updated
        # columns, so `{label: label+100, flag: 1} where label < 5`
        # would never set flag on the rows that matched.)
        out = base.select(
            *[
                F.when(hit, F.expr(assignments[c])).otherwise(F.col(c))
                .alias(c)
                if c in assignments
                else F.col(c)
                for c in base.columns
            ]
        )
        self._journaled_swap(out.write.mode("overwrite").parquet)
        return self

    # ---------------------------------------------------------------- read

    def read(self) -> DataFrame:
        # complete any crash-interrupted journaled merge BEFORE the
        # scan plans against the directory (one exists() check on the
        # steady path — see _recover_merge)
        self._recover_merge()
        return self.spark.read.parquet(self.path)

    # ------------------------------------------------------------- IVF mode

    def create_ivf(
        self,
        df: DataFrame,
        dim: int,
        n_clusters: int = 16,
        vector_col: str = "vector",
        id_col: str = "id",
        kmeans_iters: int = 0,
    ) -> "VectorCollection":
        """Create the collection *partitioned by nearest-centroid id* —
        the IVF storage layout: at 100 TB a probe query reads only
        nprobe/n_clusters of the data via parquet partition pruning.

        Seed centroids are n_clusters deterministic sample rows (every
        ceil(n/k)-th by id).  ``kmeans_iters`` > 0 runs that many
        spherical-Lloyd refinement rounds before the final assignment:
        assign → per-cluster per-component mean as a *wide aggregate*
        (dim avg columns, map-side partial agg — one shuffle of
        n_clusters × dim cells, never the vectors) → re-normalize.
        Only the n_clusters × dim centroid matrix touches the driver.
        Off by default: float averaging order makes refined centroids
        run-to-run nondeterministic, which oracle-hashed queries can't
        tolerate.  Centroid vectors are stored in the properties
        sidecar so probing needs no table scan.
        """
        out = self._validated(df, dim, vector_col, id_col)
        out = out.withColumn(vector_col, l2_normalize(vector_col))

        n = out.count()
        step = max(n // n_clusters, 1)
        centroid_rows = (
            out.select(id_col, vector_col)
            .withColumn("_rn", F.row_number().over(Window.orderBy(id_col)))
            .filter((F.col("_rn") - 1) % step == 0)
            .limit(n_clusters)
            .collect()
        )
        centroids = [(i, list(map(float, r[1]))) for i, r in enumerate(centroid_rows)]

        for _ in range(kmeans_iters):
            centroids = self._lloyd_round(out, centroids, dim, vector_col)

        assigned = out.withColumn(
            "cluster_id", nearest_centroid(vector_col, centroids)
        )
        assigned.write.mode("overwrite").partitionBy("cluster_id").parquet(
            self.path
        )
        with open(os.path.join(self.path, _PROPS_FILE), "w") as f:
            json.dump(
                {
                    "dim": dim,
                    "metric": "cosine",
                    "vector_col": vector_col,
                    "id_col": id_col,
                    "layout": "ivf",
                    "centroids": centroids,
                },
                f,
            )
        self._invalidate_card_cache()
        return self

    def _lloyd_round(
        self, df: DataFrame, centroids, dim: int, vector_col: str
    ):
        """One spherical k-means round: assign every row to its nearest
        centroid, average each cluster component-wise, re-normalize to
        the unit sphere.  Empty clusters keep their previous centroid.
        The aggregate is dim wide avg columns (map-side combine), so
        the shuffle carries one dim-wide row per cluster."""
        assigned = df.withColumn(
            "cluster_id", nearest_centroid(vector_col, centroids)
        )
        comps = [
            F.avg(F.col(vector_col)[i].cast("double")).alias(f"_c{i}")
            for i in range(dim)
        ]
        stats = assigned.groupBy("cluster_id").agg(*comps).collect()
        refined = dict(centroids)
        for r in stats:
            refined[r["cluster_id"]] = normalize_vec(
                [float(r[f"_c{i}"]) for i in range(dim)]
            )
        return sorted(refined.items())

    def upsert_ivf(self, df: DataFrame) -> "VectorCollection":
        """Partition-scoped upsert for IVF collections — the scale
        answer to ``upsert``'s full rewrite: only the cluster
        partitions an incoming row lands in (or leaves: an updated
        vector may re-cluster) are rewritten.  At nlist=4096 an upsert
        touching 3 cells rewrites 3/4096 of the table instead of all
        of it.

        Mechanics: assign incoming rows to centroids → affected =
        new cells ∪ cells holding stale versions of incoming ids (the
        latter found by an id semi-join that reads only the id +
        partition columns) → merge those cells' rows (anti-join on id,
        last-writer-wins) → stage them partitioned by cluster_id → one
        :meth:`_journaled_swap` commit swaps every affected cell in
        (a cell the upsert emptied is dropped).  A crash reopens at
        the pre- or post-upsert state, so a re-clustered id never sits
        in both its old and its new cell.  Nothing is materialized on
        the driver.  With Delta this whole method is ``MERGE INTO``."""
        props = self.properties
        if props.get("layout") != "ivf":
            raise ValueError(
                f"collection {self.name} is not IVF-partitioned"
            )
        id_col, vector_col = props["id_col"], props["vector_col"]
        incoming = self._validated(df, props["dim"], vector_col, id_col)
        incoming = incoming.withColumn(vector_col, l2_normalize(vector_col))
        incoming = incoming.withColumn(
            "cluster_id", nearest_centroid(vector_col, props["centroids"])
        )

        new_cells = {
            r[0] for r in incoming.select("cluster_id").distinct().collect()
        }
        stale_cells = {
            r[0]
            for r in self.read()
            .join(F.broadcast(incoming.select(id_col)), id_col, "semi")
            .select("cluster_id")
            .distinct()
            .collect()
        }
        affected = sorted(new_cells | stale_cells)

        kept = (
            self.read()
            .filter(F.col("cluster_id").isin(affected))
            .join(
                F.broadcast(incoming.select(id_col)), id_col, "left_anti"
            )
        )
        merged = kept.unionByName(incoming.select(*kept.columns))
        self._journaled_swap(
            merged.write.mode("overwrite").partitionBy("cluster_id").parquet,
            ["cluster_id"],
            [[cell] for cell in affected],
        )
        return self

    def compact_ivf(
        self,
        target_file_bytes: int = 128 << 20,
        min_files: int = 2,
    ) -> dict:
        """Small-file compaction — the maintenance pass a continuously
        upserted store needs: every partition-scoped upsert rewrites
        its cells into fresh files, and at streaming cadence a hot
        cell accumulates hundreds of small parquet files whose
        open/footer overhead eventually dominates probe reads.

        Per cluster partition holding >= ``min_files`` data files,
        rewrite the cell into ``ceil(cell_bytes / target_file_bytes)``
        files (task-level decision from directory metadata only — no
        table scan to plan).  Every compacted cell is staged in the one
        staging sibling and swapped in by a single
        :meth:`_journaled_swap` commit, so a reader never sees a
        partial cell or a cell twice.  Returns ``{cells_compacted,
        files_before, files_after}``.
        """
        import math

        props = self.properties
        if props.get("layout") != "ivf":
            raise ValueError(f"collection {self.name} is not IVF-partitioned")

        def data_files(d: str) -> list[str]:
            return [
                f for f in os.listdir(d)
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            ]

        self._recover_merge()  # list the committed layout
        cells = []
        files_before = files_after = 0
        for part in sorted(os.listdir(self.path)):
            if not part.startswith("cluster_id="):
                continue
            pdir = os.path.join(self.path, part)
            files = data_files(pdir)
            files_before += len(files)
            if len(files) < min_files:
                files_after += len(files)
                continue
            cells.append((part, pdir, files))

        compacted = []
        for part, pdir, files in cells:
            cell_bytes = sum(
                os.path.getsize(os.path.join(pdir, f)) for f in files
            )
            n_out = max(1, math.ceil(cell_bytes / target_file_bytes))
            if n_out >= len(files):  # already at/under target shape
                files_after += len(files)
                continue
            compacted.append((part, pdir, n_out))

        def _stage(staging: str) -> None:
            for part, pdir, n_out in compacted:
                self.spark.read.parquet(pdir).coalesce(n_out).write.mode(
                    "overwrite"
                ).parquet(os.path.join(staging, part))

        if compacted:
            self._journaled_swap(
                _stage,
                ["cluster_id"],
                [[part.split("=", 1)[1]] for part, _, _ in compacted],
            )
        files_after += sum(len(data_files(p)) for _, p, _ in compacted)
        return {
            "cells_compacted": len(compacted),
            "files_before": files_before,
            "files_after": files_after,
        }

    def search_ivf(
        self,
        query_vec: list[float],
        k: int = 5,
        nprobe: int = 2,
        where=None,
        full_scan_threshold: int | None = None,
    ) -> DataFrame:
        """Probe the nprobe nearest centroids only: the cluster_id
        filter prunes parquet partitions before any IO happens.

        ``where`` (SQL string or Column) is a payload predicate —
        Qdrant's ``Filter(must=[FieldCondition(key, MatchValue(v))])``
        (the reference imports this API, ``Qdrant/main.py:4``).  It is
        PRE-filtering: the predicate is fused into the partition-pruned
        scan before any vector is scored, never applied after a top-k
        (post-filtering silently returns < k).  Strategy follows
        Qdrant's planner (:func:`..queries_ann.filtered_search_plan`):
        below ``full_scan_threshold`` matches → exact scoring over the
        filtered scan (no cell pruning — correctness does not depend on
        the index for tiny result sets); above → IVF with nprobe
        escalated by ``ceil(nprobe · n / matches)`` so expected
        candidate volume survives the filter's selectivity.  The two
        cardinality counts cost one NARROW FULL SCAN of the id/payload
        columns (the predicate is evaluated on every row — cheaper
        than the vector scan but a real per-query planning cost at
        scale; Qdrant amortizes it in a payload index), so the (n, m)
        pair is MEMOIZED per (collection, where) string — repeat
        searches of the same filter plan from the cache, and any
        write-path method would invalidate by clearing
        ``_CARD_CACHE``."""
        from legalchatbot_vectordb_exp_spark.operators.topk import topk_search

        props = self.properties
        q = normalize_vec(query_vec)
        base = self.read()
        if where is not None:
            from legalchatbot_vectordb_exp_spark.queries_ann import (
                filtered_search_plan,
            )

            flt = F.expr(where) if isinstance(where, str) else where
            matched = base.filter(flt)
            cache_key = (
                self.path,
                where if isinstance(where, str) else str(flt),
            )
            counts = VectorCollection._CARD_CACHE.get(cache_key)
            if counts is None:
                counts = base.agg(
                    F.count("*").alias("n"),
                    F.sum(flt.cast("long")).alias("m"),
                ).collect()[0]
                VectorCollection._CARD_CACHE[cache_key] = counts
            branch, esc = filtered_search_plan(
                int(counts["n"]),
                int(counts["m"] or 0),
                nlist=len(props["centroids"]),
                nprobe=nprobe,
                threshold=full_scan_threshold,
            )
            if branch == "full_scan":
                return topk_search(
                    matched,
                    q,
                    k=k,
                    vec_col=props["vector_col"],
                    id_col=props["id_col"],
                )
            base, nprobe = matched, esc
        scored = sorted(
            (
                (sum(a * b for a, b in zip(q, cvec)), cid)
                for cid, cvec in props["centroids"]
            ),
            reverse=True,
        )
        probe_ids = [cid for _, cid in scored[:nprobe]]
        pruned = base.filter(F.col("cluster_id").isin(probe_ids))
        return topk_search(
            pruned,
            q,
            k=k,
            vec_col=props["vector_col"],
            id_col=props["id_col"],
        )

    # --------------------- named vectors (multi-vector points)

    def create_multi(
        self,
        df: DataFrame,
        vectors: dict[str, dict],
        id_col: str = "id",
    ) -> "VectorCollection":
        """Qdrant NAMED VECTORS: one point carries several
        independently-searchable vectors, each column with its own
        ``{"dim": d, "metric": m}`` config (a title and a body
        embedding may have different dims).  Validation is ONE
        aggregate job covering every vector column (a conditional sum
        per name) plus the id-uniqueness check; cosine-metric names
        are L2-normalized at write so search is always a dot.  Each
        name is its own parquet column — a search in one named space
        never reads the other names' bytes (column pruning)."""
        aggs = [
            F.sum(
                (
                    F.col(name).isNull()
                    | (F.size(name) != int(cfg["dim"]))
                ).cast("int")
            ).alias(f"bad_{name}")
            for name, cfg in vectors.items()
        ]
        aggs.append(
            (F.count(F.lit(1)) - F.countDistinct(F.col(id_col))).alias(
                "dupes"
            )
        )
        row = df.agg(*aggs).first()
        # `or 0`: sum() over zero rows is NULL — an empty input is
        # valid (0 violations), matching create()/_validated()
        for name in vectors:
            if row[f"bad_{name}"] or 0:
                raise ValueError(
                    f"collection {self.name}: {row[f'bad_{name}']} rows "
                    f"violate dim={vectors[name]['dim']} for vector "
                    f"'{name}'"
                )
        if row["dupes"] or 0:
            raise ValueError(
                f"collection {self.name}: {row['dupes']} duplicate ids"
            )
        out = df
        for name, cfg in vectors.items():
            if cfg.get("metric", "cosine") == "cosine":
                out = out.withColumn(name, l2_normalize(name))
        out.write.mode("errorifexists").parquet(self.path)
        with open(os.path.join(self.path, _PROPS_FILE), "w") as f:
            json.dump(
                {
                    "id_col": id_col,
                    "layout": "multi",
                    "vectors": {
                        n: {
                            "dim": int(c["dim"]),
                            "metric": c.get("metric", "cosine"),
                        }
                        for n, c in vectors.items()
                    },
                },
                f,
            )
        self._invalidate_card_cache()
        return self

    # --------------------- sparse vectors (inverted-index postings)

    def create_sparse(
        self,
        df: DataFrame,
        id_col: str = "id",
        term_col: str = "term_id",
        weight_col: str = "weight",
        n_buckets: int = 64,
        doc_slices: int | str = 1,
        parts_budget: int | None = None,
    ) -> "VectorCollection":
        """Qdrant NAMED SPARSE VECTORS as a relation: a point's sparse
        vector ``{term_id: weight}`` is stored as posting rows
        ``(id, term_id, weight)`` — the inverted index IS the table.
        Laid out partitioned by ``term_id % n_buckets`` so a search's
        term equi-join prunes every non-matching bucket directory at
        planning time and reads only the query terms' postings (the
        columnar answer to walking posting lists).  Validation is one
        aggregate: non-null terms/weights and (id, term) uniqueness
        (a sparse vector has one weight per dimension).

        ``doc_slices > 1`` adds a second partition level ``dslice =
        id % doc_slices`` INSIDE each term bucket.  Search cost is
        unchanged (the term predicate prunes buckets; all slices of a
        matched bucket are read).  What it buys is UPDATE granularity:
        Zipf vocabularies concentrate bytes in the common-term buckets
        every document touches — measured 90 % of layout bytes behind
        the 25/128 buckets a 2-doc change touches — so bucket-level
        rewrite degrades toward full rewrite; slicing by doc id means
        a changed doc rewrites only ITS slice of each touched bucket,
        capping the rewrite at ~|changed-doc slices|/doc_slices of the
        touched buckets (merge_sparse prunes on both levels).

        ``doc_slices="auto"`` (ADAPTIVE slicing, r18 §18e follow-up)
        removes uniform slicing's file-count trade-off (measured 1.9x
        disk at toy file sizes for doc_slices=16): slice counts are
        chosen PER BUCKET from the build-time bucket-size histogram,
        water-filling style — ``slices(b) = ceil(rows_b · budget /
        total_rows)``, clamped to [1, {max}] — so the ~25/128 heavy
        Zipf buckets split many ways while the light tail stays
        whole.  Every bucket keeps a dslice level (light ones have
        just ``dslice=0``) so partition discovery sees one consistent
        depth.  With the default budget of ``2·n_buckets`` total
        parts, a T-bucket change rewrites ≤ T/(2·n_buckets) of the
        layout's bytes (each touched slice holds ≤ total/budget rows
        by construction) at ≤ ~2x the unsliced file count.  The map
        is persisted in the props (``bucket_slices``) and reused by
        merge_sparse; buckets born later (new terms) default to one
        slice.  The histogram is one ≤ n_buckets-row aggregate —
        bounded driver state at any corpus size."""
        if parts_budget is not None:
            # silently-ignored knobs are worse than errors: the budget
            # only shapes the ADAPTIVE layout, and zero/negative would
            # quietly fall back to the default
            if doc_slices != "auto":
                raise ValueError(
                    "parts_budget only applies to doc_slices='auto'"
                )
            if int(parts_budget) < 1:
                raise ValueError("parts_budget must be a positive int")
        # the input is typically a DERIVED frame (tokenize + explode +
        # aggregate); the build reads it up to three times (validation
        # agg, adaptive histogram, write) — pin it once so the
        # derivation runs once, not per job.  The pinned set is the
        # posting relation itself (bounded, spills to disk); at
        # production scale the same role is a parquet staging write.
        df = df.select(id_col, term_col, weight_col).persist()
        try:
            return self._create_sparse_pinned(
                df, id_col, term_col, weight_col, n_buckets,
                doc_slices, parts_budget,
            )
        finally:
            df.unpersist()

    def _create_sparse_pinned(
        self,
        df: DataFrame,
        id_col: str,
        term_col: str,
        weight_col: str,
        n_buckets: int,
        doc_slices: int | str,
        parts_budget: int | None,
    ) -> "VectorCollection":
        out = df.withColumn(
            "bucket",
            F.pmod(F.col(term_col), F.lit(n_buckets)).cast("int"),
        )
        # ONE per-bucket aggregate serves BOTH the validation contract
        # and the adaptive-slicing histogram (r19 verdict item 3: the
        # old flow ran a global validation agg plus a second
        # full-relation histogram pass).  The global numbers fold
        # exactly from the per-bucket rows: bucket is a pure function
        # of term_id, so every non-null (id, term) pair lives in
        # exactly one bucket and distinct counts are additive; rows
        # with a NULL term land in the NULL-bucket group and still
        # count toward ``bad``.  Driver state stays ≤ n_buckets + 1
        # rows at any corpus size.
        stats = out.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (
                    F.col(id_col).isNull()
                    | F.col(term_col).isNull()
                    | F.col(weight_col).isNull()
                ).cast("int")
            ).alias("bad"),
            F.countDistinct(F.col(id_col), F.col(term_col)).alias(
                "n_distinct"
            ),
        ).collect()
        n = sum(r["n"] for r in stats)
        bad = sum(r["bad"] or 0 for r in stats)
        dupes = n - sum(r["n_distinct"] for r in stats)
        if bad:
            # id included (same contract merge_sparse enforces): a NULL
            # id computes dslice=NULL and lands in the Hive DEFAULT
            # partition, where the search's integer bucket/slice
            # predicates can never see it — invisible-to-search data
            raise ValueError(
                f"collection {self.name}: {bad} postings have "
                f"NULL id/term/weight"
            )
        if dupes:
            raise ValueError(
                f"collection {self.name}: {dupes} duplicate "
                f"(id, term) postings"
            )
        part_cols = ["bucket"]
        bucket_slices: dict[str, int] | None = None
        est_parts = len(stats)
        if doc_slices == "auto":
            budget = (
                int(parts_budget) if parts_budget else 2 * n_buckets
            )
            total = n or 1
            bucket_slices = {
                str(int(r["bucket"])): max(
                    1,
                    min(
                        _AUTO_SLICE_MAX,
                        -(-r["n"] * budget // total),  # ceil
                    ),
                )
                for r in stats
            }
            out = self._with_mapped_dslice(out, id_col, bucket_slices)
            part_cols.append("dslice")
            est_parts = sum(bucket_slices.values())
        elif doc_slices > 1:
            out = out.withColumn(
                "dslice",
                F.pmod(F.col(id_col), F.lit(doc_slices)).cast("int"),
            )
            part_cols.append("dslice")
            est_parts = len(stats) * int(doc_slices)
        if n:
            # repartition ON the partition columns first: without it
            # every shuffle task writes its own file into every
            # partition dir it touches (measured ~2-7 files/dir), and
            # at slice-level dir sizes the per-file parquet footer
            # overhead dominates the layout (the 1.9x disk of §18e was
            # mostly THIS, not the slicing itself).  One dir -> one
            # writing task -> one file; at 100 TB pair this with
            # spark.sql.files.maxRecordsPerFile so a giant bucket
            # still splits.  The write-task COUNT is derived from the
            # data, never from the core count: enough tasks that no
            # task owns more than ~64 partition dirs (the dynamic-
            # partition writer pays a per-file open/sort/commit cost —
            # measured 9.4 s at 32 shuffle-partition tasks vs 2.2 s at
            # 4 tasks for the identical 247-file layout at sf0.1) and
            # enough that no task sorts more than ~4M posting rows.
            out.repartition(
                _write_tasks(n, est_parts), *part_cols
            ).write.mode(
                "overwrite"
            ).partitionBy(*part_cols).parquet(self.path)
        else:
            # Empty collections are valid, but partitionBy on an empty
            # frame writes only _SUCCESS and a later read fails schema
            # inference.  Write one empty schema-bearing parquet file
            # instead (bucket as a plain column — the search's bucket
            # filter still binds; there is nothing to prune).
            out.write.mode("overwrite").parquet(self.path)
        props = {
            "id_col": id_col,
            "term_col": term_col,
            "weight_col": weight_col,
            "n_buckets": n_buckets,
            "doc_slices": doc_slices,
            "layout": "sparse",
        }
        if bucket_slices is not None:
            props["bucket_slices"] = bucket_slices
        with open(os.path.join(self.path, _PROPS_FILE), "w") as f:
            json.dump(props, f)
        self._invalidate_card_cache()
        return self

    def _with_mapped_dslice(
        self, df: DataFrame, id_col: str, bucket_slices: dict[str, int]
    ) -> DataFrame:
        """``dslice = id % slices(bucket)`` under a PER-BUCKET slice
        map (adaptive layout): the ≤ n_buckets-row map broadcasts onto
        the postings — no shuffle — and buckets absent from it (terms
        born after the build) default to a single slice."""
        spark = df.sparkSession
        slices_df = spark.createDataFrame(
            [(int(b), int(s)) for b, s in bucket_slices.items()],
            "bucket int, __n_slices int",
        )
        return (
            df.join(F.broadcast(slices_df), "bucket", "left")
            .withColumn(
                "dslice",
                F.pmod(
                    F.col(id_col),
                    F.coalesce(F.col("__n_slices"), F.lit(1)),
                ).cast("int"),
            )
            .drop("__n_slices")
        )

    def merge_sparse(
        self, retire: DataFrame | None, add: DataFrame | None
    ) -> dict:
        """Incremental maintenance of the term-bucketed posting layout
        (r17 item 5): rewrite ONLY the buckets a change touches, the
        manifest-stats shape the IVF incremental path uses.

        ``retire`` carries the CHANGED DOCS' OLD postings (the change
        feed's delete/update_preimage rows — an inverted index locates
        a doc's postings by its terms, so the preimage IS the bucket
        locator; no corpus scan); ``add`` carries insert/
        update_postimage postings.  Touched buckets = buckets of any
        retire/add row; each is rebuilt as (current ∖ retired-keys) ∪
        additions and swapped in; untouched bucket files are never
        read or written.  On a doc-sliced layout (``doc_slices > 1``)
        the unit of rewrite shrinks to the (bucket, dslice) PAIR: only
        the changed docs' own slices of each touched bucket are read
        and swapped — the common-term buckets every document shares
        stay 1/doc_slices-granular instead of all-or-nothing.  The
        swap is :meth:`_journaled_swap` (write staging → fsync journal
        → per-partition renames → sweep): a PROCESS crash at any point
        reopens at exactly pre-merge or exactly fully-merged, never a
        half state.  Returns
        ``{"touched_buckets": …, "touched_parts": …, "n_buckets": …}``
        so callers can pin the O(changes) claim."""
        props = self.properties
        if props.get("layout") != "sparse":
            raise ValueError(
                f"collection {self.name} is not a sparse collection"
            )
        id_col, term_col, weight_col = (
            props["id_col"],
            props["term_col"],
            props["weight_col"],
        )
        n_buckets = int(props["n_buckets"])
        raw_slices = props.get("doc_slices", 1)
        adaptive = raw_slices == "auto"
        doc_slices = 1 if adaptive else int(raw_slices)
        bucket_slices = props.get("bucket_slices") or {}
        sliced = adaptive or doc_slices > 1
        part_cols = ["bucket", "dslice"] if sliced else ["bucket"]

        def _b(df):
            out = df.withColumn(
                "bucket",
                F.pmod(F.col(term_col), F.lit(n_buckets)).cast("int"),
            )
            if adaptive:
                # per-bucket slice counts from the build-time map
                # (new-term buckets default to one slice) — the SAME
                # derivation the layout was written with, so the
                # change rows' (bucket, dslice) keys locate exactly
                # the partitions holding the changed docs' postings
                out = self._with_mapped_dslice(out, id_col, bucket_slices)
            elif sliced:
                out = out.withColumn(
                    "dslice",
                    F.pmod(F.col(id_col), F.lit(doc_slices)).cast("int"),
                )
            return out

        # pin the bucketed change batches: both are typically DERIVED
        # frames (tokenize + explode + aggregate) and the merge
        # references each up to six times (null check, touched-key
        # collect, anti-join, union, uniqueness guard, staging write)
        # — without the cut every reference re-derives the batch.
        # Bounded by the CHANGE size, never the corpus.  LAZY (r20):
        # eager checkpoints paid one standalone job per frame; lazy
        # ones materialize inside the tagged aggregate below — same
        # cached blocks, two fewer jobs per merge.
        retire_b = (
            _b(retire.select(id_col, term_col, weight_col))
            .localCheckpoint(eager=False)
            if retire is not None
            else None
        )
        add_b = (
            _b(add.select(id_col, term_col, weight_col))
            .localCheckpoint(eager=False)
            if add is not None
            else None
        )
        empty_stats = {
            "touched_buckets": 0,
            "touched_parts": 0,
            "n_buckets": n_buckets,
        }
        if retire_b is None and add_b is None:
            return empty_stats
        # ONE labeled aggregate serves BOTH the null contract and the
        # touched-key discovery (r20: the old flow ran a null-check agg
        # per frame PLUS a union+distinct collect — three jobs for
        # change-batch metadata one groupBy covers).  Same null
        # contract create_sparse enforces (id AND term AND weight): a
        # NULL id/term in the change batch would otherwise crash the
        # bucket sort with a bare TypeError — or worse, land postings
        # in the Hive default partition where the search's integer
        # bucket filter can never see them; a NULL weight would poison
        # every dot product its bucket serves.  Driver rows are
        # bounded by 2 × touched parts — change-sized, never corpus-
        # sized.
        tagged = None
        for label, f in (("retire", retire_b), ("add", add_b)):
            if f is None:
                continue
            t = f.select(
                F.lit(label).alias("_src"),
                *part_cols,
                (
                    F.col(id_col).isNull()
                    | F.col(term_col).isNull()
                    | F.col(weight_col).isNull()
                ).cast("int").alias("_bad"),
            )
            tagged = t if tagged is None else tagged.union(t)
        key_rows = (
            tagged.groupBy("_src", *part_cols)
            .agg(F.sum("_bad").alias("bad"))
            .collect()
        )
        for label in ("retire", "add"):
            bad = sum(
                r["bad"] or 0 for r in key_rows if r["_src"] == label
            )
            if bad:
                raise ValueError(
                    f"collection {self.name}: {bad} {label} postings "
                    f"have NULL id/term/weight"
                )
        touched = sorted(
            {tuple(r[c] for c in part_cols) for r in key_rows}
        )
        if not touched:
            return empty_stats
        if sliced:
            # exact (bucket, dslice) pruning, GROUPED per bucket:
            # ``(bucket = b AND dslice IN (s...))`` OR-chained over
            # buckets covers exactly the touched pairs (a global
            # bucket.isin × dslice.isin product would re-read pairs
            # the change never touched), while keeping the predicate
            # ≤ n_buckets legs — the first adaptive-layout run built
            # one conjunction PER PAIR (hundreds of legs for a large
            # change batch) and paid for it in planning time
            by_bucket: dict[int, list[int]] = {}
            for b, s in touched:
                by_bucket.setdefault(b, []).append(s)
            pred = None
            for b, slices in sorted(by_bucket.items()):
                leg = (F.col("bucket") == b) & (
                    F.col("dslice").isin(slices)
                )
                pred = leg if pred is None else (pred | leg)
        else:
            pred = F.col("bucket").isin([b for (b,) in touched])
        keep = self.read().filter(pred)
        if retire_b is not None:
            keep = keep.join(
                retire_b.select(id_col, term_col),
                [id_col, term_col],
                "anti",
            )
        merged = keep.select(id_col, term_col, weight_col, *part_cols)
        if add_b is not None:
            merged = merged.unionByName(add_b)
        # pin: two jobs read `merged` (uniqueness guard, staging
        # write) and the checkpoint keeps them from recomputing the
        # read+anti-join+union each time.  LAZY (r20): materializes
        # inside the uniqueness aggregate instead of paying a third
        # standalone job; the staging write then reads cached blocks.
        merged = merged.localCheckpoint(eager=False)
        # the layout's (id, term) uniqueness invariant survives the
        # merge: an add row whose key was not retired first would
        # corrupt scores silently (create_sparse validates the same).
        # count + distinct fold into ONE aggregate (r20: was two jobs);
        # countDistinct's null-skip is safe here because both merge
        # inputs are null-validated (keep at create time, add above).
        row = merged.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(F.col(id_col), F.col(term_col)).alias("nd"),
        ).first()
        n_merged = row["n"]
        dupes = n_merged - row["nd"]
        if dupes:
            raise ValueError(
                f"collection {self.name}: merge_sparse would create "
                f"{dupes} duplicate (id, term) postings — retire a "
                f"doc's old postings before adding its new ones"
            )
        # a merge that retired everything it touched stages no
        # partition: if no parquet file survives OUTSIDE the touched
        # partitions, the swap would leave the collection without a
        # schema-bearing file and it becomes unreadable — stage one
        # empty parquet file at the root instead (create_sparse's
        # empty-layout fix, journaled with the rest of the plan)
        touched_dirs = {
            os.path.join(self.path, _part_rel(part_cols, k)) for k in touched
        }

        def _in_touched(root: str) -> bool:
            # exact-dir or proper-subdir match ONLY ("bucket=1" must
            # not swallow "bucket=12")
            return any(
                root == t or root.startswith(t + os.sep) for t in touched_dirs
            )

        def _stage(staging: str) -> None:
            if n_merged:
                # one file per touched partition (same repartition-on-
                # part-cols rationale as create_sparse): the merged
                # frame is O(changes), so this shuffle is change-sized;
                # the write-task count is derived from the change size
                # and the touched-part count, never the core count
                # (see _write_tasks)
                merged.repartition(
                    _write_tasks(n_merged, len(touched)), *part_cols
                ).write.mode("overwrite").partitionBy(*part_cols).parquet(
                    staging
                )
            elif not any(
                any(f.endswith(".parquet") for f in files)
                for root, _, files in os.walk(self.path)
                if not _in_touched(root)
            ):
                merged.write.mode("overwrite").parquet(staging)

        self._journaled_swap(_stage, part_cols, touched)
        return {
            "touched_buckets": len({k[0] for k in touched}),
            "touched_parts": len(touched),
            "n_buckets": n_buckets,
        }

    def _journaled_swap(self, write, part_cols=(), keys=None) -> None:
        """Replace data on disk: the one swap behind every rewrite
        (``upsert``, ``delete_where``, ``set_payload``, ``upsert_ivf``,
        ``compact_ivf``, ``merge_sparse``).  ``write(staging)`` writes
        the new data into a staging dir.  ``keys`` lists the
        ``part_cols`` partitions it replaces (a key with no staged dir
        is dropped: the rewrite emptied it); ``None`` means a
        whole-table rewrite, which retires every live data entry and
        promotes every staged one.

        Protocol (the plain-Parquet twin of the versioned sink's staged
        write + manifest commit):
          1. write the new data to a STAGING sibling dir — the live
             layout is untouched, a crash here reads the pre-state;
          2. fsync-and-rename a JOURNAL inside the collection listing
             the planned moves — THE commit point (the parquet reader
             ignores `_`-prefixed files);
          3. per planned entry: rename the live entry aside into a
             TRASH sibling, rename the staged entry in — pure renames,
             no data rewrite, each step idempotent;
          4. remove journal, trash, staging.
        A crash before 2 leaves the pre-state (the next swap sweeps
        the stale staging); a crash after 2 is rolled FORWARD by
        :meth:`_recover_merge` on the next ``read()``.  A reader
        therefore sees the pre-state or the post-state, never a half
        state and never a lost partition, and no protocol dir ever
        lives inside the collection.  Guarantee scope: PROCESS
        crashes.  Against OS crash/power loss the journal is fsync'd
        but the staged parquet files are not (Spark's executor writes
        don't fsync), so a durable journal could promise data the page
        cache never flushed — full power-loss atomicity needs fsync of
        every staged file + parent dirs before the commit point, which
        is the versioned sink's manifest protocol territory, not this
        plain-parquet layout's."""
        import shutil

        # a committed swap must land before its staging is swept
        self._recover_merge()
        staging = self.path + _MERGE_STAGING_SUFFIX
        trash = self.path + _MERGE_TRASH_SUFFIX
        for d in (staging, trash):
            if os.path.isdir(d):
                shutil.rmtree(d)  # pre-commit leftovers of a dead swap
        write(staging)
        os.makedirs(staging, exist_ok=True)
        _MERGE_FAULT("staged")
        whole = keys is None
        keys = [list(k) for k in keys or ()]
        staged = [
            k
            for k in keys
            if os.path.isdir(os.path.join(staging, _part_rel(part_cols, k)))
        ]
        plan = {
            "part_cols": list(part_cols),
            "swap_keys": staged,
            # a touched partition the rewrite EMPTIED has no staged dir
            # (partitionBy writes nothing for absent keys) — a pure
            # drop, recorded separately so replaying the plan after a
            # crash can tell "already swapped in" from "must be deleted"
            "drop_keys": [k for k in keys if k not in staged],
            "root_files": [
                f
                for f in _data_entries(staging)
                if not os.path.isdir(os.path.join(staging, f))
            ],
            "retire_root": _data_entries(self.path) if whole else [],
        }
        journal = os.path.join(self.path, _MERGE_JOURNAL)
        tmp = journal + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(plan, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.rename(tmp, journal)  # commit point
        _MERGE_FAULT("committed")
        self._finish_swap(plan)

    def _finish_swap(self, plan: dict) -> None:
        """Apply a committed plan, check that it landed, then drop the
        journal and sweep staging and trash.  Shared by the writer
        right after its commit and by :meth:`_recover_merge`."""
        import shutil
        import time

        self._apply_merge_swap(plan)
        # POST-CONDITION before the journal (and with it the roll-
        # forward ability) is deleted: every swapped-in entry must
        # exist.  A concurrent twin applier can hold a key mid-swap for
        # a moment (live renamed aside, staged not yet renamed in), so
        # a missing entry is re-checked briefly before it is treated
        # as a real protocol failure.
        for rel in [
            _part_rel(plan["part_cols"], k) for k in plan["swap_keys"]
        ] + list(plan.get("root_files", ())):
            for _ in range(50):
                if os.path.exists(os.path.join(self.path, rel)):
                    break
                time.sleep(0.01)
            else:
                raise RuntimeError(
                    f"collection {self.name}: swap left {rel} missing "
                    f"— journal kept for roll-forward"
                )
        # a concurrent twin applier may have finished and swept first
        # — losing that race is success
        try:
            os.remove(os.path.join(self.path, _MERGE_JOURNAL))
        except FileNotFoundError:
            pass
        for d in (
            self.path + _MERGE_STAGING_SUFFIX,
            self.path + _MERGE_TRASH_SUFFIX,
        ):
            shutil.rmtree(d, ignore_errors=True)
        self._invalidate_card_cache()

    def _apply_merge_swap(self, plan: dict) -> None:
        """Execute — or RE-execute after a crash — a journaled swap
        plan.  Idempotent by construction: a swap key whose staged dir
        is gone was already moved in; a drop key or retired root entry
        whose live copy is gone was already moved aside; a root file
        that already exists was already promoted.  Replaying a
        half-applied plan therefore completes exactly the remaining
        moves.

        CONCURRENT appliers are tolerated too: a reader's
        :meth:`_recover_merge` may replay the same plan while the
        writing process is still mid-swap (the journal exists from
        commit until sweep), so every rename races a twin performing
        the identical move.  Each step therefore treats "source
        vanished" as "the other applier did it first" — both sides
        converge on the same final state instead of crashing a swap
        that in fact committed."""
        staging = self.path + _MERGE_STAGING_SUFFIX
        trash = self.path + _MERGE_TRASH_SUFFIX
        part_cols = plan["part_cols"]

        def _race_ok(fn, *args) -> None:
            # the twin applier executes the SAME plan: losing a rename
            # race leaves exactly the state this step was creating.
            # ONLY the two lost-race shapes are swallowed — source
            # vanished (twin moved it first) and destination exists
            # (twin renamed in first).  Any other OSError (EACCES,
            # ENOSPC, EIO, ...) is a REAL failure: swallowing it and
            # then sweeping journal/staging/trash would manufacture
            # exactly the silent half-applied state the journaled
            # protocol exists to prevent (r19 ADVICE, medium).
            import errno

            try:
                fn(*args)
            except FileNotFoundError:
                pass
            except OSError as exc:
                if exc.errno in (errno.ENOTEMPTY, errno.EEXIST):
                    pass
                else:
                    raise

        def _move_aside(rel: str) -> None:
            live = os.path.join(self.path, rel)
            dst = os.path.join(trash, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if os.path.exists(dst):
                # the aside copy already landed.  In a single-applier
                # replay this state (dst AND live both present) is
                # unreachable — renames are atomic — so it only arises
                # when a CONCURRENT twin finished this key's whole
                # swap between our exists(live) check and here, i.e.
                # `live` now holds the NEW data.  Leave it alone (the
                # caller's own isdir(live) re-check then skips the
                # stag→live rename and both appliers converge); the
                # old shape rmtree'd it on the assumption it was a
                # duplicate and permanently deleted the freshly-merged
                # partition (r19 ADVICE, high).
                return
            _race_ok(os.rename, live, dst)

        for key in plan["swap_keys"]:
            rel = _part_rel(part_cols, key)
            stag = os.path.join(staging, rel)
            live = os.path.join(self.path, rel)
            if not os.path.isdir(stag):
                continue  # already swapped in on a previous attempt
            if os.path.isdir(live):
                _move_aside(rel)
            os.makedirs(os.path.dirname(live), exist_ok=True)
            if not os.path.isdir(live):
                _race_ok(os.rename, stag, live)
            _MERGE_FAULT("swap-step")
        for key in plan["drop_keys"]:
            rel = _part_rel(part_cols, key)
            if os.path.isdir(os.path.join(self.path, rel)):
                _move_aside(rel)
            _MERGE_FAULT("drop-step")
        for name in plan.get("retire_root", ()):
            if os.path.lexists(os.path.join(self.path, name)):
                _move_aside(name)
            _MERGE_FAULT("drop-step")
        for fname in plan.get("root_files", ()):
            src = os.path.join(staging, fname)
            dst = os.path.join(self.path, fname)
            if os.path.exists(src) and not os.path.exists(dst):
                _race_ok(os.rename, src, dst)
            _MERGE_FAULT("swap-step")

    def _recover_merge(self) -> None:
        """Roll FORWARD a journaled swap that a crash left
        half-applied (called from :meth:`read`, so the first reader
        after the crash completes the swap before any scan plans
        against the directory).  No journal = nothing committed =
        nothing to do; stale staging/trash siblings from a PRE-commit
        crash are harmless (outside the read path) and the next swap
        sweeps them."""
        journal = os.path.join(self.path, _MERGE_JOURNAL)
        if not os.path.exists(journal):
            return
        try:
            with open(journal) as fh:
                plan = json.load(fh)
        except FileNotFoundError:
            return  # the writing process swept it between the checks
        self._finish_swap(plan)

    def search_sparse(self, query: dict, k: int = 10) -> DataFrame:
        """Sparse-vector search (Qdrant sparse dot product):
        ``query`` maps term → weight (string terms are hashed with the
        same md5 term-id derivation as ingestion).  score(id) =
        Σ matching terms ``weight · query_weight``; top-k with
        (score DESC, id ASC).

        Plan: the bucket + term predicates prune partitions/row
        groups before IO; the query frame (|nonzero terms| rows)
        broadcasts; the groupBy shuffles only MATCHED postings.
        Integer weights keep the score exact (BIGINT); any float
        weight promotes to double."""
        from legalchatbot_vectordb_exp_spark.queries_sparse import (
            term_id_of,
        )

        props = self.properties
        if props.get("layout") != "sparse":
            raise ValueError(
                f"collection {self.name} is not a sparse collection"
            )
        id_col, term_col, weight_col = (
            props["id_col"],
            props["term_col"],
            props["weight_col"],
        )
        n_buckets = int(props["n_buckets"])
        terms = {
            (term_id_of(t) if isinstance(t, str) else int(t)): w
            for t, w in query.items()
        }
        if not terms:
            raise ValueError("search_sparse needs a non-empty query")
        buckets = sorted({tid % n_buckets for tid in terms})
        all_int = all(isinstance(w, int) for w in terms.values())
        qdf = self.spark.createDataFrame(
            [(tid, float(w)) for tid, w in sorted(terms.items())],
            f"{term_col} long, _qw double",
        )
        scored = (
            self.read()
            .filter(F.col("bucket").isin(buckets))
            .filter(F.col(term_col).isin(list(terms)))
            .join(F.broadcast(qdf), term_col)
            .groupBy(id_col)
            .agg(
                F.sum(F.col(weight_col) * F.col("_qw")).alias("_score")
            )
        )
        score = (
            F.col("_score").cast("bigint")
            if all_int
            else F.col("_score")
        )
        return (
            scored.select(id_col, score.alias("score"))
            .orderBy(F.desc("score"), F.col(id_col).asc())
            .limit(k)
        )

    def search_named(
        self,
        using: str,
        query_vec: list[float],
        k: int = 5,
        where=None,
    ) -> DataFrame:
        """Top-k in ONE named vector space (``search(using="title")``).
        The scan projects only the id, payload, and the chosen name's
        column; a payload predicate composes as pre-filtering."""
        from legalchatbot_vectordb_exp_spark.operators.topk import topk_search

        props = self.properties
        cfg = props.get("vectors", {}).get(using)
        if cfg is None:
            raise KeyError(
                f"collection {self.name} has no named vector '{using}' "
                f"(names: {sorted(props.get('vectors', {}))})"
            )
        if len(query_vec) != cfg["dim"]:
            raise ValueError(
                f"query dim {len(query_vec)} != '{using}' dim {cfg['dim']}"
            )
        q = list(map(float, query_vec))
        if cfg["metric"] == "cosine":
            q = normalize_vec(q)
        base = self.read()
        if where is not None:
            base = base.filter(
                F.expr(where) if isinstance(where, str) else where
            )
        # project away the OTHER named vectors before scoring — the
        # scan then column-prunes their bytes entirely
        drop = [n for n in props.get("vectors", {}) if n != using]
        return topk_search(
            base.drop(*drop),
            q,
            k=k,
            vec_col=using,
            id_col=props["id_col"],
        )

    # ------------------------- Qdrant read-API family (round 16)

    def search_groups(
        self,
        query_vec: list[float],
        group_by: str,
        groups: int = 3,
        per_group: int = 2,
    ) -> DataFrame:
        """Qdrant ``search_groups``: the top ``groups`` payload groups
        ranked by their best hit, at most ``per_group`` hits each (the
        result-diversity API — chunk hits grouped by parent doc).  One
        shuffle: the per-group window exchange keyed on ``group_by``;
        the group ranking then runs over the ≤ groups·per_group capped
        frame.  Exact semantics — plan mirrors the oracle-checked
        ``ann_group_search`` query."""
        props = self.properties
        q = list(map(float, query_vec))
        if props.get("metric") == "cosine":
            # normalize ONLY under cosine — a dot-metric collection's
            # scores must match search_named/recommend and the
            # oracle-checked ann_group_search plan this mirrors
            q = normalize_vec(q)
        id_col = props["id_col"]
        scored = self.read().withColumn(
            "score", dot(props["vector_col"], vector_lit(q))
        )
        w_hit = Window.partitionBy(group_by).orderBy(
            F.desc("score"), F.col(id_col).asc()
        )
        capped = scored.withColumn(
            "hit_rank", F.row_number().over(w_hit)
        ).filter(F.col("hit_rank") <= per_group)
        top_groups = (
            capped.groupBy(group_by)
            .agg(F.max("score").alias("best"))
            .withColumn(
                "group_rank",
                F.row_number().over(
                    Window.orderBy(F.desc("best"), F.col(group_by).asc())
                ),
            )
            .filter(F.col("group_rank") <= groups)
            .drop("best")
        )
        return capped.join(F.broadcast(top_groups), group_by).orderBy(
            "group_rank", "hit_rank"
        )

    def scroll(
        self,
        page_size: int = 10,
        where=None,
        cursor=None,
        order_by: str | None = None,
    ):
        """Qdrant ``scroll``: one page of filtered keyset pagination —
        ``(rows, next_cursor)`` where ``next_cursor`` feeds the next
        call and ``None`` means exhausted.  Keyset (``id > cursor``),
        never OFFSET: each page is O(page) via the id order + parquet
        min-max pruning no matter how deep the scroll, where OFFSET-N
        re-scans N rows per page.

        ``order_by=<payload column>`` pages in that column's ascending
        order (Qdrant scroll ``order_by``): the cursor becomes the
        COMPOSITE ``(last_value, last_id)`` and the next page filters
        ``col > v OR (col = v AND id > i)`` — lexicographic keyset, so
        ties larger than a page are paged through correctly.  Rows
        whose order column is NULL are excluded (a ``>`` cursor cannot
        resume through NULL; Qdrant likewise returns only rows the
        order index covers)."""
        props = self.properties
        id_col = props["id_col"]
        page = self.read()
        if where is not None:
            page = page.filter(
                F.expr(where) if isinstance(where, str) else where
            )
        if order_by is None:
            if cursor is not None:
                page = page.filter(F.col(id_col) > cursor)
            rows = (
                page.orderBy(F.col(id_col).asc())
                .limit(page_size)
                .collect()
            )
            next_cursor = (
                rows[-1][id_col] if len(rows) == page_size else None
            )
            return rows, next_cursor
        page = page.filter(F.col(order_by).isNotNull())
        if cursor is not None:
            v, i = cursor
            page = page.filter(
                (F.col(order_by) > v)
                | ((F.col(order_by) == v) & (F.col(id_col) > i))
            )
        rows = (
            page.orderBy(F.col(order_by).asc(), F.col(id_col).asc())
            .limit(page_size)
            .collect()
        )
        next_cursor = (
            (rows[-1][order_by], rows[-1][id_col])
            if len(rows) == page_size
            else None
        )
        return rows, next_cursor

    def recommend(
        self,
        positive: list,
        negative: list | None = None,
        k: int = 5,
    ) -> DataFrame:
        """Qdrant ``recommend`` (best_score strategy): with
        ``max_pos = max(sim to positives)`` and ``max_neg = max(sim
        to negatives)``, score = ``max_pos`` when ``max_pos >
        max_neg`` else ``-(max_neg²)`` — Qdrant's exact best_score
        formula (positives-dominated candidates rank by their best
        positive; negatives-dominated candidates rank by how WEAKLY
        negative they are, the square keeping them below every
        positive-dominated one).  Example ids excluded.  Example
        vectors are one metadata-scale driver lookup; each becomes a
        scan-stage dot literal, so the plan is scan → expressions →
        TakeOrderedAndProject — zero shuffles, the
        single-query-search shape regardless of example count.
        Mirrors the oracle-checked ``ann_recommend`` query."""
        props = self.properties
        id_col, vec_col = props["id_col"], props["vector_col"]
        negative = negative or []
        if not positive:
            raise ValueError(
                "recommend needs at least one positive example id"
            )
        ids = list(positive) + list(negative)
        vecs = {
            r[id_col]: [float(x) for x in r[vec_col]]
            for r in self.read()
            .filter(F.col(id_col).isin(ids))
            .select(id_col, vec_col)
            .collect()
        }
        missing = [i for i in ids if i not in vecs]
        if missing:
            raise ValueError(f"recommend: example ids not found: {missing}")

        def best(example_ids):
            scores = [dot(vec_col, vector_lit(vecs[i])) for i in example_ids]
            return F.greatest(*scores) if len(scores) > 1 else scores[0]

        s = best(positive)
        if negative:
            max_neg = best(negative)
            s = F.when(s > max_neg, s).otherwise(-(max_neg * max_neg))
        return (
            self.read()
            .filter(~F.col(id_col).isin(ids))
            .withColumn("score", s)
            .orderBy(F.desc("score"), F.col(id_col).asc())
            .limit(k)
        )

    def facet(
        self, key: str, limit: int = 10, where=None
    ) -> DataFrame:
        """Qdrant ``facet``: the distinct values of one payload field
        with exact match counts, most-frequent first (count DESC,
        value ASC), optionally under a pre-filter.  One partially-
        aggregated groupBy — the shuffle carries distinct values, and
        at 100 TB the scan reads only the facet + filter columns
        (column pruning)."""
        base = self.read()
        if where is not None:
            base = base.filter(
                F.expr(where) if isinstance(where, str) else where
            )
        return (
            base.groupBy(F.col(key).alias("value"))
            .agg(F.count(F.lit(1)).alias("count"))
            .orderBy(F.desc("count"), F.col("value").asc())
            .limit(limit)
        )

    def discover(
        self,
        target,
        context: list[tuple],
        k: int = 5,
    ) -> DataFrame:
        """Discovery-style search (the shape of Qdrant's ``discover``
        API — a target plus (positive, negative) context pairs; this
        implementation ranks lexicographically by (context pairs
        satisfied DESC, target similarity DESC, id ASC), where a pair
        is satisfied when sim(v, pos) > sim(v, neg) — stated as its
        own contract rather than claiming formula parity with the
        server's internal loss).  ``target`` is an example id;
        example/target rows are excluded.  All example vectors become
        scan-stage dot literals (one metadata-scale driver lookup), so
        the plan is scan → expressions → TakeOrderedAndProject — zero
        shuffles at any example count.  Mirrors the oracle-checked
        ``ann_discover`` query."""
        props = self.properties
        id_col, vec_col = props["id_col"], props["vector_col"]
        ids = [target] + [x for pair in context for x in pair]
        vecs = {
            r[id_col]: [float(v) for v in r[vec_col]]
            for r in self.read()
            .filter(F.col(id_col).isin(ids))
            .select(id_col, vec_col)
            .collect()
        }
        missing = [i for i in ids if i not in vecs]
        if missing:
            raise ValueError(f"discover: example ids not found: {missing}")

        def lit_dot(example_id):
            return dot(vec_col, vector_lit(vecs[example_id]))

        pairs_ok = None
        for pos, neg in context:
            sat = (lit_dot(pos) > lit_dot(neg)).cast("int")
            pairs_ok = sat if pairs_ok is None else pairs_ok + sat
        if pairs_ok is None:
            pairs_ok = F.lit(0)
        return (
            self.read()
            .filter(~F.col(id_col).isin(ids))
            .withColumn("pairs_ok", pairs_ok)
            .withColumn("target_sim", lit_dot(target))
            .orderBy(
                F.desc("pairs_ok"),
                F.desc("target_sim"),
                F.col(id_col).asc(),
            )
            .limit(k)
            .select(id_col, "pairs_ok", "target_sim")
        )

    def search_matrix(
        self, where, sample_limit: int = 64, top: int = 3
    ) -> DataFrame:
        """Qdrant ``search_matrix``: pairwise similarity among a
        FILTERED sample of points, trimmed to each row's ``top``
        nearest.  The sample is hard-capped at ``sample_limit`` rows
        (ascending-id — deterministic) because the pair volume is
        sample²: the cap is the API contract that keeps the matrix
        user-facing-bounded no matter the filter's selectivity.
        Mirrors the oracle-checked ``ann_search_matrix`` query."""
        props = self.properties
        id_col, vec_col = props["id_col"], props["vector_col"]
        flt = F.expr(where) if isinstance(where, str) else where
        sample = (
            self.read()
            .filter(flt)
            .orderBy(F.col(id_col).asc())
            .limit(sample_limit)
            .select(id_col, vec_col)
        )
        a = sample.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va")
        )
        b = sample.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb")
        )
        pairs = a.join(
            F.broadcast(b), F.col("id_a") != F.col("id_b")
        ).withColumn("score", dot("_va", "_vb"))
        w = Window.partitionBy("id_a").orderBy(
            F.desc("score"), F.col("id_b").asc()
        )
        return (
            pairs.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= top)
            .select("id_a", "id_b", "score")
        )

    # ----------- named sparse vectors on a multi collection (round 17)

    def attach_sparse(
        self,
        name: str,
        postings: DataFrame,
        term_col: str = "term_id",
        weight_col: str = "weight",
        n_buckets: int = 64,
    ) -> "VectorCollection":
        """Attach a NAMED SPARSE vector space to a ``create_multi``
        collection (Qdrant stores sparse vectors beside the dense
        named vectors of the SAME collection — one point, several
        spaces).  ``postings`` carries ``(id_col, term_col,
        weight_col)`` rows for the collection's points; they land as
        a term-bucketed sidecar table under the collection directory
        (``_sparse_<name>/`` — the underscore keeps the sidecar
        invisible to the point table's own parquet discovery), the
        same layout ``create_sparse`` uses,
        and the name registers in the properties next to the dense
        vector configs.  Validation: (id, term) uniqueness + non-null
        terms/weights (one aggregate), and every posting id must
        exist in the collection (an anti-join count)."""
        props = self.properties
        if props.get("layout") != "multi":
            raise ValueError(
                f"collection {self.name}: attach_sparse needs a "
                f"create_multi collection"
            )
        if name in props.get("vectors", {}) or name in props.get(
            "sparse_vectors", {}
        ):
            raise ValueError(
                f"collection {self.name}: vector name {name!r} taken"
            )
        id_col = props["id_col"]
        row = postings.agg(
            F.sum(
                (
                    F.col(term_col).isNull() | F.col(weight_col).isNull()
                ).cast("int")
            ).alias("bad"),
            (
                F.count(F.lit(1))
                - F.countDistinct(F.col(id_col), F.col(term_col))
            ).alias("dupes"),
        ).first()
        if row["bad"] or 0:
            raise ValueError(
                f"collection {self.name}: {row['bad']} postings have "
                f"NULL term/weight"
            )
        if row["dupes"] or 0:
            raise ValueError(
                f"collection {self.name}: {row['dupes']} duplicate "
                f"(id, term) postings"
            )
        orphans = (
            postings.select(id_col)
            .distinct()
            .join(self.read().select(id_col), id_col, "left_anti")
            .count()
        )
        if orphans:
            raise ValueError(
                f"collection {self.name}: {orphans} posting ids have "
                f"no point in the collection"
            )
        out = postings.select(id_col, term_col, weight_col).withColumn(
            "bucket",
            F.pmod(F.col(term_col), F.lit(n_buckets)).cast("int"),
        )
        out.write.mode("errorifexists").partitionBy("bucket").parquet(
            os.path.join(self.path, f"_sparse_{name}")
        )
        sparse = dict(props.get("sparse_vectors", {}))
        sparse[name] = {
            "term_col": term_col,
            "weight_col": weight_col,
            "n_buckets": n_buckets,
        }
        props["sparse_vectors"] = sparse
        with open(os.path.join(self.path, _PROPS_FILE), "w") as f:
            json.dump(props, f)
        return self

    def _search_sparse_named(
        self, name: str, query: dict, k: int
    ) -> DataFrame:
        """Top-k in one named SPARSE space: bucket-pruned sidecar scan,
        broadcast query terms, sum(w·qw) per id — identical plan to
        ``search_sparse`` on a standalone sparse collection."""
        from legalchatbot_vectordb_exp_spark.queries_sparse import (
            term_id_of,
        )

        props = self.properties
        cfg = props.get("sparse_vectors", {}).get(name)
        if cfg is None:
            raise KeyError(
                f"collection {self.name} has no sparse vector "
                f"{name!r} (names: {sorted(props.get('sparse_vectors', {}))})"
            )
        id_col = props["id_col"]
        term_col, weight_col = cfg["term_col"], cfg["weight_col"]
        n_buckets = int(cfg["n_buckets"])
        terms = {
            (term_id_of(t) if isinstance(t, str) else int(t)): w
            for t, w in query.items()
        }
        if not terms:
            raise ValueError("sparse query needs at least one term")
        buckets = sorted({tid % n_buckets for tid in terms})
        all_int = all(isinstance(w, int) for w in terms.values())
        qdf = self.spark.createDataFrame(
            [(tid, float(w)) for tid, w in sorted(terms.items())],
            f"{term_col} long, _qw double",
        )
        scored = (
            self.spark.read.parquet(
                os.path.join(self.path, f"_sparse_{name}")
            )
            .filter(F.col("bucket").isin(buckets))
            .filter(F.col(term_col).isin(list(terms)))
            .join(F.broadcast(qdf), term_col)
            .groupBy(id_col)
            .agg(F.sum(F.col(weight_col) * F.col("_qw")).alias("_s"))
        )
        score = F.col("_s").cast("bigint") if all_int else F.col("_s")
        return (
            scored.select(id_col, score.alias("score"))
            .orderBy(F.desc("score"), F.col(id_col).asc())
            .limit(k)
        )

    def query_points(
        self,
        prefetch: list[dict],
        fusion: str = "rrf",
        k: int = 10,
        prefetch_limit: int = 100,
    ) -> DataFrame:
        """Qdrant ``query_points`` with server-side fusion on ONE
        collection: each prefetch runs in its own named space —
        ``{"using": <dense name>, "vector": [...]}`` or ``{"using":
        <sparse name>, "terms": {...}}`` — and the ranked lists fuse
        by RRF (``fusion="rrf"``) or DBSF (``fusion="dbsf"``).  Each
        prefetch keeps its optimal plan (TakeOrderedAndProject /
        bucket-pruned posting aggregate); the fuse consumes ≤
        ``prefetch_limit``-row frames — metadata-scale.  DBSF follows
        the engine's stated contract (sequential rank-order μ/σ folds,
        linear beyond the ±3σ band, σ=0 → 0)."""
        from legalchatbot_vectordb_exp_spark.operators.fusion import (
            dbsf_constants,
            rrf_fuse,
        )

        props = self.properties
        id_col = props["id_col"]
        if fusion not in ("rrf", "dbsf"):
            raise ValueError(f"unknown fusion {fusion!r}")
        if not prefetch:
            raise ValueError(
                "query_points needs at least one prefetch spec"
            )
        if fusion == "dbsf" and prefetch_limit > DBSF_PREFETCH_CAP:
            # DBSF's determinism contract folds the collected prefetch
            # on the driver — safe ONLY because prefetches are
            # metadata-scale.  Refuse a limit that would silently turn
            # the driver fold into a large collect.
            raise ValueError(
                f"fusion='dbsf' collects each prefetch on the driver "
                f"(sequential-fold determinism contract): "
                f"prefetch_limit={prefetch_limit} exceeds the "
                f"documented cap {DBSF_PREFETCH_CAP}"
            )
        ranked = []
        for spec in prefetch:
            using = spec["using"]
            if "vector" in spec:
                top = self.search_named(
                    using, spec["vector"], k=prefetch_limit
                ).select(id_col, F.col("score").alias("_s"))
            elif "terms" in spec:
                top = self._search_sparse_named(
                    using, spec["terms"], k=prefetch_limit
                ).select(
                    id_col, F.col("score").cast("double").alias("_s")
                )
            else:
                raise ValueError(
                    "prefetch needs 'vector' (dense) or 'terms' (sparse)"
                )
            w = Window.orderBy(F.desc("_s"), F.col(id_col).asc())
            ranked.append(
                top.select(
                    id_col, "_s", F.row_number().over(w).alias("r")
                )
            )
        if fusion == "rrf":
            return rrf_fuse(
                ranked, id_col=id_col, k=60, topk=k, out_col="score"
            )
        norm = []
        for rdf in ranked:
            rows = rdf.orderBy("r").collect()
            mu, sigma = dbsf_constants([r["_s"] for r in rows])
            norm.append(
                self.spark.createDataFrame(
                    [
                        (
                            r[id_col],
                            0.0
                            if sigma == 0
                            else (r["_s"] - (mu - 3 * sigma))
                            / (6 * sigma),
                        )
                        for r in rows
                    ],
                    f"{id_col} long, _ns double",
                )
            )
        from functools import reduce

        fused = reduce(
            lambda a, b: a.withColumnRenamed("_ns", "_na").join(
                b.withColumnRenamed("_ns", "_nb"), id_col, "full"
            ).select(
                id_col,
                (
                    F.coalesce(F.col("_na"), F.lit(0.0))
                    + F.coalesce(F.col("_nb"), F.lit(0.0))
                ).alias("_ns"),
            ),
            norm,
        )
        return (
            fused.select(id_col, F.col("_ns").alias("score"))
            .orderBy(F.desc("score"), F.col(id_col).asc())
            .limit(k)
        )
