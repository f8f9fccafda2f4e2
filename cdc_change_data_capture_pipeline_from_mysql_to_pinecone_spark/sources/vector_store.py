"""Pinecone-shaped vector-store façade — the drop-in user API.

The reference's user talks to an index object: ``index.upsert(
[{id, values, metadata}, ...])`` (service_layer/service.py:151-166)
and ``index.query(vector, top_k, include_metadata=True)``
(utils/embeddings_utils.py:10-14). :class:`VectorStore` is that
surface over the engine's machinery, so "switching" is literal:

- storage  = the hash-bucketed keyed parquet table
  (sinks.upsert_parquet_partitioned / delete_keys): O(batch) MERGE
  rewriting only touched buckets, crash-safe atomic swaps,
  auto-sized + auto-regrowing bucket count;
- query    = operators.vectors: exact cosine top-k
  (TakeOrderedAndProject — never a global sort), the maintained IVF
  index as the one ANN path (``build_ivf`` once, then every
  upsert/delete keeps each row's ``_cell`` fresh), or hybrid
  vector+BM25 fusion;
- fetch    = bucket-pruned point lookups (only the partitions the
  requested ids hash into are read);
- delete   = the verb the reference's pipeline lacks entirely
  (its sweep only ever upserts — a source-side DELETE never reaches
  the index).

Semantics: upsert is last-CALL-wins per id — each call stamps a
monotonically increasing store version (persisted in a ``_verseq``
marker next to the table), so replaying an upsert batch is idempotent
and two sequential calls resolve to the later one, matching the
reference index's overwrite-by-id behavior.

Concurrency: every mutating call (upsert/delete) holds the table's
writer lock (:func:`.._commit.table_lock`) for its WHOLE
read-merge-swap span, so concurrent upserts from threads or processes
on one host serialize — each gets a distinct version and the final
state is the later call everywhere. The lock does not reach across
machines or object storage; for that, back the store with a
transactional table format (see the _commit module contract).

Read consistency (the explicit contract, ADVICE r8): reads are
LOCK-FREE and see "one committed recent state" — every writer commit
is an atomic rename, so a query never observes a torn bucket, but a
query that overlaps a writer may execute against the state from just
before OR just after that writer's swap (per bucket, for multi-bucket
commits: each bucket is some committed version ≥ the query's start).
This is the same regular-reader semantics an object-store parquet
table has. The one multi-file decision — query(mode='ivf')'s fast-path
gate — reads its two files (the rebuild-pending marker and the
centroids) under a short SHARED flock so the gate itself judges one
committed state; either branch it picks is then correct against
concurrent swaps (the `_cell` probe because upsert/delete keep each
row's `_cell` stamped under the committed quantizer, in the same
bucket swap as the row, with the pending marker covering build_ivf's
re-stamp window; the fallback because it is an exact scan). The row's
``_cell`` is the ONLY IVF assignment — there is no second table to
keep in step with it. Readers needing stricter
read-your-own-write isolation hold :func:`.._commit.table_lock`
around query + materialization, or back the store with a
transactional table format.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import vectors as vec_ops
from ._commit import atomic_write_file, table_lock, table_lock_shared
from .sinks import (
    _observed_bucket_ids,
    _read_marker,
    _read_marker_schema,
    delete_keys,
    read_keyed_table,
    recover_table,
    upsert_parquet_partitioned,
)

_VERSEQ = "_verseq"


class VectorStore:
    """A keyed vector index at ``path`` (created on first upsert).

    NAMESPACES (the reference upserts into ``namespace='task1'``,
    service_layer/service.py:166): every verb takes ``namespace=``;
    each namespace is its own independent keyed table in a hidden
    ``_ns-<name>`` subdirectory (underscore prefix: invisible to the
    root table's Spark file listing, so the DEFAULT namespace — the
    root — reads unchanged). Versions, locks, schema, and bucket
    layout are all per-namespace; cross-namespace ids never collide,
    matching the hosted-store contract.

    A bucket regrow of the root swaps the whole root directory, with
    the namespace directories hard-linked into the replacement. It
    holds only the root's writer lock, not a namespace writer's: a
    namespace commit that lands while the root regrows is lost, so
    regrow-sized root upserts must not overlap namespace writers."""

    def __init__(self, spark: SparkSession, path: str, dim: int):
        self.spark = spark
        self.path = path
        self.dim = dim
        recover_table(path)

    def _at(self, namespace: str) -> str:
        """Table path for a namespace ('' = the root/default one)."""
        if not namespace:
            return self.path
        if not namespace.replace("-", "").replace("_", "").isalnum():
            raise ValueError(
                f"namespace must be alphanumeric/-/_, got {namespace!r}"
            )
        return os.path.join(self.path, f"_ns-{namespace}")

    def namespaces(self) -> list[str]:
        """Namespaces with data ('' for the root, when present)."""
        out = [""] if _observed_bucket_ids(self.path, "kbucket") else []
        if os.path.isdir(self.path):
            for d in sorted(os.listdir(self.path)):
                if d.startswith("_ns-") and _observed_bucket_ids(
                    os.path.join(self.path, d), "kbucket"
                ):
                    out.append(d[len("_ns-"):])
        return out

    # -- write path --------------------------------------------------

    def _next_version(self, table_path: str) -> int:
        """Read-increment-replace of the ``_verseq`` file. NOT safe to
        call outside the table's writer lock: unsynchronized callers
        can read the same ``last`` and stamp the same version, making
        last-call-wins nondeterministic (max_by tie). Both call sites
        (upsert, build_ivf) hold :func:`table_lock` around the stamp
        AND the merge it versions. The write itself is atomic
        (tmp+replace): a crash inside a truncating open would zero the
        sequence and every later upsert would stamp versions BELOW the
        stored rows' — max_by would then silently keep stale data
        forever."""
        seq_path = os.path.join(table_path, _VERSEQ)
        last = 0
        if os.path.exists(seq_path):
            with open(seq_path) as fh:
                last = int(fh.read().strip() or 0)
        nxt = last + 1
        atomic_write_file(seq_path, str(nxt))
        return nxt

    def upsert(self, records: DataFrame | list[dict], namespace: str = "") -> int:
        """MERGE records (``id``, ``values``, optional extra columns
        e.g. ``metadata``) by id, last call wins. Returns the number
        of bucket partitions rewritten (O(batch), not O(index)).
        Serialized against other same-host writers by the table lock —
        held across stamp+merge so version order equals commit order."""
        tpath = self._at(namespace)  # validate the namespace first
        if not isinstance(records, DataFrame):
            if not records:
                return 0
            records = self.spark.createDataFrame(records)
        assert "id" in records.columns and "values" in records.columns
        with table_lock(tpath):
            # crash recovery BEFORE the merge reads current buckets
            # (review catch: __init__ recovers only the root table — a
            # write-only namespace workflow after a mid-swap crash
            # would merge against a missing bucket and silently drop
            # its committed rows, then a later read's recover would
            # delete the aside)
            recover_table(tpath)
            self._persist_schema(records, tpath)
            ver = self._next_version(tpath)
            stamped = records.withColumn("_ver", F.lit(ver))
            # maintained IVF (r8): the cell rides the ROW — assigned
            # here from the committed centroids and merged atomically
            # with the data, then used as the bucket files' cluster
            # key so query(mode='ivf')'s `_cell IN (probe)` predicate
            # prunes row groups instead of decoding every vector
            cents = self._ivf_centroids(tpath)
            if cents is not None:
                stamped = vec_ops.ivf_assign(
                    stamped.drop("_cell"), "id", "values", cents
                ).withColumnRenamed("cell", "_cell")
            # the merge executes the batch twice (bucket discovery,
            # write) — persist the bounded micro-batch across the
            # mutation so a caller-supplied expensive DataFrame (or the
            # cell assignment above) is computed once
            from pyspark import StorageLevel

            stamped = stamped.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                return upsert_parquet_partitioned(
                    self.spark, tpath, stamped, ["id"], "_ver",
                    cluster_cols=["_cell"] if cents is not None else None,
                )
            finally:
                stamped.unpersist()

    def delete(self, ids: list, namespace: str = "") -> int:
        """Remove ids; only their bucket partitions are rewritten.
        Empty id list is a no-op. Takes the same writer lock as
        upsert — a delete racing a merge is a lost-update hazard too.
        The IVF assignment rides the deleted rows, so it goes in the
        same bucket swap; rewritten buckets stay ``_cell``-clustered."""
        if not ids:
            return 0
        keys = self.spark.createDataFrame([(i,) for i in ids], ["id"])
        tpath = self._at(namespace)
        with table_lock(tpath):
            recover_table(tpath)  # same pre-merge recovery as upsert
            celled = "_cell" in self._table(namespace).columns
            return delete_keys(
                self.spark, tpath, keys, ["id"],
                cluster_cols=["_cell"] if celled else None,
            )

    # -- maintained IVF index ------------------------------------------

    def _rebuild_pending_path(self, table_path: str) -> str:
        """Marker that build_ivf has committed (or is about to commit)
        new centroids while the rows may still carry cells from the OLD
        quantizer. Written before the centroids and removed only after
        the re-stamp commits, so the `_cell` probe stays OFF (exact-scan
        fallback) across the whole window and after any crash inside
        it, until a build completes cleanly."""
        return os.path.join(table_path, "_ivf-rebuild-pending")

    def _centroids_path(self, table_path: str) -> str:
        # underscore prefix: invisible to the table's Spark file listing
        return os.path.join(table_path, "_ivf_centroids.json")

    def _ivf_centroids(self, table_path: str) -> list[tuple[int, list[float]]] | None:
        """The trained quantizer, or None when no index was built."""
        try:
            with open(self._centroids_path(table_path)) as fh:
                raw = json.load(fh)
        except FileNotFoundError:
            return None
        return [(int(c), [float(x) for x in v]) for c, v in raw]

    def build_ivf(self, k: int = 8, iters: int = 2, namespace: str = "") -> int:
        """Train the IVF coarse quantizer on the CURRENT corpus and
        REWRITE the table with the assigned ``_cell`` on every row,
        cell-clustered within each bucket's files — the offline REBUILD
        of the maintained-index contract (retraining centroids is never
        a tick; hosted ANN indexes work the same way). After this,
        every upsert/delete keeps row cells and clustering fresh in the
        rows' own bucket swaps, and ``query(mode='ivf')`` probes the
        table's ``_cell`` column: the pushed ``IN`` predicate prunes
        cell-clustered row groups, so the probe's I/O — not just its
        compute — is ~n_probe/k of the vector bytes. The O(table)
        rewrite is the build's cost, same class as the k-means training
        scans it already pays. The state on disk is
        ``_ivf_centroids.json`` plus the rebuild-pending marker while a
        build is in flight. Returns the table's committed row count."""
        tpath = self._at(namespace)
        with table_lock(tpath):
            recover_table(tpath)
            t = self._table(namespace)
            # emptiness checked BEFORE training (k-means over zero
            # seeds dies inside ivf_assign with a cryptic
            # empty-array AnalysisException, not this error)
            if t.limit(1).count() == 0:
                raise ValueError("build_ivf on an empty store")
            cents = vec_ops.train_ivf_centroids(
                t.select("id", "values", "_ver"), "id", "values", k=k, iters=iters
            )
            # one re-stamp version for the whole rebuild: re-upserted
            # rows must WIN the last-writer-wins merge against their
            # current images (an equal-version tie would be
            # nondeterministic)
            ver = self._next_version(tpath)
            # the centroids and the row re-stamp are two commits — flag
            # the window (see _rebuild_pending_path): any crash inside
            # it leaves the marker, disabling the `_cell` probe until a
            # build completes cleanly
            atomic_write_file(self._rebuild_pending_path(tpath), str(ver))
            atomic_write_file(
                self._centroids_path(tpath), json.dumps([[c, v] for c, v in cents])
            )
            restamped = (
                vec_ops.ivf_assign(
                    t.drop("kbucket", "_ver", "_cell"), "id", "values", cents
                )
                .withColumnRenamed("cell", "_cell")
                .withColumn("_ver", F.lit(ver))
            )
            upsert_parquet_partitioned(
                self.spark, tpath, restamped, ["id"], "_ver",
                cluster_cols=["_cell"],
            )
            os.remove(self._rebuild_pending_path(tpath))
            return _read_marker(tpath)[1]

    def _schema_path(self, table_path: str) -> str:
        return os.path.join(table_path, "_schema.ddl")

    def _persist_schema(self, records: DataFrame, table_path: str) -> None:
        """Remember the record schema (underscore file, invisible to
        Spark) so a store whose every row was deleted still reads as
        an EMPTY frame instead of failing parquet schema inference."""
        ddl_path = self._schema_path(table_path)
        if not os.path.exists(ddl_path):
            os.makedirs(table_path, exist_ok=True)
            import uuid

            tmp = ddl_path + f".tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as fh:
                fh.write(records.schema.json())
            os.replace(tmp, ddl_path)

    # -- read path ---------------------------------------------------

    def _table(self, namespace: str = "") -> DataFrame:
        tpath = self._at(namespace)
        recover_table(tpath)
        if not _observed_bucket_ids(tpath, "kbucket"):
            # every row deleted (or nothing upserted yet): an empty
            # store reads as an empty frame, never a parquet
            # schema-inference failure. The marker's canonical schema
            # is authoritative (it tracks evolution — review fix: the
            # once-written _schema.ddl goes stale after a new column
            # arrives); the ddl file is the pre-first-delete fallback.
            from pyspark.sql.types import IntegerType, StructType

            marker_schema = _read_marker_schema(tpath)
            if marker_schema is not None:
                return self.spark.createDataFrame([], marker_schema)
            if os.path.exists(self._schema_path(tpath)):
                with open(self._schema_path(tpath)) as fh:
                    schema = StructType.fromJson(json.load(fh))
            else:
                schema = StructType()
            schema = schema.add("_ver", "long").add("kbucket", IntegerType())
            return self.spark.createDataFrame([], schema)
        # canonical-schema read: records upserted after a schema
        # evolution (new metadata columns) read correctly against
        # buckets written before it (missing columns -> NULL)
        return read_keyed_table(self.spark, tpath)

    def _ivf_probe(
        self, namespace: str, t: DataFrame, vector: list[float], n_probe: int
    ) -> list[int] | None:
        """The ``n_probe`` cells nearest ``vector`` under the committed
        quantizer, or None when a rebuild is pending (the rows' cells
        may come from another quantizer, so only an exact scan is
        safe). The marker and the centroids are read together under a
        short SHARED lock, so no build is mid-commit between the two
        reads; the lock is released before any job runs (reads stay
        lock-free by contract, module docstring "Read consistency")."""
        tpath = self._at(namespace)
        with table_lock_shared(tpath):
            pending = os.path.exists(self._rebuild_pending_path(tpath))
            cents = self._ivf_centroids(tpath)
        if cents is None:
            raise ValueError("mode='ivf' needs build_ivf() first")
        if pending or "_cell" not in t.columns:
            return None
        ranked = sorted(
            ((sum(x * y for x, y in zip(vector, cv)), cid) for cid, cv in cents),
            reverse=True,
        )
        return [cid for _s, cid in ranked[:n_probe]]

    def query(
        self,
        vector: list[float],
        top_k: int = 10,
        mode: str = "exact",
        query_terms: list[str] | None = None,
        text_col: str = "metadata",
        rrf_k: int = 60,
        namespace: str = "",
        where: str | None = None,
        n_probe: int = 2,
    ) -> DataFrame:
        """Top-k most-cosine-similar records. ``mode='exact'`` scans
        everything through a TakeOrderedAndProject; ``mode='ivf'``,
        the store's ANN, probes the ``n_probe`` nearest cells of the
        MAINTAINED IVF index (build_ivf once, then every upsert/delete
        keeps it fresh): the probe filters the table's own
        cell-clustered ``_cell`` column, so both the decoded bytes
        (row-group pruning on the pushed ``IN`` predicate) and the
        cosine compute are ~n_probe/k of the corpus; recall grows with
        n_probe, exact cosine within the probed cells. While a rebuild
        is pending (a build_ivf crashed between its centroid write and
        its row re-stamp) ``mode='ivf'`` serves an exact scan instead —
        never worse recall. There is no LSH mode: hashing every stored
        vector at query time cost more than the exact scan.
        ``mode='hybrid'`` fuses the exact vector ranking with a BM25
        lexical ranking of ``query_terms`` over ``text_col`` by
        reciprocal-rank fusion (the hybrid-search verb of hosted vector
        stores): each retriever contributes its top-4k candidates,
        fusion needs no score calibration, and the returned ``score``
        is the RRF sum.

        ``where`` is a SQL predicate over the record's columns (the
        hosted API's metadata filter, e.g. ``"meta.source = 'web'"``),
        applied BEFORE ranking — filtered-out records can never
        displace matches from the top-k, which post-filtering the hit
        list would get wrong. The predicate is applied up front in
        every mode — in exact/hybrid it rides the scan (pushdown); in
        ivf mode it composes with the ``_cell`` probe inside one scan,
        so Catalyst pushes both predicates down together."""
        t = self._table(namespace)
        if where is not None:
            t = t.filter(where)
        probe = self._ivf_probe(namespace, t, vector, n_probe) if mode == "ivf" else None
        if mode == "exact" or (mode == "ivf" and probe is None):
            hits = vec_ops.cosine_topk(t, "id", "values", vector, k=top_k)
        elif mode == "ivf":
            from ..functions.vector import cosine_sim, lit_double_array

            # probe the table's OWN `_cell` column: the pushed `IN`
            # predicate prunes cell-clustered row groups, so the
            # probe's I/O is ~n_probe/k of the vector bytes
            hits = (
                t.filter(F.col("_cell").isin(probe))
                .select(
                    "id",
                    F.round(cosine_sim(F.col("values"), lit_double_array(vector)), 6)
                    .alias("score"),
                )
                .orderBy(F.col("score").desc(), F.col("id"))
                .limit(top_k)
            )
        elif mode == "hybrid":
            if not query_terms:
                raise ValueError("mode='hybrid' needs query_terms")
            if text_col not in t.columns:
                raise ValueError(f"no {text_col!r} column to rank lexically")
            from ..operators.text import bm25_scores

            cand = max(top_k * 4, top_k)
            vec_hits = vec_ops.cosine_topk(t, "id", "values", vector, k=cand)
            lex_hits = (
                bm25_scores(t, "id", text_col, query_terms)
                .orderBy(F.col("score").desc(), "id")
                .limit(cand)
                .select("id", "score")
            )
            hits = (
                vec_ops.rrf_fuse([vec_hits.select("id", "score"), lex_hits], "id", k=rrf_k)
                .orderBy(F.col("rrf_score").desc(), "id")
                .limit(top_k)
                .select("id", F.col("rrf_score").alias("score"))
            )
        else:
            raise ValueError(f"mode must be exact|ivf|hybrid, got {mode!r}")
        meta = [c for c in t.columns if c not in ("values", "kbucket", "_ver", "_cell")]
        # the metadata join does not preserve the top-k order — restore
        # it (k rows; the sort is driver-trivial)
        return (
            hits.join(t.select(*meta), "id")
            .select(*meta, "score")
            .orderBy(F.desc("score"), "id")
        )

    #: Above this many ids, fetch() switches from an IN-list filter to
    #: a broadcast semi-join: a literal IN grows the expression tree
    #: (and generated code) linearly with the list — the same
    #: plan-blowup failure mode the r8 unroll experiment measured —
    #: while a semi-join ships the keys as data.
    FETCH_IN_LIST_MAX = 1000

    def fetch(self, ids: list, namespace: str = "") -> DataFrame:
        """Point lookups with bucket pruning: only the partitions the
        ids hash into are read. Empty id list -> empty frame. Large id
        batches (> ``FETCH_IN_LIST_MAX``) filter via broadcast
        semi-join instead of a literal IN list (plan size stays O(1);
        bucket pruning still applies — the distinct bucket set is at
        most the table's bucket count regardless of batch size)."""
        n, _rows = _read_marker(self._at(namespace))
        t = self._table(namespace)
        if not ids:
            return t.limit(0).drop("kbucket", "_ver", "_cell")
        keys = self.spark.createDataFrame([(i,) for i in ids], ["id"])
        if n:
            buckets = {
                r[0]
                for r in keys.select(
                    F.pmod(F.hash("id"), F.lit(n)).cast("int").alias("b")
                )
                .distinct()
                .collect()
            }
            t = t.filter(F.col("kbucket").isin(sorted(buckets)))
        if len(ids) <= self.FETCH_IN_LIST_MAX:
            t = t.filter(F.col("id").isin(ids))
        else:
            t = t.join(F.broadcast(keys), "id", "left_semi")
        return t.drop("kbucket", "_ver", "_cell")

    def stats(self, namespace: str = "", include_cells: bool = False) -> dict:
        """Index statistics from the table markers (no scan). With the
        default namespace, includes the per-namespace breakdown — the
        describe_index_stats shape of the hosted API.

        ``include_cells=True`` adds the maintained IVF index's
        occupancy (``cells``: cell -> vector count) when an index was
        built: one group-by over the table's int ``_cell`` column,
        never the vector column. The counts are the rows' own
        assignments, so they are exactly what an ivf probe filters on;
        while a rebuild is pending they may mix two quantizers."""
        tpath = self._at(namespace)
        n, rows = _read_marker(tpath)
        out = {"count": rows or 0, "num_buckets": n or 0, "dim": self.dim}
        if include_cells:
            t = self._table(namespace)
            if "_cell" in t.columns:
                out["cells"] = {
                    r["_cell"]: r["n"]
                    for r in t.groupBy("_cell").agg(F.count(F.lit(1)).alias("n")).collect()
                }
        if not namespace:
            nss = {}
            for ns in self.namespaces():
                if ns:
                    _n2, r2 = _read_marker(self._at(ns))
                    nss[ns] = {"count": r2 or 0}
                else:
                    nss[ns] = {"count": rows or 0}
            out["namespaces"] = nss
        return out
