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
monotonically increasing store version (reserved in the table's
``_table.json`` state, :func:`.sinks.read_table_state`, before any
bucket swap), so replaying an upsert batch is idempotent and two
sequential calls resolve to the later one, matching the reference
index's overwrite-by-id behavior.

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
table has. query(mode='ivf')'s fast-path gate reads ONE file, the
table state, which build_ivf replaces in a single atomic step with
its new centroids and ``pending`` set; the gate therefore judges one
committed state without a lock, and either branch it picks is then
correct against concurrent swaps (the `_cell` probe because
upsert/delete keep each row's `_cell` stamped under the committed
quantizer, in the same bucket swap as the row, with ``pending``
covering build_ivf's re-stamp window; the fallback because it is an
exact scan). The row's ``_cell`` is the ONLY IVF assignment — there is
no second table to keep in step with it. Readers needing stricter
read-your-own-write isolation hold :func:`.._commit.table_lock`
around query + materialization, or back the store with a
transactional table format.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import vectors as vec_ops
from ._commit import table_lock
from .sinks import (
    _bucket_ids,
    delete_keys,
    read_keyed_table,
    read_table_state,
    recover_table,
    upsert_parquet_partitioned,
    write_table_state,
)


class VectorStore:
    """A keyed vector index at ``path`` (created on first upsert).

    NAMESPACES (the reference upserts into ``namespace='task1'``,
    service_layer/service.py:166): every verb takes ``namespace=``;
    each namespace is its own independent keyed table in a hidden
    ``_ns-<name>`` subdirectory (underscore prefix: invisible to the
    root table's Spark file listing, so the DEFAULT namespace — the
    root — reads unchanged). Table state, locks and bucket layout are
    all per-namespace; cross-namespace ids never collide,
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
        out = [""] if _bucket_ids(self.path) else []
        if os.path.isdir(self.path):
            for d in sorted(os.listdir(self.path)):
                if d.startswith("_ns-") and _bucket_ids(os.path.join(self.path, d)):
                    out.append(d[len("_ns-"):])
        return out

    # -- write path --------------------------------------------------

    def _reserve_version(self, table_path: str, **changes) -> dict:
        """Bump the table state's ``version`` (with ``changes``) in one
        atomic write and return the new state. Durable BEFORE any
        bucket swap: a crashed upsert's rows that did land then carry a
        version no later call reuses, so they can never tie a later
        stamp in max_by. NOT safe outside the table's writer lock:
        unsynchronized callers could read the same version and stamp
        the same one. Both call sites (upsert, build_ivf) hold
        :func:`table_lock` around the stamp AND the merge it versions."""
        st = read_table_state(table_path)
        st.update(changes, version=st["version"] + 1)
        write_table_state(table_path, st)
        return st

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
            st = self._reserve_version(tpath)
            stamped = records.withColumn("_ver", F.lit(st["version"]))
            # maintained IVF (r8): the cell rides the ROW — assigned
            # here from the committed centroids and merged atomically
            # with the data, then used as the bucket files' cluster
            # key so query(mode='ivf')'s `_cell IN (probe)` predicate
            # prunes row groups instead of decoding every vector
            cents = st["centroids"]
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
        scans it already pays. The index lives in the table state: the
        centroids, plus ``pending`` while a build is in flight. Returns
        the table's committed row count."""
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
            # nondeterministic). The new centroids land with `pending`
            # in the same atomic write, and `pending` is cleared only
            # after the re-stamp commits: until then rows may carry
            # cells of the old quantizer, so the `_cell` probe stays
            # off (exact-scan fallback) across the window and after any
            # crash inside it
            st = self._reserve_version(
                tpath, centroids=[[c, v] for c, v in cents], pending=True
            )
            restamped = (
                vec_ops.ivf_assign(
                    t.drop("kbucket", "_ver", "_cell"), "id", "values", cents
                )
                .withColumnRenamed("cell", "_cell")
                .withColumn("_ver", F.lit(st["version"]))
            )
            upsert_parquet_partitioned(
                self.spark, tpath, restamped, ["id"], "_ver",
                cluster_cols=["_cell"],
            )
            st = read_table_state(tpath)
            st["pending"] = False
            write_table_state(tpath, st)
            return st["rows"]

    # -- read path ---------------------------------------------------

    def _table(self, namespace: str = "") -> DataFrame:
        tpath = self._at(namespace)
        recover_table(tpath)
        if not _bucket_ids(tpath):
            # every row deleted (or nothing upserted yet): an empty
            # store reads as an empty frame under the state's canonical
            # schema, never a parquet schema-inference failure
            from pyspark.sql.types import IntegerType, StructType

            schema = read_table_state(tpath)["schema"]
            if schema is not None:
                return self.spark.createDataFrame([], StructType.fromJson(schema))
            schema = StructType().add("_ver", "long").add("kbucket", IntegerType())
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
        safe). The centroids and ``pending`` come from one read of the
        table state, which build_ivf replaces in one atomic step, so
        the gate judges one committed state without a lock (module
        docstring "Read consistency")."""
        st = read_table_state(self._at(namespace))
        cents = st["centroids"]
        if cents is None:
            raise ValueError("mode='ivf' needs build_ivf() first")
        if st["pending"] or "_cell" not in t.columns:
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
        n = read_table_state(self._at(namespace))["buckets"]
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
        """Index statistics from the table state (no scan). With the
        default namespace, includes the per-namespace breakdown — the
        describe_index_stats shape of the hosted API.

        ``include_cells=True`` adds the maintained IVF index's
        occupancy (``cells``: cell -> vector count) when an index was
        built: one group-by over the table's int ``_cell`` column,
        never the vector column. The counts are the rows' own
        assignments, so they are exactly what an ivf probe filters on;
        while a rebuild is pending they may mix two quantizers."""
        st = read_table_state(self._at(namespace))
        out = {"count": st["rows"], "num_buckets": st["buckets"], "dim": self.dim}
        if include_cells:
            t = self._table(namespace)
            if "_cell" in t.columns:
                out["cells"] = {
                    r["_cell"]: r["n"]
                    for r in t.groupBy("_cell").agg(F.count(F.lit(1)).alias("n")).collect()
                }
        if not namespace:
            out["namespaces"] = {
                ns: {"count": read_table_state(self._at(ns))["rows"]}
                for ns in self.namespaces()
            }
        return out
