"""Keyed materialized table with upsert/tombstone merge — the engine's analogue
of the reference's Elasticsearch index.

The reference materializes HBase rows as ES documents keyed by rowkey, applying
partial upserts and deletes per mutation (HbaseDataSyncEsObserver.java:85-89,
:101-104 in /root/reference). Here the same contract is a keyed parquet table
maintained by micro-batch merges:

* each batch's mutations are combined with the current state and re-resolved by
  the CDC merge operator (last-write-wins by ts, tombstone drops the key) — the
  idempotent formulation that makes checkpoint replay exactly-once, strictly
  stronger than the reference's retry-requeue at-least-once delivery
  (ElasticsearchBulkOperator.java:124-135);
* state is hash-partitioned on the row key; a batch only reads and rewrites the
  partitions its keys land in, so the merge is O(|touched partitions|), not
  O(|state|) — the plain-parquet shape of what `MERGE INTO` on Delta/Iceberg
  does with file-level pruning. Untouched partitions keep their current version
  untouched on disk;
* partition versions are written to fresh directories and repointed after the
  write completes, so a crashed batch never corrupts the readable state.

The batch is persisted for the merge. The per-batch "which partitions are
touched" set is a ``collect_set`` Observation on the one job that fills that
cache, so it costs no job of its own; it is metadata bounded by n_partitions,
never data. The merge then reads the batch from the cache, and the cache is
released when the merge ends, also when it fails.

Restart durability: the partition→current-version map is persisted to
``_MANIFEST.json`` in the table directory after every merge (atomic
write-then-rename, the same recipe Structured Streaming's own commit log uses),
and loaded on construction. A driver restart therefore resumes from the last
COMPLETED batch: Structured Streaming replays any in-flight batch from its
checkpoint, and the manifest carries a ``last_applied`` batch-id watermark
that splits the replay into two safe cases — a replayed COMMITTED batch
(batch_id <= last_applied) is a pure no-op, never re-reading or rewriting the
live version it produced; a replayed UNCOMMITTED batch (crash before the
manifest rename) re-merges from the previous committed versions and overwrites
only its own never-referenced v{batch_id} directory. Either way a crash leaves
the current manifest (and every directory it points to) fully readable. This is the durable analogue of
the reference's retry-requeue (ElasticsearchBulkOperator.java:114-137), made
exactly-once across restarts rather than at-least-once within a process.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc import apply_tombstones

CELL_SCHEMA = "row_key string, qualifier string, value string, ts timestamp"


class KeyedParquetSink:
    """Micro-batch merge sink over a hash-partitioned keyed parquet table.

    Use ``sink.merge_batch`` directly as a Structured Streaming ``foreachBatch``
    callable; read the current state with ``sink.read(spark)``. At 100 TB pick
    ``n_partitions`` so one partition's state fits an executor comfortably;
    the stable crc32 partitioner keeps every key's history in one partition.
    """

    MANIFEST = "_MANIFEST.json"

    def __init__(self, base_dir: str, n_partitions: int = 8):
        self.base_dir = base_dir
        self.n_partitions = n_partitions
        # key-partition id -> path of its current version directory
        self._current: dict[int, str] = {}
        # highest batch_id whose merge COMMITTED (manifest renamed). Replays of
        # batches <= this are no-ops: without the guard, a replayed batch would
        # overwrite the live v{batch_id} directory while reading old_paths that
        # point INSIDE it — the overwrite deletes the data mid-read and leaves
        # the manifest referencing a destroyed version.
        self._last_applied: int = -1
        self._load_manifest()

    # -- durability ---------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.base_dir, self.MANIFEST)

    def _load_manifest(self) -> None:
        try:
            with open(self._manifest_path()) as f:
                doc = json.load(f)
        except FileNotFoundError:
            return
        if doc.get("n_partitions") != self.n_partitions:
            raise ValueError(
                f"manifest at {self.base_dir} was written with "
                f"n_partitions={doc.get('n_partitions')}, sink configured with "
                f"{self.n_partitions}; repartitioning state requires a rebuild"
            )
        # paths are stored relative to base_dir so the table directory is relocatable
        self._current = {
            int(k): os.path.join(self.base_dir, rel)
            for k, rel in doc["current"].items()
        }
        self._last_applied = int(doc.get("last_applied", -1))

    def _save_manifest(self) -> None:
        doc = {
            "n_partitions": self.n_partitions,
            "last_applied": self._last_applied,
            "current": {
                str(k): os.path.relpath(p, self.base_dir)
                for k, p in self._current.items()
            },
        }
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path())  # atomic commit point

    def _pcol(self):
        return F.pmod(
            F.crc32(F.col("row_key").cast("binary")), F.lit(self.n_partitions)
        ).cast("int")

    def merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= self._last_applied:
            # checkpoint replay of a committed batch: true idempotent no-op.
            # Re-running the merge would be both wasteful and UNSAFE — the
            # overwrite of v{batch_id} deletes the very directories the
            # manifest-loaded old_paths read from (see _last_applied above).
            return
        b = (
            batch_df.select("row_key", "qualifier", "value", "ts", "op")
            .withColumn("_p", self._pcol())
            .persist()
        )
        try:
            # one job fills the cache and, riding on it, collects the touched set
            touched = Observation()
            b.observe(touched, F.collect_set("_p").alias("p")).write.format(
                "noop"
            ).mode("overwrite").save()
            affected = sorted(touched.get["p"])
            if affected:
                self._merge(b, affected, batch_id)
        finally:
            b.unpersist()
        self._last_applied = batch_id
        self._save_manifest()

    def _merge(self, b: DataFrame, affected: list[int], batch_id: int) -> None:
        """Rewrite the ``affected`` partitions from their current version and
        the cached batch ``b`` into ``v{batch_id}``."""
        s = b.sparkSession
        old_paths = [self._current[k] for k in affected if k in self._current]
        if old_paths:
            state = s.read.schema(CELL_SCHEMA).parquet(*old_paths)
        else:
            state = s.createDataFrame([], CELL_SCHEMA)
        # existing cells re-enter the merge as upserts at their original ts;
        # batch deletes with newer ts tombstone them (arrival-order semantics,
        # HbaseDataSyncEsObserver.java:101-104 whole-doc delete widening)
        combined = state.withColumn("op", F.lit("upsert")).unionByName(b.drop("_p"))
        new_state = apply_tombstones(combined).withColumn("_p", self._pcol())
        vdir = os.path.join(self.base_dir, f"v{batch_id}")
        new_state.write.mode("overwrite").partitionBy("_p").parquet(vdir)
        for k in affected:
            pdir = os.path.join(vdir, f"_p={k}")
            if os.path.isdir(pdir):
                self._current[k] = pdir
            else:
                # every key in this partition is tombstoned — partition is empty
                self._current.pop(k, None)

    def read(self, spark: SparkSession) -> DataFrame:
        if not self._current:
            return spark.createDataFrame([], CELL_SCHEMA)
        return spark.read.schema(CELL_SCHEMA).parquet(*self._current.values())
