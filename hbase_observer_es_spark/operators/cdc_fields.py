"""Field-presence analytics over the dynamic CDC documents — ES `exists`
query / `missing` agg, in the one place they are actually meaningful here.

HBase rows are schemaless (qualifiers are per-row dynamic — the reference
writes arbitrary qualifiers at put time, /root/reference README.md:46, and
forwards whatever cells exist, HbaseDataSyncEsObserver.java:72-80), so the
synced ES documents have RAGGED fields; `exists`/`missing` are the queries ES
users run to audit that raggedness. The fixture's flat tables have no missing
columns, but the CDC document state does: a row_key's doc carries only the
qualifiers whose latest upsert survived the tombstone rules (cdc.py A5/A7/A8).

Determinism: integer counts over the same live-state derivation both engines
already agree on (the q_cdc_doc_merge precedent — its CTEs are mirrored
verbatim).

Scale: the live-state reduction is cdc.py's (two windows over one row_key
shuffle); on top of it this is one countDistinct per qualifier (bounded
domain) plus a 1-row total broadcast — bucket-frame work only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cdc import SQL_MUTATIONS, apply_tombstones, mutations


def q_cdc_field_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per qualifier: live documents that HAVE the field (`exists`) and live
    documents MISSING it (`missing`) — the dynamic-mapping audit ES answers
    with an exists query and its negation.

    missing = total live docs − docs carrying the qualifier; the total is a
    1-row aggregate broadcast onto the bounded per-qualifier frame.
    """
    live = apply_tombstones(mutations(spark, sf_dir))
    per_q = live.groupBy("qualifier").agg(
        F.countDistinct("row_key").alias("exists_docs")
    )
    total = live.agg(F.countDistinct("row_key").alias("n_docs"))
    return per_q.join(F.broadcast(total)).select(
        "qualifier",
        "exists_docs",
        (F.col("n_docs") - F.col("exists_docs")).alias("missing_docs"),
        (
            F.col("exists_docs").cast("double") / F.col("n_docs").cast("double")
        ).alias("coverage"),
    )


SQL_CDC_FIELD_MISSING = f"""
WITH mutations AS ({SQL_MUTATIONS}),
live AS (
    SELECT row_key, qualifier, value, ts
    FROM (
        SELECT row_key, qualifier, value, ts,
               row_number() OVER (PARTITION BY row_key, qualifier
                                  ORDER BY ts DESC, value DESC) AS rn
        FROM mutations WHERE op = 'upsert'
    )
    WHERE rn = 1
),
last_del AS (
    SELECT row_key, max(ts) AS del_ts FROM mutations
    WHERE op = 'delete' GROUP BY row_key
),
alive AS (
    SELECT l.row_key, l.qualifier, l.value, l.ts
    FROM live l LEFT JOIN last_del d ON l.row_key = d.row_key
    WHERE d.del_ts IS NULL OR l.ts > d.del_ts
),
per_q AS (
    SELECT qualifier, COUNT(DISTINCT row_key) AS exists_docs
    FROM alive GROUP BY qualifier
),
total AS (SELECT COUNT(DISTINCT row_key) AS n_docs FROM alive)
SELECT qualifier, exists_docs,
       n_docs - exists_docs AS missing_docs,
       CAST(exists_docs AS DOUBLE) / CAST(n_docs AS DOUBLE) AS coverage
FROM per_q, total
"""


QUERIES = {"q_cdc_field_missing": q_cdc_field_missing}
ORACLES = {"q_cdc_field_missing": SQL_CDC_FIELD_MISSING}
