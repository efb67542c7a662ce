"""HBase REST (Stargate) cell-set JSON source — the input-endpoint twin of
``sinks/es_bulk.py``.

The reference's input is the coprocessor hook stream: ``postPut`` hands it a
``Put``'s family→cell map, ``postDelete`` a row key
(HbaseDataSyncEsObserver.java:68-80, :95-104 in /root/reference). No HBase runs
in this sandbox, but HBase's REST gateway exposes the same cells in a PUBLIC,
documented wire format — the cell-set JSON every Stargate scanner/getter
emits::

    {"Row": [{"key": "<base64 rowkey>",
              "Cell": [{"column": "<base64 'family:qualifier'>",
                        "timestamp": 1704067200000,
                        "$": "<base64 value>"}]}]}

This module parses NDJSON lines of that format (one cell-set document per
line — one Put's worth of cells, matching the per-RPC granularity of the
coprocessor) into the engine's mutation contract
(cdc.py: row_key, qualifier, value, op, ts), entirely JVM-side: one
``from_json`` projection, then one ``explode`` of each line's mutation array,
built from SQL expression text. The cell and delete decodes (base64 key,
family strip, value, epoch-ms timestamp) are defined once, as that text, and
all three parsers use it — no Python in the path, so the source scales like
any other scan.

Semantics mapped to the reference:

* family handling — the coprocessor flattens all families into one qualifier
  map, dropping the family (SURVEY A5); here the base64 ``column`` decodes to
  ``family:qualifier`` and the family prefix is stripped the same way.
  Same-qualifier collisions across families resolve downstream by the
  engine's deterministic LWW rule (DIVERGENCES D4), not map-iteration order.
* timestamps — Stargate reports epoch MILLISECONDS; converted to the
  engine's timestamp type exactly (no sub-ms truncation surprises).
* deletes — REST deletes are bodyless ``DELETE /table/row`` calls with no
  cell-set representation, exactly as ``postDelete`` carries only the row key
  (:97-98). They arrive as a second NDJSON stream of
  ``{"delete": "<base64 rowkey>", "timestamp": ms}`` objects (the natural log
  form of the DELETE call), parsed by ``parse_deletes``.

Scale: every parser is a map-only projection over a text scan — no shuffle,
no UDF; at 100 TB the JSON lines partition like any text source and the
parse stays in whole-stage codegen. ``read_stream``-style streaming works
unchanged: point ``spark.readStream.text`` at the log directory and apply the
same ``parse_cellset``/``parse_deletes`` expressions (they are pure column
transforms).
"""

from __future__ import annotations

import base64
import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

CELL_SCHEMA = T.StructType(
    [
        T.StructField(
            "Row",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("key", T.StringType()),
                        T.StructField(
                            "Cell",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("column", T.StringType()),
                                        T.StructField("timestamp", T.LongType()),
                                        T.StructField("$", T.StringType()),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        )
    ]
)

DELETE_SCHEMA = T.StructType(
    [
        T.StructField("delete", T.StringType()),
        T.StructField("timestamp", T.LongType()),
    ]
)


_MIXED_SCHEMA = T.StructType(
    list(CELL_SCHEMA.fields) + list(DELETE_SCHEMA.fields)
)


def _b64_str(col: str) -> str:
    return f"CAST(unbase64({col}) AS STRING)"


def _mutation(key: str, qualifier: str, value: str, op: str, ts_ms: str) -> str:
    """THE single mutation decode, as SQL expression text over the parsed
    doc's fields: base64 row key, epoch-ms timestamp, cdc.py field order.
    Every parser builds its mutations from it, so no two can decode the same
    wire bytes differently."""
    return (
        f"named_struct('row_key', {_b64_str(key)}, 'qualifier', {qualifier}, "
        f"'value', {value}, 'op', '{op}', 'ts', timestamp_millis({ts_ms}))"
    )


# A cell-set document's cells as one mutation array. The family strip is
# first-colon ('family:qualifier' -> qualifier): family names cannot contain
# ':', qualifiers can (CellUtil.cloneQualifier); the family is dropped per
# SURVEY A5 / D4. Missing Row/Cell arrays decode to no mutations.
_UPSERTS = (
    "flatten(transform(coalesce(doc.Row, array()), r -> transform("
    "coalesce(r.Cell, array()), c -> "
    + _mutation(
        "r.key",
        f"regexp_replace({_b64_str('c.column')}, '^[^:]*:', '')",
        _b64_str("c.`$`"),
        "upsert",
        "c.timestamp",
    )
    + ")))"
)
# A delete document as a zero- or one-element array: a whole-row tombstone
# (qualifier/value NULL, the reference's postDelete granularity).
_DELETES = (
    "CASE WHEN doc.delete IS NOT NULL THEN array("
    + _mutation(
        "doc.delete", "CAST(NULL AS STRING)", "CAST(NULL AS STRING)", "delete",
        "doc.timestamp",
    )
    + ") ELSE array() END"
)


def _parse(lines: DataFrame, column: str, schema: T.StructType, muts: str) -> DataFrame:
    """One ``from_json`` projection, then one explode of the per-line
    mutation array ``muts``. A line that does not parse is a NULL doc whose
    array is empty, so it yields no rows."""
    return (
        lines.select(F.from_json(F.col(column), schema).alias("doc"))
        .select(F.explode(F.expr(muts)).alias("m"))
        .select("m.*")
    )


def parse_cellset(lines: DataFrame, column: str = "value") -> DataFrame:
    """NDJSON cell-set lines → upsert mutations (cdc.py contract). One line =
    one cell-set document = one Put's cells (the coprocessor's per-RPC unit).

    Malformed lines parse to NULL and are dropped — the eager-validation
    posture of sources/config.py applies to CONFIG; a data stream at 100 TB
    drops and counts instead of dying (count with a ``is_corrupt`` audit
    column upstream if the pipeline needs the number).
    """
    return _parse(lines, column, CELL_SCHEMA, _UPSERTS)


def parse_deletes(lines: DataFrame, column: str = "value") -> DataFrame:
    """NDJSON delete-log lines → delete mutations (whole-row tombstones, the
    reference's postDelete granularity; qualifier/value NULL)."""
    return _parse(lines, column, DELETE_SCHEMA, _DELETES)


def parse_change_log(lines: DataFrame, column: str = "value") -> DataFrame:
    """A mixed NDJSON log (cell-set and delete lines interleaved, as a REST
    access log would record them) → the full mutation stream.

    TRUE single pass: one ``from_json`` against the merged schema, then each
    line's mutations (cell upserts ++ optional delete) are exploded once. A
    union of two projections would plan TWO scans of the source (Spark
    reuses shuffles, not scan subtrees); at 100 TB the text scan and JSON
    parse are the dominant cost and must happen once — pinned by the
    single-scan plan test.
    """
    return _parse(lines, column, _MIXED_SCHEMA, f"concat({_UPSERTS}, {_DELETES})")


# -- test/fixture helpers (driver-side, bounded) ------------------------------


def encode_cellset(row_key: str, cells: list[tuple[str, str, int]]) -> str:
    """One Put as a cell-set JSON line: cells = [(family:qualifier, value,
    ts_ms)]. Driver-side fixture builder — the inverse of parse_cellset, used
    by tests to golden-check the decode without an HBase to talk to."""
    b64 = lambda s: base64.b64encode(s.encode()).decode()  # noqa: E731
    return json.dumps(
        {
            "Row": [
                {
                    "key": b64(row_key),
                    "Cell": [
                        {"column": b64(col), "timestamp": ts, "$": b64(val)}
                        for col, val, ts in cells
                    ],
                }
            ]
        },
        separators=(",", ":"),
    )


def encode_delete(row_key: str, ts_ms: int) -> str:
    b64 = base64.b64encode(row_key.encode()).decode()
    return json.dumps({"delete": b64, "timestamp": ts_ms}, separators=(",", ":"))
