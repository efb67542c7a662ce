"""Wire-to-wire throughput of the reference pipeline's two endpoints.

BASELINE.md measures the engine's CDC merge path at 22 700 mutations/s vs the
reference's ~1 000 docs/s per-RegionServer ceiling. This tool measures the
round-7 WIRE layer on the same data: HBase REST (Stargate) cell-set NDJSON in
→ mutation contract (`sources/hbase_rest.py`) → ES `_bulk` NDJSON request
bodies out (`sinks/es_bulk.py`) — the full serialization path the reference
performs between its two network calls, minus only the sockets.

Stages measured separately:
  encode  — build the REST change log FROM the events fixture (Spark job:
            to_json + base64; this stands in for HBase's side, not ours);
  decode+bulk — parse the log and write the bulk bodies (OUR path: the
            number comparable to the reference's per-node ceiling).

Usage: python tools/wire_bench.py [--sf-dir /root/testdata/sf0.1]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time

import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from hbase_observer_es_spark.operators.cdc import mutations  # noqa: E402
from hbase_observer_es_spark.session import get_spark  # noqa: E402
from hbase_observer_es_spark.sinks.es_bulk import write_bulk  # noqa: E402
from hbase_observer_es_spark.sources.filestream import SCRATCH  # noqa: E402
from hbase_observer_es_spark.sources.hbase_rest import parse_change_log  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    spark = get_spark("wire-bench")
    spark.sparkContext.setLogLevel("ERROR")
    out = os.path.join(str(SCRATCH), "wire_bench")
    if os.path.exists(out):
        shutil.rmtree(out)
    log_dir = os.path.join(out, "rest_log")
    bulk_dir = os.path.join(out, "bulk")

    mut = mutations(spark, args.sf_dir)
    n = mut.count()

    # -- encode: events → REST cell-set / delete-log NDJSON (HBase's side) ----
    b64 = lambda c: F.base64(c.cast("binary"))  # noqa: E731
    t0 = time.monotonic()
    lines = mut.select(
        F.when(
            F.col("op") == "upsert",
            F.to_json(
                F.struct(
                    F.array(
                        F.struct(
                            b64(F.col("row_key")).alias("key"),
                            F.array(
                                F.struct(
                                    b64(F.concat(F.lit("cf:"), F.col("qualifier"))).alias("column"),
                                    F.unix_millis(F.col("ts")).alias("timestamp"),
                                    b64(F.col("value")).alias("$"),
                                )
                            ).alias("Cell"),
                        )
                    ).alias("Row")
                )
            ),
        )
        .otherwise(
            F.to_json(
                F.struct(
                    b64(F.col("row_key")).alias("delete"),
                    F.unix_millis(F.col("ts")).alias("timestamp"),
                )
            )
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(log_dir)
    t_encode = time.monotonic() - t0

    # -- decode + bulk: REST NDJSON → mutations → _bulk bodies (OUR side) -----
    t0 = time.monotonic()
    parsed = parse_change_log(spark.read.text(log_dir))
    write_bulk(parsed, bulk_dir)
    t_decode_bulk = time.monotonic() - t0

    # the metric divides by n — verify the decode actually parsed n mutations
    # (schema drift between the encoder here and hbase_rest would otherwise
    # null lines out silently and overstate throughput)
    n_parsed = parse_change_log(spark.read.text(log_dir)).count()
    assert n_parsed == n, f"decode lost mutations: {n_parsed} != {n}"

    n_bodies = sum(
        1 for f in os.listdir(bulk_dir) if f.startswith("part-") and not f.endswith(".crc")
    )
    print(
        json.dumps(
            {
                "metric": "wire_to_wire_mutations_per_sec",
                "value": round(n / t_decode_bulk, 1),
                "unit": "mutations/s",
                "sf_dir": args.sf_dir,
                "n_mutations": n,
                "encode_sec": round(t_encode, 2),
                "decode_and_bulk_sec": round(t_decode_bulk, 2),
                "n_parsed": n_parsed,
                "n_bulk_bodies": n_bodies,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
