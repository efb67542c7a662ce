"""Training-sequence packing: the tokenized artifact a training run eats.

``q_text_pack`` / ``q_text_pack_sharded`` assign documents to token-budget
bins; this module goes the last mile: encode every document with the
trained BPE (``operators/bpe.py``), join the id streams with an
end-of-document separator, and cut FIXED-LENGTH sequences — the
``input_ids`` rows a pretraining data loader consumes directly. The
packing rule is the standard one (GPT-2/3 and every descendant):
documents concatenate in a deterministic order with an EOD token between
them, sequences are exactly ``seq_len`` ids, and the tail remainder of
each shard is dropped (a partial sequence is useless to a fixed-shape
trainer; the waste is bounded by ``seq_len − 1`` ids per shard).

Determinism and shape (pinned by tests):

* documents order by ``doc_id`` WITHIN their shard — the same
  no-global-sort discipline as ``q_text_pack_sharded``: one hash exchange
  on the shard key, per-shard work independent;
* the shard key is either an existing column (``shard_col`` — lang,
  source, whatever balances writers) or a deterministic hash of the id
  (``n_shards``), never round-robin;
* ``eod_id`` defaults to ``256 + len(merges)`` — the first id OUTSIDE
  the trained vocabulary — and an explicit value colliding with a real
  vocab id is refused (a separator that is also a token corrupts every
  downstream boundary reconstruction);
* output rows ``(shard, seq_id, input_ids, n_eod)`` with ``seq_id``
  dense per shard in stream order, so ``ORDER BY shard, seq_id`` replays
  the exact stream.

Scale shape: ONE shuffle (the ``applyInPandas`` group exchange on
shard). Encoding runs inside the group pass with a per-group word memo
(the bpe module's discipline). A shard's id stream is materialized in
its task — ``n_shards`` (or the shard column's granularity) is the
per-task memory knob, the same sizing rule every sharded tokenizer run
uses; size shards to executor memory, not to file-count aesthetics.

Not registered by design: ``input_ids`` is an array column and the
driver canonicalizer takes scalars only (the round-6 output contract);
the tests pin a bit-exact reconstruction property against driver-side
encodes instead, plus DuckDB-free goldens. The export path
(``sinks/dataset_export.py``) ships array columns fine.

Reference parity: no analogue in the reference tree — beyond-reference
pipeline surface (SURVEY §2-D).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .bpe import DEFAULT_MAX_WORD_BYTES, make_encoder

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.LongType(), False),
        T.StructField("seq_id", T.LongType(), False),
        T.StructField("input_ids", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("n_eod", T.IntegerType(), False),
    ]
)


def pack_training_sequences(
    docs: DataFrame,
    merges: list[tuple[bytes, bytes]],
    seq_len: int,
    n_shards: int | None = None,
    shard_col: str | None = None,
    eod_id: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_word_bytes: int = DEFAULT_MAX_WORD_BYTES,
) -> DataFrame:
    """Encode + concatenate + cut: fixed-``seq_len`` training sequences per
    shard. Exactly one of ``n_shards`` / ``shard_col`` selects the shard
    rule. See module docstring for the contract."""
    if seq_len < 2:
        raise ValueError("seq_len must be >= 2 (one token + one EOD)")
    if (n_shards is None) == (shard_col is None):
        raise ValueError("pass exactly one of n_shards / shard_col")
    if n_shards is not None and n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    vocab_size = 256 + len(merges)
    if eod_id is None:
        eod_id = vocab_size
    elif 0 <= eod_id < vocab_size:
        raise ValueError(
            f"eod_id {eod_id} collides with the trained vocabulary "
            f"(ids 0..{vocab_size - 1}) — a separator that is also a token "
            "corrupts every boundary"
        )
    if not 0 <= eod_id <= 2**31 - 1:
        raise ValueError(
            f"eod_id {eod_id} outside the int32 output range — a negative "
            "separator is a nonsense token and anything past 2^31-1 "
            "overflows the input_ids schema mid-job"
        )
    # built at the driver: eager max_word_bytes validation, ranks/vocab
    # pickled once into the task closure (memo resets per task, harmless)
    enc = make_encoder(merges, max_word_bytes)

    if shard_col is not None:
        # map whatever the column is to a stable long via the same hash as
        # the n_shards rule (the output schema is uniform either way)
        shard = F.xxhash64(F.col(shard_col))
    else:
        shard = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards)).cast("long")

    src = docs.select(
        shard.alias("shard"),
        F.col(id_col).alias("__id"),
        F.col(text_col).alias("__text"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__id", kind="mergesort")
        ids = list(pdf["__id"])
        for a, b in zip(ids, ids[1:]):
            if a == b:
                # duplicate ids tie-break by ARRIVAL order — partitioning-
                # dependent, which breaks the byte-identical rerun contract;
                # equal ids always co-shard (hash of id), so this in-shard
                # check is global. Callers with repeats build a composite
                # id (doc_id, rep_idx) first.
                raise ValueError(
                    f"seqpack: duplicate {id_col!r} value {a!r} — stream "
                    "order would depend on input partitioning; make ids "
                    "unique (e.g. a (doc, repeat) composite) upstream"
                )
        sh = int(pdf["shard"].iloc[0])
        stream: list[int] = []
        bounds: list[int] = []  # EOD positions, for per-sequence n_eod
        for t in pdf["__text"]:
            ids = enc(t)
            stream.extend(ids)
            stream.append(eod_id)
            bounds.append(len(stream) - 1)
        n_full = len(stream) // seq_len
        rows = []
        bi = 0
        for s in range(n_full):
            lo, hi = s * seq_len, (s + 1) * seq_len
            n_eod = 0
            while bi < len(bounds) and bounds[bi] < hi:
                n_eod += 1
                bi += 1
            rows.append((sh, s, stream[lo:hi], n_eod))
        return pd.DataFrame(
            rows, columns=["shard", "seq_id", "input_ids", "n_eod"]
        )

    return src.groupBy("shard").applyInPandas(pack, _OUT_SCHEMA)
