"""Seeded input generators for the benchmark workloads.

Every generator draws from ``numpy.random.default_rng((seed, stream))``,
so one seed always yields byte-identical inputs and a different seed a
different draw of the same shape.

- ``topic_log``: a Kafka-shaped record log in Spark's Kafka source
  schema (key, value, topic, partition, offset, timestamp,
  timestampType), one parquet file.
- ``documents``: a ``documents.parquet`` corpus in the shape the query
  registry reads (doc_id, text, lang, source, n_chars), one file.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2024-01-01T00:00:00Z in epoch milliseconds
EPOCH_2024_MS = 1_704_067_200_000

TOPIC = {
    "topic_scan": dict(records=300_000, partitions=16, key_space=100_000,
                       value_min=64, value_max=448),
}
ROW_GROUPS = 64
NULL_KEY_SHARE = 0.05
TOMBSTONE_SHARE = 0.08
NO_TIMESTAMP_SHARE = 0.01

CORPUS = dict(docs=3000, words_min=16, words_max=96, poisoned=2,
              poison_chars=1000)
WORDS = ("the a fast slow small big key order sort table scan merge part "
         "window hash join batch stream spark dup group query row data "
         "filter customer line value agg column vector").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SOURCES = 20


def _rng(seed, stream):
    return np.random.default_rng((int(seed), stream))


def _binary(lengths, data, valid):
    """A BinaryArray over ``data`` cut at ``lengths``; invalid rows null."""
    n = len(lengths)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    bitmap = np.packbits(valid.astype(np.uint8), bitorder="little")
    return pa.Array.from_buffers(
        pa.binary(), n,
        [pa.py_buffer(bitmap.tobytes()), pa.py_buffer(offsets.tobytes()),
         pa.py_buffer(data)],
        null_count=int(n - valid.sum()))


def topic_log(workload, seed, path):
    """Write the workload's record log to ``path``; return its row count."""
    spec = TOPIC[workload]
    rng = _rng(seed, 1)
    n, parts = spec["records"], spec["partitions"]

    partition = np.sort(rng.integers(0, parts, n)).astype(np.int32)
    counts = np.bincount(partition, minlength=parts)
    starts = rng.integers(0, 1_000_000, parts)
    first_row = np.concatenate(([0], np.cumsum(counts)[:-1]))
    offset = (np.arange(n) - first_row[partition] + starts[partition])

    ts_ms = EPOCH_2024_MS + np.sort(rng.integers(0, 86_400_000, n))
    ts_ms = np.where(rng.random(n) < NO_TIMESTAMP_SHARE, -1, ts_ms)

    key_valid = rng.random(n) >= NULL_KEY_SHARE
    digits = (rng.integers(0, spec["key_space"], n)[:, None]
              // 10 ** np.arange(9, -1, -1)) % 10 + 48
    key_bytes = np.empty((n, 12), dtype=np.uint8)
    key_bytes[:, 0], key_bytes[:, 1] = ord("k"), ord("-")
    key_bytes[:, 2:] = digits
    key_bytes = key_bytes[key_valid]
    key_len = np.where(key_valid, 12, 0)

    value_valid = rng.random(n) >= TOMBSTONE_SHARE
    value_len = np.where(
        value_valid, rng.integers(spec["value_min"], spec["value_max"], n), 0)
    value_data = rng.bytes(int(value_len.sum()))

    table = pa.table({
        "key": _binary(key_len, key_bytes.tobytes(), key_valid),
        "value": _binary(value_len, value_data, value_valid),
        "topic": pa.array(np.full(n, "perfbench"), pa.string()),
        "partition": pa.array(partition, pa.int32()),
        "offset": pa.array(offset, pa.int64()),
        "timestamp": pa.array(ts_ms * 1000, pa.timestamp("us", tz="UTC")),
        "timestampType": pa.array(np.zeros(n, dtype=np.int32), pa.int32()),
    })
    # 64 row groups of about 1.2 MB: Spark cuts the file into one byte
    # range per core and each range reads the row groups whose midpoint
    # it holds, so small groups give the tasks nearly equal rows (16
    # groups of 4.9 MB split 5/4/4/3 on four cores, and the largest task
    # set the pace).
    #
    # No dictionary for the random values: it would reach the writer's
    # 1 MB dictionary page limit about 4,100 values into each row group,
    # near the 4,096-row batches of Spark's reader, and fall back to
    # plain pages at a point that moves with the seed.
    pq.write_table(table, path, row_group_size=-(-n // ROW_GROUPS),
                   use_dictionary=[c for c in table.column_names
                                   if c != "value"])
    return n


def documents(seed, path, spec=CORPUS):
    """Write the corpus to ``path``; return its row count."""
    rng = _rng(seed, 2)
    n = spec["docs"]
    words = np.array(WORDS)
    poisoned = set(rng.choice(n, spec["poisoned"], replace=False).tolist())
    texts = []
    for i in range(n):
        k = int(rng.integers(spec["words_min"], spec["words_max"]))
        toks = words[rng.integers(0, len(words), k)].tolist()
        if i in poisoned:
            run = rng.integers(97, 123, spec["poison_chars"], dtype=np.uint8)
            toks.insert(int(rng.integers(0, k)), run.tobytes().decode())
        texts.append(" ".join(toks))
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array(
            [f"src{s}" for s in rng.integers(0, SOURCES, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, path)
    return n
