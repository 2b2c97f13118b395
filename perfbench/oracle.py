"""Output checks against DuckDB, run after the timed window.

Topic workload: the program's ``TopicAnalyzer.Result`` (per-partition
rows and summary) against the registry's own oracle SQL
(``SparkEntry.oracleSql``) over the same generated log. Registry
workload: each query's written output against its oracle entry,
compared column-name-sorted and row-sorted with types, as the
repository's verification gate does.

``check`` returns ``(name, ok, detail)`` triples; a mismatch is
reported and counted, never filtered out.
"""
import json
import os

import duckdb

# The Kafka log in the record-log shape the oracle SQL expects:
# missing (-1 ms) timestamps read as epoch 0, as
# ``KafkaRecordSource.normalizeTimestamp`` maps them; ASCII keys as
# VARCHAR; values as same-length VARCHAR placeholders, since the oracle
# only reads their nullness and length.
RECORDS_VIEW = """
CREATE VIEW perf_records AS
SELECT "partition", "offset",
       CASE WHEN "timestamp" IS NULL OR epoch_ms("timestamp") < 0
            THEN TIMESTAMP '1970-01-01 00:00:00'
            ELSE CAST("timestamp" AS TIMESTAMP) END AS "timestamp",
       CAST("key" AS VARCHAR) AS "key",
       CASE WHEN "value" IS NULL THEN NULL
            ELSE repeat('x', CAST(octet_length("value") AS BIGINT)) END AS "value"
FROM read_parquet('{path}')
"""


def connect(tmp):
    con = duckdb.connect(config={"threads": 4, "memory_limit": "2GB",
                                 "temp_directory": tmp})
    try:
        con.execute("SET TimeZone = 'UTC'")
    except duckdb.Error:
        pass  # without ICU, TIMESTAMPTZ arithmetic is UTC already
    return con


def norm(v):
    return round(v, 9) if isinstance(v, float) else v


def rows_of(rel):
    cols = rel.columns
    return [{c: norm(v) for c, v in zip(cols, r)} for r in rel.fetchall()]


def same(got, exp):
    """Row-order-insensitive equality of lists of dicts."""
    key = lambda r: tuple(repr(r[c]) for c in sorted(r))  # noqa: E731
    return sorted(map(key, got)) == sorted(map(key, exp))


def check_topic(res, run_dir, n_rows, tmp):
    con = connect(tmp)
    con.execute(RECORDS_VIEW.format(path=os.path.join(run_dir, "log.parquet")))
    result, sqls = res["result"], res["oracle"]
    out = [("records", res["records"] == n_rows,
            f"{res['records']} read of {n_rows}")]
    got = [{c: norm(v) for c, v in r.items()} for r in result["partitions"]]
    exp = rows_of(con.sql(sqls["q_partition_stats"]))
    out.append(("partition_stats", same(got, exp),
                f"{len(got)} rows vs oracle {len(exp)}"))
    got = [{c: norm(v) for c, v in result["summary"].items()}]
    exp = rows_of(con.sql(sqls["q_topic_summary"]))
    out.append(("topic_summary", same(got, exp), "" if same(got, exp)
                else f"{got} vs oracle {exp}"))
    con.close()
    return out


def check_registry(res, run_dir, tmp):
    con = connect(tmp)
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{os.path.join(run_dir, 'documents.parquet')}')")
    check_dir = res["check_dir"]
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    out = [(q, False, "query failed") for q in res["check_failed"]]
    for q in sorted(set(sqls) - set(res["check_failed"])):
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{check_dir}/{q}/*.parquet')")
            exp = con.sql(sqls[q])
            gt = dict(zip(got.columns, map(str, got.types)))
            et = dict(zip(exp.columns, map(str, exp.types)))
            if gt != et:
                out.append((q, False, f"columns/types {gt} vs oracle {et}"))
                continue
            g, e = rows_of(got), rows_of(exp)
            out.append((q, same(g, e), f"{len(g)} rows vs oracle {len(e)}"))
        except duckdb.Error as err:
            out.append((q, False, str(err).splitlines()[0]))
    con.close()
    return out


def check(workload, res, run_dir, n_rows, tmp):
    if workload == "corpus_text":
        return check_registry(res, run_dir, tmp)
    return check_topic(res, run_dir, n_rows, tmp)
