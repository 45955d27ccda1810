"""Sinks — row-oriented JSON materialization (SURVEY.md §2.1).

The reference crosses from columnar to row orientation exactly once: the
JSON HTTP response, built by a hand-rolled per-cell AnyValue dispatch
loop (src/main.rs:207-255). Spark-first replacement: one
`to_json(struct(*))` column — Jackson serializes each row JVM-side
(dates, arrays, structs, maps all typed properly instead of the
reference's catch-all stringification, src/main.rs:244-245); Python only
sees the final strings.

The strings are collected from the DataFrame, not from `df.toJSON()`.
toJSON() returns an RDD, and a plan run as an RDD loses the collect
path's limit operators: the limit is planned as a LocalLimit on every
partition, a shuffle to a single partition and a GlobalLimit — two jobs
and three stages for a 100-row preview. Collected from the DataFrame, a
plain limit runs as CollectLimitExec, which scans only as many
partitions as it needs, and a sort + limit as TakeOrderedAndProject,
which merges each partition's top-k on the driver: one job, no shuffle.
Used by the api.py endpoints.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Hard ceiling on rows a JSON sink may materialize on the driver. The
# reference returns whole tables at CSV scale; at 100 TB an unbounded
# collect is a driver OOM, so every sink call goes through this cap —
# limit=None means "the cap", never "everything".
MAX_SINK_ROWS = 10_000


def to_json_rows(
    df: DataFrame, limit: int | None = None, max_rows: int = MAX_SINK_ROWS
) -> list[dict]:
    """DataFrame → list of JSON-safe dicts (the reference's response shape,
    Vec<HashMap<String, JsonValue>> at src/main.rs:207).

    The effective limit — min(limit, max_rows), or max_rows when no limit
    is given — is pushed into the plan, not applied after collect, unlike
    the reference's whole-file-then-head (§4.3.1). So the driver never
    materializes more than max_rows rows regardless of caller input.
    """
    return to_json_rows_flagged(df, limit=limit, max_rows=max_rows)[0]


def to_json_rows_flagged(
    df: DataFrame, limit: int | None = None, max_rows: int = MAX_SINK_ROWS
) -> tuple[list[dict], bool]:
    """to_json_rows plus a truncation flag: True iff the cap (not the
    caller's own limit) cut the result short — i.e. the plan had at least
    one more row past max_rows that a reference client, which always gets
    whole tables, would have received. Probed by fetching effective+1
    rows, so the flag costs one extra row, never a count of the full
    input. The HTTP layer surfaces it as an X-Truncated response header
    so clients can tell a complete result from a clamped one.

    Rows are serialized by `to_json(struct(*))` and collected from the
    DataFrame, so the limit keeps its collect-time plan (CollectLimitExec,
    or TakeOrderedAndProject after a sort): one job and no shuffle, where
    `toJSON()`'s RDD plans LocalLimit → single-partition shuffle →
    GlobalLimit.
    """
    effective = max_rows if limit is None else min(limit, max_rows)
    capped = limit is None or limit > max_rows
    df = df.limit(effective + 1 if capped else effective)
    cols = df.columns
    # Jackson omits null fields; the reference emits explicit nulls
    # (AnyValue::Null → JsonValue::Null, src/main.rs:224) — restore them
    # at the top level. Not via ignoreNullFields=false: that would also
    # turn the nulls inside structs, omitted today, into explicit nulls.
    rows = [
        {c: row.get(c) for c in cols}
        for row in (json.loads(r[0]) for r in df.select(F.to_json(F.struct("*"))).collect())
    ]
    return rows[:effective], capped and len(rows) > effective
