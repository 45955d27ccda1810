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
Used by the api.py endpoints, which keep each collected answer per
dataset version (`DataLake.answer`).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Hard ceiling on rows a JSON sink may materialize on the driver. The
# reference returns whole tables at CSV scale; at 100 TB an unbounded
# collect is a driver OOM, so every sink call goes through this cap —
# limit=None means "the cap", never "everything".
MAX_SINK_ROWS = 10_000


@dataclass(frozen=True)
class JsonAnswer:
    """A response collected once and read any number of times: the
    ``to_json(struct(*))`` string of each row (at most ``effective`` + 1),
    the rows' top-level columns and the limits the truncation flag is
    computed from. It holds no DataFrame, only strings, so the lake's
    answer pool (`DataLake.answer`) keeps it per dataset version at the
    cost of those strings, and any number of threads read it at once:
    each read parses the strings into new dicts."""

    lines: tuple[str, ...]
    columns: tuple[str, ...]
    effective: int
    capped: bool


def json_answer(
    df: DataFrame, limit: int | None = None, max_rows: int = MAX_SINK_ROWS
) -> JsonAnswer:
    """The JsonAnswer of ``df`` under ``limit`` and the ``max_rows`` cap,
    collected in one Spark job (module docstring), with one row past a
    cap as the truncation probe (see to_json_rows_flagged). The
    effective limit — min(limit, max_rows), or max_rows when no limit is
    given — is pushed into the plan, not applied after the collect as
    the reference's whole-file-then-head is (§4.3.1), so the driver
    never holds more than max_rows + 1 rows whatever the caller asks."""
    effective = max_rows if limit is None else min(limit, max_rows)
    capped = limit is None or limit > max_rows
    limited = df.limit(effective + 1 if capped else effective)
    lines = tuple(r[0] for r in limited.select(F.to_json(F.struct("*"))).collect())
    return JsonAnswer(lines, tuple(limited.columns), effective, capped)


def to_json_rows_flagged(answer: JsonAnswer) -> tuple[list[dict], bool]:
    """The rows of a JsonAnswer as JSON-safe dicts (the reference's
    response shape, Vec<HashMap<String, JsonValue>> at src/main.rs:207)
    plus a truncation flag: True iff the cap
    (not the caller's own limit) cut the result short — i.e. the input had
    at least one more row past max_rows that a reference client, which
    always gets whole tables, would have received. Probed by fetching
    effective+1 rows, so the flag costs one extra row, never a count of
    the full input. The HTTP layer surfaces it as an X-Truncated response
    header so clients can tell a complete result from a clamped one.
    Runs no Spark job: each call parses the answer's strings into new
    dicts, so a caller that changes its rows changes no later response.
    """
    # Jackson omits null fields; the reference emits explicit nulls
    # (AnyValue::Null → JsonValue::Null, src/main.rs:224) — restore them
    # at the top level. Not via ignoreNullFields=false: that would also
    # turn the nulls inside structs, omitted today, into explicit nulls.
    rows = [{c: row.get(c) for c in answer.columns} for row in map(json.loads, answer.lines)]
    return rows[: answer.effective], answer.capped and len(rows) > answer.effective
