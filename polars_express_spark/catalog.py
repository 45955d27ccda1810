"""DataLake — the id → path catalog.

Reference semantics (src/main.rs:17-57): a directory-of-files catalog
where one logical dataset id maps to one file; stateless load per query.
Here generalized Spark-first:

- Parquet is the primary at-rest format (columnar, pushdown-friendly);
  CSV/JSON kept for reference-compat (the reference serves CSVs only,
  src/main.rs:36-39).
- Loads are LAZY (spark.read builds a scan node; nothing is parsed until
  an action) — deliberately NOT the reference's eager whole-file parse
  per request (src/main.rs:44-52), which defeats pushdown (SURVEY.md §4.3).
- Schemas are inferred once per FILE VERSION, not per load: every
  schema-inferring read goes through `read_path`, which keeps the
  inferred schema keyed by the path's stat signature (`file_version`)
  and hands it back through ``spark.read.schema`` while the files are
  unchanged.
- Data is read from the files on every computation: a load is a lazy
  scan, and the lake keeps no copy of a dataset's rows. Requests are
  answered once per dataset version instead: `DataLake.answer` keeps a
  bounded pool of the serving routes' answers (the response strings or
  the regression moments, never a DataFrame), keyed by route,
  parameters and the file version of every dataset they read. A repeat
  request stats the files and runs no Spark job; it builds no scan.
- Any rewrite (overwrite, restore, compact, append, a file dropped in
  by hand) changes the signature, so neither the schema cache nor the
  answer pool serves a schema or an answer of an older version, and no
  writer has to invalidate them for correctness; a lake rewrite still
  drops the dataset's answers at once, and an answer computed across
  one is not kept.
- Only a dataset id `list_datasets` lists resolves to a path
  (`DataLake._entry_id`): ``..``, ``.``, a path with a separator or a
  retained snapshot's directory name is no id.
- At 100 TB an id maps to a partitioned parquet directory; the API is
  identical because spark.read.parquet takes files or directories.
"""

from __future__ import annotations

import os
import stat
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Session confs that change the schema Spark infers for a file: part of
# the schema-cache key. Checked and left out because they change values
# or failures but not inferred types: session.timeZone, caseSensitive,
# files.ignoreCorruptFiles, parquet.int96RebaseModeInRead,
# parquet.datetimeRebaseModeInRead, orc.impl.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.orc.mergeSchema",
    "spark.sql.timestampType",
    "spark.sql.legacy.timeParserPolicy",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
# path → (key, schema): one entry per path, replaced when the key (file
# version, format, options, confs) changes — bounded by the number of
# paths read, so no size limit or eviction
_schemas: dict[str, tuple[tuple, T.StructType]] = {}
_schemas_lock = threading.Lock()
# Session confs that change what a route answers: part of an answer's
# key (`DataLake.answer`).
_PLAN_CONFS = ("spark.sql.session.timeZone", "spark.sql.ansi.enabled")


def file_version(path: str) -> tuple | None:
    """Stat signature of a dataset path: inode, ctime, mtime and size of
    the path and, for a directory, of each top-level entry. Every
    rewrite the lake makes (publish by rename, restore, compact, append)
    and every file dropped in by hand changes it. Not seen: a file added
    two or more levels down (a nested partition tree) whose parent
    directories all already existed. None when the path is missing or
    vanishes mid-scan (a concurrent publish)."""

    def sig(st: os.stat_result) -> tuple:
        return st.st_ino, st.st_ctime_ns, st.st_mtime_ns, st.st_size

    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return sig(st)
        with os.scandir(path) as it:
            entries = sorted((e.name, *sig(e.stat())) for e in it)
    except OSError:
        return None
    return sig(st), tuple(entries)


def _is_flat(path: str) -> bool:
    """True for a file or a directory without subdirectories."""
    try:
        if not os.path.isdir(path):
            return os.path.isfile(path)
        with os.scandir(path) as it:
            return not any(e.is_dir() for e in it)
    except OSError:
        return False


def read_path(spark: SparkSession, fmt: str, path: str, schema=None, **options) -> DataFrame:
    """Lazy ``spark.read`` of ``path`` in ``fmt`` with reader ``options``,
    inferring the schema at most once per file version.

    The first read of a version infers as Spark always does (a footer
    job for parquet/ORC, a full parse for CSV/JSON) and stores the
    result; later reads of the same version pass it to
    ``spark.read.schema`` and run no job. A caller-supplied ``schema``
    and ``mergeSchema`` reads bypass the cache. Thread-safe: the HTTP
    server calls it from every handler thread."""
    reader = spark.read.format(fmt).options(**options)
    if schema is not None:
        return reader.schema(schema).load(path)
    version = None if options.get("mergeSchema") else file_version(path)
    if version is None:
        return reader.load(path)
    key = (
        version,
        fmt,
        tuple(sorted(options.items())),
        tuple(spark.conf.get(c) for c in _SCHEMA_CONFS),
    )
    with _schemas_lock:
        hit = _schemas.get(path)
    if hit is not None and hit[0] == key:
        return reader.schema(hit[1]).load(path)
    df = reader.load(path)
    with _schemas_lock:
        _schemas[path] = (key, df.schema)
    return df


class DataLake:
    """id → path catalog over a base directory (reference src/main.rs:17-39).

    ``keep_snapshots`` turns overwrite into a VERSIONED publish:
    the replaced data directory is archived by atomic rename as
    ``<path>.__snapshot__<k>`` (invisible to list/load) instead of
    removed, retaining the newest N versions — time travel
    (`load_snapshot`) and rollback (`restore`) over the retained
    window, the local-FS analog of a table format's snapshot log.
    Default 0 removes the replaced data on publish.
    """

    FORMATS = ("parquet", "csv", "json", "orc")
    SNAP_MARK = ".__snapshot__"
    # Most answers a lake keeps (`answer`), and parsed /sql queries
    # api.py keeps
    PLAN_SLOTS = 32

    def __init__(self, spark: SparkSession, base_dir: str, keep_snapshots: int = 0):
        self.spark = spark
        self.base_dir = base_dir
        self.keep_snapshots = keep_snapshots
        # (route, ((data_id, file_version), ...), confs) → answer, least
        # recently used first; PLAN_SLOTS answers at most
        self._answers: OrderedDict[tuple, object] = OrderedDict()
        # data_id → how often its answers were dropped: an answer whose
        # computation a drop overlapped is not kept
        self._answer_drops: dict[str, int] = {}
        self._answers_lock = threading.Lock()

    def _entry_id(self, entry: str) -> str | None:
        """The dataset id that the name ``entry`` directly under base_dir
        stands for, or None when it is no dataset: a sidecar, a staging or
        snapshot directory, a file without a format extension, ``.``,
        ``..`` or a path with a separator. `list_datasets` lists these
        ids and `dataset_path` resolves no other."""
        if entry in ("", ".", "..") or os.path.basename(entry) != entry:
            return None
        if entry.endswith(".state.json"):
            return None  # streaming-accumulator sidecar, not a dataset
        if ".__writing__" in entry:
            return None  # in-flight overwrite staging dir (save())
        if self.SNAP_MARK in entry:
            return None  # retained overwrite snapshot (load_snapshot)
        stem, dot, ext = entry.rpartition(".")
        if dot and ext in self.FORMATS and stem:
            return stem
        return entry if os.path.isdir(os.path.join(self.base_dir, entry)) else None

    def dataset_path(self, data_id: str) -> str | None:
        """Resolve id to an existing file/dir, trying formats in order.

        Mirrors reference dataset_path (src/main.rs:36-39) but
        format-agnostic: <base>/<id>.parquet, <id> (dir), <id>.csv,
        <id>.json, <id>.orc. None for an id `list_datasets` would not
        list (`_entry_id`), so no id reads outside the lake's datasets.
        """
        for entry in (f"{data_id}.parquet", data_id, f"{data_id}.csv", f"{data_id}.json",
                      f"{data_id}.orc"):
            path = os.path.join(self.base_dir, entry)
            if self._entry_id(entry) == data_id and os.path.exists(path):
                return path
        return None

    def dataset_exists(self, data_id: str) -> bool:
        """Reference dataset_exists (src/main.rs:55-57)."""
        return self.dataset_path(data_id) is not None

    def list_datasets(self) -> list[str]:
        """Sorted ids of every loadable dataset under base_dir — feeds the
        UI's dataset picker. The reference has no listing route (its page
        asks users to type ids blind, src/main.rs:374-376); the lake can
        enumerate with one directory scan, so /datasets is a documented
        improvement, not a parity gap."""
        if not os.path.isdir(self.base_dir):
            return []
        return sorted({i for i in map(self._entry_id, os.listdir(self.base_dir)) if i is not None})

    def load(self, data_id: str, schema=None, merge_schema: bool = False) -> DataFrame:
        """Lazy scan of a dataset (reference load_dataset, src/main.rs:41-52,
        minus the anti-pattern of eager whole-file parsing).

        CSVs use header inference like the reference
        (CsvReadOptions::with_has_header, src/main.rs:48-51) unless a
        schema is declared; parquet/json/orc carry their own schemas (a
        declared schema skips inference for any format). The schema is
        inferred once per file version (`read_path`), so a repeat load
        of unchanged files runs no job; the data is read from the files
        by every action on the frame. A load that finds the dataset gone
        drops its answers.

        Partitioned (nested) directories are read as Spark reads them, so
        partition filters prune directories. merge_schema=True unions
        the footers of every part file (schema EVOLUTION: parts appended
        after a column was added still read as one frame, old parts
        null-extended) — off by default because it reads every footer up
        front, which matters at 100 TB file counts; it always re-reads
        the footers.
        """
        path = self.dataset_path(data_id)
        if path is None:
            self._drop(data_id)
            raise FileNotFoundError(f"dataset not found: {data_id!r} under {self.base_dir}")
        return self._scan(path, schema, merge_schema)

    def _drop(self, data_id: str) -> None:
        """Forget every answer that reads ``data_id``, and make an answer
        being computed over it unkept: after a rewrite, or when the
        dataset is gone."""
        with self._answers_lock:
            self._answer_drops[data_id] = self._answer_drops.get(data_id, 0) + 1
            for key in [k for k in self._answers if any(i == data_id for i, _ in k[1])]:
                del self._answers[key]

    def answer(self, route: tuple, data_ids: tuple[str, ...], compute):
        """The answer of ``route`` (the route's name and parameters) over
        the datasets ``data_ids``, from the pool when it holds one.

        The answer is keyed by ``route``, the file version of every
        dataset (a request always stats the files, so a rewrite or a file
        dropped in by hand is seen by the next one) and the session confs
        in ``_PLAN_CONFS``. A hit returns the kept answer: it loads no
        dataset and runs no Spark job. A miss calls ``compute(*frames)``
        with each dataset loaded (`load`), which returns the answer and
        whether it may be kept. It is kept only when every dataset is
        flat (a file or a directory without subdirectories, whose
        `file_version` sees every change), each dataset's files are the
        version they were before the computation, and no dataset it reads
        was dropped in the meantime. Answers are shared between threads,
        so they must not be changed. At most PLAN_SLOTS are kept; the
        least recently used goes first."""
        with self._answers_lock:
            drops = [self._answer_drops.get(i, 0) for i in data_ids]
        paths = [self.dataset_path(i) for i in data_ids]
        reads = tuple(
            (i, file_version(p) if p is not None and _is_flat(p) else None)
            for i, p in zip(data_ids, paths)
        )
        key = None
        if all(v is not None for _, v in reads):
            key = (route, reads, tuple(self.spark.conf.get(c) for c in _PLAN_CONFS))
            with self._answers_lock:
                if key in self._answers:
                    self._answers.move_to_end(key)
                    return self._answers[key]
        answer, keep = compute(*(self.load(i) for i in data_ids))
        if key is None or not keep:
            return answer
        if any(file_version(p) != v for p, (_, v) in zip(paths, reads)):
            return answer  # the files changed under the computation
        with self._answers_lock:
            if [self._answer_drops.get(i, 0) for i in data_ids] == drops:
                self._answers[key] = answer
                self._answers.move_to_end(key)
                while len(self._answers) > self.PLAN_SLOTS:
                    self._answers.popitem(last=False)
        return answer

    def _scan(self, path: str, schema=None, merge_schema: bool = False, **options) -> DataFrame:
        """Lazy scan of a live or snapshot path in the format its
        extension names (no extension: a parquet directory)."""
        fmt = os.path.splitext(path.split(self.SNAP_MARK)[0])[1][1:]
        if fmt not in ("csv", "json", "orc"):
            fmt = "parquet"
        if fmt == "csv":
            options.update(header=True, inferSchema=schema is None)
        if merge_schema:
            options["mergeSchema"] = True
        return read_path(self.spark, fmt, path, schema, **options)

    def compact(self, data_id: str, target_rows_per_file: int = 1_000_000) -> int:
        """Small-file compaction (lake maintenance): rewrite a parquet
        dataset into ⌈rows / target⌉ part files. Streaming/incremental
        writers leave thousands of tiny parts; at 100 TB the per-file
        open/footer cost dominates scans long before data volume does.

        Row count comes from parquet METADATA (a footer-only job, no
        data scan), then one repartition-write; the write goes to a
        temp id and swaps in only after success, so a failed compaction
        never corrupts the dataset. Returns the new file count."""
        path = self.dataset_path(data_id)
        if path is None or not (path.endswith(".parquet") or os.path.isdir(path)):
            raise FileNotFoundError(f"no parquet dataset {data_id!r} to compact")
        df = read_path(self.spark, "parquet", path)
        n_rows = df.count()  # parquet count() is metadata-only
        n_files = max(1, -(-n_rows // target_rows_per_file))
        tmp_id = f"{data_id}.__compact_tmp"
        tmp_path = self.save(df.repartition(n_files), tmp_id, fmt="parquet")
        self._swap_in(tmp_path, path, archive=False)
        self._drop(data_id)
        self._invalidate_memos()
        return n_files

    def vacuum(self, retention_seconds: float = 3600.0) -> list[str]:
        """Lake maintenance: remove orphaned write debris — temp-and-swap
        leftovers from a compaction that died between write and swap
        (`*.__compact_tmp.*`), overwrite staging dirs from a save() that
        died before its publish rename (`*.__writing__*`), and Spark
        `_temporary` staging dirs from a killed job. All are invisible
        to `load` (the catalog never resolves them) but at 100 TB
        abandoned staging data is real money; every production lake
        runs exactly this sweep. Never touches a live dataset: only the
        debris name patterns are candidates, and debris younger than
        ``retention_seconds`` (mtime) is left alone so a vacuum running
        concurrently with an IN-FLIGHT save()/compact() cannot delete
        the active staging dir mid-write (the same retention rule every
        production lake's VACUUM applies; pass 0 only when no writer can
        be live). Returns the removed paths."""
        import shutil
        import time

        removed: list[str] = []
        now = time.time()
        for entry in sorted(os.listdir(self.base_dir)):
            full = os.path.join(self.base_dir, entry)
            if ".__compact_tmp." in entry or ".__writing__" in entry:
                # compaction swap leftovers + overwrite staging dirs from
                # a save() that died before its publish rename
                try:
                    age = now - os.path.getmtime(full)
                except OSError:
                    continue  # already gone — the writer published/cleaned
                if age < retention_seconds:
                    continue  # possibly a LIVE writer's staging dir
                shutil.rmtree(full, ignore_errors=True)
                removed.append(full)
            elif os.path.isdir(full):
                staging = os.path.join(full, "_temporary")
                if os.path.isdir(staging):
                    try:
                        if now - os.path.getmtime(staging) < retention_seconds:
                            continue  # a job may still be committing
                    except OSError:
                        continue
                    shutil.rmtree(staging, ignore_errors=True)
                    removed.append(staging)
        return removed

    def save(
        self,
        df: DataFrame,
        data_id: str,
        fmt: str = "parquet",
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> str:
        """Write a DataFrame into the lake as <base>/<id>.<fmt> (SURVEY §2.1:
        the reference links polars' parquet + json writers, Cargo.toml:8).

        Spark-first: the writer emits a DIRECTORY of part files — one per
        partition, written executor-side in parallel — which `load` reads
        back transparently (spark.read takes files or directories). At
        100 TB pass partition_by to lay out Hive-style partition pruning
        keys; no driver-side materialization ever happens here.

        Overwrites PUBLISH BY RENAME: the job writes to a sibling
        ``<path>.__writing__*`` directory (invisible to list_datasets),
        then the old directory is renamed away and the new one renamed
        into place (`_swap_in`). Concurrent readers therefore see the
        OLD complete data for the whole duration of the write, never a
        half-written mix of new part files — a concurrency e2e caught
        exactly that partial-count window under an in-place overwrite —
        nor a half-removed old directory. The residual gap between the
        two renames is a clean dataset-missing error (mapped to 400 by
        the endpoints), not a wrong answer; a crash in the gap leaves
        the finished tmp dir for vacuum. This is the local-FS
        analog of an object-store commit protocol — on a real deployment
        the same role is played by the committer/table format. Append
        mode keeps writing in place (it composes with existing files by
        definition).
        """
        if fmt not in self.FORMATS:
            raise ValueError(f"unsupported format {fmt!r}; one of {self.FORMATS}")
        path = os.path.join(self.base_dir, f"{data_id}.{fmt}")
        target = path
        if mode == "overwrite":
            import uuid

            target = f"{path}.__writing__{uuid.uuid4().hex[:8]}"
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if fmt == "csv":
            writer = writer.option("header", True)
        getattr(writer, fmt)(target)
        if target is not path:
            self._swap_in(target, path)
        self._drop(data_id)
        self._invalidate_memos()
        return path

    def _swap_in(self, staged: str, path: str, archive: bool = True) -> None:
        """Publish the finished directory ``staged`` as ``path``. A
        replaced single file (e.g. a hand-dropped CSV) is removed. A
        replaced directory leaves by one atomic rename: into a snapshot
        when ``archive`` and snapshots are kept (readable through
        `load_snapshot` until pruned), else aside under a staging name
        and removed once the new one is in place. So a concurrent reader
        lists either whole version, or finds the dataset missing in the
        gap between the two renames; it never lists a directory that is
        being removed, whose part files it could read only some of."""
        import shutil
        import uuid

        old = None
        if os.path.isfile(path):
            os.remove(path)
        elif os.path.isdir(path):
            if archive and self.keep_snapshots > 0:
                k = self._next_snapshot_version(path)
                os.rename(path, f"{path}{self.SNAP_MARK}{k:08d}")
                self._prune_snapshots(path)
            else:
                # invisible to list_datasets; vacuum removes it if the
                # process dies before the rmtree below
                old = f"{path}.__writing__{uuid.uuid4().hex[:8]}.old"
                os.rename(path, old)
        os.rename(staged, path)
        if old is not None:
            shutil.rmtree(old, ignore_errors=True)

    # -- overwrite snapshots (time travel / rollback) -----------------

    def _snapshots_of(self, path: str) -> list[tuple[int, str]]:
        """(version, full_path) of every retained snapshot of ``path``,
        ascending. A directory scan, never a data read."""
        d, base = os.path.dirname(path), os.path.basename(path) + self.SNAP_MARK
        out = []
        if os.path.isdir(d):
            for entry in os.listdir(d):
                if entry.startswith(base) and entry[len(base):].isdigit():
                    out.append((int(entry[len(base):]), os.path.join(d, entry)))
        return sorted(out)

    def _all_format_snapshots(self, path: str) -> list[tuple[int, str]]:
        """(version, path) over EVERY format of this dataset id,
        ascending by version — version numbers are minted and pruned
        globally across formats (a per-format counter let a
        dataset republished under a second format mint a version number
        colliding with an earlier format's snapshot, and the dict merge
        in the index silently shadowed one of them)."""
        stem = path.rpartition(".")[0]
        out: list[tuple[int, str]] = []
        for fmt in self.FORMATS:
            out += self._snapshots_of(f"{stem}.{fmt}")
        return sorted(out)

    def _next_snapshot_version(self, path: str) -> int:
        snaps = self._all_format_snapshots(path)
        return (snaps[-1][0] + 1) if snaps else 1

    def _prune_snapshots(self, path: str) -> None:
        import shutil

        snaps = self._all_format_snapshots(path)
        for _, p in snaps[: max(0, len(snaps) - self.keep_snapshots)]:
            shutil.rmtree(p, ignore_errors=True)

    def _snapshot_index(self, data_id: str) -> dict[int, str]:
        """version → path over every format the id ever published as
        (snapshots survive even if the live dataset was deleted). The
        global version counter makes cross-format collisions impossible
        going forward; a collision from a lake written before the
        global counter raises instead of silently shadowing one
        format's snapshot."""
        out: dict[int, str] = {}
        for fmt in self.FORMATS:
            p = os.path.join(self.base_dir, f"{data_id}.{fmt}")
            for v, sp in self._snapshots_of(p):
                if v in out:
                    raise ValueError(
                        f"ambiguous snapshot version {v} of {data_id!r}:"
                        f" {out[v]} vs {sp} — restore/load by a unique"
                        " version after removing one of them"
                    )
                out[v] = sp
        return out

    def list_snapshots(self, data_id: str) -> list[int]:
        """Retained overwrite versions of a dataset, ascending (higher =
        more recent; the live directory is always newer than all)."""
        return sorted(self._snapshot_index(data_id))

    def load_snapshot(self, data_id: str, version: int) -> DataFrame:
        """Time travel: lazy scan of a RETAINED overwrite snapshot.

        Snapshot directories are immutable once archived (only pruning
        removes them), so a reader pinned to a version sees stable,
        complete data regardless of concurrent overwrites of the live
        dataset — the property the live path cannot give across a
        publish."""
        snaps = self._snapshot_index(data_id)
        if version not in snaps:
            raise FileNotFoundError(
                f"no snapshot {version} of {data_id!r}; have {sorted(snaps)}"
            )
        return self._scan(snaps[version])

    def restore(self, data_id: str, version: int) -> str:
        """Rollback: republish snapshot ``version`` as the live dataset
        through the same staged rename as save() — the snapshot itself
        is COPIED, not moved, so it remains in the retained window, and
        the replaced live data is archived per ``keep_snapshots`` (a
        rollback is itself an overwrite, so rolling BACK the rollback
        works)."""
        import shutil
        import uuid

        snaps = self._snapshot_index(data_id)
        if version not in snaps:
            raise FileNotFoundError(
                f"no snapshot {version} of {data_id!r}; have {sorted(snaps)}"
            )
        snap_path = snaps[version]
        path = snap_path.split(self.SNAP_MARK)[0]
        target = f"{path}.__writing__{uuid.uuid4().hex[:8]}"
        shutil.copytree(snap_path, target)
        self._swap_in(target, path)
        self._drop(data_id)
        self._invalidate_memos()
        return path

    def _invalidate_memos(self) -> None:
        """Drop memoized intermediate frames derived from this lake dir.

        A dataset overwrite changes the data under every memo keyed on
        this directory (shingle tables, pair frames, ANN indexes); in a
        long-lived server, serving those frames after a mutation is a
        stale-read wrong-answer, not just a storage leak — so release
        eagerly rather than waiting for LRU pressure.
        """
        from polars_express_spark.queries._memo import FRAMES

        FRAMES.release(self.base_dir)

    def save_bucketed(
        self,
        df: DataFrame,
        table: str,
        bucket_by: str,
        n_buckets: int = 8,
        mode: str = "overwrite",
    ) -> str:
        """Write a BUCKETED parquet table (hash-partitioned into
        n_buckets files per partition by bucket_by, sorted within).

        This is the co-located join layout: two tables bucketed the same
        way join WITHOUT a shuffle on either side — at 100 TB that turns
        the repeated fact⋈fact join from the pipeline's dominant shuffle
        into a local merge (verified by plan assertion in
        tests/test_bucketing.py). Bucketed tables must live in the
        session catalog (bucket metadata has no place in a bare
        directory), so this registers `table` backed by an external path
        under the lake.
        """
        path = os.path.join(self.base_dir, f"{table}.bucketed.parquet")
        (
            df.write.mode(mode)
            .option("path", path)
            .bucketBy(n_buckets, bucket_by)
            .sortBy(bucket_by)
            .format("parquet")
            .saveAsTable(table)
        )
        self._invalidate_memos()
        return path


# Timestamp columns that must be normalized to session-tz TIMESTAMP.
# Generations of the driver testdata have carried two physical forms:
# parquet TIMESTAMP(NANOS) (readable only as long nanos via
# spark.sql.legacy.parquet.nanosAsLong → convert ts div 1000 to µs,
# truncating exactly like DuckDB's TIMESTAMP_NS → TIMESTAMP coercion)
# and plain TIMESTAMP(MICROS) isAdjustedToUTC=false (read as
# TIMESTAMP_NTZ → cast; lossless under the UTC session timezone, and
# required because downstream epoch math casts ts to long, which Spark
# forbids on NTZ).
_NORMALIZE_TS_COLS = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-generated table (TESTDATA.md) lazily.

    Session-independent: ``nanosAsLong`` is runtime-settable, so set it
    here rather than relying on how the session was built; the ts
    normalization dispatches on the type the scan actually produced.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_path(spark, "parquet", os.path.join(sf_dir, f"{name}.parquet"))
    for col in _NORMALIZE_TS_COLS.get(name, ()):
        dt = df.schema[col].dataType
        if isinstance(dt, T.LongType):
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"`{col}` div 1000").cast("long"))
            )
        elif isinstance(dt, T.TimestampNTZType):
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TPCH_TABLES) -> None:
    """Register each table as a temp view so SQL-form queries can run."""
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
