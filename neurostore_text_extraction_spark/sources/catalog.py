"""Iceberg-*layout* table store over plain parquet (SURVEY.md §7: no
Iceberg runtime jar assumed — partitioned parquet + snapshot dirs +
atomic tmp-dir renames behind a thin catalog so a real Iceberg catalog
is a config swap).

Write protocol: each append stages its rows under ``<root>/.tmp/<uuid>``
then commits them by ``os.rename`` to ``<root>/<table>/snap-<n>-<uuid>``
— rename is atomic on one filesystem, so readers never observe a
partial snapshot (the analogue of Iceberg's snapshot commit). Rows are
staged three ways: by a Spark write (:meth:`Catalog.stage`, visible
only once Spark's job-level commit has completed), by a pyarrow write
in the calling process (:meth:`Catalog.stage_arrow`), or by tasks that
write their own files into a :meth:`Catalog.stage_dir` and report them,
after which the driver stages exactly the reported files
(:meth:`Catalog.stage_files`; Iceberg's tasks-write, driver-commits
pattern). Task-written files need a store root that every executor
reaches as a filesystem path. A writer that commits to several tables
stages all of them first and then renames them in the order it needs
(:func:`plans.pipeline.run_extraction` renames results last).
"""

from __future__ import annotations

import functools
import os
import shutil
import uuid
from collections.abc import Callable
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

if TYPE_CHECKING:
    import pyarrow as pa

# A row's file path: snapshot dirs sort by sequence number, so the newest
# row per key has the greatest path. Unlike ``input_file_name()`` this
# scan metadata column is deterministic: filters above it reach the scan.
SNAPSHOT_PATH = "_metadata.file_path"


class Catalog:
    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(os.path.join(root, ".tmp"), exist_ok=True)

    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def snapshots(self, table: str) -> list[str]:
        d = self._table_dir(table)
        if not os.path.isdir(d):
            return []
        return sorted(
            os.path.join(d, s) for s in os.listdir(d) if s.startswith("snap-")
        )

    def _next_seq(self, table: str) -> int:
        """max(existing snapshot numbers) + 1 — NOT len(snapshots):
        compact deletes old snapshots, so a length-derived number would
        re-issue a sequence number BELOW the compacted snapshot and the
        next compact's latest-wins rule would resurrect the stale
        compacted row over the newer append."""
        seqs = [
            int(os.path.basename(s).split("-")[1]) for s in self.snapshots(table)
        ]
        return max(seqs) + 1 if seqs else 0

    def _spec_path(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "_partition_spec.json")

    def _infer_spec_from_snapshot(self, table: str) -> list[str] | None:
        """Derive a pre-spec-file table's layout from its NEWEST
        snapshot's directory shape (hive dirs nest one ``col=`` level
        per partition column): walks one path of ``col=`` segments
        down. None when the table has no snapshots."""
        snaps = self.snapshots(table)
        if not snaps:
            return None
        spec: list[str] = []
        d = snaps[-1]
        while True:
            parts = [
                e
                for e in os.listdir(d)
                if "=" in e and os.path.isdir(os.path.join(d, e))
            ]
            if not parts:
                return spec
            spec.append(parts[0].split("=", 1)[0])
            d = os.path.join(d, parts[0])

    def _recorded_spec(self, table: str) -> list[str] | None:
        """The table's partition layout: the spec file if present,
        else inferred from existing snapshots (tables created before
        the spec file existed — the guard must cover them too, or the
        first post-upgrade append with a different layout would
        silently record ITS layout and commit the mixed-layout table
        the guard exists to prevent). None = table does not exist."""
        import json

        path = self._spec_path(table)
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)["partition_by"]
        return self._infer_spec_from_snapshot(table)

    def _check_partition_spec(
        self, table: str, partition_by: list[str] | None
    ) -> None:
        """Enforce one partition layout per table lifetime (Iceberg's
        partition-spec analogue): appends/compacts with a layout
        different from the recorded (or snapshot-inferred) one raise
        instead of committing a mixed-layout table — which Spark's
        multi-path partition discovery would reject (or silently drop
        the partition column from) only at READ time, long after the
        bad snapshot landed (ADVICE r3). Recording happens in
        :meth:`_record_partition_spec` AFTER the snapshot commit — a
        failed write must not pin a layout for an empty table."""
        spec = list(partition_by) if partition_by else []
        recorded = self._recorded_spec(table)
        if recorded is not None and recorded != spec:
            raise ValueError(
                f"table {table!r} was created with partition_by="
                f"{recorded}; appending with {spec} would mix "
                "snapshot layouts. Use the recorded layout, or "
                "compact into a NEW table to change it."
            )

    def _record_partition_spec(
        self, table: str, partition_by: list[str] | None
    ) -> None:
        import json

        path = self._spec_path(table)
        if os.path.exists(path):
            return
        spec = list(partition_by) if partition_by else []
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump({"partition_by": spec}, f)
        os.rename(tmp, path)

    def _tmp_path(self) -> str:
        return os.path.join(self.root, ".tmp", uuid.uuid4().hex)

    def stage(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        row_count: Callable[[], int] | None = None,
    ) -> str | None:
        """Write df under ``.tmp`` for a later :meth:`commit` into
        ``table``; returns the staged path.

        ``row_count``, when given, is called once the write job has
        finished and returns how many rows it wrote (typically read from
        an ``Observation`` attached to ``df``, which the write fills in
        the same job). Zero rows stage nothing: the ``.tmp`` directory
        is removed and None is returned.

        ``partition_by`` writes the snapshot hive-partitioned on the
        given columns (north rule: results partitioned on a url-hash
        bucket) — readers filtering on a partition column prune whole
        directories at planning time. The layout is recorded on first
        commit and VALIDATED on every later append/compact
        (:meth:`_check_partition_spec`): Spark's multi-path partition
        discovery requires consistent directory shapes, so a mixed
        layout must fail at write time, not read time."""
        self._check_partition_spec(table, partition_by)
        tmp = self._tmp_path()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        try:
            writer.parquet(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        if row_count is not None and row_count() == 0:
            shutil.rmtree(tmp, ignore_errors=True)
            return None
        return tmp

    def stage_arrow(self, data: pa.Table, table: str) -> str:
        """:meth:`stage` for a pyarrow table written by the calling
        process, unpartitioned and without a Spark job."""
        import pyarrow.parquet as pq

        tmp = self.stage_dir(table)
        pq.write_table(data, os.path.join(tmp, "part-00000.parquet"))
        return tmp

    def stage_dir(self, table: str, partition_by: list[str] | None = None) -> str:
        """A new empty directory under ``.tmp`` that writers fill with
        their own files for ``table``; :meth:`stage_files` then stages
        the ones to commit. The layout is checked first, as in
        :meth:`stage`."""
        self._check_partition_spec(table, partition_by)
        tmp = self._tmp_path()
        os.makedirs(tmp)
        return tmp

    def stage_files(self, src: str, files: list[str]) -> str:
        """Stage exactly ``files`` (paths relative to ``src``, at least
        one) for a later :meth:`commit`: each is renamed into a new
        directory under ``.tmp``, which is returned. Anything else in
        ``src``, such as a failed task attempt's file, stays there for
        the caller to remove, and a file a straggling attempt renames
        into ``src`` later cannot reach the snapshot."""
        tmp = self._tmp_path()
        for f in files:
            dest = os.path.join(tmp, f)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            os.rename(os.path.join(src, f), dest)
        return tmp

    def commit(self, staged: str, table: str, partition_by: list[str] | None = None) -> str:
        """Rename a staged directory in as the table's next snapshot;
        returns its path. The rename is atomic, so readers see the
        whole snapshot or none of it."""
        os.makedirs(self._table_dir(table), exist_ok=True)
        n = self._next_seq(table)
        dest = os.path.join(self._table_dir(table), f"snap-{n:06d}-{uuid.uuid4().hex[:8]}")
        os.rename(staged, dest)
        # record only AFTER the snapshot committed: a failed write must
        # not pin a (possibly wrong) layout on a still-empty table
        self._record_partition_spec(table, partition_by)
        return dest

    def append(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        row_count: Callable[[], int] | None = None,
    ) -> str | None:
        """Write df as a new immutable snapshot: :meth:`stage` then
        :meth:`commit`. Returns the snapshot's path, or None when
        ``row_count`` reports zero rows (nothing is committed)."""
        staged = self.stage(df, table, partition_by, row_count)
        return None if staged is None else self.commit(staged, table, partition_by)

    def read(
        self,
        spark: SparkSession,
        table: str,
        schema: StructType | None = None,
    ) -> DataFrame | None:
        """Union of ALL snapshot rows — append history included. A
        crash between compact's append and its rmtree leaves the
        pre-compact snapshots visible here as duplicates; use
        :meth:`read_latest` (or re-run :meth:`compact`, which collapses
        them) when per-key latest-wins semantics are required.

        Schema evolution: snapshots are read with ``mergeSchema``, so
        a column added in a later snapshot appears (NULL for earlier
        rows) instead of being silently dropped by the default
        first-file-schema read. Footer merging costs O(files), bounded
        by auto-compaction. Footer reads are a Spark job; a caller that
        knows the table's ``schema`` passes it, and no footer is read
        (columns absent from a snapshot read as NULL).

        A partitioned table is read as a union by name of one read per
        snapshot, each with its own ``basePath``: partition discovery
        rejects several hive-partitioned roots in one read
        (``CONFLICTING_DIRECTORY_STRUCTURES``). A union has no metadata
        columns, so each of its branches carries its rows' file path in
        a ``_metadata`` column of its own, and :data:`SNAPSHOT_PATH`
        resolves on either layout."""
        snaps = self.snapshots(table)
        if not snaps:
            return None

        def reader():
            if schema is not None:
                return spark.read.schema(schema)
            return spark.read.option("mergeSchema", "true")

        if not self._recorded_spec(table):
            return reader().parquet(*snaps)
        parts = [
            reader()
            .option("basePath", s)
            .parquet(s)
            .withColumn("_metadata", F.struct(F.col(SNAPSHOT_PATH).alias("file_path")))
            for s in snaps
        ]
        return functools.reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)

    def read_latest(
        self,
        spark: SparkSession,
        table: str,
        key_cols: list[str],
        order_col: str | None = None,
    ) -> DataFrame | None:
        """Latest row per key across the snapshot history — the same
        rule :meth:`compact` applies (snapshot sequence desc, then
        ``order_col`` desc), so readers see identical results before
        and after compaction, including the duplicated-but-correct
        state a crashed compact leaves behind."""
        from pyspark.sql import Window

        df = self.read(spark, table)
        if df is None:
            return None
        order = [F.col(SNAPSHOT_PATH).desc()]
        if order_col is not None:
            order.append(F.col(order_col).desc())
        w = Window.partitionBy(*key_cols).orderBy(*order)
        latest = df.withColumn("_rn", F.row_number().over(w)).where("_rn = 1")
        # a no-op on an unpartitioned table, where _metadata is hidden
        return latest.drop("_rn", "_metadata")

    def exists(self, table: str) -> bool:
        return bool(self.snapshots(table))

    def compact(
        self,
        spark: SparkSession,
        table: str,
        key_cols: list[str],
        order_col: str | None = None,
        partition_by: list[str] | None = None,
    ) -> str | None:
        """MERGE-style compaction: collapse the snapshot history to the
        latest row per key (last snapshot wins; within-snapshot ties
        broken by ``order_col`` desc) written as ONE new snapshot, then
        drop the old snapshots. Bounds the results history for
        long-lived incremental pipelines — without it the resume
        anti-join's right side grows with every run.

        Single-writer protocol (like the append path): the new snapshot
        is committed atomically by rename before the old ones are
        removed, so a crash mid-compact leaves duplicated-but-correct
        history, never lost rows. ``read_latest`` dedupes that state by
        the same latest-wins rule (the compacted snapshot carries a
        HIGHER sequence number than the snapshots it replaced — see
        ``_next_seq``), and the next ``compact`` run collapses the
        leftovers; plain ``read`` unions everything and will show the
        duplicates."""
        from pyspark.sql import Window

        snaps = self.snapshots(table)
        if len(snaps) <= 1:
            return None
        parts = [
            spark.read.parquet(s).withColumn("_snap_seq", F.lit(i))
            for i, s in enumerate(snaps)
        ]
        df = parts[0]
        for p in parts[1:]:
            # schema evolution: older snapshots may lack later-added
            # columns — they compact to NULL in those columns
            df = df.unionByName(p, allowMissingColumns=True)
        order = [F.col("_snap_seq").desc()]
        if order_col is not None:
            order.append(F.col(order_col).desc())
        w = Window.partitionBy(*key_cols).orderBy(*order)
        latest = (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", "_snap_seq")
        )
        # partitioned tables stay partitioned through compaction — a
        # mixed layout would break multi-path partition discovery.
        # partition_by=None INHERITS the table's recorded spec (the
        # common case); an explicit non-matching spec is rejected by
        # append's _check_partition_spec.
        if partition_by is None:
            partition_by = self._recorded_spec(table) or None
        dest = self.append(latest, table, partition_by=partition_by)
        for s in snaps:
            shutil.rmtree(s, ignore_errors=True)
        return dest

    def maybe_compact(
        self,
        spark: SparkSession,
        table: str,
        key_cols: list[str],
        order_col: str | None = None,
        max_snapshots: int = 16,
        partition_by: list[str] | None = None,
    ) -> str | None:
        """Auto-compaction policy: compact only once the snapshot
        history exceeds ``max_snapshots``, so long-lived incremental
        pipelines keep every latest-pick read bounded (O(max_snapshots)
        files per scan) while short histories pay no compaction cost.
        Amortized: each compaction reads each live row once, and runs
        at most every ``max_snapshots`` appends."""
        if len(self.snapshots(table)) <= max_snapshots:
            return None
        return self.compact(spark, table, key_cols, order_col, partition_by)


# S8 extension dispatch — typed loader routing by file suffix
# (reference ``ns_extract/utils.py:147-195``, dispatch at 178-189:
# .txt → str, .json → dict, .csv → rows via pandas; unsupported
# extension raises). Spark analogue: route to the typed reader at
# plan-build time; unsupported extension is an analysis-time error.
_READERS = {
    ".txt": lambda spark, path: spark.read.text(path, wholetext=True),
    ".json": lambda spark, path: spark.read.json(path),
    ".csv": lambda spark, path: spark.read.csv(path, header=True, inferSchema=False),
    ".parquet": lambda spark, path: spark.read.parquet(path),
}


def read_typed(spark: SparkSession, path: str) -> DataFrame:
    """Load a file through the reader its extension declares (S7/S8)."""
    _, ext = os.path.splitext(path)
    reader = _READERS.get(ext.lower())
    if reader is None:
        raise ValueError(
            f"unsupported input extension {ext!r} for {path}; "
            f"supported: {sorted(_READERS)}"
        )
    return reader(spark, path)


IDENTIFIERS_DDL = "pmid string, pmcid string, doi string"
METADATA_DDL = "title string, abstract string, year int"
_NAN_REPAIR_FIELDS = ("title", "abstract")


def repair_nan_metadata(col_or_name, fields: tuple[str, ...] = _NAN_REPAIR_FIELDS):
    """S6 NaN-repair quirk (reference ``ns_extract/pipelines/utils.py:
    70-74``): pandas-written metadata JSON carries float ``NaN`` for
    missing title/abstract; the reference coerces those to ``""`` on
    load. Here the *unquoted* ``NaN`` token is rewritten to ``""`` in
    the raw JSON string before parsing (a quoted ``"NaN"`` string is a
    real value and is preserved, matching the isinstance-float check).
    Pure regexp_replace — native, and an exact DuckDB twin exists."""
    from pyspark.sql import Column, functions as F

    col = col_or_name if isinstance(col_or_name, Column) else F.col(col_or_name)
    for f in fields:
        col = F.regexp_replace(col, r'("' + f + r'"\s*:\s*)NaN', '$1""')
    return col


def parse_study_metadata(col_or_name):
    """S6 metadata load: raw metadata.json string column → typed
    (title, abstract, year) struct with the NaN repair applied."""
    from pyspark.sql import functions as F

    return F.from_json(repair_nan_metadata(col_or_name), METADATA_DDL)


def parse_identifiers(col_or_name):
    """S2 identifier load: a packed identifiers.json string column →
    typed (pmid, pmcid, doi) struct (reference ``Study.__post_init__``,
    ``dataset.py:128-137``). Native from_json — no Python."""
    from pyspark.sql import Column, functions as F

    col = col_or_name if isinstance(col_or_name, Column) else F.col(col_or_name)
    return F.from_json(col, IDENTIFIERS_DDL)
