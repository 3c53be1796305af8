"""Iceberg-*layout* table store over plain parquet (SURVEY.md §7: no
Iceberg runtime jar assumed — partitioned parquet + snapshot dirs +
atomic tmp-dir renames behind a thin catalog so a real Iceberg catalog
is a config swap).

Write protocol: each append writes to ``<root>/.tmp/<uuid>`` then
``os.rename``s to ``<root>/<table>/snap-<n>-<uuid>`` — rename is atomic
on one filesystem, so readers never observe a partial snapshot (the
analogue of Iceberg's snapshot commit). A snapshot only becomes
visible when Spark's own job-level commit (_SUCCESS) has completed.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


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

    def snapshot_seqs(self, table: str) -> list[int]:
        """Committed snapshot sequence numbers, ascending (the table's
        time-travel axis)."""
        return [
            int(os.path.basename(s).split("-")[1]) for s in self.snapshots(table)
        ]

    def _snaps_as_of(self, table: str, as_of: int | None) -> list[str]:
        """Snapshots visible at sequence ``as_of`` (inclusive); None =
        current. Compaction expires history like Iceberg snapshot
        expiration: a compacted snapshot REPLACES its inputs under a
        higher sequence number, so time travel reaches back only to the
        oldest retained snapshot — asking for an expired sequence
        raises rather than silently returning post-compact state."""
        snaps = self.snapshots(table)
        if as_of is None:
            return snaps
        seqs = [int(os.path.basename(s).split("-")[1]) for s in snaps]
        if snaps and as_of > max(seqs):
            raise ValueError(
                f"snapshot {as_of} of table {table!r} was never committed; "
                f"newest is {max(seqs)}"
            )
        kept = [s for s, n in zip(snaps, seqs) if n <= as_of]
        if snaps and not kept:
            raise ValueError(
                f"snapshot {as_of} of table {table!r} has been expired by "
                f"compaction; oldest retained is {seqs[0]}"
            )
        return kept

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

    def append(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        row_count: Callable[[], int] | None = None,
    ) -> str | None:
        """Write df as a new immutable snapshot; returns its path.

        ``row_count``, when given, is called once the write job has
        finished and returns how many rows it wrote (typically read from
        an ``Observation`` attached to ``df``, which the write fills in
        the same job). Zero rows commit nothing: the ``.tmp`` directory
        is removed and None is returned.

        ``partition_by`` writes the snapshot hive-partitioned on the
        given columns (north rule: results partitioned on a url-hash
        bucket) — readers filtering on a partition column prune whole
        directories at planning time. The layout is recorded on first
        append and VALIDATED on every later append/compact
        (:meth:`_check_partition_spec`): Spark's multi-path partition
        discovery requires consistent directory shapes, so a mixed
        layout must fail at write time, not read time."""
        self._check_partition_spec(table, partition_by)
        tmp = os.path.join(self.root, ".tmp", uuid.uuid4().hex)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        if row_count is not None and row_count() == 0:
            shutil.rmtree(tmp, ignore_errors=True)
            return None
        os.makedirs(self._table_dir(table), exist_ok=True)
        n = self._next_seq(table)
        dest = os.path.join(self._table_dir(table), f"snap-{n:06d}-{uuid.uuid4().hex[:8]}")
        os.rename(tmp, dest)
        # record only AFTER the snapshot committed: a failed write must
        # not pin a (possibly wrong) layout on a still-empty table
        self._record_partition_spec(table, partition_by)
        return dest

    def read(
        self,
        spark: SparkSession,
        table: str,
        as_of: int | None = None,
        schema: StructType | None = None,
    ) -> DataFrame | None:
        """Union of ALL snapshot rows — append history included. A
        crash between compact's append and its rmtree leaves the
        pre-compact snapshots visible here as duplicates; use
        :meth:`read_latest` (or re-run :meth:`compact`, which collapses
        them) when per-key latest-wins semantics are required.

        ``as_of``: Iceberg-style time travel — read the table as it
        was at snapshot sequence ``as_of`` (see :meth:`snapshot_seqs`);
        scan-level pruning, only the visible snapshot files are read.

        Schema evolution: snapshots are read with ``mergeSchema``, so
        a column added in a later snapshot appears (NULL for earlier
        rows) instead of being silently dropped by the default
        first-file-schema read. Footer merging costs O(files), bounded
        by auto-compaction. Footer reads are a Spark job; a caller that
        knows the table's ``schema`` passes it, and no footer is read
        (columns absent from a snapshot read as NULL)."""
        snaps = self._snaps_as_of(table, as_of)
        if not snaps:
            return None
        if schema is not None:
            return spark.read.schema(schema).parquet(*snaps)
        return spark.read.option("mergeSchema", "true").parquet(*snaps)

    def read_latest(
        self,
        spark: SparkSession,
        table: str,
        key_cols: list[str],
        order_col: str | None = None,
        as_of: int | None = None,
    ) -> DataFrame | None:
        """Latest row per key across the snapshot history — the same
        rule :meth:`compact` applies (snapshot sequence desc, then
        ``order_col`` desc), so readers see identical results before
        and after compaction, including the duplicated-but-correct
        state a crashed compact leaves behind. ``as_of`` time-travels
        the pick to a historical snapshot sequence."""
        from pyspark.sql import Window, functions as F

        snaps = self._snaps_as_of(table, as_of)
        if not snaps:
            return None
        df = (
            spark.read.option("mergeSchema", "true")
            .parquet(*snaps)
            .withColumn("_snap", F.input_file_name())
        )
        order = [F.col("_snap").desc()]
        if order_col is not None:
            order.append(F.col(order_col).desc())
        w = Window.partitionBy(*key_cols).orderBy(*order)
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", "_snap")
        )

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
        drop the old snapshots. Bounds manifest growth for long-lived
        incremental pipelines — without it the anti-join's right side
        grows with every run.

        Single-writer protocol (like the append path): the new snapshot
        is committed atomically by rename before the old ones are
        removed, so a crash mid-compact leaves duplicated-but-correct
        history, never lost rows. ``read_latest`` dedupes that state by
        the same latest-wins rule (the compacted snapshot carries a
        HIGHER sequence number than the snapshots it replaced — see
        ``_next_seq``), and the next ``compact`` run collapses the
        leftovers; plain ``read`` unions everything and will show the
        duplicates."""
        from pyspark.sql import Window, functions as F

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
