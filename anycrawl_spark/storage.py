"""Snapshot-table storage: Iceberg-style snapshots on parquet directories.

The target deployment is Iceberg (``writeTo(...).append()`` / MERGE INTO with
snapshot isolation); the sandbox has no Iceberg runtime jar, so this module
provides the same minimal API over parquet directories with an explicit
manifest — append-only snapshots, atomic pointer swap, time travel by round.
Swapping in Iceberg means replacing this class's read/write with catalog calls;
the superstep driver (``crawl/superstep.py``) only talks to this API.

Layout:
    {base}/{table}/snap-{snap_id:06d}/   parquet files (one Spark write each)
    {base}/MANIFEST.json                 {"tables": {name: snap_id}, "round": r}

Atomicity: data is written to ``_tmp-*`` and os.rename'd into place; the
manifest is rewritten last via write-to-temp + rename — a crashed round leaves
the previous manifest intact, which is exactly the resume point
(north_rule: "resumable from Iceberg-checkpointed frontier snapshots").

A table's schema costs no Spark job: the manifest records each data dir's
Spark schema when it is written, and reads pass it to the parquet reader
instead of letting Spark infer it with a one-task footer job (the Iceberg
analog: the schema lives in table metadata). Rows that already sit on the
driver (per-job progress, webhook events, the driver-resident bloom shards)
go through the same ``append`` / ``write`` as an Arrow table and are written
with pyarrow — no ``createDataFrame`` and no write job.
"""

from __future__ import annotations

import json
import os
import shutil
import threading

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# the footer key Spark stores its own schema under; driver-written files
# carry it too, so every data file of a table describes itself the same way
SPARK_SCHEMA_KEY = "org.apache.spark.sql.parquet.row.metadata"

# target rows per data file: writes of already-materialized data coalesce to
# files_for(rows) files instead of one file per shuffle partition (a
# one-row table written from 32 partitions is 32 footers to list and read)
ROWS_PER_FILE = 1 << 20


def files_for(rows: int) -> int:
    """Data files a write of ``rows`` rows needs at ROWS_PER_FILE rows each."""
    return max(1, -(-rows // ROWS_PER_FILE))


def driver_rows(rows: list[tuple], schema: T.StructType) -> pa.Table:
    """Driver-side rows as an Arrow table that carries its Spark schema.

    ``SnapshotStore.append`` / ``write`` write such a table with pyarrow on
    the driver:
    no ``createDataFrame``, no Spark job. Spark reads the file back with the
    same rows and types as if it had written it."""
    arrow_schema = to_arrow_schema(schema).with_metadata(
        {SPARK_SCHEMA_KEY: schema.json()}
    )
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )


def _write_driver_table(data_dir: str, table: pa.Table) -> str:
    """Write a ``driver_rows`` table as one pyarrow file in a new
    ``data_dir``; returns the Spark schema JSON it carries."""
    os.makedirs(data_dir)
    pq.write_table(table, os.path.join(data_dir, "part-00000-driver.snappy.parquet"))
    return table.schema.metadata[SPARK_SCHEMA_KEY.encode()].decode()


class SnapshotStore:
    def __init__(self, base: str, spark: SparkSession):
        self.base = base
        self.spark = spark
        os.makedirs(base, exist_ok=True)
        # guards manifest mutation; Spark actions themselves are thread-safe,
        # so concurrent writes to DIFFERENT tables may run in parallel
        self._lock = threading.Lock()
        self.manifest_path = os.path.join(base, "MANIFEST.json")
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                self.manifest = json.load(f)
        else:
            self.manifest = {"tables": {}, "appends": {}, "round": -1, "history": []}
        self.manifest.setdefault("appends", {})
        self.manifest.setdefault("lineage", {})
        # data dir -> Spark schema JSON, recorded at write time (stores
        # written before schemas were recorded fall back to inference)
        self.manifest.setdefault("schemas", {})

    # -- per-partition lineage ---------------------------------------------

    def _collect_lineage(self, data_dir: str, round_no: int | None) -> None:
        """Record per-data-file lineage for a just-written dir: one entry per
        parquet part file (= one writing partition) with row count and bytes,
        read from the parquet FOOTER — no Spark action, ~0.1 ms per file
        (the Iceberg manifest-file analog: DataFile{path, record_count,
        file_size_in_bytes})."""
        files = []
        try:
            with os.scandir(data_dir) as it:
                for e in sorted(it, key=lambda e: e.name):
                    if not e.name.endswith(".parquet"):
                        continue
                    files.append(
                        {
                            "file": e.name,
                            "rows": pq.read_metadata(e.path).num_rows,
                            "bytes": e.stat().st_size,
                        }
                    )
        except Exception:
            files = []  # lineage is advisory; never fail a write over it
        self.manifest["lineage"][data_dir] = {
            "round": round_no,
            "files": files,
            "rows": sum(f["rows"] for f in files),
            "bytes": sum(f["bytes"] for f in files),
        }

    def lineage(self, table: str) -> list[dict]:
        """Per-append lineage entries for an append-only table, in commit
        order: [{dir, round, rows, bytes, files: [{file, rows, bytes}]}]."""
        out = []
        for d in self.manifest["appends"].get(table, []):
            ent = self.manifest["lineage"].get(d)
            if ent is not None and os.path.exists(d):
                out.append({"dir": d, **ent})
        return out

    def table_metrics(self) -> dict[str, dict]:
        """{table: {rows, bytes, appends}} across live append dirs — the
        driver-side metrics surface the north rule pairs with lineage."""
        out: dict[str, dict] = {}
        for t, dirs in self.manifest["appends"].items():
            ents = [
                self.manifest["lineage"].get(d)
                for d in dirs
                if os.path.exists(d) and self.manifest["lineage"].get(d)
            ]
            out[t] = {
                "rows": sum(e["rows"] for e in ents),
                "bytes": sum(e["bytes"] for e in ents),
                "appends": len(ents),
            }
        return out

    # -- manifest ----------------------------------------------------------

    def _flush_manifest(self) -> None:
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.manifest, f, indent=1)
        os.replace(tmp, self.manifest_path)

    def commit_round(self, round_no: int) -> None:
        """Snapshot-commit: record that all tables are consistent as of round."""
        self.manifest["round"] = round_no
        self.manifest["history"].append(
            {
                "round": round_no,
                "tables": dict(self.manifest["tables"]),
                # drop reserved-but-failed append slots (see append())
                "appends": {
                    t: [d for d in ds if os.path.exists(d)]
                    for t, ds in self.manifest["appends"].items()
                },
            }
        )
        # prune lineage of GC'd / failed-append dirs (advisory metadata
        # never outlives its data files)
        for meta in ("lineage", "schemas"):
            self.manifest[meta] = {
                d: e for d, e in self.manifest[meta].items() if os.path.exists(d)
            }
        self._flush_manifest()

    @property
    def last_round(self) -> int:
        return self.manifest["round"]

    # -- table io ----------------------------------------------------------

    def _snap_dir(self, table: str, snap_id: int) -> str:
        return os.path.join(self.base, table, f"snap-{snap_id:06d}")

    def _scan(self, dirs: list[str]) -> DataFrame:
        """Parquet scan over data dirs with the recorded schema — Spark's
        own inference reads the first file's footer, so the recorded schema
        of ``dirs[0]`` is the one it would infer, without the job."""
        schema = self.manifest["schemas"].get(dirs[0])
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(T.StructType.fromJson(json.loads(schema)))
        return reader.parquet(*dirs)

    def write(
        self, table: str, df: DataFrame | pa.Table,
        partition_by: list[str] | None = None,
    ) -> None:
        """Write a new immutable snapshot of `table` and advance its pointer.
        ``df`` is a DataFrame (one Spark write) or an unpartitioned
        ``driver_rows`` table (one pyarrow file, no Spark job)."""
        snap_id = self.manifest["tables"].get(table, -1) + 1
        final = self._snap_dir(table, snap_id)
        tmp = os.path.join(self.base, table, f"_tmp-{snap_id:06d}")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        if isinstance(df, pa.Table):
            if partition_by:
                raise ValueError("driver rows are written unpartitioned")
            schema = _write_driver_table(tmp, df)
        else:
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(tmp)
            # partition columns read back reordered; leave those to inference
            schema = None if partition_by else df.schema.json()
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
        self.manifest["tables"][table] = snap_id
        self._collect_lineage(final, None)
        if schema is not None:
            self.manifest["schemas"][final] = schema
        # stale snapshot GC: keep the last 4 (snap_id and the 3 before it;
        # Iceberg expire_snapshots analog)
        for old in range(max(0, snap_id - 3)):
            d = self._snap_dir(table, old)
            if os.path.exists(d):
                shutil.rmtree(d)
                self.manifest["lineage"].pop(d, None)
                self.manifest["schemas"].pop(d, None)

    def read(self, table: str, snap_id: int | None = None) -> DataFrame:
        if snap_id is None:
            snap_id = self.manifest["tables"][table]
        d = self._snap_dir(table, snap_id)
        if not os.path.exists(d):
            raise KeyError(
                f"snapshot expired: {table} snap-{snap_id:06d} was GC'd "
                f"(write() keeps the last 4 snapshots per table)"
            )
        return self._scan([d])

    def exists(self, table: str) -> bool:
        return table in self.manifest["tables"]

    # -- append-only tables (Iceberg fast-append analog) -------------------

    def append(
        self, table: str, df: DataFrame | pa.Table, round_no: int | None = None
    ) -> None:
        """Append an immutable data file set to an append-only table.

        In Iceberg this is ``writeTo(t).append()`` — no rewrite of existing
        data. Uncommitted appends (crash before commit_round) are dropped on
        resume because the manifest still lists the old dir set. ``round_no``
        stamps the per-partition lineage entry with the producing round.
        ``df`` is a DataFrame (one Spark write) or a ``driver_rows`` table
        (one pyarrow file written on the driver, no Spark job).
        """
        with self._lock:
            # Reserve the slot atomically: two concurrent appends to the SAME
            # table must get distinct seq numbers, so the final path goes into
            # the dir list inside this lock, before the (slow) parquet write.
            # A failed write leaves a dangling entry; read_appends filters on
            # os.path.exists and commit_round only persists what exists.
            dirs = self.manifest["appends"].setdefault(table, [])
            seq = len(dirs)
            final = os.path.join(self.base, table, f"append-{seq:06d}")
            dirs.append(final)
        tmp = os.path.join(self.base, table, f"_tmp-append-{seq:06d}")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        if isinstance(df, pa.Table):
            schema = _write_driver_table(tmp, df)
        else:
            df.write.mode("overwrite").parquet(tmp)
            schema = df.schema.json()
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
        self._collect_lineage(final, round_no)
        self.manifest["schemas"][final] = schema

    def read_appends(self, table: str) -> DataFrame | None:
        dirs = [d for d in self.manifest["appends"].get(table, []) if os.path.exists(d)]
        if not dirs:
            return None
        return self._scan(dirs)

    def rollback_to_committed(self) -> None:
        """Drop uncommitted table pointers/appends (crash recovery): restore
        the manifest's last committed history entry."""
        if not self.manifest["history"]:
            self.manifest["tables"] = {}
            self.manifest["appends"] = {}
            return
        last = self.manifest["history"][-1]
        self.manifest["tables"] = dict(last["tables"])
        self.manifest["appends"] = {t: list(d) for t, d in last["appends"].items()}

    def read_at_round(self, table: str, round_no: int) -> DataFrame:
        """Time travel: table state as of a committed round."""
        for entry in reversed(self.manifest["history"]):
            if entry["round"] == round_no:
                return self.read(table, entry["tables"][table])
        raise KeyError(f"no committed snapshot for round {round_no}")
