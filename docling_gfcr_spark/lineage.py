"""Per-partition lineage checkpointing + resume.

North rule: "resumable from checkpoint with per-partition lineage + metrics —
a killed job resumes from the last committed partition without reprocessing."

Design (SURVEY.md §4.3): work is bucketed into ``n_parts`` stable logical
partitions by ``part_id = pmod(xxhash64(conv_id), n_parts)`` — a pure function
of the data, so the same row lands in the same part across runs and cluster
sizes. Parts are processed in waves; each wave

1. writes extracted rows under ``data/part_id=<p>/`` (dynamic partition
   overwrite — a re-run of an uncommitted part replaces, never duplicates);
2. then appends one lineage row per part ``(run_id, part_id, n_parts, status,
   n_turns, nodes_classified, spans_emitted, parse_failures, errors,
   committed_at)``. The metrics are aggregated from the wave's own
   partitions only (``read_data_partitions``) and collected — at most one
   row per part — so a commit never lists or scans the rest of the growing
   table; the rows are appended from a driver-local Arrow relation
   (``commit_rows``), not a parallelized RDD.

A crash between (1) and (2) leaves data without lineage; resume reprocesses
that part and the overwrite makes it idempotent. On restart, committed parts
are excluded via a broadcast left-anti join — no reprocessing. ``n_parts`` is
persisted in every lineage row and validated on resume: part ids are only
meaningful under the hash scheme that produced them, so resuming the same
output with a different ``n_parts`` raises instead of silently skipping
wrong rows.

Storage is injected through the small ``Storage`` interface below. The
sandbox implementation is plain parquet (no Iceberg runtime jar here);
``IcebergStorage`` is the production twin with the identical commit
protocol — ``writeTo(table).overwritePartitions()`` for data waves and
``writeTo(lineage).append()`` for the atomic lineage commit. The job logic
is storage-agnostic (pinned by the conformance test in test_lineage.py).
"""

from __future__ import annotations

import time
import uuid

import pyarrow as pa
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

#: AnalysisException conditions meaning "the input does not exist yet" —
#: the ONLY failures that may degrade to first-run/empty semantics. Anything
#: else (permissions, corrupt footer, transient IO) must propagate.
MISSING_INPUT_CONDITIONS = (
    "PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA", "TABLE_OR_VIEW_NOT_FOUND"
)


def is_missing_input(e: Exception) -> bool:
    """True iff ``e`` is an AnalysisException classifying as a missing
    path/table. Prefers the structured condition (``getCondition``, Spark
    4.x; ``getErrorClass``, its 3.4+ predecessor) and falls back to message
    matching so pre-4.0 builds — where ``getCondition`` is absent and the
    structured check would silently never trigger — still classify."""
    if not isinstance(e, AnalysisException):
        return False
    # getErrorClass is getCondition's deprecated alias — consult it only
    # when getCondition itself is absent (it warns on every call in 4.x)
    fn = getattr(e, "getCondition", None) or getattr(e, "getErrorClass", None)
    if fn is not None:
        try:
            cond = fn()
        except Exception:
            cond = None
        if cond is not None:
            return cond in MISSING_INPUT_CONDITIONS
    msg = str(e)
    return "Path does not exist" in msg or any(
        c in msg for c in MISSING_INPUT_CONDITIONS
    )

from docling_gfcr_spark import pipeline

#: every lineage column is required: a commit row never holds a null
LINEAGE_SCHEMA = (
    "run_id string NOT NULL, part_id int NOT NULL, n_parts int NOT NULL, "
    "status string NOT NULL, n_turns long NOT NULL, nodes_classified long NOT NULL, "
    "spans_emitted long NOT NULL, parse_failures long NOT NULL, errors long NOT NULL, "
    "committed_at double NOT NULL"
)


class ParquetStorage:
    """Plain-parquet storage layer (the sandbox implementation).

    The interface is two writes and three reads; an Iceberg implementation
    maps them to ``writeTo(...).overwritePartitions()`` /
    ``writeTo(...).append()`` / ``spark.read.table(...)`` with the same
    wave-commit semantics.
    """

    def __init__(self, spark: SparkSession, out_dir: str) -> None:
        self.spark = spark
        self.data_dir = f"{out_dir}/data"
        self.lineage_dir = f"{out_dir}/lineage"

    def overwrite_data_partitions(self, df: DataFrame) -> None:
        """Replace exactly the part_id partitions present in ``df``."""
        (
            df.write.mode("overwrite")
            # writer-scoped (NOT session-wide — that would silently change
            # overwrite semantics for unrelated writes on a shared session)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("part_id")
            .parquet(self.data_dir)
        )

    def append_lineage(self, df: DataFrame) -> None:
        df.coalesce(1).write.mode("append").parquet(self.lineage_dir)

    def read_data(self) -> DataFrame:
        return self.spark.read.parquet(self.data_dir)

    def read_data_partitions(self, part_ids: list[int]) -> DataFrame:
        """Scan exactly the given ``part_id`` partitions by path, with
        ``part_id`` in the result — file listing touches only their
        directories instead of the whole (growing) table, so per-wave reads
        stay O(wave) as history accumulates. A part never written has no
        directory and is skipped (an existence probe through the Hadoop
        FileSystem API, not exception text); when none exists the read
        raises the missing-path ``AnalysisException``, as a read of a
        missing table does."""
        Path = self.spark._jvm.org.apache.hadoop.fs.Path
        fs = Path(self.data_dir).getFileSystem(self.spark._jsc.hadoopConfiguration())
        paths = [f"{self.data_dir}/part_id={int(p)}" for p in part_ids]
        found = [p for p in paths if fs.exists(Path(p))]
        return self.spark.read.option("basePath", self.data_dir).parquet(*(found or paths[:1]))

    def read_lineage(self) -> DataFrame | None:
        try:
            return self.spark.read.parquet(self.lineage_dir)
        except Exception:  # first run: lineage table does not exist yet
            return None


class IcebergStorage:
    """Iceberg-backed Storage twin: the SAME three-write/two-read commit
    protocol over catalog tables instead of parquet paths.

    - data waves:   ``writeTo(data_table).overwritePartitions()`` — replaces
      exactly the ``part_id`` partitions present in the frame, atomically per
      Iceberg snapshot (the dynamic-overwrite semantics ParquetStorage gets
      from ``partitionOverwriteMode=dynamic``);
    - lineage rows: ``writeTo(lineage_table).append()`` — one atomic commit;
    - reads go through the catalog, so time travel / snapshot isolation come
      free.

    Needs an Iceberg runtime jar + catalog config, which this sandbox does
    not have — so this class is UNVERIFIED SCAFFOLDING here: ``available()``
    returns False, the write/read paths never execute in this environment,
    and only their signatures are conformance-checked. A real integration
    test exists (tests/test_lineage.py::test_iceberg_storage_end_to_end) and
    runs wherever the jar + catalog are configured; until it has run, treat
    the DDL/writeTo specifics as best-effort. The job logic drives Storage
    ONLY through the shared interface (pinned by the conformance test), so
    swapping is a constructor change, not a job change. Create the tables
    once with ``create_tables(extracted_schema_ddl)`` (PARTITIONED BY
    part_id).
    """

    def __init__(self, spark: SparkSession, table_prefix: str) -> None:
        self.spark = spark
        self.data_table = f"{table_prefix}_data"
        self.lineage_table = f"{table_prefix}_lineage"

    @staticmethod
    def available(spark: SparkSession) -> bool:
        try:
            spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
            return True
        except Exception:
            return False

    def create_tables(self, data_schema_ddl: str) -> None:
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.data_table} ({data_schema_ddl}) "
            "USING iceberg PARTITIONED BY (part_id)"
        )
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.lineage_table} "
            f"({LINEAGE_SCHEMA}) USING iceberg"
        )

    def overwrite_data_partitions(self, df: DataFrame) -> None:
        df.writeTo(self.data_table).overwritePartitions()

    def append_lineage(self, df: DataFrame) -> None:
        df.coalesce(1).writeTo(self.lineage_table).append()

    def read_data(self) -> DataFrame:
        return self.spark.read.table(self.data_table)

    def read_data_partitions(self, part_ids: list[int]) -> DataFrame:
        # catalog tables prune on the partition predicate; no path surgery.
        # A missing partition reads as no rows; a missing table raises
        # TABLE_OR_VIEW_NOT_FOUND
        return self.read_data().where(F.col("part_id").isin([int(p) for p in part_ids]))

    def read_lineage(self) -> DataFrame | None:
        try:
            return self.spark.read.table(self.lineage_table)
        except Exception:  # first run: table not created yet
            return None


def with_part_id(df: DataFrame, n_parts: int) -> DataFrame:
    return df.withColumn("part_id", F.pmod(F.xxhash64("conv_id"), F.lit(n_parts)).cast("int"))


def commit_rows(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Driver-side commit rows as a frame planned over a ``LocalRelation``.

    ``createDataFrame(list)`` plans a ``LogicalRDD`` over ``parallelize``,
    and appending one schedules a job over the parallelized rows; a
    ``pyarrow.Table`` built with the exact ``schema`` (a DDL string,
    nullability included) plans as a local relation, with the Arrow conf on
    or off, and appends several times faster.
    """
    arrow_schema = to_arrow_schema(DataType.fromDDL(schema))
    table = pa.Table.from_pylist(
        [dict(zip(arrow_schema.names, r)) for r in rows], schema=arrow_schema
    )
    return spark.createDataFrame(table)


def commit_parts(
    spark: SparkSession, storage: ParquetStorage, part_ids: list[int], run_id: str,
    n_parts: int,
) -> None:
    """Append one committed lineage row per part in ``part_ids``, its
    metrics aggregated from ONLY those partitions and collected to the
    driver (at most one row per part).

    Parts with no rows still commit, with all-zero metrics — else they would
    be retried forever. A read that finds no data at all (a sparse first
    wave writes nothing, so the data dir or table does not exist yet) is the
    ONLY read failure that may degrade to zeros: any other (permissions,
    corrupt footer) must fail the commit, not fabricate all-zero metrics.
    """
    try:
        data = storage.read_data_partitions(part_ids)
    except AnalysisException as e:
        # missing dir -> PATH_NOT_FOUND; dir created but no files yet ->
        # UNABLE_TO_INFER_SCHEMA; Iceberg twin -> TABLE_OR_VIEW_NOT_FOUND
        if not is_missing_input(e):
            raise
        data = None
    metrics = {}
    if data is not None:
        for r in data.groupBy("part_id").agg(
            F.count("*").alias("n_turns"),
            F.sum("n_nodes").alias("nodes_classified"),
            F.sum("n_spans").alias("spans_emitted"),
            F.sum(F.col("parse_failed").cast("long")).alias("parse_failures"),
            F.sum((~F.col("success")).cast("long")).alias("errors"),
        ).collect():
            metrics[r.part_id] = tuple(v or 0 for v in r[1:])
    now = time.time()
    rows = [
        (run_id, p, n_parts, "committed", *metrics.get(p, (0,) * 5), now)
        for p in part_ids
    ]
    storage.append_lineage(commit_rows(spark, rows, LINEAGE_SCHEMA))


def committed_parts(storage: ParquetStorage, n_parts: int) -> set[int]:
    """Committed part ids, validating the persisted hash scheme.

    Raises ``ValueError`` if the lineage table was written under a different
    ``n_parts`` — its part ids would map to different conv_id sets now.
    """
    lineage = storage.read_lineage()
    if lineage is None:
        return set()
    if "n_parts" not in lineage.columns:
        raise ValueError(
            "lineage table predates n_parts tracking — its part ids cannot be "
            "validated against this run's hash scheme; rerun the whole job "
            "into a fresh output directory"
        )
    rows = (
        lineage.where(F.col("status") == "committed")
        .select("part_id", "n_parts")
        .distinct()
        .collect()
    )
    seen_n_parts = {r.n_parts for r in rows}
    if seen_n_parts - {n_parts}:
        raise ValueError(
            f"lineage table was committed with n_parts={sorted(seen_n_parts)} "
            f"but this run requested n_parts={n_parts}; part ids are not "
            "comparable across hash schemes — rerun with the original value "
            "or start a fresh output directory"
        )
    return {r.part_id for r in rows}


def run_extraction_job(
    spark: SparkSession,
    input_df: DataFrame,
    out_dir: str,
    n_parts: int = 64,
    n_waves: int = 4,
    mode: str = "agent",
    run_id: str | None = None,
    fail_after_wave: int | None = None,
    storage: ParquetStorage | None = None,
    optimize: bool | None = None,
    validate: bool = True,
) -> dict:
    """Wave-committed extraction with resume. Returns a run report dict.

    ``optimize``/``validate`` mirror the agent envelope's independent flags
    (pipeline.extract_one); ``fail_after_wave`` is a crash-injection hook
    for resumability tests.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    storage = storage or ParquetStorage(spark, out_dir)

    done = committed_parts(storage, n_parts)
    todo = [p for p in range(n_parts) if p not in done]
    src = with_part_id(input_df, n_parts)

    waves = [todo[i::n_waves] for i in range(n_waves)]
    waves = [w for w in waves if w]
    processed: list[int] = []
    for wi, wave in enumerate(waves):
        wave_df = src.where(F.col("part_id").isin(wave))
        extracted = pipeline.extract_turns(
            wave_df.drop("part_id"), mode=mode, optimize=optimize, validate=validate
        )
        extracted = with_part_id(extracted, n_parts)
        storage.overwrite_data_partitions(extracted.repartition(max(len(wave), 1), "part_id"))
        commit_parts(spark, storage, wave, run_id, n_parts)
        processed.extend(wave)
        if fail_after_wave is not None and wi + 1 >= fail_after_wave:
            raise RuntimeError(f"injected crash after wave {wi + 1}")
    return {
        "run_id": run_id,
        "resumed_parts_skipped": sorted(done),
        "parts_processed": sorted(processed),
        "n_waves": len(waves),
    }


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/data")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/lineage")


def upsert_extracted(
    spark: SparkSession,
    out_dir: str,
    updates: DataFrame,
    n_parts: int,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    run_id: str | None = None,
    storage: ParquetStorage | None = None,
) -> dict:
    """MERGE/upsert into the wave-committed table — the CDC shape (late
    corrections, re-extractions, backfills) without rewriting the table.

    Scale design: the update set is hash-bucketed with the SAME part_id rule
    as the table (``with_part_id``), so only the TOUCHED partitions are read
    and rewritten — cost is O(|touched buckets|), not O(table). Within a
    touched partition: existing rows not matching an update key survive
    (left anti), update rows replace matches and insert non-matches — the
    classic MERGE WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT. The rewrite
    publishes via the storage layer's dynamic partition overwrite (replayed
    jobs replace, never duplicate), then appends one lineage row per touched
    part (run_id ``upsert-*``) so metrics stay reconcilable — the NEWEST
    lineage row per part_id is the authoritative one after an upsert.

    Safety rails (each one is a silent-data-loss path without it):

    - the update plan is pinned with ``localCheckpoint`` BEFORE the touched
      set is collected — a nondeterministic ``updates`` (sample/limit) could
      otherwise emit a row at write time for a partition whose survivors
      were never read, wiping it;
    - only a missing-path read error means "brand-new bucket"; any OTHER
      read failure re-raises instead of being treated as empty (which would
      overwrite that partition with update rows only);
    - a table with streaming batch-id partitions (lineage ``n_parts=-1``)
      refuses: hash buckets and batch ids don't align, so matched keys could
      never be anti-joined away;
    - data present but lineage unreadable refuses (the n_parts rail cannot
      be checked, so it must not be silently skipped);
    - duplicate keys WITHIN the update set refuse (real MERGE errors on
      multiple source matches — applying both would duplicate the key);
    - ``key_cols`` must include ``conv_id``: the partition bucketing hashes
      conv_id, so a key that omits it could anti-join away unrelated
      conversations' rows inside a touched partition.

    The table must have been written with the same ``n_parts`` (enforced via
    the lineage n_parts check, like resume). Returns
    ``{"touched_parts", "n_updates", "run_id"}``.
    """
    from docling_gfcr_spark.operators.dedup import _free_local_checkpoint

    if "conv_id" not in key_cols:
        raise ValueError(
            "key_cols must include conv_id — partitions are hashed by conv_id, "
            "so a conv_id-free key could delete unrelated conversations' rows"
        )
    storage = storage or ParquetStorage(spark, out_dir)
    lin = storage.read_lineage()
    if lin is None:
        # distinguish "fresh table" (fine: upsert == insert) from "data
        # present but lineage unreadable" (the n_parts rail can't run —
        # refusing beats silently skipping it)
        try:
            storage.read_data()
            has_data = True
        except Exception:
            has_data = False
        if has_data:
            raise ValueError(
                "table has data but no readable lineage — cannot verify its "
                "n_parts scheme; restore the lineage table before upserting"
            )
    if lin is not None:
        seen = {int(r.n_parts) for r in lin.select("n_parts").distinct().collect()}
        if -1 in seen:
            raise ValueError(
                "table contains streaming batch-id partitions (n_parts=-1): "
                "hash-bucketed upsert cannot align with batch ids — compact to "
                "a hash-bucketed layout first"
            )
        if seen and seen != {n_parts}:
            raise ValueError(
                f"n_parts mismatch: table committed with {sorted(seen)}, upsert called with {n_parts}"
            )
    # pin the update set: every later use (touched list, anti-join, count,
    # write) must see the SAME rows even if the input plan is nondeterministic
    upd = with_part_id(updates, n_parts).localCheckpoint()
    try:
        touched = sorted(
            int(r.part_id) for r in upd.select("part_id").distinct().collect()
        )
        if not touched:
            return {"touched_parts": [], "n_updates": 0, "run_id": None}
        keys = list(key_cols)
        n_updates = upd.count()
        if upd.select(*keys).distinct().count() != n_updates:
            raise ValueError(
                "duplicate keys in the update set — real MERGE semantics "
                "forbid multiple source matches; dedupe updates first"
            )
        # read ONLY the touched partitions (partition-pruned paths); buckets
        # never written are absent from the read, and only a read that finds
        # none of them may mean "all brand-new"
        try:
            existing = storage.read_data_partitions(touched)
        except AnalysisException as e:
            if not is_missing_input(e):
                raise
            existing = None
        if existing is not None:
            survivors = existing.join(upd.select(*keys), keys, "left_anti")
            merged = survivors.unionByName(upd.select(*survivors.columns))
        else:
            # every touched bucket is brand-new: align to the TABLE's schema
            # if the table exists (select raises fast on a divergent update
            # schema instead of writing mixed-schema partition dirs)
            try:
                merged = upd.select(*storage.read_data().columns)
            except Exception:
                merged = upd  # table does not exist yet: updates define it
        storage.overwrite_data_partitions(merged.repartition(len(touched), "part_id"))
    finally:
        _free_local_checkpoint(upd)
    rid = run_id or f"upsert-{uuid.uuid4().hex[:12]}"
    commit_parts(spark, storage, touched, rid, n_parts)
    return {"touched_parts": touched, "n_updates": n_updates, "run_id": rid}
