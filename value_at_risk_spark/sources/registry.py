"""Table registry + parquet scan/sink (SURVEY §2.1 S2-S7).

The reference persists between pipeline stages via Delta managed tables
named in ``/root/reference/config/application.yaml:13-22`` and read back
with ``spark.read.table`` (e.g. ``01_var_market_etl.py:68,82``,
``04_var_aggregation.py:13``). We replace the metastore with a plain
name→path registry over parquet — same contract (schema-on-write,
columnar, partition-prunable), no Databricks dependency.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# Driver-generated fixture tables (TESTDATA.md).
TABLES = (
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


class Registry:
    """name → parquet path mapping, mirroring ``application.yaml:13-22``."""

    def __init__(self, base_dir: str, tables: dict[str, str] | None = None):
        self.base_dir = base_dir
        self._paths: dict[str, str] = dict(tables or {})
        self._formats: dict[str, str] = {}

    def path(self, name: str) -> str:
        if name in self._paths:
            return self._paths[name]
        ext = self._formats.get(name, "parquet")
        return os.path.join(self.base_dir, f"{name}.{ext}")

    def register(self, name: str, path: str, fmt: str = "parquet") -> None:
        self._paths[name] = path
        self._formats[name] = fmt

    def read(
        self, spark: SparkSession, name: str, merge_schema: bool = False
    ) -> DataFrame:
        """Table scan (S4): parquet scan with full Catalyst pushdown.

        TIMESTAMP(NANOS) parquet columns arrive as long (see
        session.py's nanosAsLong); the events table's `ts` is converted
        back to a microsecond timestamp here so downstream operators see
        a proper timestamp type.

        ``merge_schema=True`` reconciles evolved file schemas (columns
        added over time by appends) into the union schema, older files
        reading NULL for columns they predate — parquet's additive
        schema evolution. It is opt-in because schema merging reads
        EVERY file's footer at planning time (at 100 TB that is a
        planning-latency tax to pay only on tables known to evolve;
        pin a table schema once it stabilizes).
        """
        # The events fixture is TIMESTAMP(NANOS) parquet, which Spark
        # rejects by default ([PARQUET_TYPE_ILLEGAL]). The conf is
        # runtime-settable, so set it here rather than only at session
        # build time — callers (e.g. an external harness) may construct
        # their own SparkSession without our session.py defaults.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        fmt = self._formats.get(name, "parquet")
        path = self.path(name)
        # auto-detect a native delta table by its transaction log so a
        # fresh Registry over an existing base_dir reads it correctly
        if fmt == "deltalog" or (
            fmt == "parquet"
            and os.path.isdir(os.path.join(path, "_delta_log"))
        ):
            from value_at_risk_spark.sources.deltalog import read_delta

            df = read_delta(spark, path)
            if name == "events" and dict(df.dtypes).get("ts") == "bigint":
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
            return df
        reader = spark.read.format(fmt)
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        df = reader.load(self.path(name))
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        return df

    def write(
        self,
        df: DataFrame,
        name: str,
        mode: str = "overwrite",
        sort_by: list[str] | None = None,
        partition_keys: list[str] | None = None,
        num_files: int | None = None,
        fmt: str = "parquet",
    ) -> None:
        """Table sink (S3) with optional layout optimization (S5/S6).

        The reference runs ``OPTIMIZE ... ZORDER BY (date, ticker)``
        after its Monte-Carlo write (``03_var_monte_carlo.py:162``) and
        ``repartition(20, 'date')`` before it (``03:82``) so selective
        slice reads prune well. The parquet equivalent: repartition on
        the leading cluster key, sort within partitions, so row-group
        min/max stats give the same data-skipping behavior.

        ``fmt="deltalog"`` upgrades the same contract to ACID tables
        through ``sources/deltalog.py`` — the native open-protocol
        implementation (JSON commit log, atomic hard-link publish,
        checkpoints, time travel, incremental reads, and a MERGE
        target: operators/merge.merge_into_delta_native) — with ZERO
        extra dependencies. ``fmt="delta"`` (the delta-spark format)
        is refused with an error naming ``fmt="deltalog"``.
        """
        if fmt == "delta":
            raise ValueError(
                "Registry.write(fmt='delta'): Delta tables are written "
                "by the native delta log; use fmt='deltalog'"
            )
        if sort_by:
            df = df.repartition(num_files or df.sparkSession.sparkContext.defaultParallelism, sort_by[0])
            df = df.sortWithinPartitions(*sort_by)
        elif num_files:
            df = df.repartition(num_files)
        self._formats[name] = fmt
        if fmt == "deltalog":
            import shutil

            from value_at_risk_spark.sources.deltalog import write_delta

            path = os.path.join(self.base_dir, name)
            self._paths[name] = path
            if mode == "overwrite" and not os.path.isdir(
                os.path.join(path, "_delta_log")
            ):
                # a fresh table: clear any non-delta leftovers so v0
                # creation is unambiguous
                shutil.rmtree(path, ignore_errors=True)
            if mode not in ("append", "overwrite"):
                # mirror write_delta's own validation — silently
                # appending under mode='error'/'ignore' would violate
                # the caller's existence contract
                raise ValueError(
                    "Registry.write(fmt='deltalog') supports mode="
                    f"append|overwrite, got {mode!r}"
                )
            write_delta(
                df.sparkSession,
                df,
                path,
                mode=mode,
                partition_by=partition_keys,
            )
            return
        writer = df.write.mode(mode).format(fmt)
        if partition_keys:
            writer = writer.partitionBy(*partition_keys)
        writer.save(self.path(name))

    def _delta_path(self, name: str) -> str:
        """The table's directory for native-delta operations; loud
        when the table isn't a deltalog table."""
        path = self.path(name)
        if not os.path.isdir(os.path.join(path, "_delta_log")):
            raise ValueError(
                f"Registry table {name!r} is not a native delta table "
                f"(no _delta_log at {path})"
            )
        return path

    def delete(self, spark: SparkSession, name: str, condition: str) -> dict:
        """``DELETE FROM name WHERE condition`` on a deltalog table —
        file-level copy-on-write (sources/deltalog.delete_from_delta)."""
        from value_at_risk_spark.sources.deltalog import delete_from_delta

        return delete_from_delta(spark, self._delta_path(name), condition)

    def update(
        self,
        spark: SparkSession,
        name: str,
        condition: str,
        set_exprs: dict[str, str],
    ) -> dict:
        """``UPDATE name SET ... WHERE condition`` on a deltalog
        table (sources/deltalog.update_delta)."""
        from value_at_risk_spark.sources.deltalog import update_delta

        return update_delta(
            spark, self._delta_path(name), condition, set_exprs
        )

    def sql(self, spark: SparkSession, name: str, stmt: str):
        """Run a Delta-SQL statement against a registered deltalog
        table: every ``delta.table`` token in ``stmt`` is replaced
        with the table's ``delta.`/path``` reference, then dispatched
        through sources/delta_sql.delta_sql."""
        from value_at_risk_spark.sources.delta_sql import delta_sql

        path = self._delta_path(name)
        return delta_sql(
            spark, stmt.replace("delta.table", f"delta.`{path}`")
        )

    def add_constraint(
        self, spark: SparkSession, name: str, cname: str, expr: str
    ) -> int:
        from value_at_risk_spark.sources.deltalog import (
            add_check_constraint,
        )

        return add_check_constraint(
            spark, self._delta_path(name), cname, expr
        )

    def set_properties(self, name: str, props: dict[str, str]) -> int:
        """``ALTER TABLE name SET TBLPROPERTIES`` on a deltalog table
        (sources/deltalog.set_table_properties) — e.g.
        ``{'delta.enableChangeDataFeed': 'true'}``."""
        from value_at_risk_spark.sources.deltalog import (
            set_table_properties,
        )

        return set_table_properties(self._delta_path(name), props)

    def changes(
        self,
        spark: SparkSession,
        name: str,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Change Data Feed over a registered deltalog table
        (sources/deltalog.table_changes): rows + _change_type /
        _commit_version / _commit_timestamp for versions
        [from_version, to_version]."""
        from value_at_risk_spark.sources.deltalog import table_changes

        return table_changes(
            spark, self._delta_path(name), from_version, to_version
        )

    def compact(
        self,
        spark: SparkSession,
        name: str,
        target_file_bytes: int = 128 * 1024 * 1024,
        sort_by: list[str] | None = None,
    ) -> dict:
        """Small-file compaction — the maintenance half of OPTIMIZE
        (reference 03_var_monte_carlo.py:162): bin-pack a table's data
        files toward ``target_file_bytes`` by rewriting with the right
        partition count, optionally re-clustering (``sort_by``) so
        row-group stats keep pruning after the rewrite.

        Sizing comes from the actual on-disk byte total via the Hadoop
        FileSystem API (works for any supported scheme, not just
        local), NOT from row counts — parquet size per row varies 100×
        across schemas. The rewrite goes to a sibling temp dir and is
        swapped in with two renames, crash-leaving either the old or
        the new complete directory (single-writer assumption; the
        transactional upgrade of this same operation is the native
        delta log's ``optimize_delta``).

        Returns {files_before, files_after, bytes_total}.
        """
        path = self.path(name)
        fmt = self._formats.get(name, "parquet")
        jvm = spark.sparkContext._jvm
        jsc = spark.sparkContext._jsc
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(jsc.hadoopConfiguration())
        it = fs.listFiles(hpath, True)
        files_before = 0
        bytes_total = 0
        while it.hasNext():
            st = it.next()
            fname = st.getPath().getName()
            if fname.startswith("_") or fname.startswith("."):
                continue
            files_before += 1
            bytes_total += st.getLen()
        n_files = max(1, -(-bytes_total // target_file_bytes))
        # raw scan, NOT self.read: compaction must preserve the stored
        # schema byte-for-byte (no events ts rebuild)
        df = spark.read.format(fmt).load(path)
        if sort_by:
            df = df.repartition(n_files, sort_by[0]).sortWithinPartitions(
                *sort_by
            )
        else:
            df = df.repartition(n_files)
        tmp = path.rstrip("/") + "._compact_tmp"
        old = path.rstrip("/") + "._compact_old"
        df.write.mode("overwrite").format(fmt).save(tmp)
        fs.delete(jvm.org.apache.hadoop.fs.Path(old), True)
        if not fs.rename(hpath, jvm.org.apache.hadoop.fs.Path(old)):
            raise RuntimeError(f"compact: could not stage out {path}")
        if not fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), hpath):
            # roll back
            fs.rename(jvm.org.apache.hadoop.fs.Path(old), hpath)
            raise RuntimeError(f"compact: could not swap in {tmp}")
        fs.delete(jvm.org.apache.hadoop.fs.Path(old), True)
        return {
            "files_before": files_before,
            "files_after": int(n_files),
            "bytes_total": int(bytes_total),
        }


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Scan every fixture table and register same-named temp views.

    Registering views lets operators be written in either the DataFrame
    or SQL API against identical names as the DuckDB oracle.
    """
    reg = Registry(sf_dir)
    out: dict[str, DataFrame] = {}
    for name in names:
        df = reg.read(spark, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    """CSV scan with explicit schema (schema inference requires an extra
    full pass over the data — never at 100 TB)."""
    reader = spark.read.option("header", header).option("sep", sep)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_binary(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Raw-file ingest via Spark's built-in ``binaryFile`` source —
    the 100 TB entry point for multimodal data: each file becomes one
    row of (path, modificationTime, length, content binary), ready for
    the mapInPandas decode/feature stages in operators/multimodal.

    ``glob`` maps to ``pathGlobFilter`` (pruned at file LISTING time,
    before any byte is read); filters on the path/length/
    modificationTime metadata columns are likewise pushed into the
    listing, so `length < X` never opens oversized blobs. ``max_bytes``
    applies that guard here as a pushed filter.
    """
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    return df


def read_json(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """JSON-lines scan; explicit schema for the same reason as CSV.
    (The reference reads its JSON configs via pandas on the driver —
    configure_notebook.py:32 — this is the distributed path.)"""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", True).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — the other columnar format Spark ships natively.
    Self-describing like parquet (no schema argument needed); predicate
    pushdown and column pruning work through the same DataSource V2
    scan machinery, so a filter-over-ORC plan shows PushedFilters
    exactly as parquet does."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    sort_by: list[str] | None = None,
    num_files: int | None = None,
) -> None:
    """ORC sink with the same layout levers as the parquet sink
    (sorted write for clustering, explicit file-count control)."""
    out = df
    if num_files is not None:
        out = out.repartition(num_files, *(sort_by or []))
    if sort_by:
        out = out.sortWithinPartitions(*sort_by)
    out.write.mode(mode).orc(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed-table sink (S5/S6 at cluster scale).

    Hash-bucketing both sides of a recurring fact-fact join on the join
    key lets Spark plan the join with NO shuffle exchange on either
    side (bucket metadata satisfies the distribution requirement) —
    the persistent-layout answer where `repartition` only helps within
    one job. ``sortBy`` within buckets additionally removes the
    sort-merge join's sort. Uses the session catalog (in-memory or
    Hive); read back with ``spark.table(table_name)``.
    """
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)
