"""Destinations — the engine's counterparts of the reference's four
``destination_*`` sinks (SURVEY.md §2.7).

Every destination implements one method, ``sync(df, table_name, path)``:
read the destination's current column set, run the truncate-vs-drop
decision (policy.py), then bulk-load through Spark's writer. The
namespace rule is the reference's: schema prefix ``x_excel`` suffixed
with the tenant ``path`` → ``x_excel_<path>`` (app/data.py:103-105).

Sink mapping (reference → Spark):
  * local CSV dir (data.py:137-153)        → LocalDestination (parquet
    ``saveAsTable`` in the session catalog by default, CSV on request);
  * Azure DW pyodbc batched INSERT 1000/stmt (data.py:188-201)
                                            → JdbcDestination with
    ``batchsize=1000`` — Spark's JDBC writer does batched prepared
    inserts natively, per-partition in parallel;
  * Redshift S3+COPY (data.py:88-134) and Snowflake stage+COPY INTO
    (data.py:205-255)                       → CloudCopyDestination:
    stage gzip CSV, then run the full reconcile-DDL + COPY lifecycle
    over JDBC (same options: GZIP CSV, COMPUPDATE OFF for Redshift).
    With no ``jdbc_url`` (no credentials) the COPY is surfaced instead
    of executed; the execution path itself is integration-tested
    end-to-end against embedded Derby via ``copy_template``.

At scale the load path is executor-parallel end-to-end: Spark writes N
partitions concurrently (JDBC: N connections; cloud: N staged objects →
one COPY), the driver only issues DDL.

A sync launches only the write's jobs (one, unless ``partition_by``
adds a sort): the existing column set is read from the analyzed table
or a zero-row probe (no job), and the ``LoadReport`` record count is
taken from an ``Observation`` attached to the written frame — counted
during the write, so the source is evaluated once and the written
table is never read back.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from excel_to_database_spark.report import LoadReport
from excel_to_database_spark.sync.policy import SyncAction, decide_sync_action

SCHEMA_PREFIX = "x_excel"  # reference: app/data.py:103


def tenant_schema(path: str | None) -> str:
    return f"{SCHEMA_PREFIX}_{path}" if path else SCHEMA_PREFIX


def _with_row_count(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row-count ``Observation`` attached. Once the write
    of the returned frame has run, ``obs.get["n"]`` is the number of
    rows it wrote — counted during the write, so the source is
    evaluated once and nothing is read back."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


class Destination:
    """Interface mirroring the reference's destination dispatch
    (app/home.py:28-35)."""

    def sync(self, df: DataFrame, table_name: str, path: str | None = None) -> LoadReport:
        raise NotImplementedError


@dataclass
class LocalDestination(Destination):
    """Catalog-managed tables (parquet via ``saveAsTable``), or plain
    CSV files when ``fmt='csv'`` for byte-parity with the reference's
    local sink (data.py:137-153).

    ``partition_by`` hive-partitions the table on write — at fact-table
    scale this is what makes date/tenant-predicate queries prune files
    instead of scanning the world (PartitionFilters in the plan;
    tests/test_bucketing.py asserts it)."""

    fmt: str = "parquet"
    strict: bool = False
    partition_by: tuple[str, ...] = ()

    def sync(self, df: DataFrame, table_name: str, path: str | None = None) -> LoadReport:
        spark = df.sparkSession
        schema = tenant_schema(path)
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {schema}")
        fqtn = f"{schema}.{table_name}"
        # the analyzed table's columns, not catalog.listColumns: that
        # one collects through toLocalIterator, one job per partition
        existing = spark.table(fqtn).columns if spark.catalog.tableExists(fqtn) else None
        action = decide_sync_action(existing, df.columns, strict=self.strict)
        df, obs = _with_row_count(df)
        if action is SyncAction.TRUNCATE:
            # same column set: INSERT OVERWRITE keeps the table identity.
            # insertInto is positional, so align to the table's column
            # order by name first — a deliberate fix of the reference's
            # reorder blind spot (data.py:120-126; SURVEY.md §7.3), which
            # would silently load misaligned data.
            by_name = {c.lower(): c for c in df.columns}
            df.select(*[by_name[c.lower()] for c in existing]).write.mode(
                "overwrite"
            ).insertInto(fqtn)
        else:
            if action is SyncAction.RECREATE:
                spark.sql(f"DROP TABLE IF EXISTS {fqtn}")
            writer = df.write.format(self.fmt).mode("overwrite")
            if self.partition_by:
                writer = writer.partitionBy(*self.partition_by)
            writer.saveAsTable(fqtn)
        return LoadReport(action.value, schema, table_name, obs.get["n"])


@dataclass
class JdbcDestination(Destination):
    """Generic warehouse sink over JDBC (the reference's Azure DW path,
    data.py:156-202, minus pyodbc). ``batchsize`` default honors the
    reference's 1000-row INSERT batching (data.py:194)."""

    url: str
    properties: dict = field(default_factory=dict)
    batchsize: int = 1000
    strict: bool = False

    def _ensure_schema(self, spark, schema: str) -> None:
        """CREATE SCHEMA if absent (reference: data.py:116, :175-177,
        :231). Issued over a direct JDBC connection via the JVM;
        'already exists' failures are ignored (portable stand-in for
        IF NOT EXISTS, which not every warehouse dialect has)."""
        try:
            conn = spark._jvm.java.sql.DriverManager.getConnection(self.url)
            try:
                conn.createStatement().execute(f"CREATE SCHEMA {schema}")
            finally:
                conn.close()
        except Exception:
            pass  # exists already, or dialect auto-creates on write

    def _existing_columns(self, spark, fqtn: str) -> list[str] | None:
        try:
            probe = (
                spark.read.format("jdbc")
                .option("url", self.url)
                .option("dbtable", f"(SELECT * FROM {fqtn} WHERE 1=0) q")
                .options(**self.properties)
                .load()
            )
            return probe.columns
        except Exception:
            return None  # table absent (or unreadable) → CREATE path

    def sync(self, df: DataFrame, table_name: str, path: str | None = None) -> LoadReport:
        spark = df.sparkSession
        schema = tenant_schema(path)
        fqtn = f"{schema}.{table_name}"
        self._ensure_schema(spark, schema)
        existing = self._existing_columns(spark, fqtn)
        action = decide_sync_action(existing, df.columns, strict=self.strict)
        df, obs = _with_row_count(df)
        writer = (
            df.write.format("jdbc")
            .option("url", self.url)
            .option("dbtable", fqtn)
            .option("batchsize", self.batchsize)
            .options(**self.properties)
        )
        if action is SyncAction.TRUNCATE:
            writer.option("truncate", True).mode("overwrite").save()
        else:
            writer.mode("overwrite").save()
        return LoadReport(action.value, schema, table_name, obs.get["n"])


@dataclass
class CloudCopyDestination(Destination):
    """Stage-and-COPY pattern (Redshift data.py:88-134, Snowflake
    data.py:205-255): executors write (gzipped) CSV to the stage URI in
    parallel, then the driver runs the reconciliation DDL and ONE COPY
    statement over JDBC — the full reference lifecycle (CREATE SCHEMA
    data.py:116; truncate-vs-drop data.py:117-131, :211-241; COPY
    data.py:106-133, :243-254).

    Without ``jdbc_url`` the staging still happens and the would-be COPY
    is surfaced in a ``NotImplementedError`` (credential-gated).
    ``copy_template`` overrides the dialect statement (placeholders
    ``{fqtn} {schema} {table} {schema_upper} {table_upper} {staged}``)
    so any CSV-bulk-load-capable JDBC engine can stand in for the
    warehouse — the integration test drives the whole path against
    embedded Derby's SYSCS_IMPORT_TABLE."""

    kind: str  # "redshift" | "snowflake"
    stage_uri: str
    jdbc_url: str = ""
    properties: dict = field(default_factory=dict)
    strict: bool = False
    compression: str | None = "gzip"
    single_file: bool = False  # coalesce(1): for loaders that take one file
    copy_template: str | None = None
    ddl_type: str | None = None  # column type; dialect default otherwise
    drop_cascade: bool | None = None  # None → dialect default (Redshift: yes)

    def copy_statement(self, fqtn: str, staged_path: str) -> str:
        if self.copy_template:
            schema, _, table = fqtn.partition(".")
            return self.copy_template.format(
                fqtn=fqtn,
                schema=schema,
                table=table,
                schema_upper=schema.upper(),
                table_upper=table.upper(),
                staged=staged_path,
            )
        if self.kind == "redshift":
            # data.py:106-112 options: CSV, GZIP, COMPUPDATE OFF
            return (
                f"COPY {fqtn} FROM '{staged_path}' "
                "FORMAT CSV GZIP COMPUPDATE OFF IGNOREHEADER 0"
            )
        if self.kind == "snowflake":
            # data.py:243-254: stage PUT + COPY INTO
            return (
                f"COPY INTO {fqtn} FROM '@{staged_path}' "
                "FILE_FORMAT = (TYPE = CSV COMPRESSION = GZIP)"
            )
        raise ValueError(f"unknown cloud sink kind: {self.kind}")

    def stage(self, df: DataFrame, table_name: str) -> str:
        staged = f"{self.stage_uri.rstrip('/')}/{table_name}"
        writer = (df.coalesce(1) if self.single_file else df).write.mode("overwrite")
        if self.compression:
            writer = writer.option("compression", self.compression)
        writer.csv(staged)
        return staged

    def _staged_entry(self, staged: str) -> str:
        """The path handed to the COPY statement: the stage directory
        (warehouse COPY takes a prefix), or the single part file when
        ``single_file`` loaders need one concrete file."""
        if not self.single_file:
            return staged
        import glob as _g

        local = staged.removeprefix("file:")
        parts = sorted(_g.glob(f"{local}/part-*"))
        return parts[0] if parts else staged

    def _execute(self, spark, sql: str) -> None:
        """Issue one driver-side statement over a plain JDBC connection
        (the JVM's DriverManager — same channel the reference's cursor
        uses, data.py:113-133)."""
        drv = self.properties.get("driver")
        if drv:
            spark._jvm.java.lang.Class.forName(drv)
        conn = spark._jvm.java.sql.DriverManager.getConnection(self.jdbc_url)
        try:
            conn.createStatement().execute(sql)
        finally:
            conn.close()

    def _existing_columns(self, spark, fqtn: str) -> list[str] | None:
        try:
            probe = (
                spark.read.format("jdbc")
                .option("url", self.jdbc_url)
                .option("dbtable", f"(SELECT * FROM {fqtn} WHERE 1=0) q")
                .options(**self.properties)
                .load()
            )
            return probe.columns
        except Exception:
            return None

    def _column_type(self) -> str:
        if self.ddl_type:
            return self.ddl_type
        # reference: Redshift VARCHAR (data.py:57-62), Snowflake TEXT
        # (data.py:241)
        return "TEXT" if self.kind == "snowflake" else "VARCHAR(2000)"

    def sync(self, df: DataFrame, table_name: str, path: str | None = None) -> LoadReport:
        spark = df.sparkSession
        schema = tenant_schema(path)
        fqtn = f"{schema}.{table_name}"
        df, obs = _with_row_count(df)
        staged = self.stage(df, table_name)
        copy_sql = self.copy_statement(fqtn, self._staged_entry(staged))
        if not self.jdbc_url:
            raise NotImplementedError(
                f"no JDBC endpoint configured; staged data at {staged}; "
                f"would run: {copy_sql}"
            )
        try:
            self._execute(spark, f"CREATE SCHEMA {schema}")
        except Exception:
            pass  # exists already (reference ignores the same way, data.py:116)
        action = decide_sync_action(
            self._existing_columns(spark, fqtn), df.columns, strict=self.strict
        )
        cols = ", ".join(f"{c} {self._column_type()}" for c in df.columns)
        if action is SyncAction.TRUNCATE:
            self._execute(spark, f"TRUNCATE TABLE {fqtn}")
        elif action is SyncAction.RECREATE:
            # reference drops CASCADE on Redshift (data.py:127-128);
            # Derby and others take a bare DROP
            do_cascade = (
                self.drop_cascade
                if self.drop_cascade is not None
                else self.kind == "redshift"
            )
            cascade = " CASCADE" if do_cascade else ""
            self._execute(spark, f"DROP TABLE {fqtn}{cascade}")
            self._execute(spark, f"CREATE TABLE {fqtn} ({cols})")
        else:
            self._execute(spark, f"CREATE TABLE {fqtn} ({cols})")
        self._execute(spark, copy_sql)
        return LoadReport(action.value, schema, table_name, obs.get["n"])


def sync_table(
    df: DataFrame,
    table_name: str,
    destination: Destination | None = None,
    path: str | None = None,
) -> LoadReport:
    """One-call sheet→table sync (the engine's `/upload` per-sheet step)."""
    return (destination or LocalDestination()).sync(df, table_name, path)
