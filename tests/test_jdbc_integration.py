"""JDBC warehouse sink integration test against embedded Derby (ships
on Spark's classpath) — the closest available stand-in for the
reference's Azure DW pyodbc path (app/data.py:156-202): real DDL, real
batched inserts, real catalog probe, full truncate-vs-drop lifecycle."""

import pytest

from excel_to_database_spark.sources.payload import matrix_to_df
from excel_to_database_spark.sync.sinks import JdbcDestination

DRIVER = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


@pytest.fixture(scope="module")
def dest(tmp_path_factory):
    db = tmp_path_factory.mktemp("derby") / "wh"
    return JdbcDestination(url=f"jdbc:derby:{db};create=true", properties=DRIVER)


def _read(spark, dest, fqtn):
    return (
        spark.read.format("jdbc")
        .option("url", dest.url)
        .option("dbtable", fqtn)
        .options(**dest.properties)
        .load()
    )


def test_jdbc_lifecycle(spark, dest, count_jobs):
    df1 = matrix_to_df(spark, [["a", "b"], ["1", "x"], ["2", "y"]])
    r1, jobs = count_jobs(lambda: dest.sync(df1, "t_jdbc", path="derbytest"))
    # the count is observed during the write: the source is evaluated once
    assert (r1.action, r1.n_records, jobs) == ("Created", 2, 1)
    fqtn = "x_excel_derbytest.t_jdbc"
    assert sorted(map(tuple, _read(spark, dest, fqtn).collect())) == [
        ("1", "x"),
        ("2", "y"),
    ]

    # same column set, reordered → TRUNCATE; values land by name
    df2 = matrix_to_df(spark, [["b", "a"], ["z", "9"]])
    r2, jobs = count_jobs(lambda: dest.sync(df2, "t_jdbc", path="derbytest"))
    assert (r2.action, r2.n_records, jobs) == ("Truncated", 1, 1)
    back = _read(spark, dest, fqtn).collect()[0]
    assert (back["a"], back["b"]) == ("9", "z")

    # changed column set → RECREATE with new schema
    df3 = matrix_to_df(spark, [["a", "c"], ["5", "6"], ["7", "8"], ["9", "10"]])
    r3, jobs = count_jobs(lambda: dest.sync(df3, "t_jdbc", path="derbytest"))
    assert (r3.action, r3.n_records, jobs) == ("Recreated", 3, 1)
    assert sorted(c.lower() for c in _read(spark, dest, fqtn).columns) == ["a", "c"]


def test_cloud_copy_executes_against_derby(spark, tmp_path, count_jobs):
    """The CloudCopyDestination lifecycle — stage CSV, CREATE SCHEMA,
    reconcile DDL, execute the templated COPY over JDBC — end-to-end
    against embedded Derby (SYSCS_IMPORT_TABLE standing in for the
    warehouse bulk loader, reference app/data.py:106-133, :243-254)."""
    from excel_to_database_spark.sync.sinks import CloudCopyDestination

    db = tmp_path / "derby_copy"
    dest = CloudCopyDestination(
        kind="redshift",
        stage_uri=str(tmp_path / "stage"),
        jdbc_url=f"jdbc:derby:{db};create=true",
        properties=DRIVER,
        compression=None,          # Derby's importer reads plain CSV
        single_file=True,          # ...from one concrete file
        copy_template=(
            "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE("
            "'{schema_upper}', '{table_upper}', '{staged}', null, null, null, 0)"
        ),
        ddl_type="VARCHAR(200)",
        drop_cascade=False,      # Derby has no DROP TABLE CASCADE
    )

    df1 = matrix_to_df(spark, [["a", "b"], ["1", "x"], ["2", "y"]])
    r1, jobs = count_jobs(lambda: dest.sync(df1, "t_copy", path="cloudtest"))
    # counted during the stage write: the source is evaluated once
    assert (r1.action, r1.n_records, jobs) == ("Created", 2, 1)
    fqtn = "x_excel_cloudtest.t_copy"
    got = (
        spark.read.format("jdbc")
        .option("url", dest.jdbc_url)
        .option("dbtable", fqtn)
        .options(**DRIVER)
        .load()
    )
    assert sorted(map(tuple, got.collect())) == [("1", "x"), ("2", "y")]

    # same column set → TRUNCATE then COPY reloads
    df2 = matrix_to_df(spark, [["a", "b"], ["9", "z"]])
    r2 = dest.sync(df2, "t_copy", path="cloudtest")
    assert (r2.action, r2.n_records) == ("Truncated", 1)

    # changed column set → DROP + CREATE then COPY
    df3 = matrix_to_df(spark, [["a", "c"], ["5", "6"], ["7", "8"]])
    r3, jobs = count_jobs(lambda: dest.sync(df3, "t_copy", path="cloudtest"))
    assert (r3.action, r3.n_records, jobs) == ("Recreated", 2, 1)


def test_jdbc_source_partitioned_read_with_pushdown(spark, tmp_path):
    """The warehouse→Spark direction: a numeric-range partitioned JDBC
    read plans one stripe per partition (parallel ingest, not one
    connection), discovers bounds with a single MIN/MAX probe, and
    pushes filters down to the warehouse query."""
    from excel_to_database_spark.sources.jdbc_source import read_jdbc_table

    url = f"jdbc:derby:{tmp_path / 'derby_src'};create=true"
    seed = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1, 101)], "k int, v string"
    )
    (
        seed.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "t_src")
        .options(**DRIVER)
        .save()
    )

    df = read_jdbc_table(
        spark, url, "t_src", DRIVER, partition_col="k", num_partitions=4
    )
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 100

    filtered = df.filter("k > 90")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan" in plan
    assert sorted(r["k"] for r in filtered.collect()) == list(range(91, 101))

    # explicit bounds skip the probe query entirely
    df2 = read_jdbc_table(
        spark, url, "t_src", DRIVER,
        partition_col="k", lower_bound=1, upper_bound=100, num_partitions=8,
    )
    assert df2.rdd.getNumPartitions() == 8
    assert df2.count() == 100
