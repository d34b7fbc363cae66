import pytest

from sparvi_core_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # Test-session tuning (round 12): the suite is thousands of tiny
    # jobs, so per-task and per-query-stage overhead dominates —
    # shuffle_partitions 8→4 measured −32% on a mid-size module, and
    # disabling AQE (which re-plans every exchange as a separate query
    # stage: pure overhead at KB-scale data) measured −47% on a
    # 4-module A/B (288 s → 152 s, sys time 41 s → 9 s) with the
    # oracle-parity, streaming, plan and skew suites all green.
    # Production sessions (get_spark defaults, bench.py) keep AQE on —
    # tests pin VALUES and plan shapes that are strategy-independent.
    s = get_spark(
        app_name="sparvi-tests",
        master="local[8]",
        shuffle_partitions=4,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "false",
            "spark.sql.adaptive.enabled": "false",
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module", autouse=True)
def _restore_session_conf(spark):
    """Give every module the suite's session settings. The CLI builds
    its session with production defaults (AQE on), and ``getOrCreate``
    applies them to the shared session, so a module that drives the CLI
    would otherwise change them for every module after it."""
    before = spark.conf.getAll
    yield
    for key, value in spark.conf.getAll.items():
        if before.get(key) == value or not spark.conf.isModifiable(key):
            continue
        if key in before:
            spark.conf.set(key, before[key])
        else:
            spark.conf.unset(key)


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def views(spark, sf_dir):
    from sparvi_core_spark.session import register_views

    return register_views(spark, sf_dir)


@pytest.fixture(scope="session")
def employees(spark):
    """The reference's primary profiler fixture (FIXTURES.md §1 /
    reference tests/conftest.py:22-32): 10 rows, planted nulls."""
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType(), False),
            T.StructField("age", T.DoubleType(), True),
            T.StructField("salary", T.DoubleType(), True),
            T.StructField("department", T.StringType(), True),
        ]
    )
    rows = [
        (1, "Employee 1", 25.0, 50000.0, "HR"),
        (2, "Employee 2", 30.0, 60000.0, "IT"),
        (3, "Employee 3", None, 70000.0, "Finance"),
        (4, "Employee 4", 40.0, None, "HR"),
        (5, "Employee 5", 45.0, 90000.0, "IT"),
        (6, "Employee 6", 50.0, 100000.0, None),
        (7, "Employee 7", None, 110000.0, "Finance"),
        (8, "Employee 8", 60.0, None, "HR"),
        (9, "Employee 9", 65.0, 130000.0, "IT"),
        (10, "Employee 10", 70.0, 140000.0, "Finance"),
    ]
    df = spark.createDataFrame(rows, schema)
    df.createOrReplaceTempView("employees")
    return df


@pytest.fixture(scope="session")
def products(spark):
    """Validation fixture (FIXTURES.md §2): planted negative price."""
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("product_id", T.LongType(), False),
            T.StructField("name", T.StringType(), False),
            T.StructField("price", T.DoubleType(), False),
            T.StructField("category", T.StringType(), False),
        ]
    )
    rows = [
        (1, "Product A", 10.0, "Electronics"),
        (2, "Product B", 20.0, "Clothing"),
        (3, "Product C", -1.0, "Food"),
        (4, "Product D", 40.0, "Electronics"),
        (5, "Product E", 50.0, "Clothing"),
    ]
    df = spark.createDataFrame(rows, schema)
    df.createOrReplaceTempView("products")
    return df
