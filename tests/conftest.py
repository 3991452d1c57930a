import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("s2geo_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


class SqlExecutions:
    """The SQL executions in the session's status store (it keeps them
    with the UI disabled), listed oldest first, so the ones after a mark
    are read from the end without fetching every retained plan."""

    def __init__(self, spark):
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._store = spark._jsparkSession.sharedState().statusStore()

    def _list(self):
        self._bus.waitUntilEmpty()
        return self._store.executionsList()

    def mark(self) -> int:
        """Id of the newest execution (-1 when there is none)."""
        execs = self._list()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def plans_since(self, mark: int) -> list:
        """Physical plan text of every execution newer than mark."""
        execs, plans = self._list(), []
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            if e.executionId() <= mark:
                break
            plans.append(e.physicalPlanDescription())
        return plans


@pytest.fixture
def sql_execs(spark):
    return SqlExecutions(spark)


def _localized(index_df) -> bool:
    """The index is driver-local rows: its executed plan is one
    LocalTableScan, so reading it runs no Spark job and no applyInPandas
    build is left to rerun."""
    plan = index_df._jdf.queryExecution().executedPlan().toString()
    return plan.startswith("LocalTableScan") and "+-" not in plan


@pytest.fixture
def localized():
    return _localized


@pytest.fixture
def large_side(spark, monkeypatch):
    """Every byte gate on its large side: SPATIAL_BCAST_LIMIT at 0 and
    Spark's own broadcast threshold off, so no join broadcasts."""
    from s2geo_spark.operators import spatial

    monkeypatch.setattr(spatial, "SPATIAL_BCAST_LIMIT", 0)
    auto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", auto)
