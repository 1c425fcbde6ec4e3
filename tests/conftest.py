import pytest

# the one copy of the small-scale testdata path tests run against
SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def spark():
    from lingvo_spark_kg.session import get_spark

    s = get_spark(app_name="lingvo-spark-kg-tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def gaz_bc(spark):
    from lingvo_spark_kg.fixtures.corpus import gazetteer_from_aliases, make_aliases

    return spark.sparkContext.broadcast(gazetteer_from_aliases(make_aliases(seed=42)))


@pytest.fixture
def spark_loop(spark):
    """``with spark_loop():`` turns the broadcast budget off (-1, restored on
    exit), so every small-input gate (``smallgraph.small_arrow``) declines and
    the graph operators run their Spark loops, whatever the input's size."""
    import contextlib

    @contextlib.contextmanager
    def budget_off():
        key = "spark.sql.autoBroadcastJoinThreshold"
        budget = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            yield
        finally:
            spark.conf.set(key, budget)

    return budget_off


@pytest.fixture
def cc_kernel_calls(monkeypatch):
    """The calls of the driver CC kernel, recorded by a pass-through spy."""
    from lingvo_spark_kg.operators import canonicalize

    calls = []
    real = canonicalize._components_arrow

    def spy(*args):
        calls.append(args)
        return real(*args)

    monkeypatch.setattr(canonicalize, "_components_arrow", spy)
    return calls
