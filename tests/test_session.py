"""Session factory settings, checked without starting a JVM: a stand-in
builder records what ``get_spark`` asks for."""

from types import SimpleNamespace

from strat_backtest_spark import session


def test_get_spark_reads_cpus_env_at_call_time(monkeypatch):
    """``SPARK_GRAFT_CPUS`` set after the package is imported still
    sizes the session."""
    seen = {}

    class _Builder:
        def master(self, master):
            seen["master"] = master
            return self

        def appName(self, name):
            return self

        def config(self, key, value):
            seen[key] = value
            return self

        def getOrCreate(self):
            return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))

    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=_Builder()))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "13")
    session.get_spark()
    assert seen["master"] == "local[13]"
    assert seen["spark.sql.shuffle.partitions"] == "13"
    assert seen["spark.default.parallelism"] == "13"
