import pytest

from gtfs2lc_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="gtfs2lc-tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def checkpoint_calls(spark, monkeypatch):
    """The ``eager`` flag of every reliable ``DataFrame.checkpoint``
    call made during the test, in order."""
    cls = type(spark.range(0))  # the session's concrete DataFrame class
    calls = []
    orig = cls.checkpoint

    def spy(self, eager=True):
        calls.append(eager)
        return orig(self, eager)

    monkeypatch.setattr(cls, "checkpoint", spy)
    return calls


@pytest.fixture(scope="session")
def feed(spark):
    from gtfs2lc_spark import fixtures

    return fixtures.entity_dfs(spark)


@pytest.fixture(scope="session")
def connections(spark, feed):
    from gtfs2lc_spark import pipeline

    return pipeline.convert(
        feed["stop_times"],
        feed["trips"],
        feed["routes"],
        feed["stops"],
        feed["calendar"],
        feed["calendar_dates"],
        salt_n=8,
    ).cache()


@pytest.fixture(scope="session")
def jsonld(connections):
    from gtfs2lc_spark import sinks

    return sinks.connections_to_jsonld(connections).cache()


@pytest.fixture(scope="session")
def entity_frame(spark):
    """Hand-made entity tables in the pipeline's one input
    shape: ``entity_frame(file_name, cols, rows, feed_id="f")`` maps
    each row tuple onto ``cols``, pads the file's other canonical
    ``GTFS_FILE_COLS`` with '' and appends feed_id, url and _line (the
    row's position)."""
    from gtfs2lc_spark.schemas import GTFS_FILE_COLS, _string_struct

    def build(file_name, cols, rows, feed_id="f"):
        canon = GTFS_FILE_COLS[file_name]
        data = [
            (*[dict(zip(cols, r)).get(c, "") for c in canon], feed_id, "u", i)
            for i, r in enumerate(rows)
        ]
        schema = _string_struct(*canon, "feed_id", "url").add("_line", "long")
        return spark.createDataFrame(data, schema)

    return build
