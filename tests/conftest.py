import os
import signal
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from pg_age_digitaltwins_spark.store.graph_store import GraphStore  # noqa: E402

# Wall-clock limit of each test phase (setup, call, teardown).  The
# slowest test passes in ~90 s on 4 cores.  A phase still running at the
# limit fails with the traceback of where it waited (re-raised every
# few seconds in case something swallows it), its Spark jobs are
# cancelled, and the suite goes on instead of stalling behind it.
PHASE_TIME_LIMIT_S = 300
_RE_RAISE_S = 5


class PhaseTimeLimit(Exception):
    pass


def _expire(signum, frame):
    raise PhaseTimeLimit(f"test phase still running after {PHASE_TIME_LIMIT_S} s")


def _time_limited():
    prev = signal.signal(signal.SIGALRM, _expire)
    signal.setitimer(signal.ITIMER_REAL, PHASE_TIME_LIMIT_S, _RE_RAISE_S)
    start = time.monotonic()
    try:
        return (yield)
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, prev)
        if time.monotonic() - start >= PHASE_TIME_LIMIT_S:
            from pyspark import SparkContext

            sc = SparkContext._active_spark_context
            if sc is not None:
                sc.cancelAllJobs()


pytest_runtest_setup = pytest.hookimpl(wrapper=True)(_time_limited)
pytest_runtest_call = pytest.hookimpl(wrapper=True)(_time_limited)
pytest_runtest_teardown = pytest.hookimpl(wrapper=True)(_time_limited)


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("pg-age-digitaltwins-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    yield spark
    spark.stop()


MODELS = [
    {
        "@id": "dtmi:com:contoso:CelestialBody;1",
        "@type": "Interface",
        "@context": "dtmi:dtdl:context;3",
        "displayName": "Celestial body",
        "contents": [
            {"@type": "Property", "name": "name", "schema": "string"},
            {"@type": "Property", "name": "mass", "schema": "double"},
        ],
    },
    {
        "@id": "dtmi:com:contoso:Planet;1",
        "@type": "Interface",
        "@context": "dtmi:dtdl:context;3",
        "extends": "dtmi:com:contoso:CelestialBody;1",
    },
    {
        "@id": "dtmi:com:contoso:HabitablePlanet;1",
        "@type": "Interface",
        "@context": "dtmi:dtdl:context;3",
        "extends": "dtmi:com:contoso:Planet;1",
        "contents": [{"@type": "Property", "name": "hasLife", "schema": "boolean"}],
    },
    {
        "@id": "dtmi:com:adt:dtsample:room;1",
        "@type": "Interface",
        "@context": "dtmi:dtdl:context;2",
        "contents": [
            {"@type": "Property", "name": "name", "schema": "string"},
            {"@type": "Property", "name": "temperature", "schema": "double"},
            {"@type": "Property", "name": "humidity", "schema": "double"},
        ],
    },
]

TWINS = [
    {"$dtId": "cb1", "$metadata": {"$model": "dtmi:com:contoso:CelestialBody;1"}, "name": "Celestial Body 1", "mass": 1.0e24},
    {"$dtId": "p1", "$metadata": {"$model": "dtmi:com:contoso:Planet;1"}, "name": "Planet 1"},
    {"$dtId": "hp1", "$metadata": {"$model": "dtmi:com:contoso:HabitablePlanet;1"}, "name": "Habitable Planet 1", "hasLife": True},
    {"$dtId": "room1", "$metadata": {"$model": "dtmi:com:adt:dtsample:room;1"}, "name": "Room 1", "temperature": 22.5, "humidity": 0.45},
    {"$dtId": "room2", "$metadata": {"$model": "dtmi:com:adt:dtsample:room;1"}, "name": "Room 2", "temperature": 18.0, "humidity": 0.55},
    # property-shape twin for type tests (FIXTURES.md §3)
    {
        "$dtId": "shapes",
        "$metadata": {"$model": "dtmi:com:adt:dtsample:room;1"},
        "someMap": {"k": 1},
        "someScalar": 42,
        "someString": "s",
        "numstr": "5",
        "bool": True,
        "tags": ["tag1", "tag2"],
        "numbers": [1, 2, 3],
        "bools": [True, False],
        "nulled": None,
    },
    # root2/root3 traversal roots and leaves (FIXTURES.md §4)
    {"$dtId": "root2", "$metadata": {"$model": "dtmi:com:adt:dtsample:room;1"}, "name": "Root 2"},
    {"$dtId": "root3", "$metadata": {"$model": "dtmi:com:adt:dtsample:room;1"}, "name": "Root 3"},
    {"$dtId": "b1", "$metadata": {"$model": "dtmi:com:adt:dtsample:room;1"}, "name": "B 1"},
    {"$dtId": "b2", "$metadata": {"$model": "dtmi:com:adt:dtsample:room;1"}, "name": "B 2"},
    {"$dtId": "x", "$metadata": {"$model": "dtmi:com:adt:dtsample:room;1"}, "name": "X"},
    {"$dtId": "y", "$metadata": {"$model": "dtmi:com:adt:dtsample:room;1"}, "name": "Y"},
    {"$dtId": "z", "$metadata": {"$model": "dtmi:com:adt:dtsample:room;1"}, "name": "Z"},
]

RELS = [
    {"$relationshipId": "r1", "$sourceId": "root2", "$targetId": "b1", "$relationshipName": "has", "grade": 5},
    {"$relationshipId": "r2", "$sourceId": "root2", "$targetId": "b2", "$relationshipName": "has", "grade": 3},
    {"$relationshipId": "r3", "$sourceId": "root3", "$targetId": "x", "$relationshipName": "hasBlob"},
    {"$relationshipId": "r4", "$sourceId": "root3", "$targetId": "y", "$relationshipName": "hasModel"},
    {"$relationshipId": "r5", "$sourceId": "root3", "$targetId": "z", "$relationshipName": "has"},
    {"$relationshipId": "r6", "$sourceId": "b1", "$targetId": "x", "$relationshipName": "has", "grade": 1},
]


@pytest.fixture(scope="session")
def fixture_store(spark):
    return GraphStore.from_documents(
        spark, twin_docs=TWINS, relationship_docs=RELS, model_docs=MODELS
    )
