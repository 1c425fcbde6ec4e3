"""The driver's Py4J traffic while a lookup is planned. Building a lookup's
frame is Python calling into the JVM, one socket round trip per call; at
benchmark scale those round trips, not Spark jobs, are most of a lookup's
latency. The session leaves PySpark's per-call DataFrame call-site capture
off, and the pattern compiler builds no frame it throws away; these tests pin
both."""

import pyarrow as pa
import py4j.clientserver
import pytest
from pyspark.sql import types as T

from lingvo_spark_kg import session
from lingvo_spark_kg.operators import graph, smallgraph
from lingvo_spark_kg.operators.sparql import sparql_query

DEBUG_KEY = "spark.python.sql.dataFrameDebugging.enabled"


def test_session_turns_call_site_capture_off_unless_overridden(
        spark, monkeypatch):
    """``get_spark`` sets the static conf off, and ``extra_conf`` is applied
    after it, so a caller can turn it back on, before the session starts: a
    running session refuses the change."""
    from pyspark.sql import SparkSession

    assert spark.conf.get(DEBUG_KEY) == "false"
    with pytest.raises(Exception, match="(?i)static"):
        spark.conf.set(DEBUG_KEY, "true")
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: dict(self._options))
    assert session.get_spark()[DEBUG_KEY] == "false"
    assert session.get_spark(extra_conf={DEBUG_KEY: "true"})[DEBUG_KEY] \
        == "true"


class _Calls:
    """Counts the Py4J call commands (``"c\\n"``) sent; the GC-detach
    messages (``"m\\n"``) fire whenever Python's collector runs, so they are
    not counted."""

    def __init__(self, monkeypatch):
        self.n = 0
        send = py4j.clientserver.ClientServerConnection.send_command

        def counting(conn, command):
            if command.startswith("c\n"):
                self.n += 1
            return send(conn, command)

        monkeypatch.setattr(py4j.clientserver.ClientServerConnection,
                            "send_command", counting)

    def during(self, fn) -> int:
        n0 = self.n
        fn()
        return self.n - n0


# the four kgbench lookup shapes (kgbench/workloads.py LOOKUPS), over a
# driver-built edges table like the resident copy of a small KG
_LOOKUPS = {
    "bgp_2hop": lambda e: graph.match_pattern(
        e, [("?a", "p1", "?b"), ("?b", "p2", "?c")]),
    "sparql_groupby": lambda e: sparql_query(
        e, "SELECT ?s (COUNT(*) AS ?n) WHERE { ?s <p2> ?o } "
           "GROUP BY ?s ORDER BY DESC(?n) LIMIT 10"),
    "hub_star": lambda e: graph.match_pattern(e, [(0, "?p", "?o")]),
    "path_plus": lambda e: graph.match_pattern(e, [(1, "p1+", "?x")]),
}

# call commands per lookup build. With call-site capture on and a compiler
# that projected, filtered and checkpointed frames it then discarded, the
# same builds sent 111, 91, 56 and 142 (400 in all).
PINNED = {"bgp_2hop": 35, "sparql_groupby": 26, "hub_star": 12,
          "path_plus": 46}
SLACK = 4


@pytest.fixture(scope="module")
def hub_edges(spark):
    """A hub 0 with ``p1``/``p2`` arcs to 1..59 and a ``p1`` chain 1 → 60."""
    src, pred, dst = [], [], []
    for i in range(1, 60):
        src += [0, i]
        pred += ["p1" if i % 2 else "p2", "p1"]
        dst += [i, i + 1]
    table = pa.table({"src_id": pa.array(src, pa.int64()), "pred": pred,
                      "dst_id": pa.array(dst, pa.int64())})
    return smallgraph.local_frame(spark, table, T.StructType(
        [T.StructField("src_id", T.LongType()),
         T.StructField("pred", T.StringType()),
         T.StructField("dst_id", T.LongType())]))


@pytest.mark.parametrize("name", list(_LOOKUPS))
def test_lookup_build_round_trips_are_pinned(spark, monkeypatch, hub_edges,
                                             name):
    build = _LOOKUPS[name]
    build(hub_edges)                   # first use: JVM class lookups, caches
    calls = _Calls(monkeypatch)
    n = calls.during(lambda: build(hub_edges))
    assert PINNED[name] - SLACK <= n <= PINNED[name] + SLACK, (name, n)
