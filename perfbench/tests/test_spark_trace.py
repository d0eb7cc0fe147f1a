"""Traced Spark runs: real v2 event log, and exact job/stage counts.

Starts one local JVM (about a minute on a 4-core host). The calls are
ones whose job structure does not depend on timing; connected_components
is not among them: on the same input it ran 43 to 46 jobs in different
sessions.
"""

from __future__ import annotations

import pytest

from perfbench import eventlog, fixtures, host
from perfbench import spans as T

QUERIES = ("knn_join_ring", "pagerank", "distinct_profile")


@pytest.fixture(scope="module")
def traced_runs(tmp_path_factory):
    import __spark_entry__ as E

    root = str(tmp_path_factory.mktemp("bench"))
    runs = []
    with host.Work(root) as work:
        sf = work.path("sf0.001")
        fixtures.mix_tables(sf, 150, 1500)
        sess = host.Session(work, event_log=True)
        try:
            for i in range(2):
                spark = sess.start()
                tracer = T.Tracer(spark.sparkContext, f"run{i}")
                with T.patched(tracer):
                    for q in QUERIES:
                        with tracer.span(f"op.{q}"):
                            E.queries()[q](spark, sf).toPandas()
                app = spark.sparkContext.applicationId
                sess.stop()
                path = eventlog.find_app_log(work.events, app)
                files = [f.rsplit("/", 1)[1] for f in eventlog.log_files(path)]
                runs.append((path, files, T.layer_table(tracer.spans, eventlog.parse(path))))
        finally:
            sess.shutdown()
    return runs


def test_parser_reads_the_v2_directory(traced_runs):
    path, files, layers = traced_runs[0]
    assert path.rsplit("/", 1)[1].startswith("eventlog_v2_")
    assert files and all(f.startswith("events_") for f in files)
    assert layers["plans.graph.pagerank"]["jobs"] > 0
    assert layers["op.pagerank"]["stages"] > 0


def test_job_and_stage_counts_repeat_exactly(traced_runs):
    (_, _, a), (_, _, b) = traced_runs
    for name in ("operators.joins.knn_join", "plans.graph.pagerank",
                 "operators.profiling.distinct_profile", *(f"op.{q}" for q in QUERIES)):
        got = [(r[name]["jobs"], r[name]["stages"], r[name]["tasks"]) for r in (a, b)]
        assert got[0] == got[1], (name, got)


def test_patches_are_removed(traced_runs):
    from gfp_gdal_spark.plans import graph, lineage

    assert not hasattr(graph.pagerank, "__wrapped__")
    assert not hasattr(lineage.run_bucketed, "__wrapped__")
