"""The default driver heap rule of ``session.get_spark`` and the
driver-side table builder ``session.local_frame``."""

from __future__ import annotations

import pytest

from nametag3_spark.session import default_driver_memory, local_frame

GIB = 1024**3


def test_driver_memory_is_sixty_percent_of_ram_in_whole_mb():
    assert default_driver_memory(15 * GIB) == "9216m"
    # 0.6 GiB = 614.4 MB, rounded down to whole MB
    assert default_driver_memory(GIB) == "614m"


def test_driver_memory_is_capped_at_24g():
    assert default_driver_memory(40 * GIB) == "24576m"
    assert default_driver_memory(512 * GIB) == "24576m"


# one DDL per call site that builds a driver-side table, with rows that
# include NULLs where the column allows them
LOCAL_TABLES = [
    (
        "entity_id string, alias string, entity_type string, alias_ntok int",
        [("Q1", "acme corp", "ORG", 2), ("Q2", "prague", "LOC", None)],
    ),
    ("node string, component string", [("m:a|ORG", "e:Q1"), ("e:Q1", "e:Q1")]),
    (
        "alias string, canonical string, scorer string, "
        "tagset string, acknowledgements string",
        [("m-1", "m-1", "oracle", None, ""), ("m", "m-1", "oracle", "conll", "x")],
    ),
    ("a string, b string", [("x", "y"), (None, "z")]),
    ("node string, pagerank double", [("n1", 0.25), ("n2", None)]),
    ("source string, node string, hops int", [("s", "s", 0)]),
    ("s long, p long, o long, neg_rank int", [(1, 2, 2**40, 0), (4, None, 6, 1)]),
    ("event_type string, label_id int", [("view", 1), ("click", 2)]),
]


@pytest.mark.parametrize("ddl,rows", LOCAL_TABLES, ids=[d for d, _ in LOCAL_TABLES])
def test_local_frame_matches_create_data_frame(spark, ddl, rows):
    """Same schema (names, types, nullability) and rows as
    ``createDataFrame(rows, ddl)``, for the rows and for no rows."""
    for data in (rows, []):
        got = local_frame(spark, data, ddl)
        want = spark.createDataFrame(data, ddl)
        assert got.schema == want.schema  # StructField == compares nullable
        assert got.collect() == want.collect()


@pytest.mark.parametrize("rows", [[("a", None), (None, 2)], []])
def test_local_frame_is_a_local_relation(spark, rows):
    df = local_frame(spark, iter(rows), "k string, v int")
    plan = df._jdf.queryExecution().optimizedPlan()  # noqa: SLF001
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert [tuple(r) for r in df.collect()] == rows
