"""The copy-on-write path of the Delta-protocol writer (``upsert`` and
``replace``): constraint failures leave no trace, and rewrites lay out
one file per partition value in a single pass.

Spark jobs are read from the status store
(``sparkContext._jsc.sc().statusStore()``), found through a job group
set around the call under test.
"""

from __future__ import annotations

import uuid
from collections import Counter

import pytest

from aqueducts_spark.delta.protocol import (
    DeltaProtocolError,
    DeltaProtocolTable,
)
from aqueducts_spark.types import Field

FIELDS = [
    Field(name="id", data_type="int64", nullable=False),
    Field(name="name", data_type="string", nullable=True),
    Field(name="score", data_type="double", nullable=True),
]
SCHEMA = "id long, name string, score double"


def _jobs(spark, action) -> list[str]:
    """Run ``action()`` and return the names of the Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    return [
        store.job(jid).name()
        for jid in sorted(sc.statusTracker().getJobIdsForGroup(group))
    ]


def _live(root):
    return sorted(
        p.relative_to(root).as_posix()
        for p in root.rglob("*.parquet")
        if "_delta_log" not in p.parts
    )


@pytest.mark.parametrize("partitioned", [False, True], ids=["flat", "by_name"])
@pytest.mark.parametrize("op", ["upsert", "replace"])
def test_constraint_violation_in_rewrite_leaves_no_trace(
    spark, tmp_path, op, partitioned
):
    root = tmp_path / "ck"
    t = DeltaProtocolTable(spark, str(root))
    t.create_if_absent(
        FIELDS,
        ["name"] if partitioned else [],
        {"delta.constraints.posscore": "score >= 0"},
        {},
    )
    t.append(spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA))
    version, files = t.latest_version(), _live(root)

    bad = spark.createDataFrame([(2, "b", -5.0), (3, "c", 3.0)], SCHEMA)
    with pytest.raises(DeltaProtocolError, match="posscore"):
        if op == "upsert":
            t.upsert(bad, keys=["id"])
        else:
            t.replace(bad, conditions=[("name", "b")])

    assert t.latest_version() == version
    assert not list(root.glob(".stage-*"))
    assert _live(root) == files
    assert sorted(tuple(r) for r in t.read().collect()) == [
        (1, "a", 1.0),
        (2, "b", 2.0),
    ]


def test_upserts_write_one_file_per_partition_value(spark, tmp_path):
    t = DeltaProtocolTable(spark, str(tmp_path / "parts"))
    t.create_if_absent(FIELDS, ["name"], {}, {})
    names = ["w", "x", "y", "z"]
    rows = [(i, names[i % 4], float(i)) for i in range(40)]
    # eight input partitions, each holding every value: the append
    # keeps its input partitioning, so each value starts in 8 files
    t.append(spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), SCHEMA))
    per_value = Counter(
        a["partitionValues"]["name"] for a in t._snapshot().files.values()
    )
    assert per_value == {n: 8 for n in names}

    for step in range(3):
        ids = range(step, 40, 7)
        t.upsert(
            spark.createDataFrame(
                [(i, names[i % 4], 100.0 + step) for i in ids], SCHEMA
            ),
            keys=["id"],
        )
        per_value = Counter(
            a["partitionValues"]["name"] for a in t._snapshot().files.values()
        )
        assert per_value == {n: 1 for n in names}
    assert t.read().count() == 40


@pytest.mark.parametrize("partitioned", [False, True], ids=["flat", "by_name"])
def test_upsert_runs_merged_plan_once(spark, tmp_path, partitioned):
    t = DeltaProtocolTable(spark, str(tmp_path / "once"))
    t.create_if_absent(FIELDS, ["name"] if partitioned else [], {}, {})
    t.append(spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA))
    new = spark.createDataFrame([(2, "b", 20.0), (3, "c", 3.0)], SCHEMA)
    names = _jobs(spark, lambda: t.upsert(new, keys=["id"]))
    assert names, "the staging write runs at least one job"
    assert not [n for n in names if "localCheckpoint" in n], names
    assert sorted(tuple(r) for r in t.read().collect()) == [
        (1, "a", 1.0),
        (2, "b", 20.0),
        (3, "c", 3.0),
    ]


def test_upsert_into_partition_column_with_special_name(spark, tmp_path):
    fields = [
        Field(name="id", data_type="int64", nullable=False),
        Field(name="part col", data_type="string", nullable=True),
    ]
    t = DeltaProtocolTable(spark, str(tmp_path / "special"))
    t.create_if_absent(fields, ["part col"], {}, {})
    schema = "id long, `part col` string"
    t.append(spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], schema))
    t.upsert(spark.createDataFrame([(3, "b")], schema), keys=["id"])
    assert sorted(tuple(r) for r in t.read().collect()) == [
        (1, "a"),
        (2, "b"),
        (3, "b"),
    ]
    per_value = Counter(
        a["partitionValues"]["part col"] for a in t._snapshot().files.values()
    )
    assert per_value == {"a": 1, "b": 1}
