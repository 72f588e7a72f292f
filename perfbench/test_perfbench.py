"""Tests of the benchmark's own parts: seeded inputs and the status-store
reader.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from inputs import CYCLE, make_ops, ops_digest, pages_digest  # noqa: E402
from spantrace import Tracer  # noqa: E402

ENTITIES = [f"Entity{i}" for i in range(40)]
RELATIONS = [(f"Entity{i + 1}", f"Entity{i}") for i in range(39)]


def test_pages_digest_depends_only_on_seed():
    assert pages_digest(50, 1) == pages_digest(50, 1)
    assert pages_digest(50, 1) != pages_digest(50, 2)


def test_op_cycle_depends_only_on_seed():
    ops = make_ops(1, ENTITIES, RELATIONS)
    # input order does not matter, only the seed and the graph
    same = make_ops(1, ENTITIES[::-1], RELATIONS[::-1])
    other = make_ops(2, ENTITIES, RELATIONS)
    assert ops == same and ops_digest(ops) == ops_digest(same)
    assert ops_digest(ops) != ops_digest(other)
    assert [op["kind"] for op in ops] == [op["kind"] for op in other] == CYCLE


def test_op_cycle_writes_are_valid_on_the_graph():
    linked = {tuple(sorted(p)) for p in RELATIONS}
    for seed in range(20):
        ops = make_ops(seed, ENTITIES, RELATIONS)
        for op in ops:
            if op["kind"] == "create_relation":
                assert {op["src"], op["tgt"]} <= set(ENTITIES)
                assert tuple(sorted((op["src"], op["tgt"]))) not in linked
            elif op["kind"] == "edit_entity":
                assert op["name"] in ENTITIES


@pytest.fixture(scope="module")
def spark():
    from aperag_spark.session import get_spark

    session = get_spark(app_name="perfbench-test", master="local[2]")
    yield session
    session.stop()


def test_reader_counts_a_known_shuffle(spark):
    tracer = Tracer(spark, enabled=True)
    with tracer.span("tiny") as rec:
        rows = spark.range(0, 1000, 1, 4).repartition(3, "id").collect()
    assert len(rows) == 1000
    assert rec["shuffle_write_records"] == rec["shuffle_read_records"] == 1000
    assert rec["shuffle_write_bytes"] == rec["shuffle_read_bytes"] > 0
    assert rec["stages"] == 2 and rec["tasks"] == 4 + 3
    assert rec["jobs"] >= 1 and rec["run_ms"] >= 0 and rec["skew"] >= 1.0
    assert tracer.spans == [rec]


def test_untraced_span_reads_no_counters(spark):
    tracer = Tracer(spark, enabled=False)
    with tracer.span("tiny") as rec:
        spark.range(10).collect()
    assert "jobs" not in rec and rec["wall_s"] > 0
    assert len(tracer.job_ids(rec["group"])) >= 1
