"""The span layer (spans.py): nesting, self time, job ids per span,
worker-thread spans, and that it neither launches Spark jobs nor
touches the caller's job group."""

from __future__ import annotations

import json
import logging
import time
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from mining_data_integration_spark import spans

GROUP = "spark.jobGroup.id"


def by_name(node: dict) -> dict:
    """{name: node} over the record tree (names unique in these tests)."""
    out = {node["name"]: node}
    for c in node["children"]:
        out.update(by_name(c))
    return out


@pytest.fixture
def group(spark, request):
    """A caller-set job group of this test's own, cleared afterwards."""
    sc = spark.sparkContext
    sc.setJobGroup(request.node.name, "spans test")
    yield request.node.name
    sc.setLocalProperty(GROUP, None)


def test_nesting_and_self_time():
    with spans.span("root") as s:
        with spans.span("a"):
            time.sleep(0.05)
            with spans.span("b"):
                time.sleep(0.1)
        time.sleep(0.05)
        spans.mode("warm")
        spans.note("k", "d")
    rec = s.record
    root = rec["spans"]
    assert rec["mode"] == "warm"
    assert rec["fallbacks"] == [{"kind": "k", "detail": "d", "span": "root"}]
    assert [c["name"] for c in root["children"]] == ["a"]
    a = root["children"][0]
    assert [c["name"] for c in a["children"]] == ["b"]
    b = a["children"][0]
    assert b["self_s"] == b["wall_s"] >= 0.1
    assert a["wall_s"] >= 0.15 and 0.05 <= a["self_s"] < 0.1
    assert 0.05 <= root["self_s"] < 0.1
    assert root["wall_s"] >= a["wall_s"] + 0.05
    assert spans.stages(rec) == {"a": a["wall_s"], "b": b["wall_s"]}


def test_root_joins_an_open_record():
    with spans.span("caller") as s:
        with spans.root("refresh"):
            with spans.span("walk"):
                pass
    assert [c["name"] for c in s.record["spans"]["children"]] == ["walk"]
    with spans.root("refresh") as r:
        with spans.span("walk"):
            pass
    assert r.record["spans"]["name"] == "refresh"


def test_nested_train_is_counted_once(spark, tmp_path):
    """save_nsw_index's build_index span holds its train span: the stage
    map reports both, and the time outside every top-level span (the
    bench's probe_residual) subtracts build_index alone."""
    from mining_data_integration_spark.operators import similarity as S

    emb = spark.createDataFrame(
        [(i, [float(((i * 7 + j * 3) % 11) - 5) for j in range(8)])
         for i in range(40)], "vec_id long, embedding array<double>")
    with spans.span("query") as s:
        S.save_nsw_index(emb, str(tmp_path / "nsw"), k_nbrs=4,
                         n_centroids=2)
        time.sleep(0.05)
    root = s.record["spans"]
    (build,) = root["children"]
    assert build["name"] == "build_index"
    assert [c["name"] for c in build["children"]] == ["train"]
    st = spans.stages(s.record)
    assert set(st) == {"build_index", "train"}
    assert root["self_s"] == pytest.approx(
        root["wall_s"] - build["wall_s"], abs=0.002)
    assert root["self_s"] >= 0.05
    assert build["jobs"] and set(build["children"][0]["jobs"]) \
        <= set(build["jobs"]) == set(root["jobs"])


def test_one_count_gets_its_job_ids(spark, group):
    sc = spark.sparkContext
    with spans.span("root") as s:
        spark.range(0, 100, 1, 3).count()
    ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
    assert ids and s.record["spans"]["jobs"] == ids


def test_pool_spans_nest_and_carry_jobs(spark, group):
    sc = spark.sparkContext

    def writer(name: str) -> None:
        spark.range(0, 10, 1, 2).filter(F.col("id") > 3).collect()
        with spans.span(f"gw_{name}"):
            spark.range(0, 20, 1, 2).collect()

    with spans.span("root") as s:
        with spans.span("gold_writes"):
            with ThreadPoolExecutor(max_workers=2) as pool:
                list(pool.map(spans.inherit(writer), ("x", "y")))
        assert sc.getLocalProperty(GROUP) == group
    nodes = by_name(s.record["spans"])
    gw = nodes["gold_writes"]
    assert sorted(c["name"] for c in gw["children"]) == ["gw_x", "gw_y"]
    for c in gw["children"]:
        assert c["jobs"] and set(c["jobs"]) < set(gw["jobs"])
    # two jobs per writer: its own collect and its gw_* span's
    assert len(gw["jobs"]) == 4
    assert s.record["spans"]["jobs"] == gw["jobs"]
    # concurrent children are covered once: self time never negative
    assert gw["self_s"] >= 0


def test_concurrent_children_are_all_kept():
    """Many threads opening spans under one inherited parent lose none
    of them (the children list is shared between the threads)."""
    import sys

    def worker(i: int) -> None:
        for j in range(50):
            with spans.span(f"c{i}-{j}"):
                pass

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with spans.span("root") as s:
            with ThreadPoolExecutor(max_workers=16) as pool:
                for f in [pool.submit(spans.inherit(worker), i)
                          for i in range(16)]:
                    f.result(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert len(s.record["spans"]["children"]) == 16 * 50
    assert len(spans.stages(s.record)) == 16 * 50


def test_layer_launches_no_job_and_keeps_the_group(spark, group):
    sc = spark.sparkContext

    def worker() -> None:
        with spans.span("b"):
            pass

    with spans.span("root") as s:
        with spans.span("a"):
            assert sc.getLocalProperty(GROUP) == group
        with ThreadPoolExecutor(max_workers=1) as pool:
            pool.submit(spans.inherit(worker)).result()
    assert sc.getLocalProperty(GROUP) == group
    assert s.record["spans"]["jobs"] == []
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_unrooted_note_is_logged(caplog):
    caplog.set_level(logging.INFO, logger="mining_data_integration_spark.spans")
    spans.note("probe_cap", "x")
    (line,) = [r.getMessage() for r in caplog.records]
    assert json.loads(line) == {"fallbacks": [
        {"kind": "probe_cap", "detail": "x", "span": None}]}
