"""The benchmark's own tests.

    python3 -m pytest perfbench -q

Generators are deterministic per seed, the oracle agrees with the
engine's exact ``prefilter_search`` on a tiny corpus and with the exact
store read after appends, deletes and upserts, and the metric names
printed match BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import sys
import time
from types import SimpleNamespace

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def _same(a: dict, b: dict) -> bool:
    return all(
        np.array_equal(np.asarray(a[k]), np.asarray(b[k]), equal_nan=a[k].dtype.kind == "f")
        if isinstance(a[k], np.ndarray) and a[k].dtype != object
        else list(a[k]) == list(b[k])
        for k in a
    )


def test_generators_deterministic_per_seed():
    a, b, c = gen.corpus(3, 500, 8), gen.corpus(3, 500, 8), gen.corpus(4, 500, 8)
    assert _same(a, b)
    assert not np.array_equal(a["embedding"], c["embedding"])
    assert gen.query_mix(3, a, 20) == gen.query_mix(3, b, 20)
    assert gen.query_mix(3, a, 20) != gen.query_mix(4, a, 20)
    live = a["vec_id"]
    r1 = gen.churn_round(3, 2, live, 500, 8, 40, 10, 10)
    r2 = gen.churn_round(3, 2, live, 500, 8, 40, 10, 10)
    assert all(_same(r1[k], r2[k]) for k in ("append", "upsert"))
    assert np.array_equal(r1["delete"], r2["delete"])
    assert not set(r1["delete"]) & set(r1["upsert"]["vec_id"])
    assert r1["append"]["vec_id"].min() == 500
    d1, d2 = gen.documents(3, 300), gen.documents(3, 300)
    assert d1[1] == d2[1] and np.array_equal(d1[2], d2[2])
    assert d1[1] != gen.documents(4, 300)[1]


def test_corpus_coverage_rates():
    c = gen.corpus(1, 20000, 4)
    present = {
        "brand": np.mean([v is not None for v in c["brand"]]),
        "color": np.mean([v is not None for v in c["color"]]),
        "item_weight": np.mean(~np.isnan(c["item_weight"])),
        "model_year": np.mean(c["model_year"] >= 0),
    }
    assert abs(present["brand"] - 0.98) < 0.01
    assert abs(present["color"] - 0.73) < 0.02
    assert abs(present["item_weight"] - 0.70) < 0.02
    assert abs(present["model_year"] - 0.03) < 0.01
    assert abs(np.mean(c["country"] == "IN") - 0.41) < 0.02


def test_oracle_tracks_mutations_and_rejects_bad_answers():
    c = gen.corpus(5, 300, 4)
    cat = oracle.Catalogue(c)
    q = list(c["embedding"][7].astype(float))
    ids, _, _ = cat.topk(q, None, 10)
    assert ids[0] == 7
    assert cat.check(q, None, 10, ids)[0]
    cat.delete([7])
    ok, _, why = cat.check(q, None, 10, ids)
    assert not ok
    assert cat.topk(q, None, 10)[0][0] != 7
    pred = {"country": ["exact", "US"]}
    want = cat.topk(q, pred, 10)[0]
    assert all(c["country"][i] == "US" for i in want)
    wrong = [i for i in cat.topk(q, None, 40)[0] if c["country"][i] != "US"][:10]
    assert not cat.check(q, pred, 10, wrong)[0]
    up = gen.corpus(6, 1, 4)
    up["vec_id"] = np.array([3])
    cat.upsert(up)
    assert cat.n_live() == 299
    assert cat.topk(list(up["embedding"][0].astype(float)), None, 1)[0][0] == 3


def test_dedup_oracle():
    ids, texts, fams = gen.documents(8, 400)
    surv = oracle.exact_survivors(ids, texts)
    assert len(surv) < len(ids)  # planted exact copies fold
    truth = oracle.planted_pairs(ids, texts, fams, surv, 0.7)
    assert truth
    for a, b in truth:
        assert fams[a] == fams[b]
        assert oracle.jaccard(oracle.shingles(texts[a]), oracle.shingles(texts[b])) >= 0.7
    comp = oracle.components([1, 2, 3, 4], [(2, 3), (3, 4)])
    assert comp == {1: 1, 2: 2, 3: 2, 4: 2}
    assert oracle.shingles("A  b c\td") == frozenset({"a b c", "b c d"})


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    import workloads

    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


def test_layer_metrics_cover_every_per_layer_name():
    tr = tracing.Tracer()
    with tr.op("read"):
        with tr.span("graph_ann.nsw_read_topk"):
            with tr.span("graph_ann.pruned_match_attrs"):
                pass
        with tr.span("exec") as ex:
            time.sleep(0.02)
    tr.route_strategies.append((0, "nsw_pruned"))
    wl = SimpleNamespace(lat={"read": [0.1]}, items=16, k=10, detail={},
                         failed=0, attempted=16)
    events = {ex["id"]: {"jobs": 1, "critical_run_s": 0.01,
                         "first_job_submit": ex["start"]}}
    out = tracing.layer_metrics(tr, events, wl, {"store.shards": 8,
                                                "store.bytes_per_live_row": 300.0})
    # the rest are measured by the run itself, traced or not
    assert set(out) | {"items_per_s", "peak_rss_mb"} == set(run.PER_LAYER)
    assert out["graph_ann.walk_calls"] == 1
    assert out["graph_ann.sidecar_calls"] == 1
    assert out["router.arm.nsw_pruned"] == 1
    assert 0.2 < out["trace.kernel_share"] < 0.6
    assert out["spark.jobs_per_op"] == 1
    assert 0 < out["driver.plan_s"] < out["trace.exec_s"] + 0.01


def test_event_log_groups_task_metrics_by_span(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 5000,
         "Stage IDs": [0], "Properties": {tracing.JOB_GROUP: "span-3"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 5000, "Finish Time": 5100, "Getting Result Time": 0},
         "Task Metrics": {"Executor Run Time": 80, "Executor CPU Time": 50_000_000,
                          "Executor Deserialize Time": 10, "Result Serialization Time": 0,
                          "JVM GC Time": 1, "Input Metrics": {"Records Read": 7},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 6000,
         "Stage IDs": [1], "Properties": {}},
    ]
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events))
    got = tracing.read_event_log(str(tmp_path))
    assert set(got) == {3}
    rec = got[3]
    assert rec["jobs"] == 1 and rec["tasks"] == 1 and rec["input_rows"] == 7
    assert rec["first_job_submit"] == 5.0
    assert rec["scheduler_wait_s"] == pytest.approx(0.01)
    assert rec["executor_cpu_s"] == pytest.approx(0.05)


@pytest.fixture(scope="module")
def spark():
    from acorn_hybrid_vector_search_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


def test_oracle_agrees_with_prefilter_search(spark, tmp_path):
    import workloads
    from acorn_hybrid_vector_search_spark.functions.predicates import flat_accessors
    from acorn_hybrid_vector_search_spark.operators.hybrid import prefilter_search

    cols = gen.corpus(2, 600, 8)
    path = str(tmp_path / "corpus.parquet")
    workloads.write_corpus(cols, path)
    df = spark.read.parquet(path)
    acc = flat_accessors(df.drop("embedding"))
    cat = oracle.Catalogue(cols)
    for _q, v, p, _cls in gen.query_mix(2, cols, 10):
        rows = prefilter_search(df, v, p, 10, accessors=acc).collect()
        got = [r["vec_id"] for r in sorted(rows, key=lambda r: (r["dist"], r["vec_id"]))]
        want = cat.topk(v, p, 10)[0].tolist()
        assert got == want, p
        assert cat.check(v, p, 10, got)[0]


def test_oracle_agrees_with_store_read_after_mutations(spark, tmp_path):
    """The index_churn read: after append, delete and upsert, the exact
    store kernel answers what the oracle's live set says."""
    from acorn_hybrid_vector_search_spark.functions.predicates import (
        build_predicate,
        flat_accessors,
    )
    from acorn_hybrid_vector_search_spark.operators import graph_ann as G
    import workloads

    cols = gen.corpus(3, 400, 8)
    path = str(tmp_path / "corpus.parquet")
    workloads.write_corpus(cols, path)
    df = spark.read.parquet(path)
    store = str(tmp_path / "store")
    G.nsw_write_clustered(df, store, n_shards=2, payload_cols=list(gen.ATTRS),
                          vector_dtype="float32")
    cat = oracle.Catalogue(cols)
    step = gen.churn_round(3, 0, cat.ids, 400, 8, 40, 30, 20)
    for kind in ("append", "upsert"):
        workloads.write_corpus(step[kind], str(tmp_path / f"{kind}.parquet"))
    G.nsw_append(spark.read.parquet(str(tmp_path / "append.parquet")), store,
                 payload_cols=list(gen.ATTRS))
    cat.append(step["append"])
    G.nsw_delete(spark, store, [int(i) for i in step["delete"]])
    cat.delete(step["delete"])
    G.nsw_upsert(spark.read.parquet(str(tmp_path / "upsert.parquet")), store,
                 payload_cols=list(gen.ATTRS))
    cat.upsert(step["upsert"])

    acc = flat_accessors(df.drop("embedding"))
    queries = gen.query_mix(3, cols, 10)
    preds = {q: build_predicate(p, acc) for q, _v, p, _c in queries if p}
    rows = G.nsw_dense_topk(spark, store, [(q, v) for q, v, _p, _c in queries], 10,
                            predicates=preds).collect()
    for q, v, p, _cls in queries:
        got = [r["vec_id"] for r in sorted((r for r in rows if r["query_id"] == q),
                                           key=lambda r: (r["dist"], r["vec_id"]))]
        assert cat.check(v, p, 10, got)[0], p
        assert got == cat.topk(v, p, 10)[0].tolist(), p
