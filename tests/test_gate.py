"""The shared driver-collect gate (plans/gate.py) and the operators
behind it: the postings pair kernel agrees bit for bit with the join
fallback, no gate touches a driver-local file, every gated call logs
one decision record, and the LSH chain releases its signature cache."""

import logging
import random

import pytest

from edspdf_spark.operators import dedup
from edspdf_spark.plans import gate


def _shingles(spark, id_type, with_nulls):
    """~40 docs over a 60-code universe plus one code in 14 docs, so
    max_doc_freq=8 drops it and min_intersect=3 prunes pairs."""
    rnd = random.Random(7)
    rows = []
    for i in range(40):
        doc = f"doc-{(i * 37) % 101:03d}" if id_type == "string" else i * 7
        codes = set(rnd.sample(range(60), rnd.randint(2, 9)))
        if i % 3 == 0:
            codes.add(999)
        rows += [(doc, c) for c in sorted(codes)]
    if with_nulls:
        other = "doc-000" if id_type == "string" else 0
        rows += [(None, 999), (None, 5), (other, None), (other, None)]
    return spark.createDataFrame(rows, f"id {id_type}, code bigint")


def _rows(df):
    return sorted(tuple(v.hex() if isinstance(v, float) else v for v in r)
                  for r in df.collect())


@pytest.mark.parametrize("id_type", ["bigint", "string"])
@pytest.mark.parametrize("with_nulls", [False, True])
@pytest.mark.parametrize("op,threshold", [("jaccard_pairs", 0.1),
                                          ("containment_pairs", 0.3)])
def test_postings_matches_join_fallback(spark, monkeypatch, id_type,
                                        with_nulls, op, threshold):
    sh = _shingles(spark, id_type, with_nulls)
    fn = getattr(dedup, op)
    for max_doc_freq in (8, None):
        for min_intersect in (1, 3):
            args = dict(threshold=threshold, min_intersect=min_intersect,
                        max_doc_freq=max_doc_freq)
            monkeypatch.setattr(dedup, "PAIR_DRIVER_MAX_BYTES", 512 << 20)
            fast = _rows(fn(sh, **args))
            monkeypatch.setattr(dedup, "PAIR_DRIVER_MAX_BYTES", 0)
            slow = _rows(fn(sh, **args))
            assert fast == slow and fast, (max_doc_freq, min_intersect)


def _gated_operators(spark):
    """(name, constant owner, constant name, call, expected rows,
    expected bytes) for the five gated operators on small inputs."""
    from edspdf_spark.operators.components import connected_components
    from edspdf_spark.operators.graph import (host_label_propagation,
                                              host_pagerank)

    sh_int = _shingles(spark, "bigint", True)
    n_int = sh_int.where("id IS NOT NULL AND code IS NOT NULL").count()
    sh_str = _shingles(spark, "string", False)
    n_str = sh_str.count()
    b_str = 8 * n_str + sum(len(r.id) for r in sh_str.collect())

    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (10, 11)],
                                  "id_a long, id_b long")
    graph = [("a.example", "b.example"), ("a.example", "c.example"),
             ("b.example", "c.example"), ("c.example", "a.example"),
             ("d.example", "c.example"), ("d.example", "c.example")]
    edges = spark.createDataFrame(graph, "src_host string, dst_host string")
    seeds = spark.createDataFrame([("a.example", 1)],
                                  "host string, label int")
    distinct = set(graph)
    b_graph = sum(len(s) + len(d) for s, d in distinct)
    return [
        ("jaccard_pairs", dedup, "PAIR_DRIVER_MAX_BYTES",
         lambda: dedup.jaccard_pairs(sh_int, threshold=0.1),
         n_int, 16 * n_int),
        ("containment_pairs", dedup, "PAIR_DRIVER_MAX_BYTES",
         lambda: dedup.containment_pairs(sh_str, threshold=0.3),
         n_str, b_str),
        ("connected_components", gate, "DRIVER_MAX_BYTES",
         lambda: connected_components(pairs), 8, 16 * 8),
        ("host_pagerank", gate, "DRIVER_MAX_BYTES",
         lambda: host_pagerank(edges, iterations=3),
         len(distinct), b_graph),
        ("host_label_propagation", gate, "DRIVER_MAX_BYTES",
         lambda: host_label_propagation(edges, seeds, iterations=2),
         len(distinct), b_graph),
    ]


def test_gates_measure_in_plan_and_log_one_record(spark, monkeypatch,
                                                  caplog):
    """No gate may size its input through a driver-local file (on a
    cluster the driver does not see executor output): every operator
    runs with tempfile/glob disabled, once exactly at its byte limit
    (driver path) and once one byte under it (distributed path), with
    identical results and one logged decision record per call."""
    import glob
    import tempfile

    from edspdf_spark.operators.graph import release_graph_caches

    ops = _gated_operators(spark)

    def boom(*a, **k):
        raise AssertionError("driver-local path touched by a gate")

    for mod, name in ((tempfile, "mkdtemp"),
                      (tempfile, "TemporaryDirectory"), (glob, "glob")):
        monkeypatch.setattr(mod, name, boom)
    caplog.set_level(logging.INFO, logger=gate.__name__)
    try:
        for name, owner, const, call, rows, size in ops:
            got = {}
            for limit, path in ((size, "driver"),
                                (size - 1, "distributed")):
                monkeypatch.setattr(owner, const, limit)
                caplog.clear()
                got[path] = sorted(map(tuple, call().collect()))
                recs = [r.args for r in caplog.records
                        if r.name == gate.__name__]
                assert len(recs) == 1, (name, recs)
                assert recs[0]["operator"] == name
                assert (recs[0]["rows"], recs[0]["bytes"]) == (rows, size)
                assert recs[0]["max_bytes"] == limit
                assert recs[0]["path"] == path, recs[0]
            assert got["driver"] == got["distributed"] and got["driver"]
    finally:
        release_graph_caches()


def test_minhash_lsh_releases_signature_cache(spark):
    """Through the driver gate only the shingle table (session
    memoization, shared with the pair operators) and the candidate
    pairs may stay persisted after the call and its action."""
    rnd = random.Random(3)
    words = [f"w{i}" for i in range(30)]
    base = [" ".join(rnd.choices(words, k=25)) for _ in range(12)]
    rows = [(i, base[i % 12] + (" tail" if i >= 12 else ""))
            for i in range(24)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    jsc = spark.sparkContext._jsc
    before = len(jsc.getPersistentRDDs())
    out = dedup.minhash_lsh_pairs(df, k=3, threshold=0.5)
    assert out.count() > 0
    assert len(jsc.getPersistentRDDs()) - before <= 2
