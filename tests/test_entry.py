from __future__ import annotations

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_smoke(spark):
    mod = _load_entry()
    df = mod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert set(df.columns) == {"src", "dst", "score", "rank"}


def test_registry_consistency():
    mod = _load_entry()
    q = mod.queries()
    o = mod.oracle_sql()
    assert q, "no queries registered"
    assert set(o).issubset(set(q)), "oracle for unknown query"


def test_observation_metrics_ride_the_action(spark):
    """df.observe(): pipeline metrics (row count, sum, null count)
    collected as a side-channel of the SAME action — no second scan.
    The operational surface for production counters on curation jobs."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    obs = Observation("orders_metrics")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum("o_totalprice").alias("total"),
        F.sum(F.col("o_custkey").isNull().cast("int")).alias("null_keys"),
    )
    n_rows = observed.count()
    got = obs.get
    assert got["n"] == n_rows
    assert got["null_keys"] == 0
    assert got["total"] > 0


def test_bench_emit_lines_contract():
    """The driver keeps only a ~2000-char stdout tail and parses the
    LAST line: the compact line must stay bounded (and hold the same
    headline value as the detailed line) even when MANY queries fail
    with long messages — the r04 parsed=null truncation class."""
    import json

    import bench

    timings = {f"long_query_name_number_{i:03d}": 0.5 for i in range(104)}
    errors = {f"bad{i:02d}": "SomeError: " + "x" * 150 for i in range(30)}
    lines = bench.emit_lines(timings, errors, 0.1)
    detailed, compact = json.loads(lines[0]), json.loads(lines[-1])
    assert detailed["value"] == compact["value"] == round(104 * 0.5, 4)
    assert detailed["n_errors"] == compact["n_errors"] == 30
    assert len(detailed["queries"]) == 104
    assert "queries" not in compact and "errors" not in compact
    assert len(compact["failed"]) == 10  # names only, hard-bounded
    assert len(lines[-1]) < 2000, len(lines[-1])
    # r10 additive middle lines: per-query map sharded across bounded
    # parseable lines so the driver's 2000-char stdout tail always holds
    # SOME complete per-query data (PERF_r09.per_query was empty)
    shards = [json.loads(ln) for ln in lines[1:-1]]
    assert shards, "expected per-query shard lines"
    merged: dict[str, float] = {}
    for s in shards:
        assert "value" not in s  # a shard must never parse as the total
        assert len(json.dumps(s)) <= 620
        merged.update(s["queries"])
    assert merged == {k: round(v, 2) for k, v in timings.items()}
    # tail-window guarantee: compact line + the last two shards fit 2000
    assert len(lines[-1]) + len(lines[-2]) + len(lines[-3]) + 3 <= 2000
    # clean run: no error keys at all
    d2, c2 = (
        json.loads(bench.emit_lines(timings, {}, 0.1)[0]),
        json.loads(bench.emit_lines(timings, {}, 0.1)[-1]),
    )
    assert "n_errors" not in d2 and "n_errors" not in c2 and "failed" not in c2
    # 100+ shards: three-digit shard numbers still keep every line in
    # the bound, and the merge is still lossless
    many = {f"q{i:05d}_{'x' * (i % 40)}": 1234.5 for i in range(3000)}
    big = [json.loads(ln) for ln in bench._per_query_shard_lines(many, 0.1)]
    assert len(big) >= 100
    assert all(len(json.dumps(s)) <= 620 for s in big)
    assert [s["pq_shard"] for s in big] == list(range(1, len(big) + 1))
    assert {k: v for s in big for k, v in s["queries"].items()} == many
    # a shard holds at least one name whole, so the bound rests on every
    # registry name fitting one shard on its own (no runtime truncation)
    from bigdataamazon_spark import queries as registry

    for name in registry.queries():
        [line] = bench._per_query_shard_lines({name: 99999.99}, 0.1)
        widest = {**json.loads(line), "pq_shard": 9999, "pq_nshards": 9999}
        assert len(json.dumps(widest)) <= 620, name
