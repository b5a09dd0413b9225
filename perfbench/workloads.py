"""The benchmark's workloads, each a closed loop with one client.

A workload has three steps the runner calls in order:

- ``warm()``: the first calls, paid once per process; counted in setup.
- ``verify()``: checks the warm results against an independent answer
  (the registry's DuckDB ``oracle_sql()`` twin, or an exact transcription
  of it); outside every timed figure.
- ``unit(k)``: one unit of timed work (a pass or a flow). It
  returns its wall time, the latencies of its ops and how many of them
  failed a check.

``layers()`` adds the workload's own per-layer numbers in a traced run.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from pathlib import Path

import duckdb
import numpy as np
import pyarrow.parquet as pq

import inputs

# Build-heavy registry queries: their builders launch iterative eager
# jobs (label propagation, BFS rounds, gradient steps) before the action,
# so >90% of an op is build. Picked by the measured split on a 4-CPU
# host: minhash_lsh_pairs and hll_intersection_audit measured exec-heavy
# there (build 0.7 s and 1.5 s against 3.2 s and 5.5 s of exec), and
# queries whose first run costs 2-20x their warm run
# (ic_cascade_activations, table_profile_lineitem, nation_trade_pagerank)
# would spend the run's time budget in warm-up.
DRIVER_BOUND = [
    "nation_trade_communities",
    "nation_closeness_centrality",
    "logreg_quality_classifier",
]

LOOKUPS = 40
MISS_SHARE = 0.1
MISS_WORD = "absentword"
WARM_LOOKUPS = 5
# The report's sections, one per figure (report.build_report_figures).
REPORT_SECTIONS = 8


def _normalized(pdf) -> tuple[list[str], list[tuple[str, ...]]]:
    """tests/parity.py semantics: sorted column names and the sorted
    multiset of rows, each value stringified column-wise."""
    cols = sorted(pdf.columns)
    rows = sorted(map(tuple, pdf[cols].astype(str).itertuples(index=False, name=None)))
    return cols, rows


def oracle_mismatch(name: str, spark_pdf, tables: str, cpus: int) -> str | None:
    """Compare a collected Spark result with the query's DuckDB twin."""
    from bigdataamazon_spark import queries as registry

    sql = registry.oracle_sql().get(name)
    if sql is None:
        return None if len(spark_pdf) else f"{name}: no oracle and no rows"
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {cpus}")
        for t in os.listdir(tables):
            con.execute(
                f"CREATE VIEW {t.removesuffix('.parquet')} AS "
                f"SELECT * FROM '{os.path.join(tables, t)}'"
            )
        oracle_pdf = con.execute(sql).df()
    finally:
        con.close()
    got, want = _normalized(spark_pdf), _normalized(oracle_pdf)
    if got[0] != want[0]:
        return f"{name}: columns {got[0]} != {want[0]}"
    if got[1] != want[1]:
        return f"{name}: {len(got[1])} rows differ from the oracle's {len(want[1])}"
    return None


def bow_topk_twin(texts: dict[int, str], k: int = 5) -> dict[int, list]:
    """``oracle_sql()["bow_cosine_topk"]`` transcribed to NumPy, for its
    dense regime (no hot-word cap below 20000 docs and 2048 words).

    The DuckDB twin self-joins the word postings (~5e8 rows at sf0.1,
    about 30 s on 4 CPUs); the same arithmetic on a count matrix takes
    about 3 s. Dot products and squared norms are exact integers, and
    ``dot / (nrm_src * nrm_dst)`` is evaluated in the SQL's order, so
    scores, ties and ranks match the SQL exactly. Returns src -> sorted
    (dst, unrounded score, rank) rows.
    """
    stop = {"", "the", "a", "an", "and", "of", "to", "in"}
    ids = np.array(sorted(texts))
    vocab: dict[str, int] = {}
    counts = [
        [vocab.setdefault(w, len(vocab)) for w in texts[i].split(" ") if w not in stop]
        for i in ids
    ]
    if len(ids) > 20000 or len(vocab) > 2048:
        raise ValueError("the twin covers only the dense, uncapped regime")
    mat = np.zeros((len(ids), len(vocab)))
    for r, cols in enumerate(counts):
        np.add.at(mat[r], cols, 1.0)
    nrm = np.sqrt((mat * mat).sum(axis=1))
    out: dict[int, list] = {}
    for lo in range(0, len(ids), 500):
        dot = mat[lo:lo + 500] @ mat.T
        score = dot / (nrm[lo:lo + 500, None] * nrm[None, :])
        for r in range(dot.shape[0]):
            src = lo + r
            live = np.flatnonzero(dot[r] > 0)
            live = live[live != src]
            order = np.lexsort((ids[live], -score[r, live]))[:k]
            if len(order):
                out[int(ids[src])] = [
                    (int(ids[live[j]]), float(score[r, live[j]]), rank)
                    for rank, j in enumerate(order, start=1)
                ]
    return out


class Workload:
    """Shared state: the session, the inputs and the tracer."""

    # units the timed region always holds, however long they take
    min_units = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tables = ctx.tables
        self.trace = ctx.tracer
        self.problems: list[str] = []

    def extra_attempts(self) -> int:
        """Outputs checked per unit besides its ops."""
        return 0

    def layers(self) -> dict[str, float]:
        return {}


class QueryPasses(Workload):
    """Registry queries in a seeded order; one op is one query built and
    counted, with the cache cleared after it as bench.py does."""

    names = DRIVER_BOUND
    # wall_s is the faster of at least two passes, so one pass slowed by
    # a burst of CPU steal does not set it
    min_units = 2

    def __init__(self, ctx):
        super().__init__(ctx)
        from bigdataamazon_spark import queries as registry

        self.registry = registry.queries()
        self.rng = random.Random(ctx.seed)
        self.results: dict[str, object] = {}
        self.wrong: set[str] = set()

    def warm(self) -> None:
        for name in self.names:
            self.results[name] = self.registry[name](self.spark, self.tables).toPandas()
            self.spark.catalog.clearCache()

    def verify(self) -> None:
        for name, pdf in self.results.items():
            problem = oracle_mismatch(name, pdf, self.tables, self.ctx.cpus)
            if problem:
                self.problems.append(problem)
                self.wrong.add(name)
        self.rows = {name: len(pdf) for name, pdf in self.results.items()}
        self.results.clear()

    def unit(self, k: int) -> tuple[float, list[float], int]:
        order = list(self.names)
        self.rng.shuffle(order)
        lat, failed = [], 0
        tr = self.trace
        start = time.perf_counter()
        for name in order:
            op = f"{name}#{k}"
            t0 = time.perf_counter()
            with tr.span(op, "build"):
                df = self.registry[name](self.spark, self.tables)
            if tr.on:
                tr.plan(op, df)
            with tr.span(op, "exec"):
                n = df.count()
            lat.append(time.perf_counter() - t0)
            failed += n != self.rows[name] or name in self.wrong
            tr.sample_storage()
            self.spark.catalog.clearCache()
        return time.perf_counter() - start, lat, failed


class RecsysFlow(Workload):
    """The reference flow: ingest, clean, dedup, bag-of-words cosine
    top-k held in the catalog, seeded lookups against it, then the
    neighbour table and the HTML report written out."""

    stages = ("clean_numeric_props", "content_dedup_docs", "bow_cosine_topk")

    def __init__(self, ctx):
        super().__init__(ctx)
        from bigdataamazon_spark import queries as registry

        self.registry = registry.queries()
        docs = pq.read_table(os.path.join(self.tables, "documents.parquet")).to_pydict()
        self.texts = dict(zip(docs["doc_id"], docs["text"]))
        self.meta = {
            i: (lang, src, n)
            for i, lang, src, n in zip(
                docs["doc_id"], docs["lang"], docs["source"], docs["n_chars"]
            )
        }
        rng = random.Random(ctx.seed)
        vocab = inputs.VOCAB
        self.probes = [
            f"{rng.choice(vocab)} {MISS_WORD if rng.random() < MISS_SHARE else rng.choice(vocab)}"
            for _ in range(LOOKUPS + WARM_LOOKUPS)
        ]
        self.results: dict[str, object] = {}
        self.flows = 0
        self.cache_scans = 0
        self.report_bytes = 0

    def _lookup(self, docs, topk, probe: str):
        from pyspark.sql import functions as F

        pid = docs.filter(F.col("text").contains(probe)).agg(F.min("doc_id").alias("pid"))
        return (
            topk.join(F.broadcast(pid), topk.src == pid.pid)
            .join(docs, topk.dst == docs.doc_id)
            .select("src", "dst", "score", "rank", "lang", "source", "n_chars")
        )

    def _expected(self, probe: str) -> list[tuple[str, ...]]:
        hits = [i for i, t in self.texts.items() if probe in t]
        if not hits:
            return []
        src = min(hits)
        return sorted(
            tuple(map(str, (src, dst, score, rank) + self.meta[dst]))
            for dst, score, rank in self.neighbours.get(src, [])
        )

    def warm(self) -> None:
        from bigdataamazon_spark import catalog

        for name in self.stages:
            df = self.registry[name](self.spark, self.tables)
            if name == "bow_cosine_topk":
                df = catalog.materialize_shared(df)
                docs = catalog.load_table(self.spark, self.tables, "documents")
                for probe in self.probes[LOOKUPS:]:
                    self._lookup(docs, df, probe).collect()
            self.results[name] = df.toPandas()
        catalog.release_shared()
        self.spark.catalog.clearCache()

    def verify(self) -> None:
        topk = self.results.pop("bow_cosine_topk")
        for name, pdf in self.results.items():
            problem = oracle_mismatch(name, pdf, self.tables, self.ctx.cpus)
            if problem:
                self.problems.append(problem)
        self.rows = {name: len(pdf) for name, pdf in self.results.items()}
        self.rows["bow_cosine_topk"] = len(topk)
        self.results.clear()
        self.neighbours: dict[int, list] = {}
        for src, dst, score, rank in topk[["src", "dst", "score", "rank"]].itertuples(
            index=False, name=None
        ):
            self.neighbours.setdefault(src, []).append((dst, score, rank))
        twin = bow_topk_twin(self.texts)
        got = {src: sorted(rows, key=lambda r: r[2]) for src, rows in self.neighbours.items()}
        # the SQL rounds scores to 6 places; compare at that grain
        if got.keys() != twin.keys() or any(
            [(d, r) for d, _, r in got[src]] != [(d, r) for d, _, r in rows]
            or any(abs(a[1] - b[1]) > 1e-6 for a, b in zip(got[src], rows))
            for src, rows in twin.items()
        ):
            self.problems.append("bow_cosine_topk: differs from its oracle twin")

    def unit(self, k: int) -> tuple[float, list[float], int]:
        from bigdataamazon_spark import catalog, report
        from bigdataamazon_spark.sources import parquet as pq_sink

        tr, spark, tables = self.trace, self.spark, self.tables
        out = os.path.join(self.ctx.run_dir, f"flow{k}")
        os.makedirs(out, exist_ok=True)
        counts: dict[str, int] = {}
        t0 = time.perf_counter()
        with tr.span(f"flow{k}", "ingest"):
            catalog.invalidate_tables(spark, tables)
            docs = catalog.load_table(spark, tables, "documents")
            catalog.load_table(spark, tables, "events")
            counts["documents"] = docs.count()
        for name in self.stages:
            with tr.span(f"flow{k}.{name}", "build"):
                df = self.registry[name](spark, tables)
            if name == "bow_cosine_topk":
                df = topk = catalog.materialize_shared(df)
            with tr.span(f"flow{k}.{name}", name):
                counts[name] = df.count()
        tr.sample_storage()
        lat, failed = [], 0
        for i, probe in enumerate(self.probes[:LOOKUPS]):
            op = f"lookup{k}.{i}"
            t1 = time.perf_counter()
            q = self._lookup(docs, topk, probe)
            if tr.on:
                self.cache_scans += "InMemoryTableScan" in tr.plan(op, q)
            with tr.span(op, "exec"):
                rows = q.collect()
            lat.append(time.perf_counter() - t1)
            got = sorted(tuple(map(str, r)) for r in rows)
            # a held table that failed verification fails every lookup
            failed += got != self._expected(probe) or bool(self.problems)
        neighbours = os.path.join(out, "neighbours")
        with tr.span(f"flow{k}", "write"):
            pq_sink.write_parquet(topk, neighbours, mode="overwrite")
        page = os.path.join(out, "report.html")
        with tr.span(f"flow{k}", "report"):
            report.write_analytics_report(spark, tables, page)
        catalog.release_shared()
        spark.catalog.clearCache()
        wall = time.perf_counter() - t0
        self.flows += 1

        checks = [
            counts["documents"] == inputs.ROWS["documents"],
            counts["bow_cosine_topk"] == pq.read_table(neighbours).num_rows,
            Path(page).read_text(encoding="utf-8").count("<section>") == REPORT_SECTIONS,
        ] + [counts[name] == self.rows[name] for name in self.stages]
        self.report_bytes = os.path.getsize(page)
        failed += checks.count(False)
        shutil.rmtree(out)
        return wall, lat, failed

    def extra_attempts(self) -> int:
        return 3 + len(self.stages)

    def layers(self) -> dict[str, float]:
        return {
            "catalog.cache_scan_ratio": self.cache_scans / (LOOKUPS * self.flows),
            "report.bytes": self.report_bytes,
        }


WORKLOADS = {
    "driver_bound": QueryPasses,
    "recsys_flow": RecsysFlow,
}
