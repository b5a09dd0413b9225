"""Analytics dashboard — the reference's full figure set as one
standalone HTML page (``/root/reference/amazon1.py:60-110``: describe
table, top-10 table, histograms, two scatters, KDE-overlaid histogram,
annotated correlation heatmap, wordcloud; plus the ``webbrowser.open``
serve behavior at ``:38-39,332``).

Every figure's COMPUTE runs distributed through the already-registered,
oracle-checked queries; this module only collects the bounded results
and hands them to the pure-string SVG renderers (``sources/svg.py``).
The one new projection — the scatter sample — is a deterministic
md5-keyed top-N (no ``orderBy(rand())``, no full collect), so no figure
costs more than its aggregates at any corpus size. The eight sections
run as concurrent Spark jobs, so the page costs its slowest section
(describe's exact ``l_extendedprice`` quartiles), not the sum of all
eight.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from .catalog import load_table
from .sources import html as html_sink
from .sources import svg as svg_mod


def scatter_sample(
    df: DataFrame, x_col: str, y_col: str, *, n: int = 300, seed: str = "s42"
) -> DataFrame:
    """Deterministic bounded scatter projection (A6/A7): top-``n`` rows
    by md5 of the row's own coordinates — stable under retries, cluster
    layout, and data order (the same discipline as operators/sampling).
    Plans as TakeOrderedAndProject: executors keep n rows each, the
    driver merges n, nothing else moves."""
    key = F.md5(F.concat_ws("\x1f", F.col(x_col), F.col(y_col), F.lit(seed)))
    return (
        df.select(F.col(x_col).cast("double").alias("x"),
                  F.col(y_col).cast("double").alias("y"))
        .where(F.col("x").isNotNull() & F.col("y").isNotNull())
        .orderBy(key)
        .limit(n)
    )


def _collect_xy(df: DataFrame, x: str, y: str, cap: int) -> list[tuple[float, float]]:
    return [(float(r[x]), float(r[y])) for r in df.limit(cap).collect()]


def _describe_section(q, spark, sf_dir, tables) -> str:
    return html_sink.to_html_table(q["describe_lineitem"](spark, sf_dir), max_rows=30)


def _top_customers_section(q, spark, sf_dir, tables) -> str:
    return html_sink.to_html_table(
        q["top_customers_by_balance"](spark, sf_dir), max_rows=10
    )


def _histogram_section(q, spark, sf_dir, tables) -> str:
    # histogram_with_edges single-sources the bin arithmetic with the
    # registered histogram query (same bounds agg, same width formula)
    from .operators.relational import histogram_with_edges

    hist_rows = (
        histogram_with_edges(tables["orders"], "o_totalprice", 30).limit(1000).collect()
    )
    # histogram() groups NULL values into a bucket=NULL row whose
    # lo/hi are NULL — skip it rather than crash the whole page
    bins = [
        (float(r["lo"]), float(r["hi"]), int(r["n"]))
        for r in hist_rows
        if r["lo"] is not None and r["hi"] is not None
    ]
    return svg_mod.svg_histogram(
        bins, title="Order Total Price (30-bin histogram)",
        x_label="o_totalprice", y_label="orders",
    )


def _kde_section(q, spark, sf_dir, tables) -> str:
    kde_pts = _collect_xy(q["discount_kde"](spark, sf_dir), "x", "density", 1000)
    return svg_mod.svg_line(
        kde_pts, title="Lineitem Discount KDE (bw=0.02)",
        x_label="l_discount", y_label="density",
    )


def _heatmap_section(q, spark, sf_dir, tables) -> str:
    corr_row = q["lineitem_correlations"](spark, sf_dir).first()
    pairs = {}
    for c in corr_row.asDict():
        # corr_<a>_<b> with a/b in the known lineitem measure names
        body = c[len("corr_"):]
        for a in ("l_quantity", "l_extendedprice", "l_discount", "l_tax"):
            if body.startswith(a + "_"):
                # corr() is NULL for a constant / <2-non-null measure;
                # svg_heatmap renders missing cells blank, so skip
                # rather than crash on float(None)
                if corr_row[c] is not None:
                    pairs[(a, body[len(a) + 1:])] = float(corr_row[c])
                break
    labels = sorted({k for p in pairs for k in p})
    return svg_mod.svg_heatmap(labels, pairs)


def _scatter_section(q, spark, sf_dir, tables) -> str:
    return svg_mod.svg_scatter(
        _collect_xy(
            scatter_sample(tables["lineitem"], "l_extendedprice", "l_quantity"),
            "x", "y", 300,
        ),
        title="Price vs. Quantity (deterministic 300-row sample)",
        x_label="l_extendedprice", y_label="l_quantity",
    )


def _scatter_log_section(q, spark, sf_dir, tables) -> str:
    return svg_mod.svg_scatter(
        _collect_xy(
            scatter_sample(tables["lineitem"], "l_extendedprice", "l_discount"),
            "x", "y", 300,
        ),
        title="Discount vs. Price (log-x, deterministic sample)",
        x_label="l_extendedprice", y_label="l_discount", log_x=True,
    )


def _wordcloud_section(q, spark, sf_dir, tables) -> str:
    # top-N BY COUNT, deterministic tiebreak — a bare limit() takes
    # whichever rows arrive first and silently drops the most frequent
    # words on any corpus with >500 distinct words. orderBy+limit plans
    # as TakeOrderedAndProject (executors keep 500 rows each).
    words = [
        (r["word"], int(r["n"]))
        for r in q["word_frequency"](spark, sf_dir)
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(500)
        .collect()
    ]
    return svg_mod.svg_wordcloud(words, title="Document Word Frequency")


# page order; each section is one independent group of Spark jobs
_SECTIONS = [
    ("Summary statistics (describe)", _describe_section),
    ("Top customers by balance", _top_customers_section),
    ("Histogram", _histogram_section),
    ("KDE", _kde_section),
    ("Correlation heatmap", _heatmap_section),
    ("Scatter", _scatter_section),
    ("Scatter (log x)", _scatter_log_section),
    ("Word frequency cloud", _wordcloud_section),
]
# every table a section reads, directly or through its registry query
_REPORT_TABLES = ("orders", "lineitem", "customer", "documents")


def build_report_figures(spark: SparkSession, sf_dir: str) -> list[tuple[str, str]]:
    """(section_title, html_fragment) list for the reference dashboard.

    Pulls from the registry so each figure's numbers are the
    hash-verified ones; the per-figure caps are generous multiples of
    the aggregates' true sizes (30 bins, 6 grid points, 3 corr pairs,
    |V|≈29 words) — they exist so a regressed upstream can never turn
    a figure into an unbounded collect.

    The sections are independent, so each runs on its own thread and
    Spark schedules their jobs side by side. Each thread inherits the
    caller's local properties (job group included) and names its jobs
    ``report:<title>``; results come back in page order, and the first
    failing section (in that order) raises its own exception."""
    from . import queries as registry

    # resolved here, once: the threads only read the registry dict and
    # the memoized table handles
    q = registry.queries()
    tables = {t: load_table(spark, sf_dir, t) for t in _REPORT_TABLES}

    def run(title, section):
        spark.sparkContext.setJobDescription(f"report:{title}")
        return section(q, spark, sf_dir, tables)

    with ThreadPoolExecutor(max_workers=len(_SECTIONS)) as pool:
        futures = [
            # wrapped per section: each wrapper holds its own copy of the
            # caller's properties, so one thread's description stays its own
            pool.submit(inheritable_thread_target(spark)(run), title, section)
            for title, section in _SECTIONS
        ]
        return [(title, f.result()) for (title, _), f in zip(_SECTIONS, futures)]


def write_analytics_report(
    spark: SparkSession, sf_dir: str, path: str, *,
    title: str = "bigdataamazon_spark analytics report",
    open_browser: bool = False,
) -> str:
    """Write the full dashboard and optionally open it — the engine's
    replacement for the reference's show-figures-then-
    ``webbrowser.open`` flow (``amazon1.py:38-39,332``). Returns the
    path. ``open_browser`` is best-effort (headless boxes have no
    browser; stdlib ``webbrowser`` degrades gracefully)."""
    import html as _h

    sections = build_report_figures(spark, sf_dir)
    body = "\n".join(
        f"<section><h2>{_h.escape(t)}</h2>\n{frag}\n</section>" for t, frag in sections
    )
    doc = (
        "<!DOCTYPE html>\n<html><head><meta charset='utf-8'>"
        f"<title>{_h.escape(title)}</title>"
        "<style>body{font-family:sans-serif;max-width:720px;margin:2em auto;"
        "color:#1a3550}table{border-collapse:collapse}td,th{border:1px solid #d8dee4;"
        "padding:3px 8px;font-size:13px}section{margin-bottom:2em}</style>"
        f"</head>\n<body><h1>{_h.escape(title)}</h1>\n"
        f"<p>data: {_h.escape(sf_dir)}</p>\n{body}\n</body></html>\n"
    )
    with open(path, "w", encoding="utf-8") as f:
        f.write(doc)
    if open_browser:
        import pathlib
        import webbrowser

        # as_uri() needs an absolute path; f"file://{relative}" would
        # parse the filename as the URL host
        webbrowser.open(pathlib.Path(path).resolve().as_uri())
    return path
