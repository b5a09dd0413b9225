"""SVG chart renderers (sources/svg.py) + the analytics dashboard
(report.py) — the presentation layer for the reference's figure set
(amazon1.py:60-110). Figures are deterministic pure strings, so they
are tested structurally: well-formed XML, right mark counts, right
values in the annotations."""

from __future__ import annotations

import xml.etree.ElementTree as ET

import pytest

from bigdataamazon_spark.sources import svg as S

NS = "{http://www.w3.org/2000/svg}"


def _parse(doc: str) -> ET.Element:
    return ET.fromstring(doc)  # raises on malformed XML


def test_histogram_one_rect_per_bin_scaled_to_max():
    bins = [(0.0, 10.0, 5), (10.0, 20.0, 10), (20.0, 30.0, 0)]
    root = _parse(S.svg_histogram(bins))
    rects = root.findall(f"{NS}rect")
    assert len(rects) == 3
    heights = [float(r.get("height")) for r in rects]
    # count=10 bar is twice the count=5 bar; count=0 renders zero-height
    assert heights[1] == pytest.approx(2 * heights[0], rel=1e-6)
    assert heights[2] == 0.0
    # tooltips carry the exact counts (the annotation contract)
    titles = [r.find(f"{NS}title").text for r in rects]
    assert titles[0].endswith(": 5") and titles[1].endswith(": 10")


def test_line_is_sorted_polyline_with_point_markers():
    pts = [(0.04, 2.0), (0.0, 1.0), (0.08, 0.5)]  # unsorted on purpose
    root = _parse(S.svg_line(pts))
    poly = root.find(f"{NS}polyline")
    xs = [float(p.split(",")[0]) for p in poly.get("points").split()]
    assert xs == sorted(xs)
    assert len(root.findall(f"{NS}circle")) == 3


def test_scatter_log_x_drops_nonpositive_and_maps_monotonically():
    pts = [(1.0, 1.0), (10.0, 2.0), (100.0, 3.0), (0.0, 9.0), (-5.0, 9.0)]
    root = _parse(S.svg_scatter(pts, log_x=True))
    circles = root.findall(f"{NS}circle")
    assert len(circles) == 3  # non-positive x dropped under log
    cxs = [float(c.get("cx")) for c in circles]
    # log spacing: equal ratios -> equal pixel gaps
    assert cxs[1] - cxs[0] == pytest.approx(cxs[2] - cxs[1], abs=0.2)


def test_heatmap_symmetric_lookup_diagonal_and_annotations():
    labels = ["a", "b"]
    vals = {("a", "b"): -0.5}
    root = _parse(S.svg_heatmap(labels, vals))
    texts = [t.text for t in root.findall(f"{NS}text") if t.text]
    # diagonal defaults to 1.00; (b,a) found via symmetric lookup
    assert texts.count("1.00") == 2
    assert texts.count("-0.50") == 2


def test_wordcloud_sizes_by_sqrt_count_and_caps_words():
    words = [(f"w{i}", i + 1) for i in range(100)]
    doc = S.svg_wordcloud(words, max_words=10)
    root = _parse(doc)
    texts = [t for t in root.findall(f"{NS}text") if t.text and t.text.startswith("w")]
    assert len(texts) == 10
    sizes = {t.text: float(t.get("font-size")) for t in texts}
    assert sizes["w99"] == max(sizes.values())  # top count largest
    assert "w0" not in sizes  # below the cap


def test_empty_inputs_raise():
    with pytest.raises(ValueError):
        S.svg_histogram([])
    with pytest.raises(ValueError):
        S.svg_wordcloud([])
    # log_x with every x <= 0 empties the point set AFTER the filter —
    # must raise the clean error, not min()'s bare ValueError
    with pytest.raises(ValueError, match="log_x"):
        S.svg_scatter([(0.0, 1.0), (-2.0, 3.0)], log_x=True)


def test_scatter_sample_is_deterministic_and_bounded(spark, sf_dir):
    from bigdataamazon_spark.catalog import load_table
    from bigdataamazon_spark.report import scatter_sample

    li = load_table(spark, sf_dir, "lineitem")
    a = scatter_sample(li, "l_extendedprice", "l_quantity", n=50).collect()
    b = scatter_sample(li, "l_extendedprice", "l_quantity", n=50).collect()
    assert len(a) == 50 and a == b
    # bounded top-N plan, not a global sort of the world
    from bigdataamazon_spark.plans import executed_plan

    plan = executed_plan(scatter_sample(li, "l_extendedprice", "l_quantity", n=50))
    assert "TakeOrderedAndProject" in plan


def test_analytics_report_end_to_end(spark, sf_dir, tmp_path):
    """The full dashboard writes one well-formed page with every section
    and no figure collects more than its cap (the queries underneath are
    the hash-verified registry entries)."""
    from bigdataamazon_spark.report import write_analytics_report

    out = tmp_path / "report.html"
    path = write_analytics_report(spark, sf_dir, str(out))
    doc = open(path, encoding="utf-8").read()
    for section in (
        "Summary statistics", "Top customers", "Histogram", "KDE",
        "Correlation heatmap", "Scatter", "Word frequency cloud",
    ):
        assert section in doc
    assert doc.count("<svg") == 6  # hist, kde, heatmap, 2 scatters, cloud


def test_report_sections_stay_in_the_callers_job_group(spark, sf_dir):
    """Section threads inherit the caller's job group (so a traced span
    still owns every report job) and name their jobs per figure."""
    from bigdataamazon_spark.report import build_report_figures

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("rpt", "report job-group test")
    try:
        sections = build_report_figures(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job starts reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = tracker.getJobIdsForGroup("rpt")
    assert len(jobs) >= len(sections) == 8
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    store = sc._jsc.sc().statusStore()
    descriptions = {
        d.get() for d in (store.job(j).description() for j in jobs) if d.isDefined()
    }
    assert {f"report:{t}" for t, _ in sections} <= descriptions


def test_report_sections_are_deterministic_and_in_page_order(spark, sf_dir):
    from bigdataamazon_spark.report import build_report_figures

    first = build_report_figures(spark, sf_dir)
    assert build_report_figures(spark, sf_dir) == first
    assert [t for t, _ in first] == [
        "Summary statistics (describe)",
        "Top customers by balance",
        "Histogram",
        "KDE",
        "Correlation heatmap",
        "Scatter",
        "Scatter (log x)",
        "Word frequency cloud",
    ]


def test_report_section_failure_raises_the_original_error(spark, sf_dir, monkeypatch):
    """A section that fails on its pool thread surfaces its own
    exception to the caller, not a wrapper or a missing-result error."""
    from bigdataamazon_spark import queries as registry
    from bigdataamazon_spark.report import build_report_figures

    boom = RuntimeError("boom")

    def failing(spark, sf_dir):
        raise boom

    monkeypatch.setitem(registry._QUERIES, "discount_kde", failing)
    with pytest.raises(RuntimeError) as excinfo:
        build_report_figures(spark, sf_dir)
    assert excinfo.value is boom
