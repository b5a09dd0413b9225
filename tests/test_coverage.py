"""Driver-coverage order: ``queries()`` puts entries without a hash-green
newest driver receipt (``CORRECTNESS_r<N>.json``) ahead of the verified
ones, so the driver's bounded prefix lands on entries still needing a row."""

from __future__ import annotations

import json
import os
import re

from bigdataamazon_spark import coverage
from bigdataamazon_spark import queries as registry

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_WINDOW = 50


def _newest_receipt_green() -> dict[str, bool]:
    rounds = sorted(
        (int(m[1]), f)
        for f in os.listdir(_REPO_ROOT)
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f))
    )
    newest: dict[str, bool] = {}
    for _, f in rounds:
        with open(os.path.join(_REPO_ROOT, f)) as fh:
            for name, row in json.load(fh).items():
                newest[name] = bool(row.get("hash_match"))
    return newest


def test_driver_window_holds_only_unverified_names():
    green = _newest_receipt_green()
    assert green, "no committed CORRECTNESS receipts found"
    head = list(registry.queries())[:DRIVER_WINDOW]
    assert len(head) == DRIVER_WINDOW
    assert [n for n in head if green.get(n)] == []


def test_oracle_order_follows_queries():
    order = list(registry.queries())
    oracles = registry.oracle_sql()
    assert list(oracles) == [n for n in order if n in oracles]


def test_no_receipts_falls_back_to_registration_order(monkeypatch, tmp_path):
    monkeypatch.setattr(coverage, "RECEIPTS_DIR", tmp_path)
    assert list(registry.queries()) == list(registry._QUERIES)
    assert list(registry.oracle_sql()) == [
        n for n in registry._QUERIES if n in registry._ORACLES
    ]
