"""Driver-coverage order, derived from the committed driver receipts.

The driver verifies a bounded prefix of ``queries()`` against its DuckDB
oracle each round and records the result in ``CORRECTNESS_r<N>.json`` at
the repo root. A name counts as verified when its newest receipt has
``hash_match: true``; ``order_for_driver`` puts every other name first,
so the next driver window lands on entries that still need a green row.
With no receipts the order is registration order.
"""

from __future__ import annotations

import functools
import json
import re
from pathlib import Path

RECEIPTS_DIR = Path(__file__).resolve().parent.parent
_RECEIPT = re.compile(r"CORRECTNESS_r(\d+)\.json")


@functools.cache
def verified(receipts_dir: Path) -> frozenset[str]:
    """Names whose newest receipt (numeric round order) is hash-green."""
    found = {int(m[1]): p for p in receipts_dir.iterdir() if (m := _RECEIPT.fullmatch(p.name))}
    newest: dict[str, bool] = {}
    for rnd in sorted(found):
        for name, row in json.loads(found[rnd].read_text()).items():
            newest[name] = bool(row.get("hash_match"))
    return frozenset(n for n, green in newest.items() if green)


def order_for_driver(names: list[str]) -> list[str]:
    """Unverified names first, then verified; registration order in each."""
    done = verified(RECEIPTS_DIR)
    return [n for n in names if n not in done] + [n for n in names if n in done]


verified(RECEIPTS_DIR)
