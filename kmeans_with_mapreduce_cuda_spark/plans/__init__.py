import json
import re
from collections.abc import Iterable
from pathlib import Path

from .registry import REGISTRY, Query, query  # noqa: F401

# Importing these modules populates REGISTRY.
from . import kmeans_queries  # noqa: F401,E402
from . import relational  # noqa: F401,E402
from . import pipeline  # noqa: F401,E402


def _gate_order(names: Iterable[str], rounds: list[dict]) -> list[str]:
    """Order ``names`` for the driver's correctness gate.

    The gate walks ``queries()`` in registration order and cuts at
    EXACTLY 50 entries each round, so this order decides what gets
    checked.  Names with no green row (``hash_match`` true) in any
    round lead, in registration order; the rest follow least recently
    verified first -- by the newest round with a green row, then by
    that row's position in the round's file.  ``rounds`` runs oldest to
    newest; rows naming anything outside ``names`` are ignored.
    """
    newest = {}
    for r, rows in enumerate(rounds):
        for pos, (name, row) in enumerate(rows.items()):
            if row.get("hash_match") is True:
                newest[name] = (r, pos)
    return sorted(names, key=lambda n: newest.get(n, (-1, 0)))


def _rounds(root: Path) -> list[dict]:
    """Every ``CORRECTNESS_r<N>.json`` in ``root``, by round number."""
    found = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m:
            found[int(m[1])] = path
    return [json.loads(found[n].read_text()) for n in sorted(found)]


# The rounds sit next to __spark_entry__.py; with none, registration
# order stands.
_ROOT = Path(__file__).resolve().parents[2]
for _name in _gate_order(REGISTRY, _rounds(_ROOT)):
    REGISTRY[_name] = REGISTRY.pop(_name)
