"""Every module under khronus_spark/ is reached by the product: the
import closure of the service, the CLI, the registry, `bench.py`,
`__spark_entry__.py` and perfbench (scripts/census.py, an ast scan —
no Spark). A module only tests or scripts import fails here; delete it
with its tests or name the product caller that needs it."""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

#: outside the closure on purpose: the `~system.*` self-monitoring
#: surface has no product caller until the engine reports on itself
PENDING = {"khronus_spark/monitoring.py"}


def test_only_pending_modules_are_outside_the_product_closure():
    sys.path.insert(0, str(REPO / "scripts"))
    try:
        from census import unreached_modules
    finally:
        sys.path.pop(0)
    assert {path for path, _ in unreached_modules(str(REPO))} == PENDING
