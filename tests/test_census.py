"""Every module under khronus_spark/ is reached by the product: the
import closure of the service, the CLI, the registry, `bench.py`,
`__spark_entry__.py` and perfbench (scripts/census.py, an ast scan —
no Spark). A module only tests or scripts import fails here; delete it
with its tests or name the product caller that needs it. The same
scan also keeps the package free of unused imports."""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

#: outside the closure on purpose: the `~system.*` self-monitoring
#: surface has no product caller until the engine reports on itself
PENDING = {"khronus_spark/monitoring.py"}


def _census():
    sys.path.insert(0, str(REPO / "scripts"))
    try:
        import census
    finally:
        sys.path.pop(0)
    return census


def test_only_pending_modules_are_outside_the_product_closure():
    unreached = _census().unreached_modules(str(REPO))
    assert {path for path, _ in unreached} == PENDING


def test_no_unused_imports_under_the_package():
    assert _census().unused_imports(str(REPO)) == []
