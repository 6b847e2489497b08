"""Every function the benchmark's tracer rebinds must exist on the
package, so a refactor that renames or moves one fails here instead of
at ``benchmark/run.py --trace 1``. ``benchmark/tracing.py`` is read as
text (its ``PIPELINE_TARGETS`` literal), not imported. No Spark
session needed."""

from __future__ import annotations

import ast
from importlib import import_module
from pathlib import Path

TRACING = Path(__file__).resolve().parents[1] / "benchmark" / "tracing.py"


def _pipeline_targets() -> list[tuple[str, str, str]]:
    tree = ast.parse(TRACING.read_text())
    for node in tree.body:
        if (
            isinstance(node, ast.Assign)
            and [t.id for t in node.targets if isinstance(t, ast.Name)]
            == ["PIPELINE_TARGETS"]
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("PIPELINE_TARGETS not found in benchmark/tracing.py")


def test_every_traced_attribute_resolves():
    targets = _pipeline_targets()
    assert targets
    missing = []
    for owner, attr, _name in targets:
        mod_name, _, cls = owner.partition(":")
        obj = import_module(f"postgresimporter_spark.{mod_name}")
        if cls:
            obj = getattr(obj, cls, None)
        if not callable(getattr(obj, attr, None)):
            missing.append(f"{owner}.{attr}")
    assert missing == []
