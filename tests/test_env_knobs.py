"""The package's environment knobs are a closed, reviewed set: adding a
``SPARK_GRAFT_*`` variable must be a visible edit to this test, not a
quiet new branch in the engine.  Spark-free (parses source only)."""

from __future__ import annotations

import ast
import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "gmallrealtime02_spark"
KNOB = re.compile(r"SPARK_GRAFT_([A-Z0-9_]*)")


def _knobs_read() -> dict[str, list[str]]:
    """Every ``SPARK_GRAFT_*`` name the package source spells as a whole
    string literal, mapped to the files that spell it.  An f-string's
    literal parts are visited too, so ``f"SPARK_GRAFT_{x}"`` shows up
    as the name ``""``."""
    found: dict[str, list[str]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = str(path.relative_to(PACKAGE.parent))
        for node in ast.walk(ast.parse(path.read_text(), rel)):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                m = KNOB.fullmatch(node.value)
                if m:
                    found.setdefault(m.group(1), []).append(rel)
    return found


def test_env_knobs_are_exactly_the_reviewed_set():
    knobs = _knobs_read()
    assert set(knobs) == {"CPUS", "DRIVER_MEM", "SF_DIR", "EAGER_RELEASE"}, knobs


def test_scanner_sees_env_reads():
    """The scan is not vacuous: the session's CPU knob is found where it
    is read."""
    assert "gmallrealtime02_spark/session.py" in _knobs_read()["CPUS"]
