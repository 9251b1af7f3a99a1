"""Spark-free lint: the vector-placement thresholds live only in
runtime/plans.py. Every algorithm asks ``regime()`` for its broadcast /
small-vector decision; a literal gate or a threshold-parameter default
in combblas_spark/algorithms/ is a second copy that can drift."""

import pathlib
import re

ALGORITHMS = pathlib.Path(__file__).resolve().parent.parent / "combblas_spark" / "algorithms"

_GATE_LITERAL = re.compile(r"\b(8_?000_?000|100_?000)\b")
# a threshold parameter with a non-None default, e.g.
# ``broadcast_max_vertices: int = 5`` or ``small_vector_threshold=0``
_THRESHOLD_DEFAULT = re.compile(
    r"\b(broadcast_max_vertices|small_vector_threshold)\b\s*(:[^=,)]*)?=\s*(?!None\b)[-+0-9]")
# unrelated caps that happen to share a literal
_ALLOWED = re.compile(r"\b(max_buckets|max_words)\b")


def _violations(text: str) -> list[str]:
    out = []
    for ln, line in enumerate(text.splitlines(), 1):
        code = line.split("#", 1)[0]
        if _ALLOWED.search(code):
            continue
        if _GATE_LITERAL.search(code) or _THRESHOLD_DEFAULT.search(code):
            out.append(f"{ln}: {line.strip()}")
    return out


def test_no_regime_literals_outside_plans():
    bad = {}
    for path in sorted(ALGORITHMS.glob("*.py")):
        found = _violations(path.read_text())
        if found:
            bad[path.name] = found
    assert not bad, f"regime thresholds outside runtime/plans.py: {bad}"


def test_lint_catches_planted_gates():
    assert _violations("    can_broadcast = n <= 8_000_000")
    assert _violations("    small = n0 <= 100000")
    assert _violations("    broadcast_max_vertices: int = 5,")
    assert _violations("    f(g, small_vector_threshold=0)")
    assert not _violations("    broadcast_max_vertices: int | None = None,")
    assert not _violations("    max_buckets: int = 100_000,")
