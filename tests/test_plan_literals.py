"""Lint: vector and matrix constants enter plans through one
``vector_literal`` call, never one ``F.lit`` per element.

A per-element ``F.array(*[F.lit(float(x)) for x in ...])`` costs one py4j
round-trip per value (a 16 x 384 centroid table: about 2.3 s of driver
time to build, against about 15 ms through ``vector_literal``)."""

import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "distributed_vector_database_spark"

PER_ELEMENT_LITERAL = re.compile(
    r"F\.array\(\s*\*\s*[\[(]\s*F\.lit\(\s*float\(", re.MULTILINE
)


def test_no_per_element_float_array_literals():
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        text = path.read_text()
        for m in PER_ELEMENT_LITERAL.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            offenders.append(f"{path.relative_to(PACKAGE.parent)}:{line}")
    assert not offenders, (
        "per-element array literal; use functions.vector.vector_literal: "
        + ", ".join(offenders)
    )


def test_lint_pattern_catches_the_per_element_forms():
    for src in (
        "F.array(*[F.lit(float(x)) for x in q])",
        "F.array(\n    *[F.lit(float(x)) for x in row]\n).cast('array<double>')",
        "F.array(*(F.lit(float(x)) for x in q))",
    ):
        assert PER_ELEMENT_LITERAL.search(src), src
    assert not PER_ELEMENT_LITERAL.search("F.array(*[F.lit(c) for c in HEX])")
