"""Spark's ``lower(trim(text))`` against Python's ``str.lower()``.

``ops/lang_clf.py``, ``ops/lm.py`` and ``ops/text_stats.py`` lowercase in
Spark (JVM ``toLowerCase``, root locale), and their Python replays
lowercase with ``str.lower()``. The two agree on these inputs, whose
lowercase mappings are context-, length- or case-sensitive. DuckDB's
``lower`` does not: it maps ``İ`` to a bare ``i`` and the final ``Σ`` to
``σ``, so DuckDB oracle fixtures must avoid both characters.
"""

from __future__ import annotations

CASES = [
    "İstanbul",  # U+0130 lowers to i + U+0307 (two code points)
    "ß ẞ",  # U+1E9E capital sharp s lowers to ß
    "ＡＢＣ",  # fullwidth capitals
    "ΣΑΣ ΟΔΟΣ",  # word-final sigma lowers to ς
    "Ǆ ǅ",  # U+01C4 capital and U+01C5 titlecase digraph
    "K",  # Kelvin sign lowers to ASCII k
    "  Mixed İßK  ",
]


def test_spark_lower_trim_matches_python_lower(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(list(enumerate(CASES)), "i int, text string")
    low = F.lower(F.trim(F.col("text"))).alias("low")
    got = {r.i: r.low for r in df.select("i", low).collect()}
    assert got == {i: s.strip(" ").lower() for i, s in enumerate(CASES)}
