"""Seeded key frames for the benchmark.

Keys are derived the library's way (``spark.keys.with_content_key``:
first 8 bytes of sha256 of a content string), so key derivation runs
JVM-side exactly as in a real pipeline. Each (seed, tag, id) names one
content string, so disjoint id ranges or tags give disjoint key sets
(up to 64-bit prefix collisions, ~1e-8 at these sizes).

``lang`` is skewed like the source-code fixture: 12 groups, the
largest holding ~35% of rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LANG_WEIGHTS = (35, 15, 10, 8, 7, 6, 5, 4, 3, 3, 2, 2)  # percent


def _lang_col(seed: int):
    bucket = F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(100))
    col, acc = None, 0
    for i, w in enumerate(LANG_WEIGHTS):
        acc += w
        lang = F.lit(f"lang{i:02d}")
        col = F.when(bucket < acc, lang) if col is None \
            else col.when(bucket < acc, lang)
    return col


def keyed(spark, seed: int, tag: str, start: int, n: int,
          parts: int) -> DataFrame:
    """Frame of (lang, key) for content ids [start, start + n)."""
    from libfilter_spark.spark.keys import with_content_key
    df = spark.range(start, start + n, numPartitions=parts)
    df = (df.withColumn("lang", _lang_col(seed))
          .withColumn("content", F.concat(F.lit(f"{seed}/{tag}/"),
                                          F.col("id").cast("string"))))
    return with_content_key(df, hex_col=None).select("lang", "key")


def probe_frame(present: DataFrame, absent: DataFrame) -> DataFrame:
    """Union of keys that are in a filter and keys that are not, with
    a ``present`` column the probe never sees (it stays JVM-side)."""
    return (present.withColumn("present", F.lit(True))
            .unionByName(absent.withColumn("present", F.lit(False))))
