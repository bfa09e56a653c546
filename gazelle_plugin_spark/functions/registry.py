"""pandas_udf registry: scalar and grouped-aggregate vectorized UDFs.

Usage::

    from gazelle_plugin_spark.functions import register_builtin_udfs
    register_builtin_udfs(spark)
    spark.sql("SELECT url_decode(u) FROM t")

UDFs are the slow path (Arrow transfer + Python execution) — every
built-in here exists because the logic is NOT expressible with
pyspark.sql.functions; anything expressible stays JVM-side. Scale
note: pandas_udf processes Arrow batches (session profile sizes them
at 20480 rows), so per-call Python overhead amortizes; never use
row-at-a-time ``F.udf`` in a hot path.
"""

from __future__ import annotations

import math
import urllib.parse

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------- built-ins

def _url_decode(s: pd.Series) -> pd.Series:
    """The reference's worked UDF example (ColumnarUDF.scala:90-117
    maps URLDecoder to a Gandiva function)."""
    return s.map(lambda v: urllib.parse.unquote(v) if v is not None else None)


def _url_encode(s: pd.Series) -> pd.Series:
    return s.map(lambda v: urllib.parse.quote(v) if v is not None else None)


def _text_entropy(s: pd.Series) -> pd.Series:
    """Shannon entropy of the character distribution — a quality
    signal for training-data curation not expressible with built-ins."""

    def ent(v: str | None) -> float | None:
        if v is None or not v:
            return None if v is None else 0.0
        counts: dict[str, int] = {}
        for ch in v:
            counts[ch] = counts.get(ch, 0) + 1
        n = len(v)
        return -sum((c / n) * math.log2(c / n) for c in counts.values())

    return s.map(ent)


def _geo_mean(v: pd.Series) -> float:
    """Grouped-agg example: geometric mean (no Spark built-in)."""
    x = v.dropna()
    if not len(x):
        return float("nan")
    return float(math.exp((x.map(math.log)).mean()))


class _SplitNgrams:
    """Built-in UDTF example: explode a string into its word n-grams
    with positions — the lateral-view shape (1 row -> N rows with
    extra computed columns) that a plain scalar UDF can't produce."""

    def eval(self, text: str, n: int):  # noqa: A002
        if text is None:
            return
        words = text.split(" ")
        for i in range(max(len(words) - n + 1, 0)):
            yield i, " ".join(words[i : i + n])


def register_builtin_udfs(spark: SparkSession) -> dict[str, tuple[object, str]]:
    """Install the built-ins into ``spark``; return ``name -> (udf, doc)``.

    The scalar and grouped-aggregate UDFs are both ``F.pandas_udf``:
    ``_geo_mean``'s ``pd.Series -> float`` hints make Spark infer the
    grouped-agg eval type (the UDAF surface the reference lacked
    natively, SURVEY.md §2.10). ``split_ngrams`` is a Python UDTF,
    which Spark >= 3.5 runs Arrow-batched like the pandas UDFs."""
    pandas_udfs = {
        "url_decode": (F.pandas_udf(_url_decode, "string"), "percent-decode a URL-encoded string"),
        "url_encode": (F.pandas_udf(_url_encode, "string"), "percent-encode a string"),
        "text_entropy": (
            F.pandas_udf(_text_entropy, "double"),
            "Shannon entropy (bits/char) of the character distribution",
        ),
        "geo_mean": (F.pandas_udf(_geo_mean, "double"), "geometric mean (grouped aggregate)"),
    }
    for name, (fn, _doc) in pandas_udfs.items():
        spark.udf.register(name, fn)
    split_ngrams = F.udtf(_SplitNgrams, returnType="pos int, ngram string")
    spark.udtf.register("split_ngrams", split_ngrams)
    return {
        "split_ngrams": (split_ngrams, "UDTF: explode text into positioned word n-grams"),
        **pandas_udfs,
    }
