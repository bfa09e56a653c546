"""Similarity search over the ``embeddings`` table (vec_id,
embedding FLOAT[64], label).

Beyond-reference surface (SURVEY.md §7 item 6): approximate-nearest-
neighbor search over an embedding column — brute-force cosine top-k as
the correctness baseline, a sign-LSH bucketed variant as the scale
path, and IVF-style centroid assignment.

Float determinism: dot products are computed as double-precision
folds over the arrays in BOTH engines (float32 x float32 products are
exact in double), and every similarity is rounded to 6 decimals
before ranking/output — addition-order noise is ~1e-14, far below the
rounding quantum, so Spark and DuckDB rank identically. The SemDeDup
pair stage evaluates the same left-fold vectorized in numpy
(dimension-ordered accumulation — bit-identical IEEE steps, see
:func:`_semdedup_group_dropped`).

Scale notes (100 TB / billions of vectors):
- brute-force top-k broadcasts the BOUNDED query set (here 5 vectors)
  and streams the corpus once — linear, no shuffle of the corpus; it
  is the oracle for recall, not the production path.
- the LSH variant buckets by 4x 4-bit sign-bands (hyperplanes = 16
  fixed corpus vectors, deterministic), joins query and corpus on the
  band key, and only scores in-bucket candidates — cost is
  sum-of-bucket-sizes, never all-pairs.
- centroid assignment is the IVF building block: k centroids (one per
  label here) broadcast to every vector; at scale the probe searches
  only the nearest centroid's bucket.
"""

from __future__ import annotations

import math
from decimal import Decimal

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gazelle_plugin_spark.operators.skew import cap_bucket
from gazelle_plugin_spark.plans import query
from gazelle_plugin_spark.plans._util import shuffle_width, t

N_QUERIES = 5  # vec_id < 5 are the query vectors
TOP_K = 10
N_BANDS = 4
BITS_PER_BAND = 4
SIM_DECIMALS = 6


def _dot(a: str | Column, b: str | Column) -> Column:
    """Double-precision dot product of two float arrays, folded in
    array order (cast-before-multiply keeps each product exact)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def _sql_dot(a: str, b: str) -> str:
    """DuckDB twin of :func:`_dot`."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}),"
        " x -> x[1]::DOUBLE * x[2]::DOUBLE))"
    )


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings + precomputed squared norm."""
    v = t(spark, sf_dir, "embeddings")
    return v.withColumn("n2", _dot("embedding", "embedding"))


def _cosine(
    a: str | Column, b: str | Column, a_n2: str | Column, b_n2: str | Column
) -> Column:
    """Cosine of two float arrays given their squared norms, rounded to
    ``SIM_DECIMALS`` (the rounding every ranking and threshold uses)."""
    a_n2 = F.col(a_n2) if isinstance(a_n2, str) else a_n2
    b_n2 = F.col(b_n2) if isinstance(b_n2, str) else b_n2
    return F.round(_dot(a, b) / F.sqrt(a_n2 * b_n2), SIM_DECIMALS)


def _queries(v: DataFrame, *extra: Column) -> DataFrame:
    """The bounded query set (``vec_id < N_QUERIES``) of a
    :func:`_vectors` frame as (q_id, *extra, qe, qn2)."""
    return v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        *extra,
        F.col("embedding").alias("qe"),
        F.col("n2").alias("qn2"),
    )


def _rank_top_k(scored: DataFrame) -> DataFrame:
    """Per-query top-``TOP_K`` of a (q_id, vec_id, cos_sim, ...) frame:
    rank ``rk`` by cosine descending, ties to the lowest vec_id (the
    WindowGroupLimit top-k path), ordered by (q_id, rk)."""
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .orderBy("q_id", "rk")
    )


def _centroids(
    df: DataFrame, key: str, emb: str = "embedding", out: str = "c_label"
) -> DataFrame:
    """Coordinate-mean centroid of ``emb`` per ``key`` group as
    (``out``, ce): each dimension's mean is rounded to 6 decimals for
    cross-engine determinism, and the dimensions fold back into an
    array in position order. The posexplode puts the mean at
    (key, dim) grain, so the aggregate combines map-side."""
    return (
        df.select(key, F.posexplode(emb).alias("pos", "x"))
        .groupBy(key, "pos")
        .agg(F.round(F.avg(F.col("x").cast("double")), SIM_DECIMALS).alias("c"))
        .groupBy(key)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(F.col(key).alias(out), F.expr("transform(pc, p -> p.c)").alias("ce"))
    )


def _doubles(df: DataFrame) -> DataFrame:
    """(vec_id, e): an embeddings frame with its float array widened to
    double, the input of the exact-decimal distance builders."""
    return df.select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e")
    )


def _scored_centroid(c: Column) -> Column:
    """One (c_label, ce, cn2) centroid struct scored against the corpus
    row: (rounded cosine, negated label), so ``array_max`` over the
    centroids picks the best cosine, ties to the lowest label."""
    cos = _cosine("embedding", c["ce"], "n2", c["cn2"])
    return F.struct(cos.alias("cos"), (-c["c_label"]).alias("negl"))


def _nearest_centroid(v: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid assignment with ZERO shuffle: collapse the k
    centroids (c_label, ce) into ONE broadcast row holding an array of
    (c_label, ce, cn2) structs, then fold the cosine argmax (tie-break
    lowest c_label, via the negated label inside the ordered struct)
    per corpus row with ``array_max(transform(...))``.

    Replaces the round-7 ``row_number().over(Window.partitionBy(
    "vec_id"))`` construction, which materialized |corpus| x k rows
    (each dragging the 64-float embedding) through a full exchange +
    sort. The per-pair dot products were already interpreted
    higher-order lambdas in that plan, so the in-row fold adds no new
    interpretation cost — it only deletes the shuffle and the sort.
    Scale shape: a narrow map over the corpus; centroid count k is the
    only broadcast payload.
    """
    cents1 = cent.withColumn("cn2", _dot("ce", "ce")).agg(
        F.collect_list(F.struct("c_label", "ce", "cn2")).alias("cents")
    )

    best = F.array_max(F.transform(F.col("cents"), _scored_centroid))
    return (
        v.join(F.broadcast(cents1))
        .withColumn("c_label", -best.getField("negl"))
        .drop("cents")
    )


def _nearest_centroid_grouped(
    v: DataFrame, cent: DataFrame, group_col: str
) -> DataFrame:
    """Per-ROUTING-GROUP nearest-centroid assignment: like
    :func:`_nearest_centroid`, but each corpus row folds only over the
    centroids that share its ``group_col`` (the two-level / IVF
    coarse-routing shape — O(candidates-in-group) per row instead of
    O(all k)). Candidate arrays are grouped by ``group_col``,
    broadcast, and equi-joined on the row's group. The LEFT join +
    coalesce-to-own-group guards the measure-zero pathology of a
    routing group holding no centroids (possible only when two seed
    vectors' ROUNDED cosines tie at the routing level); both engines
    fall back identically because the oracle mirrors the coalesce."""
    cents = (
        cent.withColumn("cn2", _dot("ce", "ce"))
        .groupBy(group_col)
        .agg(F.collect_list(F.struct("c_label", "ce", "cn2")).alias("cents"))
    )

    best = F.array_max(F.transform(F.col("cents"), _scored_centroid))
    return (
        v.join(F.broadcast(cents), group_col, "left")
        .withColumn(
            "c_label", F.coalesce(-best.getField("negl"), F.col(group_col))
        )
        .drop("cents")
    )


_SQL_VECTORS = f"""
  SELECT vec_id, label, embedding,
         {_sql_dot('embedding', 'embedding')} AS n2
  FROM embeddings
"""


@query(
    "emb_topk_cosine",
    oracle=f"""
WITH v AS ({_SQL_VECTORS}),
q AS (SELECT vec_id AS q_id, embedding AS qe, n2 AS qn2 FROM v
      WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.q_id, v.vec_id,
         ROUND({_sql_dot('q.qe', 'v.embedding')}
               / sqrt(q.qn2 * v.n2), {SIM_DECIMALS}) AS cos_sim
  FROM q JOIN v ON v.vec_id <> q.q_id
)
SELECT q_id, vec_id, cos_sim, rk FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cos_sim DESC, vec_id) AS INT) AS rk
  FROM scored
) WHERE rk <= {TOP_K}
ORDER BY q_id, rk
""",
)
def emb_topk_cosine(spark, sf_dir):
    """Brute-force cosine top-{TOP_K}: the exact-recall baseline. The
    query set is broadcast (bounded), the corpus streams once; ranking
    reuses the WindowGroupLimit top-k path."""
    v = _vectors(spark, sf_dir)
    q = _queries(v)
    cos = _cosine("qe", "embedding", "qn2", "n2")
    scored = (
        v.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cos.alias("cos_sim"))
    )
    return _rank_top_k(scored)


def _bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, band, sig): 4-bit sign signature per band, hyperplanes
    = the first 16 corpus vectors (deterministic, data-derived)."""
    v = _vectors(spark, sf_dir)
    hyper = (
        v.filter(F.col("vec_id") < N_BANDS * BITS_PER_BAND)
        .select(F.col("vec_id").alias("h_id"), F.col("embedding").alias("he"))
    )
    bits = (
        v.join(F.broadcast(hyper))
        .select(
            "vec_id",
            F.expr(f"cast(h_id div {BITS_PER_BAND} as int)").alias("band"),
            F.pmod(F.col("h_id"), F.lit(BITS_PER_BAND)).cast("int").alias("pos"),
            F.when(_dot("embedding", "he") >= 0, 1).otherwise(0).alias("bit"),
        )
    )
    return bits.groupBy("vec_id", "band").agg(
        F.sum(F.col("bit") * F.expr("shiftleft(1, pos)")).alias("sig")
    )


_SQL_BANDS = f"""
  SELECT v.vec_id,
         CAST(h.vec_id // {BITS_PER_BAND} AS INT) AS band,
         CAST(SUM(CASE WHEN {_sql_dot('v.embedding', 'h.embedding')} >= 0
                  THEN (1 << (h.vec_id % {BITS_PER_BAND})) ELSE 0 END) AS BIGINT)
           AS sig
  FROM v JOIN v h ON h.vec_id < {N_BANDS * BITS_PER_BAND}
  GROUP BY v.vec_id, h.vec_id // {BITS_PER_BAND}
"""


@query(
    "emb_lsh_topk",
    oracle=f"""
WITH v AS ({_SQL_VECTORS}),
bands AS ({_SQL_BANDS}),
q AS (SELECT vec_id AS q_id, embedding AS qe, n2 AS qn2 FROM v
      WHERE vec_id < {N_QUERIES}),
cand AS (
  SELECT DISTINCT qb.vec_id AS q_id, cb.vec_id
  FROM bands qb JOIN bands cb
    ON qb.band = cb.band AND qb.sig = cb.sig AND qb.vec_id <> cb.vec_id
  WHERE qb.vec_id < {N_QUERIES}
),
scored AS (
  SELECT c.q_id, c.vec_id,
         ROUND({_sql_dot('q.qe', 'v.embedding')}
               / sqrt(q.qn2 * v.n2), {SIM_DECIMALS}) AS cos_sim
  FROM cand c JOIN q ON c.q_id = q.q_id JOIN v ON c.vec_id = v.vec_id
)
SELECT q_id, vec_id, cos_sim, rk FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cos_sim DESC, vec_id) AS INT) AS rk
  FROM scored
) WHERE rk <= {TOP_K}
ORDER BY q_id, rk
""",
)
def emb_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN top-{TOP_K}: sign-LSH signatures (4 bands x 4
    bits, hyperplanes = 16 fixed corpus vectors), candidates = vectors
    sharing any band signature with the query, cosine scored only
    in-bucket. The scale path: the corpus-side join key is (band,
    sig) — sum-of-bucket-sizes work, never all-pairs."""
    v = _vectors(spark, sf_dir)
    bands = _bands(spark, sf_dir)
    qb = bands.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("band").alias("qband"),
        F.col("sig").alias("qsig"),
    )
    cand = (
        bands.join(
            F.broadcast(qb),
            (F.col("band") == F.col("qband"))
            & (F.col("sig") == F.col("qsig"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        .select("q_id", "vec_id")
        .distinct()
    )
    cos = _cosine("qe", "embedding", "qn2", "n2")
    scored = (
        cand.join(F.broadcast(_queries(v)), "q_id")
        .join(v, "vec_id")
        .select("q_id", "vec_id", cos.alias("cos_sim"))
    )
    return _rank_top_k(scored)


#: emb_neardup_pairs verify threshold (the synthetic corpus has no
#: planted near-identical vectors — max pairwise cosine is ~0.51 — so
#: the threshold marks "suspiciously similar", exercising the same
#: bucket-then-verify pipeline a 0.95-threshold dedup would use).
NEARDUP_COS = 0.35


@query(
    "emb_neardup_pairs",
    oracle=f"""
WITH v AS ({_SQL_VECTORS}),
bands AS ({_SQL_BANDS}),
cand AS (
  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
)
SELECT v1, v2, cos_sim FROM (
  SELECT c.v1, c.v2,
         ROUND({_sql_dot('va.embedding', 'vb.embedding')}
               / sqrt(va.n2 * vb.n2), {SIM_DECIMALS}) AS cos_sim
  FROM cand c JOIN v va ON c.v1 = va.vec_id JOIN v vb ON c.v2 = vb.vec_id
) WHERE cos_sim >= {NEARDUP_COS}
ORDER BY v1, v2
""",
)
def emb_neardup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate detection: sign-LSH bucket join
    over the WHOLE corpus (not just the query set), cosine verify only
    in-bucket. The fourth dedup family (after exact / MinHash /
    SimHash): candidate cost is sum-of-bucket-sizes^2 over 16-bit
    signatures, never all-pairs."""
    v = _vectors(spark, sf_dir)
    bands = _bands(spark, sf_dir)
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(F.col("x.vec_id").alias("v1"), F.col("y.vec_id").alias("v2"))
        .distinct()
    )
    va = v.select(F.col("vec_id").alias("v1"), F.col("embedding").alias("ea"),
                  F.col("n2").alias("na"))
    vb = v.select(F.col("vec_id").alias("v2"), F.col("embedding").alias("eb"),
                  F.col("n2").alias("nb"))
    cos = _cosine("ea", "eb", "na", "nb")
    return (
        cand.join(va, "v1")
        .join(vb, "v2")
        .select("v1", "v2", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= NEARDUP_COS)
        .orderBy("v1", "v2")
    )


#: IVF probe width: search the nprobe nearest centroid buckets.
N_PROBE = 3

_SQL_CENTROIDS = f"""
  SELECT label AS c_label, array_agg(ROUND(c, {SIM_DECIMALS}) ORDER BY i) AS ce
  FROM (
    SELECT label, i.i AS i, AVG(embedding[i.i]::DOUBLE) AS c
    FROM v, UNNEST(generate_series(1, 64)) AS i(i)
    GROUP BY label, i.i
  ) dims
  GROUP BY label
"""

_SQL_ASSIGN = f"""
  SELECT vec_id, c_label FROM (
    SELECT v.vec_id, c.c_label,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
             ROUND({_sql_dot('v.embedding', 'c.ce')}
                   / sqrt(v.n2 * {_sql_dot('c.ce', 'c.ce')}), {SIM_DECIMALS}) DESC,
             c.c_label) AS rk
    FROM v CROSS JOIN cent c
  ) WHERE rk = 1
"""


def _ivf_probe(spark: SparkSession, v: DataFrame):
    """IVF build and probe over a :func:`_vectors` frame, shared by
    emb_ivf_search and emb_ivfpq_search. Returns:

    - ``assign`` (vec_id, c_label): every corpus vector's nearest label
      centroid, hash-spread on vec_id so the per-candidate scoring
      downstream runs shuffle-width-parallel instead of riding the
      scan's few input splits;
    - ``q``: the query set (:func:`_queries`);
    - ``probes`` (q_id, c_label): each query's ``N_PROBE`` nearest
      cells, ties to the lowest label.
    """
    cent = _centroids(v, "label")
    assign = (
        _nearest_centroid(v, cent)
        .select("vec_id", "c_label")
        .repartition(shuffle_width(spark), "vec_id")
    )
    q = _queries(v)
    cos_qc = _cosine("qe", "ce", "qn2", _dot("ce", "ce"))
    w_probe = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), "c_label")
    probes = (
        q.join(F.broadcast(cent))
        .select("q_id", "c_label", cos_qc.alias("cos_sim"))
        .withColumn("rk", F.row_number().over(w_probe))
        .filter(F.col("rk") <= N_PROBE)
        .select("q_id", "c_label")
    )
    return assign, q, probes


@query(
    "emb_ivf_search",
    oracle=f"""
WITH v AS ({_SQL_VECTORS}),
cent AS ({_SQL_CENTROIDS}),
assign AS ({_SQL_ASSIGN}),
q AS (SELECT vec_id AS q_id, embedding AS qe, n2 AS qn2 FROM v
      WHERE vec_id < {N_QUERIES}),
probes AS (
  SELECT q_id, c_label FROM (
    SELECT q.q_id, c.c_label,
           ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
             ROUND({_sql_dot('q.qe', 'c.ce')}
                   / sqrt(q.qn2 * {_sql_dot('c.ce', 'c.ce')}), {SIM_DECIMALS}) DESC,
             c.c_label) AS rk
    FROM q CROSS JOIN cent c
  ) WHERE rk <= {N_PROBE}
),
scored AS (
  SELECT p.q_id, a.vec_id,
         ROUND({_sql_dot('q.qe', 'v.embedding')}
               / sqrt(q.qn2 * v.n2), {SIM_DECIMALS}) AS cos_sim
  FROM probes p
  JOIN assign a ON a.c_label = p.c_label
  JOIN v ON v.vec_id = a.vec_id
  JOIN q ON q.q_id = p.q_id
  WHERE a.vec_id <> p.q_id
)
SELECT q_id, vec_id, cos_sim, rk FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cos_sim DESC, vec_id) AS INT) AS rk
  FROM scored
) WHERE rk <= {TOP_K}
ORDER BY q_id, rk
""",
)
def emb_ivf_search(spark, sf_dir):
    """Full IVF probe search: assign every corpus vector to its
    nearest (label-)centroid bucket once, then for each query score
    ONLY the {N_PROBE} nearest buckets' members. The inverted-file
    scale path: per-query work is nprobe/k of the corpus, the
    assignment is a build-time linear pass, and the centroid set is
    broadcast everywhere."""
    v = _vectors(spark, sf_dir)
    assign, q, probes = _ivf_probe(spark, v)
    # search: score only probed buckets
    cos_qv = _cosine("qe", "embedding", "qn2", "n2")
    scored = (
        probes.join(assign, "c_label")
        .filter(F.col("vec_id") != F.col("q_id"))
        .join(v, "vec_id")
        .join(F.broadcast(q), "q_id")
        .select("q_id", "vec_id", cos_qv.alias("cos_sim"))
    )
    return _rank_top_k(scored)


@query(
    "emb_centroid_assign",
    oracle=f"""
WITH v AS ({_SQL_VECTORS}),
dims AS (
  SELECT label, i.i AS i, AVG(embedding[i.i]::DOUBLE) AS c
  FROM v, UNNEST(generate_series(1, 64)) AS i(i)
  GROUP BY label, i.i
),
cent AS (
  SELECT label AS c_label, array_agg(ROUND(c, {SIM_DECIMALS}) ORDER BY i) AS ce
  FROM dims GROUP BY label
),
scored AS (
  SELECT v.vec_id, v.label, c.c_label,
         ROUND({_sql_dot('v.embedding', 'c.ce')}
               / sqrt(v.n2 * {_sql_dot('c.ce', 'c.ce')}), {SIM_DECIMALS}) AS cos_sim
  FROM v CROSS JOIN cent c
),
best AS (
  SELECT vec_id, label, c_label FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY cos_sim DESC, c_label) AS rk
    FROM scored
  ) WHERE rk = 1
)
SELECT label, c_label AS nearest_label, CAST(COUNT(*) AS BIGINT) AS n
FROM best GROUP BY label, c_label
ORDER BY label, nearest_label
""",
)
def emb_centroid_assign(spark, sf_dir):
    """IVF building block: per-label centroids (coordinate-wise mean,
    rounded for cross-engine determinism), each vector assigned to its
    nearest centroid by cosine; output the label-vs-nearest-centroid
    confusion counts. At scale the centroid set is tiny and broadcast;
    assignment is one linear pass."""
    v = _vectors(spark, sf_dir)
    cent = _centroids(v, "label")
    cos = _cosine("embedding", "ce", "n2", _dot("ce", "ce"))
    scored = v.join(F.broadcast(cent)).select(
        "vec_id", "label", "c_label", cos.alias("cos_sim")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_sim"), "c_label")
    best = scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return (
        best.groupBy("label", F.col("c_label").alias("nearest_label"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label", "nearest_label")
    )


@query(
    "emb_quantize",
    oracle="""
WITH base AS (
  SELECT vec_id, label, embedding,
         greatest(list_max(list_transform(embedding, x -> abs(x::DOUBLE))),
                  1e-30) / 127 AS scale
  FROM embeddings
),
qd AS (
  SELECT vec_id, label, scale, embedding,
         list_transform(embedding, x -> round(x::DOUBLE / scale)::INT) AS q
  FROM base
)
SELECT vec_id, label,
       ROUND(scale, 9) AS scale,
       CAST(list_max(list_transform(q, x -> abs(x))) AS INT) AS q_max,
       ROUND(list_sum(list_transform(list_zip(embedding, q),
             p -> pow(p[1]::DOUBLE - p[2]::DOUBLE * scale, 2))), 9) AS sq_err
FROM qd
ORDER BY vec_id
""",
)
def emb_quantize(spark, sf_dir):
    """Symmetric int8 scalar quantization of the embedding column —
    the storage/bandwidth prep step for ANN at scale (4x smaller than
    float32; IVF/LSH probes then score against dequantized or int8
    vectors). Per-vector scale = max|x|/127 (guarded against
    all-zero vectors), q_i = round(x_i/scale); outputs the scale, the
    max |q| (bounded by 127 by construction) and the squared
    reconstruction error.

    Pure per-row array expressions — zero shuffles before the ORDER
    BY; both engines fold arrays in element order so the doubles are
    bit-identical before the belt-and-braces ROUND."""
    v = t(spark, sf_dir, "embeddings")
    mx = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    # internal name differs from the output alias: an output alias
    # named like an input column SHADOWS it for sibling expressions in
    # the same select (sq_err would silently use the ROUNDED scale —
    # caught by the oracle hash compare)
    base = v.withColumn("qscale", F.greatest(mx, F.lit(1e-30)) / F.lit(127.0))
    qd = base.withColumn(
        "q",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") / F.col("qscale")).cast("int"),
        ),
    )
    sq_err = F.aggregate(
        F.zip_with(
            "embedding",
            "q",
            lambda x, qi: F.pow(
                x.cast("double") - qi.cast("double") * F.col("qscale"), F.lit(2.0)
            ),
        ),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    return qd.select(
        "vec_id",
        "label",
        F.round("qscale", 9).alias("scale"),
        F.array_max(F.transform("q", F.abs)).cast("int").alias("q_max"),
        F.round(sq_err, 9).alias("sq_err"),
    ).orderBy("vec_id")


#: K-means: cluster count and the decimal scale used for exact
#: cross-engine distance accumulation.
KM_K = 4


def _km_dist2(e: str, ce: str) -> Column:
    """Squared L2 distance with ORDER-FREE exact accumulation: each
    per-dimension squared difference is rounded to 8dp and summed as
    decimal, so Spark's sequential array fold and DuckDB's unordered
    GROUP BY SUM reach bit-identical totals."""
    prods = F.zip_with(
        e,
        ce,
        lambda x, y: F.round((x - y) * (x - y), 8).cast("decimal(20,8)"),
    )
    return F.aggregate(
        prods,
        F.lit(0).cast("decimal(28,8)"),
        lambda acc, v: (acc + v).cast("decimal(28,8)"),
    )


@query(
    "emb_kmeans",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
dims AS (
  SELECT vec_id, g.i AS pos, embedding[g.i]::DOUBLE AS x
  FROM e, UNNEST(generate_series(1, len(embedding))) AS g(i)
),
init AS (SELECT vec_id AS cl, pos, x AS c FROM dims WHERE vec_id < {KM_K}),
d0 AS (
  SELECT dims.vec_id, init.cl,
         SUM(CAST(ROUND((dims.x - init.c) * (dims.x - init.c), 8)
                  AS DECIMAL(20,8))) AS d2
  FROM dims JOIN init ON dims.pos = init.pos
  GROUP BY dims.vec_id, init.cl
),
a0 AS (
  SELECT vec_id, cl FROM (
    SELECT vec_id, cl,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rk
    FROM d0
  ) WHERE rk = 1
),
cent1 AS (
  SELECT a0.cl, dims.pos, ROUND(AVG(dims.x), 6) AS c
  FROM a0 JOIN dims ON a0.vec_id = dims.vec_id
  GROUP BY a0.cl, dims.pos
),
d1 AS (
  SELECT dims.vec_id, cent1.cl,
         SUM(CAST(ROUND((dims.x - cent1.c) * (dims.x - cent1.c), 8)
                  AS DECIMAL(20,8))) AS d2
  FROM dims JOIN cent1 ON dims.pos = cent1.pos
  GROUP BY dims.vec_id, cent1.cl
),
a1 AS (
  SELECT vec_id, cl, d2 FROM (
    SELECT vec_id, cl, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rk
    FROM d1
  ) WHERE rk = 1
)
SELECT cl, CAST(COUNT(*) AS BIGINT) AS n_points, CAST(SUM(d2) AS DOUBLE) AS inertia
FROM a1 GROUP BY cl ORDER BY cl
""",
)
def emb_kmeans(spark, sf_dir):
    """K-means over the embedding corpus: deterministic init (the
    {K} lowest vec_ids), one full Lloyd round (assign -> recompute
    centroids -> reassign), reporting per-cluster size and exact
    inertia. The ITERATIVE-algorithm pattern on DataFrames (same
    family as the connected-components operator, operators/graph.py):
    each round is assign (corpus x broadcast-k centroids, argmin via a
    WindowGroupLimit rank over k rows per point) + update (posexplode
    to (cluster, dim) grain, map-side-combinable AVG, fold back to
    arrays). The oracle UNROLLS the loop as chained CTEs over a
    long-form (vec_id, pos, x) relation — exact-decimal distance
    accumulation (see :func:`_km_dist2`) makes the array-fold and the
    relational-SUM formulations bit-identical, so engine and oracle
    agree despite computing in different shapes.

    Scale shape: per round, the corpus streams ONCE against broadcast
    centroids (no shuffle for assignment); the update shuffles only
    (k x dims) partial sums. A production run adds rounds (driver
    loop, localCheckpoint every few rounds like connected_components)
    and k-means|| init; the per-round dataflow is exactly this."""
    v = _doubles(t(spark, sf_dir, "embeddings"))
    init = v.filter(F.col("vec_id") < KM_K).select(
        F.col("vec_id").alias("cl"), F.col("e").alias("ce")
    )

    def assign(cent):
        w = Window.partitionBy("vec_id").orderBy("d2", "cl")
        return (
            v.crossJoin(F.broadcast(cent))
            .withColumn("d2", _km_dist2("e", "ce"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("vec_id", "cl", "e", "d2")
        )

    a1 = assign(_centroids(assign(init), "cl", emb="e", out="cl"))
    return (
        a1.groupBy("cl")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("d2").cast("double").alias("inertia"),
        )
        .orderBy("cl")
    )


#: Product-quantization geometry: 64 dims -> 4 subspaces x 16 dims,
#: 8 codewords per subspace (the 8 lowest vec_ids' subvectors — the
#: same deterministic-init convention as emb_kmeans).
PQ_M = 4
PQ_SUB_DIM = 16
PQ_K = 8


def _round8_int64(v):
    """Elementwise ``int64 n`` with ``n/1e8 == F.round(v, 8)`` for a
    NONNEGATIVE float64 array — the vectorized twin of the
    :func:`_km_dist2` per-term convention (round to 8dp, accumulate
    as exact DECIMAL == accumulate the int64 numerators).

    Fast path: ``floor(v*1e8 + 0.5)``. Spark's Round is BigDecimal
    HALF_UP over the double's SHORTEST DECIMAL REPR, so values whose
    scaled fraction sits within ``eps`` of the .5 midpoint — where
    the one-multiply IEEE error of ``v*1e8`` (<= |f|*2^-53) or the
    repr-vs-binary gap (<= half an ulp, same scale) could flip the
    decision — are re-resolved exactly through the same
    ``Decimal(repr(v))`` HALF_UP model the JVM applies (Python repr
    and Java Double.toString emit the same shortest decimal; pinned
    against the live JVM across magnitudes in
    tests/test_pipelines.py::test_pq_round8_matches_jvm).
    """
    import numpy as np

    f = v * 1e8
    n = np.floor(f + 0.5)
    frac_dist = np.abs(f - np.floor(f) - 0.5)
    sus = frac_dist < (np.abs(f) * 1e-15 + 1e-9)
    if sus.any():
        from decimal import ROUND_HALF_UP

        q = Decimal("1E-8")
        nf = n.ravel()
        vf = v.ravel()
        for i in np.nonzero(sus.ravel())[0]:
            nf[i] = float(
                Decimal(repr(float(vf[i]))).quantize(q, ROUND_HALF_UP).scaleb(8)
            )
        n = nf.reshape(v.shape)
    return n.astype(np.int64)


def _round6_int64_signed(v):
    """Elementwise ``int64 n`` with ``n/1e6 == F.round(v, SIM_DECIMALS)``
    for a float64 array of EITHER sign — the cosine twin of
    :func:`_round8_int64` (which is nonnegative-only). HALF_UP rounds
    magnitudes AWAY FROM ZERO, so the signed fast path floors the
    magnitude (``sign * floor(|v*1e6| + 0.5)``); midpoint-suspicious
    values re-resolve through the same ``Decimal(repr(v))`` HALF_UP
    model as the 8dp variant (Decimal ROUND_HALF_UP is away-from-zero,
    exactly BigDecimal's HALF_UP). NaN (a zero-norm cosine) maps to
    2^62 — GREATER than any real numerator — mirroring Spark's
    nanSafeCompare / DuckDB's NaN-greatest ordering in the argmax these
    numerators feed. Pinned against the live JVM in
    tests/test_pipelines.py::test_round6_signed_matches_jvm.
    """
    import numpy as np

    f = v * 1e6
    af = np.abs(f)
    n = np.sign(f) * np.floor(af + 0.5)
    frac_dist = np.abs(af - np.floor(af) - 0.5)
    sus = (frac_dist < (af * 1e-15 + 1e-9)) & np.isfinite(v)
    if sus.any():
        from decimal import ROUND_HALF_UP

        q = Decimal("1E-6")
        nf = n.ravel()
        vf = v.ravel()
        for i in np.nonzero(sus.ravel())[0]:
            nf[i] = float(
                Decimal(repr(float(vf[i]))).quantize(q, ROUND_HALF_UP).scaleb(6)
            )
        n = nf.reshape(v.shape)
    nan = np.isnan(v)
    if nan.any():
        n = np.where(nan, float(2**62), n)
    return n.astype(np.int64)


def _argmax_centroid(rows_pdf, cand_pdf):
    """Vectorized core of the routed-assignment kernels: for every row
    of ``rows_pdf`` (vec_id, embedding, n2, ...), the ``c_label`` of
    the ``cand_pdf`` (c_label, ce) candidate maximizing
    ``round(dot/sqrt(n2*cn2), SIM_DECIMALS)``, ties to the LOWEST
    label — bit-identical to the JVM
    ``array_max(transform(cents, struct(round(cos), -label)))`` fold in
    :func:`_nearest_centroid`:

    - the dot matrix accumulates dimension-by-dimension
      (``dots += outer(emb_j, ce_j)``), the exact per-pair left-fold
      IEEE order of ``F.aggregate(F.zip_with(...))`` (float32 products
      are exact in double);
    - ``cn2`` re-folds in the same order as ``_dot(ce, ce)``;
    - ``sqrt``/divide are single correctly-rounded ops on identical
      inputs;
    - rounding compares as exact int64 numerators
      (:func:`_round6_int64_signed`) — distinct 6dp decimals in [-1,1]
      never collide as doubles, so numerator argmax == rounded-double
      argmax, and candidates sorted ascending by label make numpy's
      first-max tie-break the JVM's lowest-label tie-break.
    """
    import numpy as np

    lbl = cand_pdf["c_label"].to_numpy()
    order = lbl.argsort(kind="stable")
    lbl = lbl[order]
    ce = np.stack(cand_pdf["ce"].to_numpy()[order]).astype(np.float64)
    emb = np.stack(rows_pdf["embedding"].to_numpy()).astype(np.float64)
    n2 = rows_pdf["n2"].to_numpy()
    cn2 = np.zeros(len(lbl))
    dots = np.zeros((len(n2), len(lbl)))
    for j in range(ce.shape[1]):
        cn2 += ce[:, j] * ce[:, j]
        dots += np.multiply.outer(emb[:, j], ce[:, j])
    cos = dots / np.sqrt(np.multiply.outer(n2, cn2))
    num = _round6_int64_signed(cos)
    return lbl[num.argmax(axis=1)]


def _bucket_cogroup(spark, rows, cand, kernel, schema, width=None, key=()):
    """Run the numpy cogroup ``kernel(rows_pdf, cand_pdf)`` over every
    ``rows`` bucket: ``rows`` cross ONE fixed-width exchange bucketed by
    (``key``, ``pmod(vec_id, width)``), ``width`` defaulting to
    :func:`shuffle_width`; the small ``cand`` side replicates to every
    bucket of its ``key`` through a broadcast crossJoin, the cogroup
    analog of a broadcast join (optimization guide §4.2). The kernel
    replaces O(|rows| x |cand|) interpreted zip_with/aggregate folds
    with numpy at memory bandwidth.

    A bucket key present only on the candidate side (a bucket the rows
    leave empty, e.g. under a wide session such as vanilla's 200
    partitions) returns an empty frame typed from ``schema`` without
    calling the kernel: a bare ``pd.DataFrame({col: []})`` makes every
    column float64, and pyarrow cannot convert an empty float64 column
    to a declared ``array<float>`` (pinned in tests/test_pipelines.py).
    """
    import functools

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    empty = to_arrow_schema(StructType.fromDDL(schema)).empty_table().to_pandas()

    @functools.wraps(kernel)  # the plan names the kernel, not the wrapper
    def run(rows_pdf, cand_pdf):
        return kernel(rows_pdf, cand_pdf) if len(rows_pdf) else empty

    width = shuffle_width(spark) if width is None else width
    buckets = spark.range(width).select(F.col("id").cast("int").alias("b"))
    b_rows = rows.select(
        *key,
        F.pmod(F.col("vec_id"), F.lit(width)).cast("int").alias("b"),
        *(c for c in rows.columns if c not in key),
    )
    b_cand = cand.crossJoin(F.broadcast(buckets))
    return (
        b_rows.groupBy(*key, "b")
        .cogroup(b_cand.groupBy(*key, "b"))
        .applyInPandas(run, schema)
    )


def _route_group(rows_pdf, cand_pdf):
    """Cogroup kernel for the COARSE routing pass: emit every corpus
    row with its routing group ``g`` (nearest coarse centroid)."""
    out = rows_pdf[["vec_id", "embedding", "n2"]].copy()
    out.insert(1, "g", _argmax_centroid(rows_pdf, cand_pdf))
    return out


def _assign_group(rows_pdf, cand_pdf):
    """Cogroup kernel for the per-routing-group assignment pass: emit
    every corpus row with the best in-group candidate, falling back to
    the row's OWN group label when the group has no candidates — the
    same coalesce guard as :func:`_nearest_centroid_grouped`'s LEFT
    join (a cogroup key present only on the rows side arrives here
    with an empty ``cand_pdf``)."""
    out = rows_pdf[["vec_id", "embedding", "n2"]].copy()
    if len(cand_pdf) == 0:
        out.insert(1, "c_label", rows_pdf["g"].to_numpy())
    else:
        out.insert(1, "c_label", _argmax_centroid(rows_pdf, cand_pdf))
    return out


_ROUTE_SCHEMA = "vec_id long, g long, embedding array<float>, n2 double"
_ASSIGN_SCHEMA = "vec_id long, c_label long, embedding array<float>, n2 double"


def _route_vec(spark, rows, coarse, width):
    """Vectorized :func:`_nearest_centroid` for the ROUTED branch's
    coarse pass: ``rows`` (vec_id, embedding, n2) against the
    ``coarse`` centroids (s = ceil(sqrt(k)), the small side at every
    scale) replicated to every bucket."""
    return _bucket_cogroup(
        spark,
        rows.select("vec_id", "embedding", "n2"),
        coarse.select("c_label", "ce"),
        _route_group,
        _ROUTE_SCHEMA,
        width,
    )


def _grouped_assign_vec(spark, rows_g, cand_g, subw):
    """Vectorized :func:`_nearest_centroid_grouped`: corpus rows carry
    their routing group ``g``; candidates replicate only across their
    OWN group's ``subw`` sub-buckets (strictly less replication than a
    broadcast at large k), and ``subw`` sub-buckets per group restore
    reduce-side parallelism when the group count is below the session
    width."""
    return _bucket_cogroup(
        spark,
        rows_g.select("g", "vec_id", "embedding", "n2"),
        cand_g.select("g", "c_label", "ce"),
        _assign_group,
        _ASSIGN_SCHEMA,
        subw,
        key=("g",),
    )


class NonFiniteEmbeddingError(ValueError):
    """A PQ code build met a NaN or infinite embedding coordinate. Its
    rounded-decimal distance has no int64 numerator (NaN casts to
    INT64_MIN), so the codes and the error would be silently wrong."""


def _pq_codes_group(corpus_pdf, cb_pdf):
    """Vectorized per-bucket PQ code assignment: for every corpus
    vector, the nearest codeword per subspace (argmin of the exact
    rounded-decimal squared distance, ties to the lowest code) plus
    the total reconstruction error as the int64 DECIMAL(·,8)
    numerator.

    Reproduces the JVM/oracle formulation exactly: ``(x-y)*(x-y)``
    is the same IEEE double op sequence, per-term rounding matches
    Spark's Round via :func:`_round8_int64`, and the DECIMAL sums
    compare as exact int64 numerators, so argmin and tie-breaks can
    never diverge. Raises :class:`NonFiniteEmbeddingError` on a
    non-finite coordinate on either side.
    """
    import numpy as np
    import pandas as pd

    ids = corpus_pdf["vec_id"].to_numpy()
    emb = np.stack(corpus_pdf["e"].to_numpy())
    cb_ids = cb_pdf["vec_id"].to_numpy()
    order = cb_ids.argsort(kind="stable")
    cb_lbl = cb_ids[order]
    cb = np.stack(cb_pdf["e"].to_numpy())[order]
    bad = np.concatenate(
        [ids[~np.isfinite(emb).all(axis=1)], cb_lbl[~np.isfinite(cb).all(axis=1)]]
    )
    if len(bad):
        raise NonFiniteEmbeddingError(
            f"PQ codes need finite embeddings; vec_id {sorted(set(bad.tolist()))}"
        )
    out = {"vec_id": ids}
    err = np.zeros(len(ids), dtype=np.int64)
    for s in range(PQ_M):
        sl = slice(s * PQ_SUB_DIM, (s + 1) * PQ_SUB_DIM)
        diff = emb[:, None, sl] - cb[None, :, sl]
        d2 = _round8_int64(diff * diff).sum(axis=2)
        sel = d2.argmin(axis=1)  # first min == lowest code label
        out[f"c{s}"] = cb_lbl[sel].astype(np.int32)
        err = err + d2[np.arange(len(ids)), sel]
    # int64-numerator domain guard: err/1e8 reconstructs the oracle's
    # CAST(SUM(DECIMAL(20,8)) AS DOUBLE) bit-identically only while
    # |err| < 2^52 (one exact long->double cast + one correctly-rounded
    # division); beyond that the cast itself rounds and the identity
    # argument breaks (r15 ADVICE). Unit-norm embeddings keep err tiny;
    # fail loudly rather than drift if the fixtures ever change.
    if int(np.abs(err).max()) >= 2**52:
        raise OverflowError("pq err numerator overflow")
    out["err"] = err
    return pd.DataFrame(out)


_PQ_SCHEMA = ", ".join(
    ["vec_id long", *(f"c{s} int" for s in range(PQ_M)), "err long"]
)


def _pq_codes_wide(spark, vd, vd_cb):
    """(vec_id, c0..c3, err) for every corpus vector — the shared
    emb_pq / emb_ivfpq_search code-assignment build pass, vectorized
    per corpus bucket (:func:`_bucket_cogroup`): the former
    explode+broadcast-join+window form evaluated |corpus| x PQ_M x
    PQ_K interpreted :func:`_km_dist2` folds (~1M heavyweight
    Round+DECIMAL ops at sf0.1, 1.4-1.5 s of each query's wall); here
    the same arithmetic runs as a handful of numpy ops per bucket, with
    the codebook (the PQ_K lowest vec_ids — kilobytes) replicated to
    every bucket. ``err`` is the exact int64 DECIMAL(·,8) numerator of
    the oracle's SUM(d2). ``vd_cb`` must be an INDEPENDENTLY
    constructed read of the same relation (fresh scan attributes —
    the cogroup's two children may not share expression ids); its
    ``vec_id < PQ_K`` filter pushes to the scan, so the second "scan"
    reads 8 rows.
    """
    return _bucket_cogroup(
        spark,
        vd.select("vec_id", "e"),
        vd_cb.filter(F.col("vec_id") < PQ_K).select("vec_id", "e"),
        _pq_codes_group,
        _PQ_SCHEMA,
    )


@query(
    "emb_pq",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
dims AS (
  SELECT vec_id, g.i AS pos, embedding[g.i]::DOUBLE AS x
  FROM e, UNNEST(generate_series(1, len(embedding))) AS g(i)
),
sdims AS (
  SELECT vec_id, CAST((pos - 1) // {PQ_SUB_DIM} AS INT) AS sub, pos, x
  FROM dims
),
code AS (
  SELECT vec_id AS code, pos, x AS c FROM sdims WHERE vec_id < {PQ_K}
),
d AS (
  SELECT s.vec_id, s.sub, code.code,
         SUM(CAST(ROUND((s.x - code.c) * (s.x - code.c), 8)
                  AS DECIMAL(20,8))) AS d2
  FROM sdims s JOIN code ON s.pos = code.pos
  GROUP BY s.vec_id, s.sub, code.code
),
a AS (
  SELECT vec_id, sub, code, d2 FROM (
    SELECT vec_id, sub, code, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2, code) AS rk
    FROM d
  ) WHERE rk = 1
)
SELECT vec_id,
       CAST(MAX(CASE WHEN sub = 0 THEN code END) AS INT) AS c0,
       CAST(MAX(CASE WHEN sub = 1 THEN code END) AS INT) AS c1,
       CAST(MAX(CASE WHEN sub = 2 THEN code END) AS INT) AS c2,
       CAST(MAX(CASE WHEN sub = 3 THEN code END) AS INT) AS c3,
       CAST(SUM(d2) AS DOUBLE) AS pq_err
FROM a GROUP BY vec_id ORDER BY vec_id
""",
)
def emb_pq(spark, sf_dir):
    """Product quantization (Jegou'11): each vector is split into
    {PQ_M} subvectors of {PQ_SUB_DIM} dims, each independently snapped
    to the nearest of {PQ_K} per-subspace codewords — compressing a
    64-float embedding to {PQ_M} small codes (the memory layout an
    IVF-PQ index scans at 100 TB, ~64x smaller than the raw floats).
    Codebooks are deterministic (the {PQ_K} lowest vec_ids'
    subvectors; a production run trains them with the emb_kmeans
    update loop per subspace — same dataflow). Output: the {PQ_M}
    codes plus the exact total reconstruction error.

    Scale shape: the corpus crosses ONE fixed-width exchange and each
    bucket scores against the BROADCAST codebook ({PQ_M} x {PQ_K}
    subvectors — kilobytes) VECTORIZED in numpy
    (:func:`_pq_codes_wide` — r15: the former explode + broadcast
    join + WindowGroupLimit rank evaluated ~1M interpreted
    Round+DECIMAL ops at sf0.1, 1.4-1.5 s of the query's ~2.6 s); no
    all-pairs anything. The rounded-decimal distance convention
    (:func:`_km_dist2`) is reproduced exactly on int64 numerators
    (:func:`_round8_int64`), so codes, tie-breaks, and the error sum
    stay bit-identical to the oracle's relational derivation.
    """
    wide = _pq_codes_wide(
        spark,
        _doubles(t(spark, sf_dir, "embeddings")),
        _doubles(t(spark, sf_dir, "embeddings")),
    )
    # CAST(SUM(DECIMAL(·,8)) AS DOUBLE) == exact-int64-numerator
    # divided by 1e8 in ONE correctly-rounded IEEE division (both are
    # the nearest double of the same rational) — valid while
    # |err| < 2^52, which _pq_codes_group checks per batch.
    return (
        wide.select(
            "vec_id",
            "c0",
            "c1",
            "c2",
            "c3",
            (F.col("err").cast("double") / F.lit(1e8)).alias("pq_err"),
        )
        .orderBy("vec_id")
    )


_SQL_SDIMS = f"""
  SELECT vec_id, CAST((pos - 1) // {PQ_SUB_DIM} AS INT) AS sub, pos, x
  FROM (
    SELECT vec_id, g.i AS pos, embedding[g.i]::DOUBLE AS x
    FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
  )
"""

#: per-(vector, subspace, codeword) exact-decimal squared distance —
#: shared by the code assignment and the query-side ADC tables
_SQL_PQ_D2 = f"""
  SELECT s.vec_id, s.sub, cb.code,
         SUM(CAST(ROUND((s.x - cb.c) * (s.x - cb.c), 8)
                  AS DECIMAL(20,8))) AS d2
  FROM sdims s JOIN cb ON s.pos = cb.pos
  GROUP BY s.vec_id, s.sub, cb.code
"""


@query(
    "emb_ivfpq_search",
    oracle=f"""
WITH v AS ({_SQL_VECTORS}),
cent AS ({_SQL_CENTROIDS}),
assign AS ({_SQL_ASSIGN}),
sdims AS ({_SQL_SDIMS}),
cb AS (SELECT vec_id AS code, pos, x AS c FROM sdims WHERE vec_id < {PQ_K}),
d AS ({_SQL_PQ_D2}),
codes AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2, code) AS rk
    FROM d
  ) WHERE rk = 1
),
q AS (SELECT vec_id AS q_id, embedding AS qe, n2 AS qn2 FROM v
      WHERE vec_id < {N_QUERIES}),
probes AS (
  SELECT q_id, c_label FROM (
    SELECT q.q_id, c.c_label,
           ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
             ROUND({_sql_dot('q.qe', 'c.ce')}
                   / sqrt(q.qn2 * {_sql_dot('c.ce', 'c.ce')}), {SIM_DECIMALS}) DESC,
             c.c_label) AS rk
    FROM q CROSS JOIN cent c
  ) WHERE rk <= {N_PROBE}
),
lut AS (SELECT vec_id AS q_id, sub, code, d2 FROM d
        WHERE vec_id < {N_QUERIES}),
cand AS (
  SELECT p.q_id, a.vec_id, SUM(l.d2) AS adc
  FROM probes p
  JOIN assign a ON a.c_label = p.c_label
  JOIN codes c ON c.vec_id = a.vec_id
  JOIN lut l ON l.q_id = p.q_id AND l.sub = c.sub AND l.code = c.code
  WHERE a.vec_id <> p.q_id
  GROUP BY p.q_id, a.vec_id
)
SELECT q_id, vec_id, CAST(adc AS DOUBLE) AS adc_d2, rk FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY adc, vec_id) AS INT) AS rk
  FROM cand
) WHERE rk <= {TOP_K}
ORDER BY q_id, rk
""",
)
def emb_ivfpq_search(spark, sf_dir):
    """IVF-ADC search (Jegou'11 IVFPQ, the memory-bounded big-corpus
    layout): the coarse quantizer restricts each query to its
    {N_PROBE} nearest cells (as emb_ivf_search), but candidates are
    scored from their {PQ_M} product-quantization codes via per-query
    look-up tables — the candidate scan carries 4 small ints per
    vector instead of 64 floats (~64x less memory traffic), which is
    the entire point of the layout at 100 TB.

    Scale shape: centroids, codebook, and the per-query ADC tables
    ({N_QUERIES} x {PQ_M} x {PQ_K} exact decimals — kilobytes) all
    broadcast; the code assignment is the emb_pq build pass; the
    search is a keyed join from probed cells to melted codes to the
    LUT followed by a combinable per-(query, vector) SUM and a top-k
    rank. No raw embeddings move after the build. The code
    assignment runs through the shared vectorized builder
    (:func:`_pq_codes_wide`, exact int64 twin of the decimal
    convention); the LUT and the ADC sums stay exact DECIMALS in the
    JVM (:func:`_km_dist2`), bit-identical to the oracle's
    relational derivation."""
    v = _vectors(spark, sf_dir)
    vd = _doubles(v)
    assign, _, probes = _ivf_probe(spark, v)

    # PQ codes (emb_pq's build pass — the shared vectorized builder,
    # see _pq_codes_wide), melted back to (vec_id, sub, code) for the
    # LUT join. Codes are pure ints, so the Arrow boundary ships no
    # float state; the ADC distances themselves stay exact DECIMALS
    # summed in the JVM below.
    vd_cb = _doubles(t(spark, sf_dir, "embeddings"))
    codes = _pq_codes_wide(spark, vd, vd_cb).select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("int").alias("sub"),
                        F.col(f"c{s}").cast("long").alias("code"),
                    )
                    for s in range(PQ_M)
                ]
            )
        ).alias("sc"),
    ).select("vec_id", F.col("sc.sub").alias("sub"), F.col("sc.code").alias("code"))

    def explode_subs(df, id_alias):
        return df.select(
            F.col("vec_id").alias(id_alias),
            F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("sub"),
            F.col("e"),
        ).select(
            id_alias,
            "sub",
            F.expr(f"slice(e, sub * {PQ_SUB_DIM} + 1, {PQ_SUB_DIM})").alias("sv"),
        )

    codebook = explode_subs(
        vd.filter(F.col("vec_id") < PQ_K), "code"
    ).withColumnRenamed("sv", "cv")

    # query-side ADC look-up tables
    lut = (
        explode_subs(vd.filter(F.col("vec_id") < N_QUERIES), "q_id")
        .withColumnRenamed("sv", "qv")
        .join(F.broadcast(codebook), "sub")
        .select("q_id", "sub", "code", _km_dist2("qv", "cv").alias("d2"))
    )

    # search: probed cells -> melted codes -> LUT -> combinable SUM
    cand = (
        probes.join(assign, "c_label")
        .filter(F.col("vec_id") != F.col("q_id"))
        .join(codes, "vec_id")
        .join(F.broadcast(lut), ["q_id", "sub", "code"])
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d2").alias("adc"))
    )
    w_rank = Window.partitionBy("q_id").orderBy("adc", "vec_id")
    return (
        cand.withColumn("rk", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rk") <= TOP_K)
        .select(
            "q_id", "vec_id", F.col("adc").cast("double").alias("adc_d2"), "rk"
        )
        .orderBy("q_id", "rk")
    )


#: SemDeDup drop threshold. The synthetic corpus has no planted
#: near-identical vectors (max pairwise cosine ~0.51), so the
#: threshold marks "semantically close" — the pipeline is identical
#: to a production 0.95-threshold run.
SEMDEDUP_COS = 0.30

#: Hot-cluster guard (operators/skew.py cap_bucket): cells above this
#: size split into hash-salted sub-buckets before the pair join. With
#: the corpus-derived cell count below this is purely a DEGENERATE
#: backstop (healthy cells sit at ~SEMDEDUP_TARGET_CELL_ROWS, far
#: under the cap, so the guard is a no-op); at 100 TB it bounds a
#: pathological cell's single-task pair cost to ~cap^2.
SEMDEDUP_BUCKET_CAP = 4096


def _round_ge_threshold(tau: float, decimals: int) -> float:
    """Smallest double ``x`` with ``F.round(x, decimals) >= tau``, for
    a ``tau`` that is itself exact at ``decimals`` decimals.

    Spark's Round on DoubleType is ``BigDecimal.valueOf(x).setScale(
    decimals, HALF_UP)`` — it rounds the SHORTEST-DECIMAL-REPR of the
    double (Java ``Double.toString``), not its exact binary value.
    HALF_UP gives ``round(d) >= tau  <=>  d >= tau - 0.5*10^-decimals``
    compared AS DECIMALS, and because shortest reprs are strictly
    ordered with their doubles, that decimal comparison is equivalent
    to one double comparison ``x >= t0``. Python ``repr`` produces the
    same shortest decimal as Java's ``Double.toString`` (both emit the
    minimal uniquely-roundtripping digits), so ``t0`` is found by an
    ulp walk around ``float(tau - 0.5*10^-decimals)``; the equivalence
    against the live JVM is pinned over a +-300-ulp window in
    tests/test_pipelines.py (test_semdedup_round_threshold_pin).
    """
    c = Decimal(repr(tau)) - Decimal(5).scaleb(-(decimals + 1))
    t = float(c)
    while Decimal(repr(math.nextafter(t, -math.inf))) >= c:
        t = math.nextafter(t, -math.inf)
    while Decimal(repr(t)) < c:
        t = math.nextafter(t, math.inf)
    return t


#: Exact double threshold equivalent to the declared predicate
#: ``F.round(cos, SIM_DECIMALS) >= SEMDEDUP_COS`` (= the oracle's
#: ``ROUND(..., 6) >= 0.30``): comparing the UNROUNDED cosine against
#: this constant selects bit-for-bit the same pairs, so the vectorized
#: pair stage below never has to reproduce BigDecimal rounding.
_SEMDEDUP_COS_GE = _round_ge_threshold(SEMDEDUP_COS, SIM_DECIMALS)


def _semdedup_group_dropped(pdf):
    """Per-(cell, sub) pair comparison, vectorized (numpy): return the
    vec_ids dropped inside ONE SemDeDup cell — those with a LOWER-id
    row in the same cell whose cosine passes the threshold.

    Bit-identical to the JVM pair join + ``_dot`` fold it replaces:
    the dot matrix is accumulated dimension-by-dimension
    (``acc += outer(col_j, col_j)``), which performs, per pair, the
    exact left-fold ``((0 + p_1) + p_2) + ...`` in array order that
    ``F.aggregate(F.zip_with(...))`` performs (float32 products are
    exact in double; double additions happen in the same order, so
    every IEEE rounding step matches). The threshold compare uses
    ``_SEMDEDUP_COS_GE`` (see :func:`_round_ge_threshold`), so the
    rounded-predicate semantics are preserved without rounding.
    """
    import numpy as np
    import pandas as pd

    if len(pdf) < 2:
        return pdf.iloc[0:0][["vec_id"]]
    ids = pdf["vec_id"].to_numpy()
    order = ids.argsort(kind="stable")
    ids = ids[order]
    emb = np.stack(pdf["embedding"].to_numpy()[order]).astype(np.float64)
    n2 = pdf["n2"].to_numpy()[order]
    dots = np.zeros((len(ids), len(ids)))
    for j in range(emb.shape[1]):
        col = emb[:, j]
        dots += np.multiply.outer(col, col)
    cos = dots / np.sqrt(np.multiply.outer(n2, n2))
    # NaN edge (a zero-norm embedding makes cos 0/0 = NaN): Spark's
    # nanSafeCompare and DuckDB's ordering both treat NaN as GREATER
    # than any number, so the JVM predicate round(cos,6) >= tau was
    # TRUE for NaN — mirror that explicitly (plain numpy >= is False
    # for NaN). Unreachable on the unit-norm fixtures; kept so a
    # regenerated corpus with a zero vector cannot silently diverge
    # from the unchanged oracle (r15 ADVICE).
    hit = np.triu(np.isnan(cos) | (cos >= _SEMDEDUP_COS_GE), 1).any(axis=0)
    return pd.DataFrame({"vec_id": ids[hit]})

#: Target rows per SemDeDup cell. The cell count is DERIVED FROM THE
#: CORPUS: k = ceil(n / target), so within-cell pair cost is bounded
#: at ~n * target no matter the corpus size — the r11 sf0.1->sf1
#: scale study measured the previous fixed-k (label-cell) variant
#: SUPERLINEAR (shuffle bytes x18.4, candidate records x32 at 10x
#: corpus) precisely because fixed k makes cells grow with n
#: (SCALE.md "Round-11"). 250 is the fixture-scale default so the
#: driver's sf0.01 compare (500 vectors -> k=2) exercises the real
#: multi-cell path; a production run uses O(10^3..10^4) rows/cell
#: (SemDeDup paper practice: k scales with corpus) — the posture
#: (k proportional to n) is what this constant no longer changes.
SEMDEDUP_TARGET_CELL_ROWS = 250

#: Cell count at which assignment switches from the FLAT broadcast
#: scan (every vector folds over all k seed/centroid candidates) to
#: TWO-LEVEL coarse routing (fold over ceil(sqrt(k)) coarse centroids,
#: then only the candidates in that routing group). Measured crossover
#: (scale study, measurements/semdedup_r12*.jsonl): at k=24 the flat
#: scan wins (6.7s vs 14.9s — the routed plan's extra stages cost
#: more than the saved folds), at k=80 routing wins (16.7s vs 26.5s);
#: the same shape real IVF systems use (brute force below a corpus
#: size, coarse quantizer above). The DuckDB oracle carries BOTH
#: branches selected by the same k threshold, so whichever branch the
#: corpus size picks is the branch the oracle verifies.
SEMDEDUP_ROUTED_MIN_K = 48


@query(
    "emb_semdedup",
    oracle=f"""
WITH v AS ({_SQL_VECTORS}),
kk AS (SELECT CAST(CEIL(COUNT(*) / {SEMDEDUP_TARGET_CELL_ROWS}.0) AS BIGINT) AS k
       FROM v),
seeds AS (
  SELECT vec_id AS s_label, embedding AS se, n2 AS sn2
  FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM v), kk
  WHERE rn <= kk.k
),
coarse AS (
  SELECT s_label AS g_label, se AS ge, sn2 AS gn2
  FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY s_label) AS rn FROM seeds), kk
  WHERE rn <= CEIL(SQRT(kk.k))
),
seed_route AS (
  SELECT s_label, se, sn2, g_label FROM (
    SELECT s.s_label, s.se, s.sn2, c.g_label,
           ROW_NUMBER() OVER (PARTITION BY s.s_label ORDER BY
             ROUND({_sql_dot('s.se', 'c.ge')}
                   / sqrt(s.sn2 * c.gn2), {SIM_DECIMALS}) DESC,
             c.g_label) AS rk
    FROM seeds s CROSS JOIN coarse c
  ) WHERE rk = 1
),
v_route AS (
  SELECT vec_id, embedding, n2, g_label FROM (
    SELECT v.vec_id, v.embedding, v.n2, c.g_label,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
             ROUND({_sql_dot('v.embedding', 'c.ge')}
                   / sqrt(v.n2 * c.gn2), {SIM_DECIMALS}) DESC,
             c.g_label) AS rk
    FROM v CROSS JOIN coarse c
  ) WHERE rk = 1
),
a0_routed AS (
  SELECT vec_id, COALESCE(s_label, g_label) AS s_label FROM (
    SELECT vr.vec_id, vr.g_label, sr.s_label,
           ROW_NUMBER() OVER (PARTITION BY vr.vec_id ORDER BY
             ROUND({_sql_dot('vr.embedding', 'sr.se')}
                   / sqrt(vr.n2 * sr.sn2), {SIM_DECIMALS}) DESC,
             sr.s_label) AS rk
    FROM v_route vr LEFT JOIN seed_route sr ON vr.g_label = sr.g_label
  ) WHERE rk = 1
),
a0_flat AS (
  SELECT vec_id, s_label FROM (
    SELECT v.vec_id, s.s_label,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
             ROUND({_sql_dot('v.embedding', 's.se')}
                   / sqrt(v.n2 * s.sn2), {SIM_DECIMALS}) DESC,
             s.s_label) AS rk
    FROM v CROSS JOIN seeds s
  ) WHERE rk = 1
),
a0 AS (
  SELECT * FROM a0_flat WHERE (SELECT k FROM kk) < {SEMDEDUP_ROUTED_MIN_K}
  UNION ALL
  SELECT * FROM a0_routed WHERE (SELECT k FROM kk) >= {SEMDEDUP_ROUTED_MIN_K}
),
dims AS (
  SELECT a0.s_label, i.i AS i, AVG(v.embedding[i.i]::DOUBLE) AS c
  FROM v JOIN a0 USING (vec_id), UNNEST(generate_series(1, 64)) AS i(i)
  GROUP BY a0.s_label, i.i
),
cent AS (
  SELECT s_label AS c_label, array_agg(ROUND(c, {SIM_DECIMALS}) ORDER BY i) AS ce
  FROM dims GROUP BY s_label
),
cent_g AS (
  SELECT c.c_label, c.ce, sr.g_label
  FROM cent c JOIN seed_route sr ON c.c_label = sr.s_label
),
assign_routed AS (
  SELECT vec_id, COALESCE(c_label, g_label) AS c_label, embedding, n2 FROM (
    SELECT vr.vec_id, vr.embedding, vr.n2, vr.g_label, cg.c_label,
           ROW_NUMBER() OVER (PARTITION BY vr.vec_id ORDER BY
             ROUND({_sql_dot('vr.embedding', 'cg.ce')}
                   / sqrt(vr.n2 * {_sql_dot('cg.ce', 'cg.ce')}),
                   {SIM_DECIMALS}) DESC,
             cg.c_label) AS rk
    FROM v_route vr LEFT JOIN cent_g cg ON vr.g_label = cg.g_label
  ) WHERE rk = 1
),
assign_flat AS (
  SELECT vec_id, c_label, embedding, n2 FROM (
    SELECT v.vec_id, c.c_label, v.embedding, v.n2,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
             ROUND({_sql_dot('v.embedding', 'c.ce')}
                   / sqrt(v.n2 * {_sql_dot('c.ce', 'c.ce')}),
                   {SIM_DECIMALS}) DESC,
             c.c_label) AS rk
    FROM v CROSS JOIN cent c
  ) WHERE rk = 1
),
assign AS (
  SELECT * FROM assign_flat WHERE (SELECT k FROM kk) < {SEMDEDUP_ROUTED_MIN_K}
  UNION ALL
  SELECT * FROM assign_routed
  WHERE (SELECT k FROM kk) >= {SEMDEDUP_ROUTED_MIN_K}
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assign a JOIN assign b
    ON a.c_label = b.c_label AND a.vec_id < b.vec_id
  WHERE ROUND({_sql_dot('a.embedding', 'b.embedding')}
        / sqrt(a.n2 * b.n2), {SIM_DECIMALS}) >= {SEMDEDUP_COS}
)
SELECT a.vec_id, a.c_label AS cell_id,
       (a.vec_id IN (SELECT vec_id FROM dropped)) AS is_dropped
FROM assign a
ORDER BY a.vec_id
""",
)
def emb_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC
    deduplication of a training corpus — cluster the embedding space
    into spherical k-means cells whose COUNT IS DERIVED FROM THE
    CORPUS (k = ceil(n / SEMDEDUP_TARGET_CELL_ROWS); seeds are the k
    lowest vec_ids — the same deterministic-init convention as
    emb_kmeans — refined by one Lloyd round of coordinate means),
    then compare vectors ONLY within their cell and drop all but one
    of each semantically-near group (deterministic keep-lowest-id
    rule, so a vector is dropped iff a LOWER-id vector in its cell is
    within the cosine threshold). The fifth dedup family: exact /
    MinHash / SimHash / LSH-cosine are lexical, SemDeDup is
    meaning-grain.

    Scale shape: ONE scalar count() sizes k at runtime (the AQE
    discipline — a runtime statistic, no row data to the driver; a
    parquet metadata count at 100 TB); seed selection is a
    distributed top-k (TakeOrderedAndProject). Assignment follows the
    standard IVF size split (SEMDEDUP_ROUTED_MIN_K, measured
    crossover): below the threshold every vector folds over all k
    candidates (flat broadcast scan — the extra routing stages cost
    more than they save at small k); at or above it assignment is
    TWO-LEVEL — every vector first routes to its nearest of
    ceil(sqrt(k)) COARSE centroids (the lowest-id seeds), then ranks
    only the candidates sharing that routing group, dropping per-row
    fold cost from O(k) to O(~3*sqrt(k)) so the flat variant's one
    superlinear COMPUTE term (n*k with k proportional to n) becomes
    ~n^1.5 (measured: 26.5s -> 16.7s at the 20k-vector point). Since
    r16 every routed pass is VECTORIZED (:func:`_route_vec` /
    :func:`_grouped_assign_vec` — one fixed-width exchange + a numpy
    cogroup kernel each, bit-identical to the former
    :func:`_nearest_centroid_grouped` folds, which remain as the
    JVM reference the kernels are pinned against). The pair comparison shuffles
    each row once ON THE CELL ID and scores in-cell pairs vectorized
    per group (applyInPandas, bit-identical fold — r15: 3.9 s of
    interpreted JVM pair folds -> vectorized); because k grows with
    n, candidate cost is bounded at ~n * target rows (measured x10.0
    bytes at 10x corpus — SCALE.md round-12); SEMDEDUP_BUCKET_CAP
    remains only as a degenerate-cell backstop. Verified against the
    identical
    branch-selected clustering in DuckDB (the oracle carries both
    branches gated by the same k threshold — same rounding, same
    tie-breaks, same coalesce fallback).
    """
    v = _vectors(spark, sf_dir)
    n = v.count()
    k = max(1, math.ceil(n / SEMDEDUP_TARGET_CELL_ROWS))
    routed = k >= SEMDEDUP_ROUTED_MIN_K
    seeds = (
        v.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("c_label"), F.col("embedding").alias("ce"))
    )
    if routed:
        s = max(1, math.ceil(math.sqrt(k)))
        coarse = (
            v.orderBy("vec_id")
            .limit(s)
            .select(
                F.col("vec_id").alias("c_label"), F.col("embedding").alias("ce")
            )
        )
        # Route the corpus AND the seeds to their coarse group —
        # VECTORIZED (r16, guide §4.2): the routed branch's three
        # assignment passes were the query's remaining interpreted
        # zip_with/aggregate folds (O(n*s) route + O(n*k/s) a0 +
        # O(n*k/s) final, ~16 us each — assignment dominated the sf1
        # wall after the r15 pair-stage fix). Each pass is now one
        # fixed-width exchange + a numpy cogroup kernel
        # (_bucket_cogroup); cosines, rounding, and tie-breaks stay
        # bit-identical (see _argmax_centroid).
        # v_route feeds BOTH the a0 and final-assign passes, so it is
        # lazily checkpointed — previously the route fold computed
        # twice (r15 "Not yet optimized" #1; production: reliable
        # checkpoint per SCALE.md "Round-16: localCheckpoint").
        width = shuffle_width(spark)
        v_route = _route_vec(spark, v, coarse, width).localCheckpoint(
            eager=False
        )
        seed_route = _route_vec(
            spark,
            v.orderBy("vec_id").limit(k).select("vec_id", "embedding", "n2"),
            coarse,
            width,
        ).select(
            F.col("vec_id").alias("s_label"),
            F.col("embedding").alias("se"),
            "g",
        )
        subw = max(1, math.ceil(width / s))
        a0 = _grouped_assign_vec(
            spark,
            v_route,
            seed_route.select(
                F.col("s_label").alias("c_label"),
                F.col("se").alias("ce"),
                "g",
            ),
            subw,
        )
    else:
        a0 = _nearest_centroid(v, seeds)
    cent = _centroids(a0, "c_label")
    if routed:
        # refined centroids inherit their seed's routing group, so the
        # final assignment is grouped too (a vector's cell stays
        # within its routing group — the a0 cell is always a
        # candidate); same vectorized kernel as the a0 pass
        cent_g = cent.join(
            F.broadcast(
                seed_route.select(F.col("s_label").alias("c_label"), "g")
            ),
            "c_label",
        )
        assign = _grouped_assign_vec(spark, v_route, cent_g, subw).select(
            "vec_id", "c_label", "embedding", "n2"
        )
    else:
        assign = _nearest_centroid(v, cent).select(
            "vec_id", "c_label", "embedding", "n2"
        )
    # THREE consumers reuse the assignment (both pair-join sides and
    # the output join); without a materialization Spark re-derives the
    # whole lineage per branch — 3x the O(n*k) centroid folds and 3x
    # the seed/Lloyd shuffles (measured: shuffle bytes x17 instead of
    # x10 at 10x corpus). localCheckpoint cuts the lineage so the
    # corpus-sized assignment computes ONCE (same discipline as the
    # connected-components iteration, operators/graph.py); a cluster
    # run uses a reliable checkpoint dir the same way. Stats are
    # erased by the checkpoint (known trap) — every join below
    # broadcasts explicitly, so no auto-broadcast is lost.
    assign = assign.localCheckpoint(eager=False)
    # Hot-cluster guard (operators/skew.py): a degenerate giant
    # cluster would otherwise go quadratic in ONE join task; buckets
    # over the cap split into hash-salted sub-buckets (cap far above
    # observed cluster sizes -> salt 0 everywhere on healthy data, so
    # the oracle needs no change).
    salted = cap_bucket(assign, ["c_label"], "vec_id", SEMDEDUP_BUCKET_CAP)
    # The pair comparison shuffles each corpus row ONCE on (cell, sub)
    # and scores all in-cell pairs VECTORIZED in numpy per group
    # (optimization guide §4.2 / §8): the r15 profile put 3.9 of the
    # query's ~7.5 s in the former JVM self-join's 250k interpreted
    # zip_with+aggregate folds (~16 us/pair, HOFs do not codegen).
    # The applyInPandas form halves the shuffle (one side, not two),
    # never materializes the |pairs| x 2x64-float join output, and
    # computes the dot matrix at memory bandwidth — bit-identically
    # (see _semdedup_group_dropped; pinned by
    # tests/test_pipelines.py::test_semdedup_group_dropped_fold_identity).
    # Fixed-regime cost at every scale: |corpus| rows cross the
    # exchange and the Arrow boundary once; per-task pair work is
    # bounded by cap_bucket at ~cap^2 vectorized flops; reduce-side
    # parallelism is the cell count (k grows with the corpus). A
    # vec_id appears in exactly ONE (cell, sub) group and each group
    # emits it at most once, so no cross-group distinct is needed.
    dropped = (
        salted.select("c_label", "sub", "vec_id", "embedding", "n2")
        .groupBy("c_label", "sub")
        .applyInPandas(_semdedup_group_dropped, "vec_id long")
        .withColumn("is_dropped", F.lit(True))
    )
    return (
        assign.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            F.col("c_label").alias("cell_id"),
            F.coalesce("is_dropped", F.lit(False)).alias("is_dropped"),
        )
        .orderBy("vec_id")
    )


@query(
    "emb_hard_negatives",
    oracle=f"""
WITH v AS ({_SQL_VECTORS}),
q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS qe, n2 AS qn2
      FROM v WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.q_id, v.vec_id, v.label,
         ROUND({_sql_dot('q.qe', 'v.embedding')}
               / sqrt(q.qn2 * v.n2), {SIM_DECIMALS}) AS cos_sim
  FROM q JOIN v ON v.vec_id <> q.q_id AND v.label <> q.q_label
)
SELECT q_id, vec_id, label, cos_sim, rk FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cos_sim DESC, vec_id) AS INT) AS rk
  FROM scored
) WHERE rk <= {TOP_K}
ORDER BY q_id, rk
""",
)
def emb_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: for each query
    vector, the top-{TOP_K} MOST-similar corpus vectors with a
    DIFFERENT label — the negatives that sit closest to the decision
    boundary (the standard dense-retrieval training-data op; random
    negatives are too easy, these are the ones the model learns
    from).

    Scale shape: identical to emb_topk_cosine — bounded query set
    broadcast, corpus streams once, the label-mismatch residual rides
    the same join, and WindowGroupLimit caps each query's candidates
    at k before the final sort. In production the corpus side is the
    ANN-bucketed path (emb_lsh_topk / emb_ivf_search); this is the
    exact-oracle form that grades those.
    """
    v = _vectors(spark, sf_dir)
    q = _queries(v, F.col("label").alias("q_label"))
    cos = _cosine("qe", "embedding", "qn2", "n2")
    scored = (
        v.join(
            F.broadcast(q),
            (F.col("vec_id") != F.col("q_id"))
            & (F.col("label") != F.col("q_label")),
        )
        .select("q_id", "vec_id", "label", cos.alias("cos_sim"))
    )
    return _rank_top_k(scored)
