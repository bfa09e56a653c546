"""Text / LLM-training-data pipeline over the ``documents`` table.

Beyond-reference surface (the reference has no text pipeline; SURVEY.md
§7 design stance item 6): deduplication (exact + banded MinHash-LSH),
document fingerprinting (SimHash), token/quality statistics, and an
n-gram language-ID heuristic — all as declarative DataFrame plans with
DuckDB oracles.

Cross-engine determinism: every hash is :func:`~._util.md5h60` (md5 →
60-bit int), identical in Spark and DuckDB; ratios are int/int double
divisions (exact in IEEE754 both sides).

Scale notes (100 TB):
- Exact dedup is one hash-groupBy — the canonical map-side-combinable
  shape.
- MinHash dedup NEVER does an all-pairs join: candidates come from a
  self-equi-join on (band, band-signature) — the shuffle key is the
  band signature, so cost is sum of bucket^2, not n^2. Verification
  joins shingles only for candidate pairs.
- SimHash / quality / lang-ID are per-row expression pipelines (no
  shuffle at all before the final small aggregate) and run entirely in
  whole-stage codegen — no Python UDFs.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gazelle_plugin_spark.operators.graph import connected_components
from gazelle_plugin_spark.operators.skew import cap_bucket, cap_bucket_probe
from gazelle_plugin_spark.plans import query
from gazelle_plugin_spark.plans._util import md5h60, sql_md5h60, t

#: MinHash configuration: 8 signatures in 4 bands of 2 rows.
#: P(candidate) = 1-(1-j^2)^4 — ~0.99 at j=0.8, ~0.06 at j=0.2.
N_HASHES = 8
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS

#: Hot-band guard (operators/skew.py cap_bucket): band buckets above
#: this size split into hash-salted sub-buckets before the candidate
#: self-join. Orders of magnitude above healthy bucket sizes (near-dup
#: groups are 2-5 docs), so a no-op on real data; bounds a degenerate
#: hot signature's single-task cost at 100 TB.
MINHASH_BUCKET_CAP = 4096
JACCARD_THRESHOLD = 0.8

EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "documents").withColumn("w", F.split("text", " "))


def _maybe_spread(df: DataFrame) -> DataFrame:
    """Spread a narrow input across the session's cores before an
    explode — ONLY if it arrived in fewer splits than the session's
    parallelism (the local small-parquet case). At scale the input
    splits already parallelize, and an unconditional repartition would
    be a pure extra pass over the corpus (round-2 verdict), so a
    well-split input passes through exchange-free (plan-asserted in
    tests/test_pipelines.py).

    The split count is estimated from the FILE count (``inputFiles``,
    a listing-only probe) rather than ``.rdd.getNumPartitions()`` —
    the RDD probe forced a physical-plan translation per call and
    breaks on Spark Connect (round-3/4 verdict). A corpus of few huge
    splittable files underestimates and pays one extra exchange; real
    deployments write many files per partition, where the two counts
    agree."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if len(df.inputFiles()) < target:
        # explicit N: a bare repartition("doc_id") would be AQE-coalesced
        # right back to one partition (the pre-explode bytes look tiny)
        return df.repartition(target, "doc_id")
    return df


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct word-3-gram shingles per doc (docs with <3 tokens are
    skipped — guarded because Spark's sequence(1, n) runs DOWNWARD for
    n < 1 instead of returning empty)."""
    return (
        _maybe_spread(_tokens(spark, sf_dir).filter(F.size("w") >= 3))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(w) - 2),"
                        " i -> concat_ws(' ', slice(w, i, 3)))"
                    )
                )
            ).alias("s"),
        )
    )


#: DuckDB twin of _shingles (distinct 3-gram shingles per doc).
_SQL_SHINGLES = """
  SELECT DISTINCT doc_id, array_to_string(w[i.i:i.i+2], ' ') AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE len(string_split(text, ' ')) >= 3) toks,
       UNNEST(generate_series(1, len(w) - 2)) AS i(i)
"""


@query(
    "doc_text_stats",
    oracle="""
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_tokens
FROM documents
GROUP BY lang, source
ORDER BY lang, source
""",
)
def doc_text_stats(spark, sf_dir):
    """Corpus statistics per (lang, source): doc counts, char and
    whitespace-token totals. One map-side-combinable aggregation."""
    d = _tokens(spark, sf_dir)
    n_tok = F.size("w").cast("long")
    return (
        d.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
            F.sum(n_tok).alias("total_tokens"),
            (F.sum(n_tok).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        )
        .orderBy("lang", "source")
    )


@query(
    "doc_exact_dedup",
    oracle="""
SELECT md5(text) AS text_hash,
       MIN(doc_id) AS canonical_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY md5(text)
ORDER BY canonical_id
""",
)
def doc_exact_dedup(spark, sf_dir):
    """Exact deduplication: hash-groupBy on md5(text); the minimum
    doc_id in each group is the canonical copy. At 100 TB this is one
    shuffle keyed on the 128-bit hash — no sort, no pairwise compare."""
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("canonical_id")
    )


@query(
    "doc_quality",
    oracle="""
SELECT doc_id,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(w)) AS BIGINT) AS n_uniq_tokens,
       CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS type_token_ratio,
       CAST(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE)
         / len(w) AS stopword_ratio,
       CAST(length(text) - (len(w) - 1) AS DOUBLE) / len(w) AS avg_token_len
FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
ORDER BY doc_id
""",
)
def doc_quality(spark, sf_dir):
    """Per-document quality scores: token counts, type-token ratio,
    stopword ratio, mean token length — the standard cheap filters for
    LLM training-data curation. Pure per-row expressions (whole-stage
    codegen, zero shuffles)."""
    d = _tokens(spark, sf_dir)
    n = F.size("w")
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    n_stop = F.size(F.filter("w", lambda x: F.array_contains(stop_arr, x)))
    return (
        d.select(
            "doc_id",
            n.cast("long").alias("n_tokens"),
            F.size(F.array_distinct("w")).cast("long").alias("n_uniq_tokens"),
            (F.size(F.array_distinct("w")).cast("double") / n).alias("type_token_ratio"),
            (n_stop.cast("double") / n).alias("stopword_ratio"),
            ((F.length("text") - (n - 1)).cast("double") / n).alias("avg_token_len"),
        )
        .orderBy("doc_id")
    )


@query(
    "doc_lang_id",
    oracle=f"""
SELECT lang,
       CASE WHEN CAST(len(list_filter(w, x -> list_contains(
                 ['the','a','of','and','to','in','is'], x))) AS DOUBLE) / len(w) >= 0.05
            THEN 'en' ELSE 'other' END AS predicted,
       CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT lang, string_split(text, ' ') AS w FROM documents)
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def doc_lang_id(spark, sf_dir):
    """Language-ID heuristic (stopword-ratio scoring, the unigram
    special case of n-gram profiling) + confusion matrix against the
    labeled lang column. The synthetic corpus shares one vocabulary
    across langs, so this demonstrates the operator shape rather than
    real discrimination."""
    d = _tokens(spark, sf_dir)
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    ratio = F.size(F.filter("w", lambda x: F.array_contains(stop_arr, x))).cast(
        "double"
    ) / F.size("w")
    predicted = F.when(ratio >= 0.05, "en").otherwise("other")
    return (
        d.select("lang", predicted.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


def _minhash_sig_over(sh: DataFrame) -> DataFrame:
    """Per-doc MinHash signature over a shingle relation: mh_i = min
    over shingles of md5h60(shingle || '#i')."""
    return sh.groupBy("doc_id").agg(
        *[
            F.min(md5h60(F.concat(F.col("s"), F.lit(f"#{i}")))).alias(f"mh{i}")
            for i in range(N_HASHES)
        ]
    )


_SQL_MINHASH = (
    "SELECT doc_id, "
    + ", ".join(
        f"MIN({sql_md5h60(f''' s || '#{i}' ''')}) AS mh{i}" for i in range(N_HASHES)
    )
    + f" FROM ({_SQL_SHINGLES}) sh GROUP BY doc_id"
)

_SQL_BANDS = " UNION ALL ".join(
    f"SELECT doc_id, {j} AS band, mh{2 * j} AS b1, mh{2 * j + 1} AS b2 FROM mh"
    for j in range(N_BANDS)
)


#: Verified near-dup pairs (the doc_minhash_neardup chain minus the
#: final ORDER BY) as an oracle CTE body — shared by the pair query
#: and the connected-components clustering built on top of it.
_SQL_NEARDUP_PAIRS = f"""
WITH sh AS ({_SQL_SHINGLES}),
mh AS ({_SQL_MINHASH}),
bands AS ({_SQL_BANDS}),
cand AS (
  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.b1 = y.b1 AND x.b2 = y.b2 AND x.doc_id < y.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.d1, c.d2, COUNT(*) AS i
  FROM cand c
  JOIN sh s1 ON s1.doc_id = c.d1
  JOIN sh s2 ON s2.doc_id = c.d2 AND s2.s = s1.s
  GROUP BY c.d1, c.d2
)
SELECT d1, d2, CAST(i AS DOUBLE) / (n1.n + n2.n - i) AS jaccard
FROM inter
JOIN sizes n1 ON d1 = n1.doc_id
JOIN sizes n2 ON d2 = n2.doc_id
WHERE CAST(i AS DOUBLE) / (n1.n + n2.n - i) >= {JACCARD_THRESHOLD}
"""


@query(
    "doc_minhash_neardup",
    oracle=_SQL_NEARDUP_PAIRS + "ORDER BY d1, d2",
)
def doc_minhash_neardup(spark, sf_dir):
    """Near-duplicate detection: MinHash + LSH banding + in-bucket
    verification.

    tokenize -> 3-gram shingles -> 8 minhashes -> 4 bands -> self
    equi-join on the band signature -> exact Jaccard on candidates only
    -> keep >= 0.8. There is NO all-pairs comparison anywhere: the
    candidate join shuffles on the band signature (bucket join), and
    verification joins shingles only for candidate docs.

    Measured-and-rejected optimization (round 3): deriving all 8
    hashes from ONE md5 via 2-universal affine transforms halves the
    hash pass (~3.5s vs ~6.6s cold at sf0.1) but the derived functions
    are min-wise CORRELATED — recall capped at 251/256 planted pairs
    no matter how many bands were added. Independent md5 permutations
    keep recall at 256/256; hashing stays the embarrassingly-parallel
    linear term at scale."""
    return _neardup_pairs(spark, sf_dir).orderBy("d1", "d2")


def _band_rows(mh: DataFrame) -> DataFrame:
    """Melt a MinHash signature frame to one (doc_id, band, b1, b2)
    row per LSH band."""
    band_arr = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.col(f"mh{ROWS_PER_BAND * j}").alias("b1"),
                F.col(f"mh{ROWS_PER_BAND * j + 1}").alias("b2"),
            )
            for j in range(N_BANDS)
        ]
    )
    return mh.select("doc_id", F.explode(band_arr).alias("b")).select(
        "doc_id", "b.band", "b.b1", "b.b2"
    )


def _jaccard_verified(sh: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact shingle-Jaccard verify of candidate pairs ``cand`` (d1, d2)
    over the shingle relation ``sh`` (doc_id, s): the intersection is
    counted by joining both docs' shingles on the shingle, the union
    from the per-doc sizes. Returns (d1, d2, jaccard) with jaccard >=
    JACCARD_THRESHOLD."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    left = sh.select(F.col("doc_id").alias("d1"), F.col("s").alias("ls"))
    right = sh.select(F.col("doc_id").alias("d2"), F.col("s").alias("rs"))
    inter = (
        cand.join(left, "d1")
        .join(right, (cand.d2 == right.d2) & (F.col("ls") == F.col("rs")))
        .groupBy(cand.d1, cand.d2)
        .agg(F.count(F.lit(1)).alias("i"))
    )
    n1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    n2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    jac = F.col("i").cast("double") / (F.col("n1") + F.col("n2") - F.col("i"))
    return (
        inter.join(n1, "d1")
        .join(n2, "d2")
        .select("d1", "d2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def _neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified (jaccard >= threshold) near-dup pairs, unordered —
    the shared plan under doc_minhash_neardup and
    doc_neardup_components.

    Both the shingle relation and the signature table are
    localCheckpoint'd (lazily): without the cut, every reference —
    the two self-join sides, the hot-bucket count, the size table and
    the two verification sides — replays the whole corpus-scan +
    tokenize + explode (+ 8x md5 for the signature paths) subtree,
    16 parquet scans of ``documents`` in one plan (round-15 before
    capture, plans/r15). With it the corpus is scanned once, the
    shingle relation is materialized once and re-read, and the
    signature table (n_docs x 8 longs, the guide-§8 "small proxy") is
    computed once. At 100 TB the production form writes these proxies
    out (the incremental variant's persisted band index); in-session
    localCheckpoint is the same move, as doc_simhash_neardup and
    operators/graph.py already document. Fault-tolerance trade (local
    checkpoints are executor-local and not lineage-recoverable):
    SCALE.md "Round-16: localCheckpoint at 100 TB"."""
    sh = _shingles(spark, sf_dir).localCheckpoint(eager=False)
    mh = _minhash_sig_over(sh).localCheckpoint(eager=False)
    bands = _band_rows(mh)
    # Hot-band guard (operators/skew.py): a band signature shared by
    # more than MINHASH_BUCKET_CAP docs splits into hash-salted
    # sub-buckets, bounding the single-task candidate cost of a
    # pathological bucket; a no-op (salt 0) on healthy data, so the
    # oracle needs no change.
    bands = cap_bucket(bands, ["band", "b1", "b2"], "doc_id", MINHASH_BUCKET_CAP)
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.b1") == F.col("y.b1"))
            & (F.col("x.b2") == F.col("y.b2"))
            & (F.col("x.sub") == F.col("y.sub"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2"))
        .distinct()
    )
    return _jaccard_verified(sh, cand)


#: Incremental split: docs with doc_id % DELTA_MOD == 0 play the role
#: of the NEWLY-ARRIVED batch; the rest are the existing base corpus.
DELTA_MOD = 10


@query(
    "doc_incremental_dedup",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES}),
mh AS ({_SQL_MINHASH}),
bands AS ({_SQL_BANDS}),
dband AS (SELECT * FROM bands WHERE doc_id % {DELTA_MOD} = 0),
bband AS (SELECT * FROM bands WHERE doc_id % {DELTA_MOD} <> 0),
cand AS (
  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
  FROM dband x JOIN bband y
    ON x.band = y.band AND x.b1 = y.b1 AND x.b2 = y.b2
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.d1, c.d2, COUNT(*) AS i
  FROM cand c
  JOIN sh s1 ON s1.doc_id = c.d1
  JOIN sh s2 ON s2.doc_id = c.d2 AND s2.s = s1.s
  GROUP BY c.d1, c.d2
),
matches AS (
  SELECT d1, COUNT(*) AS m
  FROM inter
  JOIN sizes n1 ON d1 = n1.doc_id
  JOIN sizes n2 ON d2 = n2.doc_id
  WHERE CAST(i AS DOUBLE) / (n1.n + n2.n - i) >= {JACCARD_THRESHOLD}
  GROUP BY d1
)
SELECT d.doc_id,
       CAST(COALESCE(m.m, 0) AS BIGINT) AS n_base_dups,
       COALESCE(m.m, 0) = 0 AS kept
FROM (SELECT doc_id FROM documents WHERE doc_id % {DELTA_MOD} = 0) d
LEFT JOIN matches m ON m.d1 = d.doc_id
ORDER BY d.doc_id
""",
)
def doc_incremental_dedup(spark, sf_dir):
    """Incremental near-dup dedup: screen a NEWLY-ARRIVED batch
    (doc_id % {DELTA_MOD} == 0 plays the delta) against the EXISTING
    base corpus without recomparing the base to itself — the
    production shape when a shard lands on a 100 TB corpus.

    The LSH band probe is ASYMMETRIC: delta band rows join base band
    rows only, so candidate cost is |delta| x bucket density —
    independent of |base|^2, and base x base pairs are never
    generated. At scale the base band rows are a materialized index
    (written once, appended per batch: exactly this relation saved as
    a bucketed table on the band signature), and the delta probe
    shuffles only the new shard. Verification joins shingles for
    candidate docs only, as doc_minhash_neardup. Output: every delta
    doc with its base near-dup count and the keep/drop decision.

    Shingles and signatures are localCheckpoint'd (lazily) exactly as
    in :func:`_neardup_pairs` — the un-cut plan replayed the corpus
    scan 18x (round-15 before capture); at scale these proxies are the
    materialized band index the docstring above describes."""
    sh = _shingles(spark, sf_dir).localCheckpoint(eager=False)
    mh = _minhash_sig_over(sh).localCheckpoint(eager=False)
    bands = _band_rows(mh)
    is_delta = F.col("doc_id") % DELTA_MOD == 0
    # Hot-bucket guard, ASYMMETRIC flavor (operators/skew.py
    # cap_bucket_probe): a base band bucket over MINHASH_BUCKET_CAP is
    # hash-salted into sub-buckets and the delta probe explodes across
    # the full salt range — every base sub-bucket is still probed, so
    # unlike the self-join guard this loses NO recall while bounding
    # any single task to ~cap base rows. No-op (salt 0) on healthy
    # data; the oracle needs no change.
    base, delta = cap_bucket_probe(
        bands.filter(~is_delta),
        bands.filter(is_delta),
        ["band", "b1", "b2"],
        "doc_id",
        MINHASH_BUCKET_CAP,
    )
    cand = (
        delta.alias("x")
        .join(
            base.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.b1") == F.col("y.b1"))
            & (F.col("x.b2") == F.col("y.b2"))
            & (F.col("x.sub") == F.col("y.sub")),
        )
        .select(F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2"))
        .distinct()
    )
    matches = (
        _jaccard_verified(sh, cand)
        .groupBy("d1")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    delta = t(spark, sf_dir, "documents").filter(is_delta).select("doc_id")
    n_dups = F.coalesce(F.col("m"), F.lit(0)).cast("long")
    return (
        delta.join(matches, delta.doc_id == matches.d1, "left")
        .select(
            "doc_id",
            n_dups.alias("n_base_dups"),
            (n_dups == 0).alias("kept"),
        )
        .orderBy("doc_id")
    )


#: n-gram Jaccard join: shingles seen in more than DF-cap docs are
#: "stop-shingles" — excluded from CANDIDATE generation (they would
#: dominate the self-join's sum-of-df^2 cost) but still counted in the
#: exact verify. A J>=0.8 pair shares ~89% of shingles, virtually all
#: rare, so recall is unaffected (pytest pins it against MinHash).
#:
#: The cap SCALES DOWN with corpus size (round-13 verdict task 1):
#:     cap(N) = clamp(ceil(sqrt(BUDGET / N)), MIN, MAX)
#: holds the WORST-CASE candidate count sum_s C(cap, 2) * |shingles|
#: ~ N * cap^2 at a CONSTANT ~BUDGET pair budget — a guarantee for
#: boilerplate-heavy corpora whose df band [2, MAX] is enormous, where
#: a fixed cap admits N x C(20,2) pair terms. At the 5k-doc reference
#: corpus (sf0.1) the cap is the historical 20; at 50k docs it is 7;
#: at 150k docs, 4. Measured on Heaps/Zipf-shaped corpora (SCALE.md
#: round-14): on REALISTIC text both fixed and scaled caps are linear
#: (bytes x3.0-3.1 at x3 data); the scaled cap buys ~10% wall / 13%
#: shuffled records at a 0.8-2.1% verified-pair cost. (The round-13
#: "superlinear pair verification" flag that motivated this was an
#: artifact of the fixed-31-word scale fixture, whose shingle universe
#: saturates at 31^3 and empties EVERY df-bounded candidate scheme
#: beyond ~15k docs — see SCALE.md round-14 correction.)
#: Recall: a J>=0.8 pair is generated iff ONE of its rarest-first
#: prefix shingles has df <= cap; near-dup pairs share pair-local
#: rare shingles, so measured recall is 99.1% of MinHash's verified
#: pairs at 50k docs (floor re-derived at the aggressive cap in
#: tests/test_pipelines.py). Docs built ENTIRELY of Zipf-head words —
#: like dup clusters wider than the cap — are MinHash banding's
#: territory (doc_minhash_neardup caps buckets, not candidates'
#: existence).
NGRAM_DF_MAX = 20
NGRAM_DF_MIN = 4
#: BUDGET = MAX^2 * 5000 reference docs: cap hits MAX exactly at the
#: driver corpus scale, so sf0.01/sf0.1 plans are unchanged.
NGRAM_DF_BUDGET = NGRAM_DF_MAX * NGRAM_DF_MAX * 5000

#: SQL twin of the cap rule (DuckDB + Spark agree: exact double
#: division, correctly-rounded IEEE sqrt, ceil of a non-boundary
#: value; at the one oracle scale, sf0.01/N=500, sqrt(4000)=63.24
#: sits far from an integer boundary).
_SQL_DF_CAP = (
    f"LEAST({NGRAM_DF_MAX}, GREATEST({NGRAM_DF_MIN}, "
    f"CAST(CEIL(SQRT({NGRAM_DF_BUDGET}.0 / COUNT(*))) AS INT)))"
)


def _df_cap(docs: DataFrame) -> DataFrame:
    """The corpus-scaled DF cap as a 1-row aggregate over ``docs``:
    the Spark twin of _SQL_DF_CAP (exact division + IEEE sqrt/ceil),
    pinned against it in tests/test_pipelines.py."""
    return docs.agg(
        F.least(
            F.lit(NGRAM_DF_MAX),
            F.greatest(
                F.lit(NGRAM_DF_MIN),
                F.ceil(
                    F.sqrt(F.lit(float(NGRAM_DF_BUDGET)) / F.count(F.lit(1)))
                ).cast("int"),
            ),
        ).alias("df_cap")
    )


#: Prefix-filter length for Jaccard >= 0.8 (Chaudhuri/Bayardo
#: set-similarity-join prefix principle): two sets with J >= t MUST
#: share one of each other's first |d| - ceil(t*|d|) + 1 shingles when
#: every doc orders its shingles by one global ordering (rarest
#: first). Integer form of ceil(0.8n): (4n + 4) div 5 — identical in
#: both engines, no float ceil hazard.
_SQL_PREFIX_LEN = "(n - (4 * n + 4) // 5 + 1)"


@query(
    "doc_ngram_jaccard",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES}),
params AS (SELECT {_SQL_DF_CAP} AS df_cap FROM documents),
df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
ranked AS (
  SELECT sh.doc_id, sh.s, df.df,
         ROW_NUMBER() OVER (PARTITION BY sh.doc_id ORDER BY df.df, sh.s) AS rn,
         COUNT(*) OVER (PARTITION BY sh.doc_id) AS n
  FROM sh JOIN df ON sh.s = df.s
),
prefix AS (
  SELECT doc_id, s, n FROM ranked, params
  WHERE rn <= {_SQL_PREFIX_LEN} AND df <= params.df_cap
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM prefix a JOIN prefix b
    ON a.s = b.s AND a.doc_id < b.doc_id
   AND a.n * 4 <= b.n * 5 AND b.n * 4 <= a.n * 5
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.d1, c.d2, COUNT(*) AS i
  FROM cand c
  JOIN sh s1 ON s1.doc_id = c.d1
  JOIN sh s2 ON s2.doc_id = c.d2 AND s2.s = s1.s
  GROUP BY c.d1, c.d2
)
SELECT d1, d2, CAST(i AS DOUBLE) / (n1.n + n2.n - i) AS jaccard
FROM inter
JOIN sizes n1 ON d1 = n1.doc_id
JOIN sizes n2 ON d2 = n2.doc_id
WHERE CAST(i AS DOUBLE) / (n1.n + n2.n - i) >= {JACCARD_THRESHOLD}
ORDER BY d1, d2
""",
)
def doc_ngram_jaccard(spark, sf_dir):
    """Direct n-gram Jaccard near-dup join (the deterministic fourth
    dedup family, vs the probabilistic MinHash route): PREFIX-FILTERED
    inverted-index candidates + exact Jaccard verify over ALL
    shingles.

    Candidate generation uses the set-similarity-join prefix
    principle: order each doc's shingles rarest-first (global df,
    shingle text as tiebreak); a J >= 0.8 pair must share one of each
    doc's first |d| - ceil(0.8|d|) + 1 (~0.2|d|) shingles, so only
    that prefix feeds the self-join. Round-2's df-cap-only pruning
    produced 1.1M candidates for 256 true pairs at sf0.1 (the
    verify join dominated); the prefix filter is the structural fix —
    candidates now grow with true-pair density, not corpus size.

    Three candidate bounds on top of the prefix (the first two from
    the round-13 verdict task 1 DF-cap scaling rule; the positional
    bound added in round 16):
    - df <= df_cap(N): the stop-shingle cap SCALES with corpus
      size (see NGRAM_DF_BUDGET) so worst-case sum-of-C(df,2) verify
      work is bounded at a constant pair budget; on realistic
      Heaps/Zipf corpora it is a ~10%-wall constant-factor win at a
      0.8-2.1% pair cost (measured — SCALE.md round-14, including the
      correction of the round-13 superlinearity flag). The cap is
      computed IN-PLAN from a broadcast 1-row COUNT(*) aggregate, so
      the query stays lazy and the oracle computes the identical
      value.
    - the ppjoin LENGTH filter 4*max(n1,n2) <= 5*min(n1,n2): EXACT
      for J >= 0.8 (|A^B| <= min and |A^B| >= 0.8*max force
      5*min >= 4*max), so it drops only provably-sub-threshold pairs.
    - the ppjoin POSITIONAL filter (see the in-body comment): a
      prefix match at ranks (i, j) certifies a candidate only when
      its overlap upper bound min(i-1,j-1) + 1 + min(n1-i, n2-j)
      still admits 9*overlap >= 4*(n1+n2) — sound for the same
      reason (every bound overestimates the true overlap).
    NO false negatives among pairs whose prefixes hold >= 1 sub-cap
    shingle (at J >= 0.8, all planted pairs — pinned against MinHash
    recall at the default AND the aggressive cap in
    tests/test_pipelines.py)."""
    # the shingle set feeds five plan branches; measured at sf0.1,
    # recomputing the (cheap, codegen'd) explosion per branch beats a
    # .persist() barrier — caching blinds AQE's runtime replanning. At
    # 100 TB the shingle set is the natural checkpoint candidate; that
    # choice (a ``persist`` or ``localCheckpoint``) belongs to the caller.
    sh = _shingles(spark, sf_dir)
    # corpus-scaled DF cap as a broadcast 1-row aggregate: lazy,
    # identical arithmetic to the oracle's params CTE (exact division
    # + IEEE sqrt/ceil). Like every prefix-subtree node it executes
    # once per SIDE of the candidate self-join (two metadata-only
    # parquet footer COUNT(*) jobs — no data scan)
    cap = F.broadcast(_df_cap(t(spark, sf_dir, "documents")))
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    w_rank = Window.partitionBy("doc_id").orderBy("df", "s")
    w_size = Window.partitionBy("doc_id")
    ranked = (
        sh.join(dfreq, "s")
        .withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n", F.count(F.lit(1)).over(w_size))
    )
    prefix = (
        ranked.crossJoin(cap)
        .filter(
            (F.col("rn") <= F.expr(_SQL_PREFIX_LEN.replace("//", "div")))
            & (F.col("df") <= F.col("df_cap"))
        )
        .select("doc_id", "s", "n", "rn")
    )
    # ppjoin POSITIONAL filter (r16, guide 3): a prefix match of A at
    # rank i and B at rank j (both ranked by the SAME rarest-first
    # global order) bounds the overlap by
    #   min(i-1, j-1) + 1 + min(n1-i, n2-j)
    # (matches below the shared token: at most min(i-1, j-1); the
    # token itself: 1; above it: at most min(n1-i, n2-j)). J >= 0.8
    # forces 9*|A^B| >= 4*(n1+n2), so a match whose bound fails
    # 9*ub >= 4*(n1+n2) cannot certify a qualifying pair — dropping it
    # loses NO true pair (every bound overestimates the one true
    # overlap). Measured: candidates -12.6% and wall -13..30% on the
    # 50k-doc Heaps corpus (.scale/sf1h), -9% candidates at sf0.1;
    # bound soundness unit-pinned in tests/test_pipelines.py.
    pos_ub = (
        F.least(F.col("a.rn"), F.col("b.rn"))
        - 1
        + 1
        + F.least(F.col("a.n") - F.col("a.rn"), F.col("b.n") - F.col("b.rn"))
    )
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # ppjoin length filter: exact at J >= 0.8
            & (F.col("a.n") * 4 <= F.col("b.n") * 5)
            & (F.col("b.n") * 4 <= F.col("a.n") * 5)
            & (pos_ub * 9 >= (F.col("a.n") + F.col("b.n")) * 4),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    return _jaccard_verified(sh, cand).orderBy("d1", "d2")


#: BPE-ish pre-tokenizer: word / number / punctuation-run pieces with
#: optional leading space (GPT-2-style, simplified to the regex subset
#: RE2 and Java share — no lookahead).
BPE_PATTERN = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"


@query(
    "doc_token_counts",
    oracle=f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS INT) AS n_bpe_tokens,
       CAST(length(text) AS INT) AS n_chars,
       CAST(length(text) AS DOUBLE)
         / len(regexp_extract_all(text, '{BPE_PATTERN}')) AS chars_per_token
FROM documents
ORDER BY doc_id
""",
)
def doc_token_counts(spark, sf_dir):
    """Token counting two ways: whitespace split and a BPE-ish regex
    pre-tokenizer (word/number/punct pieces with optional leading
    space) — the standard cheap token-budget estimators for LLM
    training data. Pure per-row expressions, zero shuffles."""
    d = t(spark, sf_dir, "documents")
    # idx 0 = whole match (Spark defaults to capture group 1)
    bpe = F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0)
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.size(bpe).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars"),
        (F.length("text").cast("double") / F.size(bpe)).alias("chars_per_token"),
    ).orderBy("doc_id")


#: Winnowing fingerprint parameters: character k-grams, strided
#: window minima (the MOSS-style rolling-hash fingerprint, with fixed
#: windows instead of sliding ones — same per-window-min structure).
KGRAM = 8
WINNOW_WINDOW = 16


@query(
    "doc_winnow_fingerprint",
    oracle=f"""
WITH pos AS (
  SELECT doc_id, i.i AS i,
         {sql_md5h60(f"substring(text, CAST(i.i AS INT), {KGRAM})")} AS h
  FROM documents,
       UNNEST(generate_series(1, length(text) - {KGRAM} + 1)) AS i(i)
  WHERE length(text) >= {KGRAM}
),
mins AS (
  SELECT doc_id, (i - 1) // {WINNOW_WINDOW} AS w, MIN(h) AS fp
  FROM pos GROUP BY doc_id, (i - 1) // {WINNOW_WINDOW}
)
SELECT doc_id,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_fingerprints,
       MIN(fp) AS min_fp, MAX(fp) AS max_fp,
       CAST(SUM(fp % 1000000) AS BIGINT) AS fp_checksum
FROM mins GROUP BY doc_id ORDER BY doc_id
""",
)
def doc_winnow_fingerprint(spark, sf_dir):
    """Document fingerprinting via rolling character k-grams +
    per-window minima (winnowing): hash every {KGRAM}-char gram, keep
    the minimum per {WINNOW_WINDOW}-gram window — near-identical docs
    share most selected fingerprints, enabling containment/overlap
    detection (the MOSS approach). Columnar shape: posexplode ->
    hash -> two map-side-combinable groupBys; no interpreted lambdas,
    no shuffle of document bodies. Runs corpus-wide (the round-2
    doc_id<100 oracle-cost cap is lifted)."""
    d = _maybe_spread(
        t(spark, sf_dir, "documents").filter(F.length("text") >= KGRAM)
    )
    pos = d.select(
        "doc_id",
        F.posexplode(
            F.expr(f"transform(sequence(1, length(text) - {KGRAM} + 1),"
                   f" i -> substring(text, i, {KGRAM}))")
        ).alias("p", "g"),
    )
    mins = (
        pos.select("doc_id", F.col("p").alias("i"), md5h60(F.col("g")).alias("h"))
        .groupBy("doc_id", F.expr(f"i div {WINNOW_WINDOW}").alias("w"))
        .agg(F.min("h").alias("fp"))
    )
    return (
        mins.groupBy("doc_id")
        .agg(
            F.countDistinct("fp").alias("n_fingerprints"),
            F.min("fp").alias("min_fp"),
            F.max("fp").alias("max_fp"),
            F.sum(F.col("fp") % 1000000).alias("fp_checksum"),
        )
        .orderBy("doc_id")
    )


#: Shingle-level SimHash for near-dup detection: unigram-token
#: fingerprints CONVERGE on a shared-vocabulary corpus (similar word
#: frequencies -> similar fingerprints -> dense LSH buckets -> the
#: candidate join quadratic term blows up: 55s / 9k false pairs at
#: sf0.1). 3-gram shingles are position-sensitive and discriminative,
#: exactly why MinHash shingles — buckets stay near-singleton.
_SQL_SIMHASH = f"""
  WITH sh_in AS ({{shingles}}),
  h AS (SELECT doc_id, {sql_md5h60("s")} AS hv FROM sh_in),
  bits AS (
    SELECT doc_id, b.b AS b,
           SUM(CASE WHEN (hv >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS w
    FROM h, UNNEST(generate_series(0, 59)) AS b(b)
    GROUP BY doc_id, b.b
  )
  SELECT doc_id,
         CAST(SUM(CASE WHEN w > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
           AS s
  FROM bits GROUP BY doc_id
""".format(shingles=_SQL_SHINGLES)

#: SimHash near-dup: 4 bands x 15 bits, Hamming verify threshold.
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 15
HAMMING_THRESHOLD = 6


@query(
    "doc_simhash_neardup",
    oracle=f"""
WITH sh AS ({_SQL_SIMHASH}),
bands AS (
  SELECT doc_id, j.j AS band,
         (s >> (j.j * {SIMHASH_BAND_BITS})) & {(1 << SIMHASH_BAND_BITS) - 1} AS sig,
         s
  FROM sh, UNNEST(generate_series(0, {SIMHASH_BANDS - 1})) AS j(j)
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.s AS s1, b.s AS s2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)
SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(s1, s2)) <= {HAMMING_THRESHOLD}
ORDER BY d1, d2
""",
)
def doc_simhash_neardup(spark, sf_dir):
    """SimHash near-duplicate detection: fingerprint -> band-bucketed
    candidate join -> Hamming-distance verify.

    The third dedup family (exact hash, MinHash-Jaccard, SimHash-
    Hamming): fingerprints are computed per-row with zero shuffles
    over the 3-GRAM SHINGLES (unigram fingerprints converge on a
    shared-vocabulary corpus and blow up the candidate buckets — see
    _SQL_SIMHASH note), candidates come from a self-equi-join on
    15-bit fingerprint bands (a <=3-bit-flip pair ALWAYS shares a
    clean band; more distant pairs probabilistically), and only
    candidates pay the bit_count verify. No all-pairs comparison
    (plan-gated).

    The fingerprint table is localCheckpoint'd (lazily) before the
    band self-join: both join sides derive from it, and with a
    broadcast build side Spark computes the whole corpus-scan +
    fingerprint subtree TWICE (no exchange reuse across a
    BroadcastExchange) — measured at 1.22x vanilla in round 5, and
    2x-the-fingerprint cost in both engines. The table is O(n_docs)
    rows x 16 bytes — persisting it is the standard move before any
    self-join at 100 TB (same pattern as operators/graph.py); swap
    for reliable ``checkpoint`` on a production cluster."""
    # fingerprint via columnar aggregation with PACKED lanes: 3 bit-
    # counters per 64-bit sum (20-bit lanes), so the groupBy carries 21
    # agg columns instead of 61. The lane packing matters twice: (a)
    # less aggregation state through the shuffle, and (b) the round-5
    # 60-conditional-sum form generated a janino compile so large that
    # COLD runs cost ~6.8s vs ~1.4s packed (measured round 6) — the
    # wide-agg codegen dominated the whole query. A lane holds counts
    # up to 2^20-1 shingles/doc (a ~10 MB document) — beyond that,
    # chunk docs upstream. The nested higher-order-function form is
    # INTERPRETED per row and ~50x slower (see doc_simhash for the
    # expression form on a bounded set); per-bit majority vote is
    # reconstructed from the lanes AFTER aggregation, where only
    # n_docs rows remain, so an interpreted fold is free there.
    hv = md5h60(F.col("s"))
    packed = [
        F.sum(
            F.expr(
                f"(shiftright(hv,{3 * c}) & 1)"
                f" + shiftleft(shiftright(hv,{3 * c + 1}) & 1, 20)"
                f" + shiftleft(shiftright(hv,{3 * c + 2}) & 1, 40)"
            )
        ).alias(f"p{c}")
        for c in range(20)
    ]
    weights = (
        _shingles(spark, sf_dir)
        .withColumn("hv", hv)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"), *packed)
    )
    # bit b set iff count_of_ones*2 > n (== the +-1 weight sum > 0)
    simhash = F.expr(
        """aggregate(sequence(0, 59), 0L, (acc, b) -> acc + if(
             (shiftright(element_at(parr, cast(b / 3 as int) + 1),
                         cast((b % 3) * 20 as int)) & 1048575) * 2 > n,
             shiftleft(1L, b), 0L))"""
    )
    sh = (
        weights.withColumn("parr", F.array(*[F.col(f"p{c}") for c in range(20)]))
        .select("doc_id", simhash.alias("s"))
        .localCheckpoint(eager=False)
    )
    band_arr = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.expr(
                    f"(s div shiftleft(1L, {j * SIMHASH_BAND_BITS}))"
                    f" % {1 << SIMHASH_BAND_BITS}"
                ).alias("sig"),
            )
            for j in range(SIMHASH_BANDS)
        ]
    )
    bands = sh.select("doc_id", "s", F.explode(band_arr).alias("b")).select(
        "doc_id", "s", "b.band", "b.sig"
    )
    # Hot-band guard (operators/skew.py): a 15-bit band signature
    # shared by more than MINHASH_BUCKET_CAP docs (a boilerplate-heavy
    # corpus collapses SimHash bands) splits into hash-salted
    # sub-buckets, bounding the single-task candidate cost; a no-op
    # (salt 0) on healthy data, so the oracle needs no change.
    bands = cap_bucket(bands, ["band", "sig"], "doc_id", MINHASH_BUCKET_CAP)
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.sub") == F.col("y.sub"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("d1"),
            F.col("y.doc_id").alias("d2"),
            F.col("x.s").alias("s1"),
            F.col("y.s").alias("s2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))).cast("int")
    return (
        cand.select("d1", "d2", hamming.alias("hamming"))
        .filter(F.col("hamming") <= HAMMING_THRESHOLD)
        .orderBy("d1", "d2")
    )


@query(
    "doc_simhash",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents
),
h AS (SELECT doc_id, {sql_md5h60("tok")} AS hv FROM toks),
bits AS (
  SELECT doc_id, b.b AS b,
         SUM(CASE WHEN (hv >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS w
  FROM h, UNNEST(generate_series(0, 59)) AS b(b)
  GROUP BY doc_id, b.b
)
SELECT doc_id,
       CAST(SUM(CASE WHEN w > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
         AS simhash
FROM bits GROUP BY doc_id ORDER BY doc_id
""",
)
def doc_simhash(spark, sf_dir):
    """60-bit SimHash fingerprint per document (token-frequency
    weighted majority vote per bit). Computed entirely as nested array
    expressions — per-row, zero shuffles, no UDF: near-dup docs get
    fingerprints within a small Hamming distance, so at scale dedup
    groups by a few fingerprint prefixes. Runs corpus-wide (round-2
    doc_id<100 cap lifted); the per-token hash array is materialized
    ONCE per row, not re-hashed inside each of the 60 bit folds."""
    d = t(spark, sf_dir, "documents").withColumn(
        "hs",
        F.expr(
            "transform(split(text, ' '),"
            " t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))"
        ),
    )
    simhash = F.expr(
        """
        aggregate(sequence(0, 59), 0L, (acc, b) -> acc + if(
          aggregate(hs, 0L,
            (a, h) -> a + if((h div shiftleft(1L, b)) % 2 = 1, 1L, -1L)
          ) > 0, shiftleft(1L, b), 0L))
        """
    )
    return d.select("doc_id", simhash.alias("simhash")).orderBy("doc_id")




@query(
    "doc_train_split",
    oracle=f"""
SELECT split, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM (SELECT lang, n_chars,
             CASE WHEN {sql_md5h60("CAST(doc_id AS VARCHAR)")} % 100 < 90
                  THEN 'train' ELSE 'val' END AS split
      FROM documents)
GROUP BY split, lang
ORDER BY split, lang
""",
)
def doc_train_split(spark, sf_dir):
    """Deterministic train/validation split: bucket = md5h60(doc_id)
    mod 100, <90 -> train. The standard 100 TB split discipline — a
    pure hash of the key, so membership is stable across runs,
    cluster sizes, and engines (no sampling nondeterminism), and the
    split can be recomputed anywhere without a membership table. Zero
    shuffles before the small per-(split, lang) audit aggregate."""
    d = t(spark, sf_dir, "documents")
    bucket = F.pmod(md5h60(F.col("doc_id").cast("string")), F.lit(100))
    split = F.when(bucket < 90, "train").otherwise("val")
    return (
        d.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("split", "lang")
    )


@query(
    "doc_neardup_components",
    oracle=f"""
WITH RECURSIVE pairs AS (
  SELECT d1, d2 FROM ({_SQL_NEARDUP_PAIRS}) p
),
edges AS (
  SELECT d1 AS u, d2 AS v FROM pairs
  UNION ALL
  SELECT d2 AS u, d1 AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT u AS doc_id, CAST(LEAST(u, MIN(v)) AS BIGINT) AS component
FROM reach
GROUP BY u
ORDER BY doc_id
""",
)
def doc_neardup_components(spark, sf_dir):
    """Near-duplicate CLUSTERS: connected components over the verified
    MinHash near-dup pair graph, labeling every clustered doc with its
    component's minimum doc_id (the canonical representative a dedup
    pass would keep). Singleton docs are their own trivial cluster and
    are omitted.

    Delegates to :func:`operators.graph.connected_components`
    (min-label propagation + pointer jumping, O(log diameter) rounds;
    every round shuffles only the pair graph, never the corpus —
    algorithm/scale notes and the chain/clique/union-find property
    tests live with the operator).

    The oracle reaches the same fixpoint declaratively: DuckDB
    recursive-CTE transitive closure + min over the reachable set —
    genuinely iterative semantics, SQL-expressible only via WITH
    RECURSIVE."""
    pairs = _neardup_pairs(spark, sf_dir).select("d1", "d2")
    labels = connected_components(pairs, src="d1", dst="d2")
    return labels.select(
        F.col("vertex").alias("doc_id"), "component"
    ).orderBy("doc_id")


@query(
    "doc_curation_pipeline",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, text, lang, string_split(text, ' ') AS w FROM documents
),
quality AS (
  SELECT doc_id, text, lang, len(w) AS n_tokens
  FROM toks
  WHERE len(w) >= 30
    AND CAST(len(list_filter(w, x -> list_contains(
          ['the','a','of','and','to','in','is'], x))) AS DOUBLE)
        / len(w) >= 0.01
),
deduped AS (
  SELECT doc_id, lang, n_tokens FROM (
    SELECT doc_id, lang, n_tokens,
           ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM quality
  ) WHERE rn = 1
)
SELECT CASE WHEN {sql_md5h60("CAST(doc_id AS VARCHAR)")} % 100 < 90
            THEN 'train' ELSE 'val' END AS split,
       lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM deduped
GROUP BY 1, lang
ORDER BY split, lang
""",
)
def doc_curation_pipeline(spark, sf_dir):
    """End-to-end curation chain in ONE declarative plan — the shape a
    training-data job actually runs: quality gate (length + stopword
    ratio) -> exact dedup keeping the lowest doc_id per md5(text) ->
    deterministic hash split -> audit counts.

    Because it is one plan, Catalyst fuses the quality filter into the
    scan (pushed/codegen'd before the dedup shuffle) and the pipeline
    pays exactly TWO shuffles at any scale: the dedup hash-partition on
    md5(text) and the final tiny aggregate — the split assignment is a
    pure per-row hash, free. An imperative stage-by-stage version
    would materialize the corpus between stages."""
    d = _tokens(spark, sf_dir)
    n = F.size("w")
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    stop_ratio = (
        F.size(F.filter("w", lambda x: F.array_contains(stop_arr, x))).cast(
            "double"
        )
        / n
    )
    quality = d.filter((n >= 30) & (stop_ratio >= 0.01)).select(
        "doc_id", "text", "lang", n.alias("n_tokens")
    )
    rn = F.row_number().over(
        Window.partitionBy(F.md5("text")).orderBy("doc_id")
    )
    deduped = quality.withColumn("rn", rn).filter(F.col("rn") == 1)
    bucket = F.pmod(md5h60(F.col("doc_id").cast("string")), F.lit(100))
    split = F.when(bucket < 90, "train").otherwise("val")
    return (
        deduped.select(split.alias("split"), "lang", "n_tokens")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .orderBy("split", "lang")
    )


@query(
    "doc_repetition",
    oracle="""
WITH g AS (
  SELECT doc_id, array_to_string(w[i.i:i.i+1], ' ') AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE len(string_split(text, ' ')) >= 2) toks,
       UNNEST(generate_series(1, len(w) - 1)) AS i(i)
),
cnt AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_2grams,
       ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
         AS uniq_frac,
       ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
         AS top_frac
FROM cnt
GROUP BY doc_id
ORDER BY doc_id
""",
)
def doc_repetition(spark, sf_dir):
    """Repetition-based quality scores (the Gopher/MassiveText rule
    family: drop documents dominated by repeated n-grams): per doc,
    the total 2-gram count, the distinct fraction, and the most
    frequent 2-gram's share. A curation pass filters on thresholds of
    these columns (e.g. top_frac > 0.2 -> boilerplate/spam).

    Shape at scale: explode to 2-grams, ONE shuffle on (doc_id, gram)
    for the counts (map-side combinable), then a per-doc aggregate
    that reuses the same doc_id-prefixed partitioning. No arrays are
    carried through the shuffle — only (doc_id, gram, count) rows."""
    d = _tokens(spark, sf_dir).filter(F.size("w") >= 2)
    grams = _maybe_spread(d).select(
        "doc_id",
        F.explode(
            # NB: bracket indexing is 0-BASED in Spark SQL lambdas
            # (element_at is the 1-based accessor)
            F.expr(
                "transform(sequence(0, size(w) - 2),"
                " i -> concat_ws(' ', w[i], w[i + 1]))"
            )
        ).alias("gram"),
    )
    cnt = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    total = F.sum("c")
    return (
        cnt.groupBy("doc_id")
        .agg(
            total.cast("long").alias("n_2grams"),
            F.round(F.count(F.lit(1)).cast("double") / total.cast("double"), 6).alias(
                "uniq_frac"
            ),
            F.round(F.max("c").cast("double") / total.cast("double"), 6).alias(
                "top_frac"
            ),
        )
        .orderBy("doc_id")
    )


#: Docs with doc_id < this bound stand in for the "evaluation
#: benchmark" set in the decontamination query.
BENCH_SET_MAX_ID = 20


@query(
    "doc_contamination",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES}),
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < {BENCH_SET_MAX_ID}),
scored AS (
  SELECT sh.doc_id,
         COUNT(*) AS n_shingles,
         COUNT(bench.s) AS n_overlap
  FROM sh LEFT JOIN bench ON sh.s = bench.s
  WHERE sh.doc_id >= {BENCH_SET_MAX_ID}
  GROUP BY sh.doc_id
)
SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(n_overlap AS BIGINT) AS n_overlap,
       ROUND(CAST(n_overlap AS DOUBLE) / n_shingles, 6) AS contamination
FROM scored
WHERE n_overlap > 0
ORDER BY contamination DESC, doc_id
""",
)
def doc_contamination(spark, sf_dir):
    """Benchmark decontamination: for every corpus document, the
    fraction of its 3-gram shingles that also occur in the evaluation
    set (here: docs with id < {BENCH_SET_MAX_ID} stand in for the eval
    suite) — the screen a training pipeline runs so test data does not
    leak into training data. Only contaminated docs are emitted,
    most-contaminated first.

    Scale shape: the benchmark shingle set is DISTINCT'd and
    broadcast (eval suites are tiny next to a corpus), so corpus
    shingles stream through one broadcast join and aggregate on
    doc_id — no corpus self-join, no shuffle of the benchmark side."""
    sh = _shingles(spark, sf_dir)
    bench = (
        sh.filter(F.col("doc_id") < BENCH_SET_MAX_ID)
        .select(F.col("s").alias("bs"))
        .distinct()
    )
    scored = (
        sh.filter(F.col("doc_id") >= BENCH_SET_MAX_ID)
        .join(F.broadcast(bench), sh.s == F.col("bs"), "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("bs").alias("n_overlap"),
        )
    )
    return (
        scored.filter(F.col("n_overlap") > 0)
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            F.round(
                F.col("n_overlap").cast("double") / F.col("n_shingles"), 6
            ).alias("contamination"),
        )
        .orderBy(F.desc("contamination"), "doc_id")
    )


#: Language-stratified sampling quota (docs kept per language).
QUOTA_PER_LANG = 50


@query(
    "doc_quota_sample",
    oracle=f"""
SELECT lang, rk, doc_id, n_chars FROM (
  SELECT lang, doc_id, n_chars,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY {sql_md5h60("CAST(doc_id AS VARCHAR)")}, doc_id
         ) AS INT) AS rk
  FROM documents
) WHERE rk <= {QUOTA_PER_LANG}
ORDER BY lang, rk
""",
)
def doc_quota_sample(spark, sf_dir):
    """Language-stratified QUOTA sampling: cap every language at
    {QUOTA} docs, membership decided by a pure hash of the key
    (md5h60 order, doc_id tie-break) — the deterministic counterpart
    of `df.sampleBy(fractions)`, whose Bernoulli draws neither hit the
    quota exactly nor survive a re-run. Like [[doc_train_split]], the
    selection is recomputable anywhere: no membership table ships
    with the dataset.

    Scale shape: rank <= K over a per-lang window plans as
    WindowGroupLimit (Spark >= 3.5, the reference's
    LocalWindowExec/rank-limit rewrite — OptimizerOverrides.scala:
    39-218): each map task keeps only its local top-K per language
    BEFORE the shuffle, so the exchange carries O(K x langs x tasks)
    rows, not the corpus. Low language cardinality therefore does NOT
    skew the shuffle the way a naive full-window would."""
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        md5h60(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= QUOTA_PER_LANG)
        .select("lang", "rk", "doc_id", "n_chars")
        .orderBy("lang", "rk")
    )


#: TF-IDF: top terms kept per document / minimum PMI pair support.
TFIDF_TOP_K = 3
PMI_MIN_COUNT = 25
PMI_TOP_K = 20


@query(
    "doc_tfidf_topterms",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, tok.term AS term
  FROM documents, UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS tok(term)
  WHERE tok.term <> ''
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term
),
df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
SELECT doc_id, term, tf, df, rnk FROM (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY tf.doc_id
           ORDER BY ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) DESC,
                    tf.term
         ) AS INT) AS rnk
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
) WHERE rnk <= {TFIDF_TOP_K}
ORDER BY doc_id, rnk
""",
)
def doc_tfidf_topterms(spark, sf_dir):
    """TF-IDF top-{K} terms per document — the classic
    distinctive-vocabulary signal (keyword extraction, topic drift
    monitoring) over the corpus. Three combinable aggregates: TF at
    (doc, term) grain, DF at term grain (computed FROM the TF
    relation — one derivation, not a second corpus pass), corpus size
    as a 1-row broadcast. Rank key is the ROUNDED score with a term
    tie-break, so both engines rank identical doubles (tf and df are
    exact ints; N/df is one IEEE division).

    Scale shape: the tf<->df join keys on term — stopword-hot keys are
    exactly what AQE skew-join splits; when the vocabulary is bounded
    (it usually is) the df side is broadcastable outright. The per-doc
    rank is WindowGroupLimit-pruned like [[doc_quota_sample]]. Output
    columns expose tf/df (exact ints), not the float score."""
    d = t(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.round(
        F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
    )
    w = Window.partitionBy("doc_id").orderBy(score.desc(), "term")
    return (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "rnk")
        .orderBy("doc_id", "rnk")
    )


@query(
    "doc_word_pmi",
    oracle=f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
bigrams AS (
  SELECT w[g.i] AS w1, w[g.i + 1] AS w2, CAST(COUNT(*) AS BIGINT) AS c_xy
  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS g(i)
  GROUP BY w[g.i], w[g.i + 1]
),
uni AS (
  SELECT u.word AS word, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks, UNNEST(w) AS u(word) GROUP BY u.word
),
tot AS (
  SELECT (SELECT CAST(SUM(c_xy) AS BIGINT) FROM bigrams) AS t_bi,
         (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS t_uni
)
SELECT w1, w2, c_xy, pmi FROM (
  SELECT b.w1, b.w2, b.c_xy,
         ROUND(ln((CAST(b.c_xy AS DOUBLE) / t.t_bi)
                  / ((CAST(u1.c AS DOUBLE) / t.t_uni)
                     * (CAST(u2.c AS DOUBLE) / t.t_uni))), 4) AS pmi
  FROM bigrams b
  JOIN uni u1 ON b.w1 = u1.word
  JOIN uni u2 ON b.w2 = u2.word
  CROSS JOIN tot t
  WHERE b.c_xy >= {PMI_MIN_COUNT}
)
ORDER BY pmi DESC, w1, w2
LIMIT {PMI_TOP_K}
""",
)
def doc_word_pmi(spark, sf_dir):
    """Top-{K} word-pair collocations by pointwise mutual information
    over consecutive-token bigrams — the standard phrase-mining /
    tokenizer-merge-candidate signal. Bigrams come from an in-row
    ``transform(sequence(...))`` over the token array (zero joins to
    FORM pairs — the corpus is never self-joined), then three
    combinable counts: bigram grain, unigram grain, and two 1-row
    totals. PMI inputs are exact integers, so both engines divide and
    ln() identical doubles, rounded to 4dp.

    Scale shape: one (w1, w2) shuffle for the bigram count; the two
    unigram joins key on single words — vocabulary-bounded, so the
    unigram side broadcasts; min-support (c_xy >= {MIN}) prunes the
    long tail BEFORE the joins; global top-K is TakeOrderedAndProject
    (per-partition heads, no global sort)."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("w"))
    bigrams = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 2),"
                    " i -> struct(w[i] AS w1, w[i + 1] AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    uni = (
        toks.select(F.explode("w").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = bigrams.agg(F.sum("c_xy").alias("t_bi")).crossJoin(
        uni.agg(F.sum("c").alias("t_uni"))
    )
    u1 = uni.select(F.col("word").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("c").alias("c2"))
    pmi = F.round(
        F.log(
            (F.col("c_xy").cast("double") / F.col("t_bi"))
            / (
                (F.col("c1").cast("double") / F.col("t_uni"))
                * (F.col("c2").cast("double") / F.col("t_uni"))
            )
        ),
        4,
    )
    return (
        bigrams.filter(F.col("c_xy") >= PMI_MIN_COUNT)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c_xy", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(PMI_TOP_K)
    )


#: Feature-hashing vectorizer dimensionality.
HASH_EMBED_DIM = 64


@query(
    "doc_hash_embed",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, u.term AS term
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents), UNNEST(w) AS u(term)
),
tfs AS (
  SELECT doc_id,
         ((({sql_md5h60("term")} % {HASH_EMBED_DIM}) + {HASH_EMBED_DIM}) % {HASH_EMBED_DIM}) AS slot,
         CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY 1, 2
),
top AS (
  SELECT doc_id, slot AS top_slot, tf AS top_tf FROM (
    SELECT doc_id, slot, tf,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tf DESC, slot) AS rk
    FROM tfs
  ) WHERE rk = 1
)
SELECT tfs.doc_id, CAST(COUNT(*) AS BIGINT) AS nnz,
       ROUND(sqrt(SUM(tf * tf)), 6) AS l2, top_slot, top_tf
FROM tfs JOIN top ON tfs.doc_id = top.doc_id
GROUP BY tfs.doc_id, top_slot, top_tf
ORDER BY tfs.doc_id
""",
)
def doc_hash_embed(spark, sf_dir):
    """Hashing-trick text vectorizer (feature hashing a la
    Weinberger'09): token -> slot = md5h60(token) mod {DIM}, slot
    term-frequencies = the document's sparse embedding. Deterministic
    and VOCABULARY-FREE — no fitted dictionary ships to executors, so
    the featurization runs identically on any cluster fragment, the
    property that matters when vectorizing 100 TB for the emb_*
    family downstream. Output is the oracle-stable summary (nnz, L2
    norm of exact integer counts, argmax slot with min-slot
    tie-break); production materializes the dense array in-row via
    ``transform(sequence(0, {DIM}-1), i -> coalesce(m[i], 0))`` over a
    ``map_from_entries`` of the same (slot, tf) pairs — no extra
    shuffle beyond the two combinable aggregates here.

    The argmax needs no window: ``max(struct(tf, -slot))`` folds the
    (max tf, min slot) tie-break into the same combinable aggregate
    pass (the oracle's ROW_NUMBER formulation proves equivalence)."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tfs = (
        toks.select(
            "doc_id", F.pmod(md5h60("term"), F.lit(HASH_EMBED_DIM)).alias("slot")
        )
        .groupBy("doc_id", "slot")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        tfs.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("nnz"),
            F.round(F.sqrt(F.sum(F.col("tf") * F.col("tf"))), 6).alias("l2"),
            F.max(F.struct(F.col("tf"), (-F.col("slot")).alias("ns"))).alias("top"),
        )
        .select(
            "doc_id",
            "nnz",
            "l2",
            (-F.col("top.ns")).alias("top_slot"),
            F.col("top.tf").alias("top_tf"),
        )
        .orderBy("doc_id")
    )


#: RAG chunker geometry: 200-char windows every 150 chars (50 overlap).
CHUNK_CHARS = 200
CHUNK_STRIDE = 150


@query(
    "doc_chunks",
    oracle=f"""
WITH starts AS (
  SELECT doc_id, text,
         UNNEST(generate_series(1, greatest(n_chars, 1), {CHUNK_STRIDE})) AS g
  FROM documents
)
SELECT doc_id,
       CAST((g - 1) // {CHUNK_STRIDE} AS INT) AS chunk_idx,
       CAST(g AS INT) AS chunk_start,
       CAST(length(substr(text, CAST(g AS INT), {CHUNK_CHARS})) AS INT) AS chunk_chars,
       {sql_md5h60(f"substr(text, CAST(g AS INT), {CHUNK_CHARS})")} AS chunk_hash
FROM starts
ORDER BY doc_id, chunk_idx
""",
)
def doc_chunks(spark, sf_dir):
    """RAG-style sliding-window chunker: every document becomes
    overlapping {CHUNK_CHARS}-char chunks on a {CHUNK_STRIDE}-char
    stride (50-char overlap so no retrieval context is cut mid-span).
    Start offsets come from an in-row ``sequence()`` + ``explode`` —
    the chunk grid is derived arithmetic, not data — and each chunk
    carries a deterministic :func:`~._util.md5h60` content hash, the
    key a downstream chunk-level dedup or vector index joins on.

    Scale shape: ZERO shuffles before the final ORDER BY — chunking is
    per-row expression work that stays inside whole-stage codegen, so
    100 TB chunks at scan speed; the ~1.3x row multiplication happens
    post-scan with no exchange (explode output flows straight to the
    next stage's map side)."""
    d = t(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(1).cast("long"),
        F.greatest(F.col("n_chars"), F.lit(1)).cast("long"),
        F.lit(CHUNK_STRIDE).cast("long"),
    )
    chunk = F.expr(f"substring(text, CAST(start AS INT), {CHUNK_CHARS})")
    return (
        d.select("doc_id", "text", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            ((F.col("start") - 1) / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
            F.col("start").cast("int").alias("chunk_start"),
            F.length(chunk).cast("int").alias("chunk_chars"),
            md5h60(chunk).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


#: Encoded first-occurrence key: doc_id * CHUNK_ENC + chunk_idx. The
#: chunker emits < ~1e4 chunks/doc at any plausible doc size cap, so
#: the composite min() is exact while staying a plain combinable
#: BIGINT min on both engines.
CHUNK_ENC = 10_000


@query(
    "doc_chunk_dedup",
    oracle=f"""
WITH chunks AS (
  SELECT doc_id,
         CAST((g - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
         {sql_md5h60(f"substr(text, CAST(g AS INT), {CHUNK_CHARS})")} AS h
  FROM (SELECT doc_id, text,
               UNNEST(generate_series(1, greatest(n_chars, 1),
                                      {CHUNK_STRIDE})) AS g
        FROM documents)
),
firsts AS (
  SELECT h, MIN(doc_id * {CHUNK_ENC} + chunk_idx) AS first_enc
  FROM chunks GROUP BY h
),
kept AS (
  SELECT first_enc // {CHUNK_ENC} AS doc_id, COUNT(*) AS kept_chunks
  FROM firsts GROUP BY 1
),
totals AS (
  SELECT doc_id, COUNT(*) AS total_chunks FROM chunks GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(t.total_chunks AS BIGINT) AS total_chunks,
       CAST(COALESCE(k.kept_chunks, 0) AS BIGINT) AS kept_chunks,
       ROUND(CAST(COALESCE(k.kept_chunks, 0) AS DOUBLE)
             / CAST(t.total_chunks AS DOUBLE), 6) AS retained_ratio
FROM totals t LEFT JOIN kept k ON t.doc_id = k.doc_id
ORDER BY t.doc_id
""",
)
def doc_chunk_dedup(spark, sf_dir):
    """CCNet-style sub-document dedup (Wenzek et al. 2020 dedupe
    paragraphs before training): exact dedup at CHUNK grain with a
    keep-first policy — a chunk survives iff it is the corpus-wide
    first occurrence (min (doc_id, chunk_idx)) of its content hash.
    Output is the per-document retention report a curation run logs:
    total chunks, surviving chunks, retained ratio.

    Scale shape: chunking is in-row expression work (doc_chunks); the
    dedup is ONE combinable groupBy on the 60-bit content hash whose
    shuffle rows are (hash, encoded-position) pairs — chunk BODIES
    never shuffle. The keep-first argmin folds into a plain BIGINT
    ``min`` via position encoding (doc_id * {CHUNK_ENC} + idx), so no
    window and no struct comparator in the hot aggregate. The final
    per-doc report joins two doc-grain aggregates (count of wins,
    count of chunks) — both tiny relative to the corpus.
    """
    d = t(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(1).cast("long"),
        F.greatest(F.col("n_chars"), F.lit(1)).cast("long"),
        F.lit(CHUNK_STRIDE).cast("long"),
    )
    chunk = F.expr(f"substring(text, CAST(start AS INT), {CHUNK_CHARS})")
    chunks = d.select("doc_id", "text", F.explode(starts).alias("start")).select(
        "doc_id",
        ((F.col("start") - 1) / CHUNK_STRIDE).cast("long").alias("chunk_idx"),
        md5h60(chunk).alias("h"),
    )
    firsts = chunks.groupBy("h").agg(
        F.min(F.col("doc_id") * CHUNK_ENC + F.col("chunk_idx")).alias("first_enc")
    )
    kept = (
        firsts.select((F.col("first_enc") / CHUNK_ENC).cast("long").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("kept_chunks"))
    )
    totals = chunks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("total_chunks"))
    return (
        totals.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "total_chunks",
            F.coalesce("kept_chunks", F.lit(0)).alias("kept_chunks"),
            F.round(
                F.coalesce("kept_chunks", F.lit(0)).cast("double")
                / F.col("total_chunks").cast("double"),
                6,
            ).alias("retained_ratio"),
        )
        .orderBy("doc_id")
    )


@query(
    "doc_dup_ngram_coverage",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES}),
h AS (SELECT doc_id, {sql_md5h60("s")} AS g FROM sh),
dfc AS (SELECT g, COUNT(*) AS df FROM h GROUP BY g)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS dup_shingles,
       ROUND(CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS dup_coverage
FROM h JOIN dfc USING (g)
GROUP BY doc_id
ORDER BY doc_id
""",
)
def doc_dup_ngram_coverage(spark, sf_dir):
    """Duplicated-n-gram coverage (the RefinedWeb / FineWeb dedup
    diagnostic): for each document, the fraction of its distinct
    3-gram shingles that also occur in at least one OTHER document.
    High coverage means the doc is mostly boilerplate already seen
    elsewhere — the metric curation runs plot to pick dedup
    thresholds, complementing doc_repetition (intra-doc) and
    doc_contamination (vs a benchmark set).

    Scale shape: shingles hash to 60-bit ints in-row, so the shuffle
    carries (long, long) pairs, never shingle strings. The document
    frequency is a whole-partition ``count().over(partitionBy(g))``
    window rather than a groupBy + join-back: the corpus is shingled
    and shuffled ONCE (the join form re-derives the shingle relation
    for each consumer — two full corpus passes; measured 1.45x slower
    at sf0.1). The oracle keeps the groupBy+join form, proving the
    window rewrite equivalent. A doc with every shingle unique scores
    0; exact duplicates score 1.
    """
    sh = _shingles(spark, sf_dir).select("doc_id", md5h60("s").alias("g"))
    shd = sh.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("g"))
    )
    return (
        shd.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias("dup_shingles"),
            F.round(
                F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("dup_coverage"),
        )
        .orderBy("doc_id")
    )


@query(
    "doc_cluster_dedup",
    oracle=f"""
WITH RECURSIVE pairs AS (
  SELECT d1, d2 FROM ({_SQL_NEARDUP_PAIRS}) p
),
edges AS (
  SELECT d1 AS u, d2 AS v FROM pairs
  UNION ALL
  SELECT d2 AS u, d1 AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
labels AS (
  SELECT u AS doc_id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
),
toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
),
docs AS (
  SELECT t.doc_id, COALESCE(l.component, t.doc_id) AS cluster, t.n_tokens
  FROM toks t LEFT JOIN labels l ON t.doc_id = l.doc_id
),
ranked AS (
  SELECT doc_id, cluster, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY cluster
                            ORDER BY n_tokens DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY cluster) AS cs
  FROM docs
)
SELECT doc_id,
       CAST(cluster AS BIGINT) AS cluster,
       CAST(cs AS BIGINT) AS cluster_size,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CASE WHEN rn = 1 THEN 1 ELSE 0 END AS keep
FROM ranked
ORDER BY doc_id
""",
)
def doc_cluster_dedup(spark, sf_dir):
    """The corpus-rewrite step that CLOSES the near-dup pipeline:
    every document gets its near-dup cluster label (connected
    components over the verified MinHash pair graph; singletons are
    their own cluster) and a keep/drop decision — keep the LONGEST
    doc per cluster, ties to the lowest doc_id (the standard
    keep-best-representative policy; swap n_tokens for any quality
    score without changing the shape).

    Scale shape: the iterative part (components) touches only the
    pair GRAPH (operators/graph.py pointer jumping, O(log diameter)
    rounds); the corpus itself is touched exactly twice — once to
    tokenize into (doc_id, n_tokens) and once conceptually as the
    decision table join, both at doc grain. The per-cluster argmax
    folds into a combinable ``max_by(doc_id, n_tokens*10^15 - doc_id)``
    HashAggregate (a struct comparator would demote the pass to
    SortAggregate — the events_ohlc lesson; the packed DECIMAL key
    keeps fixed-width buffers, tie-exact for doc_id < 10^15), and the
    winners relation (one row per cluster) joins back at doc grain.
    The oracle reaches the same fixpoint via WITH RECURSIVE +
    ROW_NUMBER.
    """
    pairs = _neardup_pairs(spark, sf_dir).select("d1", "d2")
    labels = connected_components(pairs, src="d1", dst="d2")
    toks = _tokens(spark, sf_dir).select(
        "doc_id", F.size("w").cast("long").alias("n_tokens")
    )
    docs = (
        toks.join(labels, toks.doc_id == labels.vertex, "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster"),
            "n_tokens",
        )
    )
    okey = F.col("n_tokens").cast("decimal(38,0)") * 1_000_000_000_000_000 - F.col(
        "doc_id"
    )
    best = docs.groupBy("cluster").agg(
        F.max_by("doc_id", okey).alias("keep_doc"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    return (
        docs.join(best, "cluster")
        .select(
            "doc_id",
            "cluster",
            "cluster_size",
            "n_tokens",
            F.when(F.col("doc_id") == F.col("keep_doc"), 1)
            .otherwise(0)
            .alias("keep"),
        )
        .orderBy("doc_id")
    )


@query(
    "doc_rarity",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
w AS (
  SELECT doc_id, COUNT(*) OVER (PARTITION BY term) AS c
  FROM tok WHERE term <> ''
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(MIN(c) AS BIGINT) AS min_tf,
       ROUND(CAST(SUM(CAST(ROUND(1.0 / c, 9) AS DECIMAL(28,9))) AS DOUBLE)
             / COUNT(*), 6) AS mean_inv_freq
FROM w
GROUP BY doc_id
ORDER BY doc_id
""",
)
def doc_rarity(spark, sf_dir):
    """Token-rarity quality proxy (the LM-free stand-in for CCNet's
    perplexity filter): per document, the mean INVERSE corpus
    frequency of its tokens, the hapax count, and the rarest token's
    frequency — high mean-inverse-frequency flags gibberish/noise,
    near-zero flags boilerplate.

    Scale shape: corpus frequency is ``count().over(partitionBy
    (term))`` — the corpus tokenizes and shuffles ONCE (the
    doc_dup_ngram_coverage discipline; shuffle rows are (doc_id,
    term)); the per-doc rollup is one combinable aggregate. Float
    discipline: each token's 1/c divides identically in IEEE754 on
    both engines, is rounded to 9dp, and accumulates as
    DECIMAL(28,9) — an ORDER-FREE sum, so partial-aggregation order
    can never flip the 6dp output (the emb_kmeans convention).
    """
    toks = (
        _tokens(spark, sf_dir)
        .select("doc_id", F.explode("w").alias("term"))
        .filter(F.col("term") != "")
    )
    c = F.count(F.lit(1)).over(Window.partitionBy("term"))
    w = toks.select("doc_id", c.alias("c"))
    inv = F.round(F.lit(1.0) / F.col("c"), 9).cast("decimal(28,9)")
    return (
        w.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
            F.min("c").alias("min_tf"),
            F.round(
                F.sum(inv).cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_inv_freq"),
        )
        .orderBy("doc_id")
    )


#: PII patterns — identical Java-regex / RE2 subset (no lookaround,
#: no backrefs): character classes, bounded repetition, \b, \d only.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d{2}-\d{3}-\d{4}"

#: DuckDB twin of the payload construction in doc_pii_scrub. The email
#: domain is a FIXED literal (ex.org), not derived from the `source`
#: column — a regenerated corpus with regex-hostile characters in
#: source (e.g. underscores) must not silently break the n_email>=1
#: invariant (ADVICE round 6).
_SQL_PII_PAYLOAD = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@ex.org ip 10.' || CAST(doc_id % 200 AS VARCHAR)"
    " || '.0.7 call +44-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


@query(
    "doc_pii_scrub",
    oracle=f"""
WITH p AS (
  SELECT doc_id, {_SQL_PII_PAYLOAD} AS payload FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(payload, '{PII_EMAIL}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(payload, '{PII_IP}')) AS BIGINT) AS n_ip,
       CAST(len(regexp_extract_all(payload, '{PII_PHONE}')) AS BIGINT) AS n_phone,
       CAST(length(payload)
            - length(regexp_replace(regexp_replace(regexp_replace(
                payload, '{PII_EMAIL}', '', 'g'), '{PII_PHONE}', '', 'g'),
                '{PII_IP}', '', 'g')) AS BIGINT) AS removed_chars
FROM p
ORDER BY doc_id
""",
)
def doc_pii_scrub(spark, sf_dir):
    """PII detection + redaction audit (the pre-training scrub pass:
    emails, IPv4 addresses, phone numbers). The synthetic corpus
    carries no organic PII, so the query first INJECTS a
    deterministic, column-derived PII suffix into every document
    (inject-then-scrub — the standard way to make a scrubber's oracle
    non-vacuous), then counts matches per category and measures the
    characters a full redaction removes.

    Scale shape: a pure per-row regex expression pipeline — zero
    shuffles, whole-stage codegen end-to-end, embarrassingly parallel
    at any corpus size. The regexes are written in the Java-regex /
    RE2 common subset so Spark and DuckDB agree match-for-match.
    Reference analog: per-row projection discipline of
    ColumnarConditionProjectExec (a ``filter`` + ``select``, which
    whole-stage codegen fuses into one stage)."""
    d = t(spark, sf_dir, "documents")
    payload = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@ex.org ip 10."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(".0.7 call +44-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    p = d.select("doc_id", payload.alias("payload"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("payload"), PII_EMAIL, ""),
            PII_PHONE,
            "",
        ),
        PII_IP,
        "",
    )
    return p.select(
        "doc_id",
        F.size(F.regexp_extract_all("payload", F.lit(PII_EMAIL), 0))
        .cast("long")
        .alias("n_email"),
        F.size(F.regexp_extract_all("payload", F.lit(PII_IP), 0))
        .cast("long")
        .alias("n_ip"),
        F.size(F.regexp_extract_all("payload", F.lit(PII_PHONE), 0))
        .cast("long")
        .alias("n_phone"),
        (F.length("payload") - F.length(scrubbed)).cast("long").alias("removed_chars"),
    ).orderBy("doc_id")


#: Sequence-packing context budget (tokens) and shard fan-out.
PACK_BUDGET = 256
PACK_SHARDS = 8


@query(
    "doc_pack_sequences",
    oracle=f"""
WITH d AS (
  SELECT lang, doc_id % {PACK_SHARDS} AS shard, doc_id,
         len(string_split(text, ' ')) AS tok
  FROM documents
),
c AS (
  SELECT lang, shard, doc_id, tok,
         SUM(tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM d
)
SELECT lang, shard,
       CAST(FLOOR((cum - tok) / {PACK_BUDGET}) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS bin_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc
FROM c
GROUP BY lang, shard, bin
ORDER BY lang, shard, bin
""",
)
def doc_pack_sequences(spark, sf_dir):
    """Sequence packing for training batches (concatenate-and-chunk):
    documents are laid end-to-end in a deterministic order within each
    (lang, shard) stream and assigned to the fixed-token-budget bin
    their START offset falls in — the vocabulary-free version of
    packing examples into context windows. Reports per-bin document
    count, token fill, and the first document (for reproducible batch
    manifests).

    Scale shape: ONE shuffle on (lang, shard) for the running-total
    window, then a combinable rollup. The shard key (doc_id mod
    PACK_SHARDS) bounds every window partition to corpus/|langs|/
    PACK_SHARDS rows — at 100 TB raise PACK_SHARDS so each stream
    fits an executor; packing stays deterministic because membership
    is a pure function of (lang, doc_id), never of layout. Greedy
    start-offset assignment is order-exact in both engines (BIGINT
    arithmetic only)."""
    d = t(spark, sf_dir, "documents").select(
        "lang",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        "doc_id",
        F.size(F.split("text", " ")).alias("tok"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("cum", F.sum("tok").over(w))
    return (
        c.select(
            "lang",
            "shard",
            F.floor((F.col("cum") - F.col("tok")) / PACK_BUDGET)
            .cast("long")
            .alias("bin"),
            "doc_id",
            "tok",
        )
        .groupBy("lang", "shard", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("lang", "shard", "bin")
    )


#: Per-language keep rates (per-mille) — the low-resource-upsampling
#: mixture: keep all zh, downsample abundant en hardest.
MIX_RATES = {"en": 500, "de": 800, "es": 900, "fr": 700, "zh": 1000}


@query(
    "doc_mixture_sample",
    oracle=f"""
WITH d AS (
  SELECT lang, n_chars,
         CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 800 WHEN 'es' THEN 900
                   WHEN 'fr' THEN 700 ELSE 1000 END AS rate,
         {sql_md5h60("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000 AS bucket
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN bucket < rate THEN n_chars ELSE 0 END) AS BIGINT)
         AS kept_chars,
       CAST(MIN(rate) AS BIGINT) AS rate_permille
FROM d
GROUP BY lang
ORDER BY lang
""",
)
def doc_mixture_sample(spark, sf_dir):
    """Deterministic weighted mixture sampling: each language keeps a
    target per-mille of its documents (upsample-the-tail mixture
    weights) decided by a salted portable hash of the key — so the
    sampled corpus is identical across runs, engines, and cluster
    sizes, and any worker can recompute membership without a
    manifest. Audits achieved counts/chars per language.

    Scale shape: membership is a per-row expression (zero shuffles);
    the audit is one combinable 5-group aggregate. The hash is salted
    ('mix:' prefix) so this draw is INDEPENDENT of doc_train_split's
    — composing pipeline stages never correlates their samples."""
    d = t(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("lang") == "en", MIX_RATES["en"])
        .when(F.col("lang") == "de", MIX_RATES["de"])
        .when(F.col("lang") == "es", MIX_RATES["es"])
        .when(F.col("lang") == "fr", MIX_RATES["fr"])
        .otherwise(MIX_RATES["zh"])
    )
    bucket = F.pmod(
        md5h60(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))),
        F.lit(1000),
    )
    keep = F.col("bucket") < F.col("rate")
    return (
        d.select("lang", "n_chars", rate.alias("rate"), bucket.alias("bucket"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(keep, F.col("n_chars")).otherwise(0)).alias("kept_chars"),
            F.min("rate").cast("long").alias("rate_permille"),
        )
        .orderBy("lang")
    )


#: Count-min sketch geometry: d hash rows x w slots. 4x256 keeps the
#: whole sketch at 1024 counters — broadcast-size at ANY corpus scale.
CMS_D = 4
CMS_W = 256
CMS_TOPK = 20


@query(
    "doc_cms_heavyhitters",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, u.term FROM (
    SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
  ) d, UNNEST(d.w) AS u(term)
  WHERE u.term <> ''
),
exact AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS exact_cnt
  FROM toks GROUP BY term
),
slots AS (
  SELECT r.r AS r,
         ((({sql_md5h60("term || '#' || CAST(r.r AS VARCHAR)")}) % {CMS_W})
          + {CMS_W}) % {CMS_W} AS slot,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM toks, UNNEST(generate_series(0, {CMS_D - 1})) AS r(r)
  GROUP BY r.r, slot
),
top AS (
  SELECT term, exact_cnt FROM exact
  ORDER BY exact_cnt DESC, term LIMIT {CMS_TOPK}
),
est AS (
  SELECT t.term, t.exact_cnt, MIN(s.c) AS cms_est
  FROM top t
  JOIN (SELECT t2.term, r.r AS r,
               ((({sql_md5h60("t2.term || '#' || CAST(r.r AS VARCHAR)")})
                 % {CMS_W}) + {CMS_W}) % {CMS_W} AS slot
        FROM top t2, UNNEST(generate_series(0, {CMS_D - 1})) AS r(r)) h
    ON h.term = t.term
  JOIN slots s ON s.r = h.r AND s.slot = h.slot
  GROUP BY t.term, t.exact_cnt
)
SELECT term, exact_cnt, cms_est, cms_est - exact_cnt AS overcount
FROM est
ORDER BY exact_cnt DESC, term
""",
)
def doc_cms_heavyhitters(spark, sf_dir):
    """Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005):
    the mergeable FREQUENCY sketch completing the sketch family
    (rel_hll_union = distinct counts, rel_bitmap_distinct = exact
    distinct, this = per-key frequencies). Every token increments one
    slot per hash row; a term's estimate is the MIN over its d row
    counters — always >= the exact count, equal when no collision.
    The query proves the sketch: exact top-{CMS_TOPK} terms joined to
    their sketch estimates with the overcount surfaced.

    Scale shape: the sketch build is ONE combinable aggregate whose
    output is d x w = {CMS_D}x{CMS_W} counters REGARDLESS of corpus
    size or vocabulary — the state you ship/union across shards
    (vs the exact path's O(vocabulary) shuffle, computed here only to
    grade the sketch). Slots use md5h60 (cross-engine identical);
    Spark pmod == the DuckDB ((x % w) + w) % w form. At 100 TB you
    keep the 1024 counters and drop the exact branch.
    """
    toks = (
        _maybe_spread(_tokens(spark, sf_dir))
        .select(F.explode(F.split(F.lower("text"), " ")).alias("term"))
        .filter(F.col("term") != "")
    )
    rows = F.array(*[F.lit(r) for r in range(CMS_D)])
    slot = F.pmod(
        md5h60(F.concat(F.col("term"), F.lit("#"), F.col("r").cast("string"))),
        F.lit(CMS_W),
    )
    sketch = (
        toks.select("term", F.explode(rows).alias("r"))
        .select("r", slot.alias("slot"))
        .groupBy("r", "slot")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = toks.groupBy("term").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top = exact.orderBy(F.desc("exact_cnt"), "term").limit(CMS_TOPK)
    top_slots = top.select(
        "term", "exact_cnt", F.explode(rows).alias("r")
    ).select("term", "exact_cnt", "r", slot.alias("slot"))
    return (
        top_slots.join(F.broadcast(sketch), ["r", "slot"])
        .groupBy("term", "exact_cnt")
        .agg(F.min("c").alias("cms_est"))
        .select(
            "term",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
        )
        .orderBy(F.desc("exact_cnt"), "term")
    )


#: Bloom-filter geometry for the probabilistic decontamination pass:
#: m bits, k hash functions. 32768x3 keeps the filter a 4 KiB
#: bitset — the state you broadcast at ANY benchmark size.
BLOOM_M = 32768
BLOOM_K = 3


@query(
    "doc_bloom_contamination",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES}),
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < {BENCH_SET_MAX_ID}),
bloom AS (
  SELECT DISTINCT
         ((({sql_md5h60("s || '#b' || CAST(k.k AS VARCHAR)")}) % {BLOOM_M})
          + {BLOOM_M}) % {BLOOM_M} AS pos
  FROM bench, UNNEST(generate_series(0, {BLOOM_K - 1})) AS k(k)
),
corpus AS (SELECT doc_id, s FROM sh WHERE doc_id >= {BENCH_SET_MAX_ID}),
tested AS (
  SELECT c.doc_id, c.s,
         (COUNT(b.pos) = {BLOOM_K}) AS bloom_hit
  FROM (
    SELECT doc_id, s,
           ((({sql_md5h60("s || '#b' || CAST(k.k AS VARCHAR)")})
             % {BLOOM_M}) + {BLOOM_M}) % {BLOOM_M} AS pos
    FROM corpus, UNNEST(generate_series(0, {BLOOM_K - 1})) AS k(k)
  ) c
  LEFT JOIN bloom b ON c.pos = b.pos
  GROUP BY c.doc_id, c.s
),
exact AS (
  SELECT c.doc_id, c.s, (bench.s IS NOT NULL) AS exact_hit
  FROM corpus c LEFT JOIN bench ON c.s = bench.s
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN e.exact_hit THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact,
       CAST(SUM(CASE WHEN t.bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bloom,
       CAST(SUM(CASE WHEN t.bloom_hit AND NOT e.exact_hit
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
FROM tested t JOIN exact e ON t.doc_id = e.doc_id AND t.s = e.s
GROUP BY t.doc_id
ORDER BY t.doc_id
""",
)
def doc_bloom_contamination(spark, sf_dir):
    """Bloom-filter benchmark decontamination — the PROBABILISTIC
    scale path beside doc_contamination's exact broadcast set. The
    benchmark's shingles fold into an m={BLOOM_M}, k={BLOOM_K} Bloom
    filter (a fixed 4 KiB bitset however large the benchmark
    grows); each corpus shingle is flagged iff ALL k of its bit
    positions are set. The query grades the filter per document:
    exact overlap, bloom overlap (always >=), and the false-positive
    count — making the never-false-negative guarantee and the FP
    rate both oracle-checked values, not assumptions.

    Scale shape: the filter build is a distinct-positions aggregate
    over the (tiny) benchmark side; the corpus-side test is a
    broadcast join on bit position with a count-==-k fold per
    shingle — one corpus pass, no corpus self-join, and the shipped
    state is O(m) bits, not O(benchmark shingles). md5h60 positions
    are cross-engine identical; Spark pmod == DuckDB's
    ((x % m) + m) % m.
    """
    sh = _shingles(spark, sf_dir)
    bench = (
        sh.filter(F.col("doc_id") < BENCH_SET_MAX_ID).select("s").distinct()
    )
    ks = F.array(*[F.lit(k) for k in range(BLOOM_K)])
    pos = F.pmod(
        md5h60(F.concat(F.col("s"), F.lit("#b"), F.col("k").cast("string"))),
        F.lit(BLOOM_M),
    )
    bloom = (
        bench.select("s", F.explode(ks).alias("k"))
        .select(pos.alias("pos"))
        .distinct()
        .withColumn("set_bit", F.lit(1))
    )
    corpus = sh.filter(F.col("doc_id") >= BENCH_SET_MAX_ID)
    tested = (
        corpus.select("doc_id", "s", F.explode(ks).alias("k"))
        .select("doc_id", "s", pos.alias("pos"))
        .join(F.broadcast(bloom), "pos", "left")
        .groupBy("doc_id", "s")
        .agg((F.count("set_bit") == BLOOM_K).alias("bloom_hit"))
    )
    exact = (
        corpus.join(
            F.broadcast(bench.withColumn("in_bench", F.lit(1))), "s", "left"
        )
        .select("doc_id", "s", F.col("in_bench").isNotNull().alias("exact_hit"))
    )
    return (
        tested.join(exact, ["doc_id", "s"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("exact_hit"), 1).otherwise(0)).alias("n_exact"),
            F.sum(F.when(F.col("bloom_hit"), 1).otherwise(0)).alias("n_bloom"),
            F.sum(
                F.when(F.col("bloom_hit") & ~F.col("exact_hit"), 1).otherwise(0)
            ).alias("n_false_pos"),
        )
        .orderBy("doc_id")
    )
