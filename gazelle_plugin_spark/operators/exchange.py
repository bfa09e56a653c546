"""Exchange and the skewed-join rule.

ColumnarShuffleExchangeExec's partitioning modes — SinglePartition,
RoundRobin, Hash, Range (reference:
org/apache/spark/sql/execution/ColumnarShuffleExchangeExec.scala:
114,247,304-344; native splitters cpp/shuffle/splitter.h:297-344) —
are ``coalesce(1)``, ``repartition(n)``, ``repartition(n, *keys)`` and
``repartitionByRange(n, *keys)`` here, and builders call them
directly. The reference's custom shuffle manager, Arrow IPC
serialization and per-column lz4/fastpfor compression are replaced
wholesale by Spark's sort shuffle + `spark.io.compression.codec`
(SURVEY.md §2.8).

What this module holds is the measured rule for an equi-join whose
fact side has a hot key (:func:`choose_join_strategy`), its live
caller (:func:`skew_aware_join`) and the salted shape it can pick
(:func:`salted_join`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


#: The thresholds choose_join_strategy decides by: Spark's own
#: broadcast fence, AQE's skewedPartitionThresholdInBytes and
#: skewedPartitionFactor defaults, the session profile's shuffle
#: width, and the hot-partition floor under which skew cannot dominate
#: a stage's critical path.
BROADCAST_THRESHOLD = 10 * 2**20
AQE_SKEW_THRESHOLD = 256 * 2**20
AQE_SKEW_FACTOR = 5.0
SHUFFLE_PARTITIONS = 32
SALT_FLOOR_BYTES = 30 * 2**20


def choose_join_strategy(dim_bytes: int, fact_bytes: int, hot_key_share: float) -> str:
    """The measured skew operating rule (SCALE.md round-13, measured
    on measurements/skew_r13.jsonl's result-hash-identical 3-variant
    hot-key study), as code instead of prose. Returns one of
    ``"broadcast"`` / ``"plain"`` / ``"salted"`` for an equi-join of a
    skewed fact against a dim.

    Decision order:

    1. **broadcast** when the dim fits the broadcast threshold (hint
       it with ``F.broadcast`` — with no shuffled build side the
       salted shape is moot). Same pick-smaller-side intent as the
       reference's JoinSelectionOverrides (reference:
       StrategyOverrides.scala:39-78), with Spark's own 10 MB default
       as the fence (the raised 64 MB profile measurably regressed
       sf1 stars — SCALE.md round-13).
    2. **plain** when the hot key's partition meets BOTH of AQE's
       skew-split preconditions — ``skewedPartitionThresholdInBytes``
       (256 MB default) AND ``skewedPartitionFactor`` (5x) times the
       median partition size (estimated here as the even 1/partitions
       share): only then does OptimizeSkewedJoin split at runtime, and
       salting would just add dim-replication shuffle on top. A large
       hot partition among uniformly large partitions fails the 5x
       factor and falls through (round-14 ADVICE: size alone never
       triggers the split).
    3. **salted** in the measured in-between band: the hot partition
       is big enough to dominate the stage's critical path (above
       ``SALT_FLOOR_BYTES`` and materially above the even-spread
       share) but UNDER the AQE threshold, where the study showed
       OptimizeSkewedJoin never fires (90 MB hot partition: max/p50
       task spread 10.5x plain vs 1.28x salted at 9.4x shuffle cost —
       on a 1000-executor cluster stage time IS max-task time).
    4. **plain** otherwise — healthy spread; salting's dim
       replication buys nothing.

    ``hot_key_share`` is the hottest key's fraction of fact rows (a
    cheap ``groupBy(key).count`` top-1 estimate, or a prior). The hot
    partition estimate is ``fact_bytes * hot_key_share``: one key
    always hashes to one partition regardless of partition count.
    """
    if not 0.0 <= hot_key_share <= 1.0:
        raise ValueError(f"hot_key_share must be in [0, 1], got {hot_key_share}")
    if dim_bytes <= BROADCAST_THRESHOLD:
        return "broadcast"
    hot_partition = fact_bytes * hot_key_share
    even_share = 1.0 / SHUFFLE_PARTITIONS
    if (
        hot_partition >= AQE_SKEW_THRESHOLD
        and hot_key_share >= AQE_SKEW_FACTOR * even_share
    ):
        return "plain"
    if hot_partition >= SALT_FLOOR_BYTES and hot_key_share >= 4 * even_share:
        return "salted"
    return "plain"


def skew_aware_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    *,
    dim_bytes: int,
    fact_bytes: int,
    hot_key_share: float,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """The live caller of :func:`choose_join_strategy` (round-14
    verdict task 5): an equi-join of a skewed ``left`` (fact) against
    ``right`` (dim) that consults the measured skew rule instead of
    leaving regime choice to the caller's judgment — the analog of the
    reference's JoinSelectionOverrides being a live strategy, not
    documentation (reference: StrategyOverrides.scala:39-78).

    ``dim_bytes`` / ``fact_bytes`` / ``hot_key_share`` are the caller's
    size estimates (catalog stats, a prior, or a cheap top-1 key
    count). Dispatch:

    - ``"broadcast"`` → plain join with an explicit ``F.broadcast``
      hint on the dim (threshold-independent — the r13 lesson).
    - ``"plain"`` → plain shuffled join; AQE owns any runtime split.
    - ``"salted"`` → :func:`salted_join` with ``salt`` buckets.

    The chosen regime is observable in the physical plan (broadcast →
    BroadcastHashJoin; salted → the explode+salt shape); tests pin the
    regime transitions on planted-skew fixtures.
    """
    from pyspark.sql import functions as F

    strategy = choose_join_strategy(dim_bytes, fact_bytes, hot_key_share)
    if strategy == "salted":
        return salted_join(left, right, left_key, right_key, salt=salt, how=how)
    if how not in ("inner", "left_outer"):
        raise ValueError("skew_aware_join supports how='inner'|'left_outer'")
    dim = F.broadcast(right) if strategy == "broadcast" else right
    return left.join(dim, left[left_key] == right[right_key], how)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with explicit key salting for EXTREME skew — the
    manual fallback when AQE's skew-join splitting isn't enough (AQE
    splits oversized partitions, but a single hot KEY still lands in
    one task; salting splits the key itself).

    The left (skewed) side gets a deterministic salt in [0, salt)
    derived from row content via xxhash64 on all columns — no rand(),
    so the plan stays deterministic/retry-safe. The right side is
    replicated ``salt`` times via explode, so every (key, salt) bucket
    finds its match. Cost: right side x salt — use for fact-x-dim
    joins where dim replication is cheap, never fact-x-fact.

    Reference contrast: Gazelle leaned on AQE partition resize before
    SHJ (ShufflePartitionUtils.reoptimizeShuffledHashJoinInput); key
    salting was out of scope. Supported how: inner / left_outer.

    The salt column name is reserved: inputs that already carry it are
    rejected (a silent ``withColumn`` replace would corrupt caller
    data and make the join condition ambiguous). Salt derivation hashes
    only hashable-typed left columns — map columns (xxhash64 rejects
    MapType) are excluded; the join key is always included.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    SALT = "__gazelle_salt"
    if how not in ("inner", "left_outer"):
        raise ValueError("salted_join supports how='inner'|'left_outer'")
    for side, df in (("left", left), ("right", right)):
        if SALT in df.columns:
            raise ValueError(
                f"salted_join: {side} input already has reserved column {SALT!r}"
            )

    def _hashable(dt) -> bool:
        if isinstance(dt, MapType):
            return False
        # nested containers can smuggle a map in
        if hasattr(dt, "elementType"):
            return _hashable(dt.elementType)
        if hasattr(dt, "fields"):
            return all(_hashable(f.dataType) for f in dt.fields)
        return True

    if left_key not in left.columns:
        raise ValueError(
            f"salted_join: left key {left_key!r} is not a column of the left "
            f"input (has: {left.columns})"
        )
    hash_cols = [f.name for f in left.schema.fields if _hashable(f.dataType)]
    if left_key not in hash_cols:
        raise ValueError(f"salted_join: left key {left_key!r} is not hashable")
    lsalt = F.pmod(F.xxhash64(*[F.col(c) for c in hash_cols]), F.lit(salt))
    l = left.withColumn(SALT, lsalt)
    r = right.withColumn(SALT, F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    out = l.join(
        r,
        (l[left_key] == r[right_key]) & (l[SALT] == r[SALT]),
        how,
    )
    return out.drop(SALT)
