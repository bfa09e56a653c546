"""Quality gates for the LLM-data-pipeline queries: scale-shape plan
assertions (no all-pairs joins) and ANN recall against the brute-force
baseline."""

from __future__ import annotations

from pyspark.sql import functions as F

from gazelle_plugin_spark.plans import all_queries
from tests.conftest import SF_MED

QUERIES = all_queries()


def _plan(spark, name):
    return (
        QUERIES[name](spark, SF_MED)._jdf.queryExecution().executedPlan().toString()
    )


def test_minhash_dedup_no_all_pairs(spark):
    """The near-dup candidate join must be a bucketed equi-join on the
    band signature — never a cartesian/all-pairs comparison."""
    plan = _plan(spark, "doc_minhash_neardup")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_lsh_topk_no_cartesian(spark):
    """LSH candidate generation joins on (band, sig). The only
    nested-loop allowed is the broadcast of the 16 bounded hyperplane
    vectors for signature computation."""
    plan = _plan(spark, "emb_lsh_topk")
    assert "CartesianProduct" not in plan, plan


def test_exact_dedup_single_shuffle(spark):
    """Exact dedup is one hash aggregate over md5(text) — no join."""
    plan = _plan(spark, "doc_exact_dedup")
    assert "Join" not in plan, plan


def test_lsh_recall_vs_bruteforce(spark):
    """The ANN path must actually find neighbors: recall@10 against
    the exact baseline. 4 bands x 4 bits on 64-dim random vectors
    lands ~0.5; the bound is a regression tripwire, not a target."""
    bf = {(r.q_id, r.vec_id) for r in QUERIES["emb_topk_cosine"](spark, SF_MED).collect()}
    lsh = {(r.q_id, r.vec_id) for r in QUERIES["emb_lsh_topk"](spark, SF_MED).collect()}
    recall = len(bf & lsh) / len(bf)
    assert recall >= 0.3, f"LSH recall@10 collapsed: {recall}"


def test_ivf_recall_vs_bruteforce(spark):
    """IVF with nprobe=3 of 10 label-buckets on unclustered random
    vectors: recall is bucket-coverage-bound (~nprobe/k); assert the
    plumbing finds a reasonable fraction and never returns a
    non-bucket vector."""
    bf = {(r.q_id, r.vec_id) for r in QUERIES["emb_topk_cosine"](spark, SF_MED).collect()}
    ivf = {(r.q_id, r.vec_id) for r in QUERIES["emb_ivf_search"](spark, SF_MED).collect()}
    recall = len(bf & ivf) / len(bf)
    assert recall >= 0.2, f"IVF recall collapsed: {recall}"


def test_minhash_finds_planted_neardups(spark):
    """The synthetic corpus plants near-duplicate documents; the
    banded MinHash pipeline must surface them (>= 10 verified pairs at
    sf0.01) with high verified Jaccard."""
    rows = QUERIES["doc_minhash_neardup"](spark, SF_MED).collect()
    assert len(rows) >= 10
    assert all(r.jaccard >= 0.8 for r in rows)

def test_ngram_jaccard_no_all_pairs(spark):
    """DF-pruned inverted-index join: candidates come from an equi-join
    on the shingle, never a cartesian. The ONE tolerated
    BroadcastNestedLoopJoin is the 1-row broadcast df_cap aggregate
    (the corpus-scaled cap rule) — a scalar fan-out, not a pair
    explosion."""
    plan = _plan(spark, "doc_ngram_jaccard")
    assert "CartesianProduct" not in plan, plan
    # prefix (and its cap fan-out) appears on BOTH sides of the
    # candidate self-join, so at most two scalar BNLJ nodes — and
    # every one must be the df_cap broadcast, nothing else
    bnlj = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert len(bnlj) <= 2 and all("df_cap" in ln for ln in bnlj), plan
    # the candidate self-join itself must still be a hash/merge equi-join
    assert any(
        j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ), plan


def test_ngram_jaccard_superset_of_minhash(spark):
    """The deterministic n-gram Jaccard join has no false negatives
    among rare-shingle-sharing pairs, so its result must contain every
    pair the probabilistic MinHash route surfaces (both verify with the
    same exact Jaccard >= 0.8)."""
    exact = {(r.d1, r.d2) for r in QUERIES["doc_ngram_jaccard"](spark, SF_MED).collect()}
    mh = {(r.d1, r.d2) for r in QUERIES["doc_minhash_neardup"](spark, SF_MED).collect()}
    assert mh <= exact, f"minhash found pairs the exact join missed: {mh - exact}"
    assert len(exact) >= 10


def test_ngram_df_cap_schedule(spark):
    """The corpus-scaled DF cap, pinned at the measured regimes on the
    expression doc_ngram_jaccard plans and on its DuckDB twin: the
    sf0.01/sf0.1 corpora keep the historical 20 (plans and oracle
    unchanged there); the local scale study's 50k/150k-doc corpora get
    7/4; the floor holds below that."""
    import duckdb

    from gazelle_plugin_spark.plans.text_pipeline import _SQL_DF_CAP, _df_cap

    con = duckdb.connect()
    for n_docs, cap in (
        (500, 20),  # sf0.01 (oracle scale)
        (5000, 20),  # sf0.1 (bench.py scale)
        (50_000, 7),  # .scale/sf1
        (150_000, 4),  # .scale/sf3
        (10_000_000, 4),  # floor: 100 TB posture
    ):
        assert _df_cap(spark.range(n_docs)).first()["df_cap"] == cap, n_docs
        sql = f"SELECT {_SQL_DF_CAP} FROM range({n_docs})"
        assert con.execute(sql).fetchone()[0] == cap, n_docs


def test_ngram_positional_filter_sound():
    """The r16 ppjoin positional filter is LOSSLESS for J >= 0.8: for
    random set pairs with true Jaccard >= 0.8 (shared global order),
    every prefix match's overlap upper bound
    min(i-1, j-1) + 1 + min(n1-i, n2-j) admits
    9*ub >= 4*(n1+n2) — a qualifying pair is never dropped. Also pins
    the bound's validity itself: ub >= |A^B| for every match."""
    import random

    rng = random.Random(16)
    qualifying_checked = 0
    for _ in range(500):
        universe = list(range(200))
        n1 = rng.randint(5, 60)
        a = set(rng.sample(universe, n1))
        # build b as a perturbation of a so high-J pairs occur often
        b = set(a)
        for _ in range(rng.randint(0, max(1, n1 // 4))):
            if rng.random() < 0.5 and len(b) > 3:
                b.discard(rng.choice(sorted(b)))
            else:
                b.add(rng.randrange(200))
        inter = len(a & b)
        jac = inter / len(a | b)
        sa, sb = sorted(a), sorted(b)  # the shared global ordering
        pos_a = {v: i + 1 for i, v in enumerate(sa)}
        pos_b = {v: j + 1 for j, v in enumerate(sb)}
        for v in a & b:
            i, j = pos_a[v], pos_b[v]
            ub = min(i - 1, j - 1) + 1 + min(len(sa) - i, len(sb) - j)
            assert ub >= inter, "bound must overestimate the true overlap"
            if jac >= 0.8:
                assert 9 * ub >= 4 * (len(sa) + len(sb)), (
                    f"filter dropped a qualifying match: J={jac:.3f}"
                )
                qualifying_checked += 1
    assert qualifying_checked >= 100  # the property was exercised


def test_ngram_jaccard_recall_at_aggressive_cap(spark, monkeypatch):
    """Recall floor RE-DERIVED at the floor cap (round-13 verdict
    task 1's 'or the floor must be re-derived'): force the in-plan
    cap to NGRAM_DF_MIN=4 at sf0.01 (budget -> 1 makes sqrt clamp to
    the floor) and require the exact join still to contain every
    MinHash-surfaced pair — planted near-dup pairs share pair-local
    (df~2) shingles, which survive any cap >= 2 in the rarest-first
    prefix."""
    from gazelle_plugin_spark.plans import text_pipeline as tp

    monkeypatch.setattr(tp, "NGRAM_DF_BUDGET", 1)
    exact = {(r.d1, r.d2) for r in QUERIES["doc_ngram_jaccard"](spark, SF_MED).collect()}
    mh = {(r.d1, r.d2) for r in QUERIES["doc_minhash_neardup"](spark, SF_MED).collect()}
    assert mh <= exact, f"aggressive cap lost pairs: {mh - exact}"
    assert len(exact) >= 10


def test_shingle_spread_is_conditional(spark, tmp_path):
    """_maybe_spread repartitions ONLY narrow inputs: a well-split
    corpus (file count >= session parallelism) passes through
    exchange-free — at 100 TB the input splits already parallelize and
    an unconditional repartition would be a pure extra pass (round-2
    verdict). The probe is a file-listing count, not an RDD
    translation (round-3/4 verdict: no .rdd in plan paths)."""
    from gazelle_plugin_spark.plans._util import t
    from gazelle_plugin_spark.plans.text_pipeline import _maybe_spread

    cores = spark.sparkContext.defaultParallelism
    many = str(tmp_path / "docs_many_files")
    t(spark, SF_MED, "documents").repartition(cores + 4).write.parquet(many)
    wide = spark.read.parquet(many)
    assert len(wide.inputFiles()) >= cores
    assert _maybe_spread(wide) is wide  # no plan change at all
    narrow = t(spark, SF_MED, "documents")  # single-file scan
    assert len(narrow.inputFiles()) < cores
    spread = _maybe_spread(narrow)
    assert spread is not narrow
    assert spread.rdd.getNumPartitions() > 1  # probe OK in a TEST


def test_quota_sample_caps_every_language(spark):
    """Quota semantics: no language exceeds QUOTA_PER_LANG, languages
    with fewer docs than the quota keep ALL docs, and two evaluations
    pick the same rows (hash-determinism — the property Bernoulli
    sampleBy lacks)."""
    from gazelle_plugin_spark.plans.text_pipeline import QUOTA_PER_LANG

    out = QUERIES["doc_quota_sample"](spark, SF_MED)
    per_lang = {r["lang"]: r["n"] for r in
                out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    totals = {r["lang"]: r["n"] for r in
              spark.read.parquet(SF_MED + "/documents.parquet")
              .groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in per_lang.items():
        assert n == min(QUOTA_PER_LANG, totals[lang]), (lang, n, totals[lang])
    a = {(r.lang, r.doc_id) for r in out.collect()}
    b = {(r.lang, r.doc_id) for r in QUERIES["doc_quota_sample"](spark, SF_MED).collect()}
    assert a == b


def test_kmeans_update_round_improves_inertia(spark):
    """Lloyd's guarantee: reassigning against the UPDATED centroids
    cannot increase total inertia vs assigning against the naive
    init. Evaluated via the registered query (post-update inertia)
    against a re-derivation of the init-assignment inertia."""
    from gazelle_plugin_spark.plans.similarity_queries import KM_K, _km_dist2

    post = sum(
        r["inertia"] for r in QUERIES["emb_kmeans"](spark, SF_MED).collect()
    )
    v = spark.read.parquet(SF_MED + "/embeddings.parquet").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e")
    )
    init = v.filter(F.col("vec_id") < KM_K).select(
        F.col("vec_id").alias("cl"), F.col("e").alias("ce")
    )
    pre = (
        v.crossJoin(F.broadcast(init))
        .withColumn("d2", _km_dist2("e", "ce"))
        .groupBy("vec_id")
        .agg(F.min("d2").alias("d2"))
        .agg(F.sum("d2").cast("double").alias("s"))
        .collect()[0]["s"]
    )
    assert post <= pre + 1e-6, (post, pre)


def test_tfidf_rank_prunes_with_window_group_limit(spark):
    """The per-doc top-k rank must plan as WindowGroupLimit (local
    top-k before the shuffle) — the reference's rank-limit rewrite
    target (OptimizerOverrides.scala:39-218)."""
    for name in ("doc_tfidf_topterms", "doc_quota_sample"):
        assert "WindowGroupLimit" in _plan(spark, name), name


def test_doc_chunks_cover_and_overlap(spark):
    """Chunk grid invariants: indices are contiguous from 0, starts
    advance by exactly the stride, and the final chunk reaches the end
    of the document (full coverage — no text outside any chunk)."""
    from gazelle_plugin_spark.plans.text_pipeline import CHUNK_STRIDE
    from tests.conftest import SF_SMALL

    rows = QUERIES["doc_chunks"](spark, SF_SMALL).collect()
    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "n_chars")
        .collect()
    )
    n_chars = {r.doc_id: r.n_chars for r in docs}
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(n_chars)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        for i, c in enumerate(chunks):
            assert c.chunk_start == 1 + i * CHUNK_STRIDE
        last = chunks[-1]
        # the last chunk ends exactly at the document end
        assert last.chunk_start + last.chunk_chars - 1 == n_chars[doc_id]
        # and a further start would fall past the text
        assert last.chunk_start + CHUNK_STRIDE > n_chars[doc_id]


def test_events_streak_vs_bruteforce(spark):
    """Longest-streak results equal a per-user brute-force fold over
    the sorted distinct active days."""
    from tests.conftest import SF_SMALL
    from gazelle_plugin_spark.plans.events import events

    got = {
        r.user_id: (r.longest_streak, r.streak_start.date(), r.n_active_days)
        for r in QUERIES["events_streak"](spark, SF_SMALL).collect()
    }
    days = (
        events(spark, SF_SMALL)
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
        .collect()
    )
    per_user = {}
    for r in days:
        per_user.setdefault(r.user_id, set()).add(r.d)
    assert set(got) == set(per_user)
    from datetime import timedelta

    for uid, ds in per_user.items():
        best_len, best_start = 0, None
        for d in sorted(ds):
            if d - timedelta(days=1) in ds:
                continue  # not a streak start
            length = 1
            while d + timedelta(days=length) in ds:
                length += 1
            if length > best_len:
                best_len, best_start = length, d
        assert got[uid] == (best_len, best_start, len(ds)), uid


def test_events_rfm_tiles_balanced(spark):
    """NTILE(4) invariants: tile sizes differ by at most one, every
    tile is 1..4, and the segment string is the tile concatenation."""
    from tests.conftest import SF_SMALL

    rows = QUERIES["events_rfm"](spark, SF_SMALL).collect()
    n = len(rows)
    for col in ("r_tile", "f_tile", "m_tile"):
        counts = {}
        for r in rows:
            v = getattr(r, col)
            assert 1 <= v <= 4, (col, v)
            counts[v] = counts.get(v, 0) + 1
        assert max(counts.values()) - min(counts.values()) <= 1, (col, counts)
        assert sum(counts.values()) == n
    for r in rows:
        assert r.rfm_segment == f"{r.r_tile}{r.f_tile}{r.m_tile}"


def test_emb_pq_codewords_self_match(spark):
    """A vector that IS a codeword must quantize to itself with zero
    reconstruction error; all codes lie in [0, PQ_K)."""
    from gazelle_plugin_spark.plans.similarity_queries import PQ_K, PQ_M
    from tests.conftest import SF_SMALL

    rows = QUERIES["emb_pq"](spark, SF_SMALL).collect()
    for r in rows:
        for s in range(PQ_M):
            assert 0 <= getattr(r, f"c{s}") < PQ_K
        assert r.pq_err >= 0
        if r.vec_id < PQ_K:
            assert r.pq_err == 0.0, r
            assert all(getattr(r, f"c{s}") == r.vec_id for s in range(PQ_M)), r


def test_doc_chunk_dedup_keep_first_bruteforce(spark):
    """Chunk-grain keep-first dedup equals a brute-force first-
    occurrence scan over the doc_chunks relation: per-doc totals
    match the chunk grid, kept counts equal the number of hashes
    whose corpus-min (doc_id, chunk_idx) lands in that doc, the
    kept totals sum to the number of DISTINCT hashes, and ratios
    stay in [0, 1]."""
    from tests.conftest import SF_SMALL

    chunks = QUERIES["doc_chunks"](spark, SF_SMALL).collect()
    first_by_hash = {}
    totals = {}
    for c in chunks:
        totals[c.doc_id] = totals.get(c.doc_id, 0) + 1
        key = (c.doc_id, c.chunk_idx)
        if c.chunk_hash not in first_by_hash or key < first_by_hash[c.chunk_hash]:
            first_by_hash[c.chunk_hash] = key
    kept = {}
    for doc_id, _idx in first_by_hash.values():
        kept[doc_id] = kept.get(doc_id, 0) + 1

    rows = QUERIES["doc_chunk_dedup"](spark, SF_SMALL).collect()
    assert {r.doc_id for r in rows} == set(totals)
    assert sum(r.kept_chunks for r in rows) == len(first_by_hash)
    for r in rows:
        assert r.total_chunks == totals[r.doc_id], r
        assert r.kept_chunks == kept.get(r.doc_id, 0), r
        assert 0.0 <= r.retained_ratio <= 1.0
        assert r.kept_chunks <= r.total_chunks


def test_doc_dup_ngram_coverage_bruteforce(spark):
    """Dup-shingle coverage equals a brute-force document-frequency
    count over the distinct-shingle relation; bounds hold (coverage
    in [0, 1], dup_shingles <= n_shingles), and a doc duplicated
    verbatim would score 1 — approximated here by asserting that
    every shingle shared across docs is counted on BOTH docs."""
    from gazelle_plugin_spark.plans.text_pipeline import _shingles
    from tests.conftest import SF_SMALL

    sh = _shingles(spark, SF_SMALL).collect()
    df_count = {}
    for r in sh:
        df_count[r.s] = df_count.get(r.s, 0) + 1
    per_doc_total = {}
    per_doc_dup = {}
    for r in sh:
        per_doc_total[r.doc_id] = per_doc_total.get(r.doc_id, 0) + 1
        if df_count[r.s] >= 2:
            per_doc_dup[r.doc_id] = per_doc_dup.get(r.doc_id, 0) + 1

    rows = QUERIES["doc_dup_ngram_coverage"](spark, SF_SMALL).collect()
    assert {r.doc_id for r in rows} == set(per_doc_total)
    for r in rows:
        assert r.n_shingles == per_doc_total[r.doc_id], r
        assert r.dup_shingles == per_doc_dup.get(r.doc_id, 0), r
        assert 0.0 <= r.dup_coverage <= 1.0
        assert r.dup_shingles <= r.n_shingles


def test_pii_scrub_injected_and_plan(spark):
    """Inject-then-scrub invariants: every document carries at least
    the one injected email/IP/phone, redaction removes at least the
    injected characters, and the plan is a pure per-row expression
    pipeline (no join, no Python)."""
    rows = QUERIES["doc_pii_scrub"](spark, SF_MED).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.n_email >= 1 and r.n_ip >= 1 and r.n_phone >= 1
        # shortest possible injected PII: a@b.cc (6) + 10.0.0.7 (8)
        # + +44-555-0000 (12)
        assert r.removed_chars >= 6 + 8 + 12
    plan = _plan(spark, "doc_pii_scrub")
    assert "Join" not in plan, plan
    assert "Python" not in plan, plan


def test_pack_sequences_vs_bruteforce(spark):
    """Packing equals a per-(lang, shard) greedy fold recomputed in
    Python: docs laid end-to-end in doc_id order, each assigned to the
    bin its start offset falls in."""
    from gazelle_plugin_spark.plans.text_pipeline import (
        PACK_BUDGET,
        PACK_SHARDS,
    )

    docs = (
        spark.read.parquet(f"{SF_MED}/documents.parquet")
        .select("lang", "doc_id", F.size(F.split("text", " ")).alias("tok"))
        .collect()
    )
    expect: dict[tuple, list] = {}
    streams: dict[tuple, int] = {}
    for r in sorted(docs, key=lambda r: (r.lang, r.doc_id % PACK_SHARDS, r.doc_id)):
        key = (r.lang, r.doc_id % PACK_SHARDS)
        start = streams.get(key, 0)
        streams[key] = start + r.tok
        expect.setdefault(key + (start // PACK_BUDGET,), []).append(r)
    got = QUERIES["doc_pack_sequences"](spark, SF_MED).collect()
    assert len(got) == len(expect)
    for row in got:
        members = expect[(row.lang, row.shard, row.bin)]
        assert row.n_docs == len(members)
        assert row.bin_tokens == sum(m.tok for m in members)
        assert row.first_doc == min(m.doc_id for m in members)


def test_mixture_sample_rates(spark):
    """Mixture-sampling invariants: kept counts never exceed totals,
    a rate-1000 language keeps every document, and membership is a
    pure hash (zero joins in the plan)."""
    from gazelle_plugin_spark.plans.text_pipeline import MIX_RATES

    rows = {r.lang: r for r in QUERIES["doc_mixture_sample"](spark, SF_MED).collect()}
    for lang, r in rows.items():
        assert 0 <= r.n_kept <= r.n_docs
        assert r.rate_permille == MIX_RATES.get(lang, 1000)
    assert rows["zh"].n_kept == rows["zh"].n_docs
    plan = _plan(spark, "doc_mixture_sample")
    assert "Join" not in plan, plan


def test_cms_never_underestimates(spark):
    """Count-min guarantee: the sketch estimate is >= the exact count
    for EVERY term (min over d rows of slot sums can only overcount),
    and at least one top term collides at test scale (overcount > 0
    somewhere would be ideal but is data-dependent — the hard
    guarantee is the one asserted)."""
    rows = QUERIES["doc_cms_heavyhitters"](spark, SF_MED).collect()
    assert rows
    for r in rows:
        assert r.cms_est >= r.exact_cnt, r
        assert r.overcount == r.cms_est - r.exact_cnt


def test_bloom_never_false_negative(spark):
    """Bloom guarantee: every exact benchmark overlap is also a bloom
    hit (n_bloom >= n_exact per document, n_false_pos is exactly the
    difference), and the aggregate FP rate stays under 1% at the
    32768x3 geometry."""
    rows = QUERIES["doc_bloom_contamination"](spark, SF_MED).collect()
    assert rows
    fp = tot = 0
    for r in rows:
        assert r.n_bloom >= r.n_exact, r
        assert r.n_false_pos == r.n_bloom - r.n_exact
        fp += r.n_false_pos
        tot += r.n_shingles - r.n_exact
    assert fp / tot < 0.01, (fp, tot)


def test_semdedup_drop_rule(spark):
    """SemDeDup keep-lowest-id rule: within every cell the lowest-id
    member is never dropped, and a dropped vector implies a lower-id
    cell-mate (checked structurally on the output). Also pins the
    corpus-derived cell count: k = ceil(n / target) distinct-or-fewer
    cells, and MORE than one cell at this corpus size (the fixed-k
    superlinear regression guard — r11 scale study)."""
    import math

    from gazelle_plugin_spark.plans import similarity_queries as simq

    rows = QUERIES["emb_semdedup"](spark, SF_MED).collect()
    assert rows
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r.cell_id, []).append(r)
    k = math.ceil(len(rows) / simq.SEMDEDUP_TARGET_CELL_ROWS)
    assert 1 < len(by_cell) <= k
    assert any(r.is_dropped for r in rows)
    for members in by_cell.values():
        lowest = min(members, key=lambda r: r.vec_id)
        assert not lowest.is_dropped, lowest


def test_semdedup_routed_branch_matches_oracle(spark, tmp_path):
    """The TWO-LEVEL routed assignment branch (k >=
    SEMDEDUP_ROUTED_MIN_K) never triggers at the driver test scales,
    so pin it here: a generated corpus big enough to cross the
    threshold must hash-match the oracle's routed branch exactly
    (same coarse routing, same grouped argmax, same coalesce
    fallback)."""
    import math
    import sys

    import duckdb

    sys.path.insert(0, "/root/repo/tools")
    import scale_fixtures

    from gazelle_plugin_spark.plans import ORACLE, QUERIES
    from gazelle_plugin_spark.plans import similarity_queries as simq
    from tests.compare import assert_same

    d = str(tmp_path / "corpus")
    scale_fixtures.generate(d, 0.6)  # 12,000 vectors
    n = 12_000
    k = math.ceil(n / simq.SEMDEDUP_TARGET_CELL_ROWS)
    assert k >= simq.SEMDEDUP_ROUTED_MIN_K  # the branch under test
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'"
        )
    sdf = QUERIES["emb_semdedup"](spark, d)
    assert_same(sdf, con.sql(ORACLE["emb_semdedup"]))
    pdf = sdf.toPandas()
    assert len(pdf) == n
    assert 1 < pdf.cell_id.nunique() <= k


def test_pq_round8_matches_jvm(spark):
    """:func:`_round8_int64` (the vectorized twin of the
    ``round(·,8) -> DECIMAL`` convention in the PQ code build) equals
    the live JVM's ``F.round(x, 8)`` on every probe double: ulp walks
    around decimal midpoints at four magnitudes (forcing both the
    fast floor path and the Decimal slow path), plus uniform random
    values at each magnitude."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from gazelle_plugin_spark.plans import similarity_queries as simq

    rng = np.random.default_rng(11)
    xs = []
    for center in ("0.000000125", "1.234567885", "4001.000000005",
                   "39999.999999985"):
        c = float(center)
        lo = hi = c
        xs.append(c)
        for _ in range(200):
            lo = math.nextafter(lo, 0.0)
            hi = math.nextafter(hi, math.inf)
            xs += [lo, hi]
        xs += list(rng.uniform(0, 2 * c, 200))
    arr = np.array(xs, dtype=np.float64)
    fast = simq._round8_int64(arr).astype(np.float64) / 1e8
    df = spark.createDataFrame([(float(x),) for x in xs], "x double")
    jvm = [r.r for r in df.select(F.round("x", 8).alias("r")).collect()]
    bad = [
        (xs[i], fast[i], jvm[i]) for i in range(len(xs)) if fast[i] != jvm[i]
    ]
    assert not bad, bad[:3]


def test_semdedup_round_threshold_pin(spark):
    """``_SEMDEDUP_COS_GE`` is EXACTLY the declared predicate
    ``round(cos, 6) >= SEMDEDUP_COS`` on the live JVM: walk +-300 ulps
    around the decimal boundary (tau - 0.5e-6) and assert the two
    predicates agree on every double. Pins both the shortest-repr
    HALF_UP rounding model in :func:`_round_ge_threshold` and the
    Java ``Double.toString`` / Python ``repr`` decimal agreement the
    derivation relies on."""
    import math

    from pyspark.sql import functions as F

    from gazelle_plugin_spark.plans import similarity_queries as simq

    t0 = simq._SEMDEDUP_COS_GE
    xs = [t0]
    lo = hi = t0
    for _ in range(300):
        lo = math.nextafter(lo, -math.inf)
        hi = math.nextafter(hi, math.inf)
        xs += [lo, hi]
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    rows = df.select(
        "x",
        (
            F.round("x", simq.SIM_DECIMALS) >= F.lit(simq.SEMDEDUP_COS)
        ).alias("jvm"),
        (F.col("x") >= F.lit(t0)).alias("fast"),
    ).collect()
    bad = [r for r in rows if r.jvm != r.fast]
    assert not bad, bad[:3]


def test_semdedup_group_dropped_fold_identity(spark):
    """The numpy dimension-ordered accumulation in
    :func:`_semdedup_group_dropped` is bit-identical to the JVM
    ``aggregate(zip_with(...))`` left fold it replaced: on random
    float32 vectors spanning 4 orders of magnitude, every pairwise
    cosine (dot, divide, and the n2 norms) matches the JVM value
    EXACTLY (== on doubles), so the vectorized pair stage can never
    flip a threshold decision the JVM form would not."""
    import numpy as np
    from pyspark.sql import functions as F

    from gazelle_plugin_spark.plans import similarity_queries as simq

    rng = np.random.default_rng(7)
    n = 40
    emb = (
        rng.standard_normal((n, 64))
        * rng.choice([0.01, 1.0, 100.0], (n, 1))
    ).astype(np.float32)
    rows = [(i, [float(x) for x in emb[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    v = df.withColumn("n2", simq._dot("embedding", "embedding"))
    a = v.select(
        F.col("vec_id").alias("v1"),
        F.col("embedding").alias("ea"),
        F.col("n2").alias("na"),
    )
    b = v.select(
        F.col("vec_id").alias("v2"),
        F.col("embedding").alias("eb"),
        F.col("n2").alias("nb"),
    )
    jvm_cos = {
        (r.v1, r.v2): r.cos
        for r in a.join(b, F.col("v1") < F.col("v2"))
        .select(
            "v1",
            "v2",
            (
                simq._dot("ea", "eb") / F.sqrt(F.col("na") * F.col("nb"))
            ).alias("cos"),
        )
        .collect()
    }
    jvm_n2 = {r.vec_id: r.n2 for r in v.select("vec_id", "n2").collect()}
    # numpy side: the exact accumulation _semdedup_group_dropped uses
    E = emb.astype(np.float64)
    n2 = np.zeros(n)
    dots = np.zeros((n, n))
    for j in range(64):
        col = E[:, j]
        n2 += col * col
        dots += np.multiply.outer(col, col)
    cos = dots / np.sqrt(np.multiply.outer(n2, n2))
    assert all(n2[i] == jvm_n2[i] for i in range(n))
    assert len(jvm_cos) == n * (n - 1) // 2
    bad = [
        (i, j, cos[i, j], c)
        for (i, j), c in jvm_cos.items()
        if cos[i, j] != c
    ]
    assert not bad, bad[:3]


def test_routed_kernel_empty_group_serializes(spark):
    """Property test for every numpy cogroup kernel, each run through
    :func:`_bucket_cogroup` on a live session: an empty rows side
    (buckets holding only replicated candidates — reachable whenever
    the bucket width exceeds what the rows fill, as at vanilla's 200
    partitions; r16 crashed the sf1 vanilla bench run there because a
    bare ``pd.DataFrame({col: []})`` is float64 and pyarrow cannot
    convert it to array<float>), a single row, and, for the grouped
    assignment, an empty candidate side (its coalesce-to-own-group
    fallback). The route and PQ kernels always see their full
    broadcast candidate set. Every case also runs at bucket widths 32
    (the engine profile) and 200 (vanilla's default), where most
    buckets hold no rows. Every output column must arrive as its
    declared Arrow type. An all-NaN PQ row must surface the kernel's
    ``NonFiniteEmbeddingError`` by name through the Python worker."""
    import pyarrow as pa
    import pytest

    from gazelle_plugin_spark.plans import similarity_queries as simq

    arrow = {
        "long": pa.int64(),
        "int": pa.int32(),
        "double": pa.float64(),
        "array<float>": pa.list_(pa.float32()),
    }
    rows_t = "vec_id long, g long, embedding array<float>, n2 double"
    cand_t = "g long, c_label long, ce array<float>"
    e4 = [1.0, 0.0, 0.0, 0.0]
    rows = spark.createDataFrame([(5, 1, e4, 1.0), (6, 2, e4, 1.0)], rows_t)
    # group 1 holds both candidates, group 2 none
    cand = spark.createDataFrame(
        [(1, 10, [0.0, 1.0, 0.0, 0.0]), (1, 11, e4)], cand_t
    )
    d64 = "vec_id long, e array<double>"
    pq_rows = spark.createDataFrame([(9, [1.0] * 64)], d64)
    pq_nan = spark.createDataFrame([(9, [float("nan")] * 64)], d64)
    codebook = spark.createDataFrame([(0, [0.0] * 64), (1, [1.0] * 64)], d64)
    cases = [
        # (kernel, schema, rows, candidates, width, key, checked
        # columns, expected values)
        (
            simq._route_group,
            simq._ROUTE_SCHEMA,
            rows.filter("vec_id = 5").select("vec_id", "embedding", "n2"),
            cand.select("c_label", "ce"),
            8,
            (),
            ("vec_id", "g"),
            {(5, 11)},
        ),
        (
            simq._assign_group,
            simq._ASSIGN_SCHEMA,
            rows,
            cand,
            3,
            ("g",),
            ("vec_id", "c_label"),
            {(5, 11), (6, 2)},
        ),
        (
            simq._pq_codes_group,
            simq._PQ_SCHEMA,
            pq_rows,
            codebook,
            8,
            (),
            # an exact codeword match: every code 1, error exactly 0
            ("vec_id", "c0", "c1", "c2", "c3", "err"),
            {(9, 1, 1, 1, 1, 0)},
        ),
    ]
    for kernel, schema, rows_df, cand_df, width, key, cols, expected in cases:
        for w in (width, 32, 200):
            table = simq._bucket_cogroup(
                spark, rows_df, cand_df, kernel, schema, w, key
            ).toArrow()
            declared = [f.split(" ", 1) for f in schema.split(", ")]
            assert table.schema.names == [n for n, _ in declared], (kernel, w)
            for (name, typ), field in zip(declared, table.schema):
                assert field.type == arrow[typ], (kernel, w, name, field.type)
            got = set(zip(*(table.column(c).to_pylist() for c in cols)))
            assert got == expected, (kernel, w, got)
    for w in (8, 32, 200):
        pq = simq._bucket_cogroup(
            spark, pq_nan, codebook, simq._pq_codes_group, simq._PQ_SCHEMA, w
        )
        with pytest.raises(Exception, match=r"NonFiniteEmbeddingError.*vec_id \[9\]"):
            pq.collect()


def test_pq_codes_reject_non_finite_embedding():
    """A NaN or infinite coordinate has no int64 rounded-decimal
    numerator (NaN casts to INT64_MIN, whose ``np.abs`` stays negative
    and slips past the 2^52 guard), so the PQ kernel used to return
    codes 0,0,0,0 with err 0 — a silently perfect reconstruction. It
    must raise the named error instead, naming the vector."""
    import numpy as np
    import pandas as pd
    import pytest

    from gazelle_plugin_spark.plans import similarity_queries as simq

    cb = pd.DataFrame(
        {"vec_id": [0, 1], "e": [np.zeros(64), np.ones(64)]}
    )
    ok = np.full(64, 0.5)
    for bad in (np.full(64, np.nan), np.r_[np.ones(63), np.inf]):
        corpus = pd.DataFrame({"vec_id": [7, 3], "e": [ok, bad]})
        with pytest.raises(simq.NonFiniteEmbeddingError, match=r"vec_id \[3\]"):
            simq._pq_codes_group(corpus, cb)
    # a non-finite codeword poisons every distance to it
    corpus = pd.DataFrame({"vec_id": [7], "e": [ok]})
    cb_nan = cb.assign(e=[np.zeros(64), np.full(64, np.nan)])
    with pytest.raises(simq.NonFiniteEmbeddingError, match=r"vec_id \[1\]"):
        simq._pq_codes_group(corpus, cb_nan)


def test_shuffle_width_reads_conf_with_fallback():
    """:func:`shuffle_width` is the one reader of
    ``spark.sql.shuffle.partitions`` for plan builders: a numeric conf
    is used as is, clamped to at least 1, and a non-numeric one falls
    back to ``defaultParallelism``. A stub session stands in because
    Spark's ``conf.set`` rejects ``auto``."""
    from types import SimpleNamespace

    from gazelle_plugin_spark.plans._util import shuffle_width

    def session(value):
        confs = {"spark.sql.shuffle.partitions": value}
        return SimpleNamespace(
            conf=SimpleNamespace(get=confs.__getitem__),
            sparkContext=SimpleNamespace(defaultParallelism=6),
        )

    assert shuffle_width(session("16")) == 16
    assert shuffle_width(session("0")) == 1
    assert shuffle_width(session("auto")) == 6


def test_round6_signed_matches_jvm(spark):
    """:func:`_round6_int64_signed` (the SIGNED cosine-rounding twin of
    ``_round8_int64``) equals the live JVM's ``F.round(x, 6)`` on every
    probe double: ulp walks around decimal midpoints of BOTH signs at
    several magnitudes (forcing the away-from-zero HALF_UP fast path
    and the Decimal slow path), plus uniform randoms over the cosine
    range [-1, 1] and larger magnitudes."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from gazelle_plugin_spark.plans import similarity_queries as simq

    rng = np.random.default_rng(13)
    xs = []
    for center in ("0.0000005", "0.2999995", "0.9999995", "7.1234565"):
        for sgn in (1.0, -1.0):
            c = sgn * float(center)
            lo = hi = c
            xs.append(c)
            for _ in range(200):
                lo = math.nextafter(lo, -math.inf)
                hi = math.nextafter(hi, math.inf)
                xs += [lo, hi]
    xs += list(rng.uniform(-1, 1, 400))
    xs += list(rng.uniform(-50, 50, 200))
    arr = np.array(xs, dtype=np.float64)
    fast = simq._round6_int64_signed(arr).astype(np.float64) / 1e6
    df = spark.createDataFrame([(float(x),) for x in xs], "x double")
    jvm = [r.r for r in df.select(F.round("x", 6).alias("r")).collect()]
    bad = [
        (xs[i], fast[i], jvm[i]) for i in range(len(xs)) if fast[i] != jvm[i]
    ]
    assert not bad, bad[:3]


def test_routed_assign_vec_matches_jvm(spark):
    """The r16 vectorized routed-assignment kernels reproduce the JVM
    reference folds EXACTLY on random float32 vectors:
    :func:`_route_vec` == :func:`_nearest_centroid` (coarse pass) and
    :func:`_grouped_assign_vec` == :func:`_nearest_centroid_grouped`
    (per-group pass), including rounded-cosine ties (duplicate
    candidate embeddings under different labels) and the
    empty-routing-group coalesce-to-own-group fallback."""
    import numpy as np
    from pyspark.sql import functions as F

    from gazelle_plugin_spark.plans import similarity_queries as simq

    rng = np.random.default_rng(23)
    n = 120
    emb = rng.standard_normal((n, 8)).astype(np.float32)
    # duplicate embeddings -> exact cosine ties for the tie-break path
    emb[7] = emb[3]
    emb[11] = emb[3]
    rows = [(i, [float(x) for x in emb[i]]) for i in range(n)]
    v = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).withColumn("n2", simq._dot("embedding", "embedding"))

    coarse = (
        v.orderBy("vec_id")
        .limit(4)
        .select(F.col("vec_id").alias("c_label"), F.col("embedding").alias("ce"))
    )
    ref_route = {
        r.vec_id: r.c_label
        for r in simq._nearest_centroid(v, coarse).collect()
    }
    got_route = {
        r.vec_id: r.g for r in simq._route_vec(spark, v, coarse, 5).collect()
    }
    assert got_route == ref_route

    # grouped pass: 12 candidates (3 of them byte-identical to force
    # in-group ties), routed to coarse groups; group 3 gets NO
    # candidates so the fallback path is exercised on real rows
    cand_g = (
        simq._nearest_centroid(
            v.filter(F.col("vec_id") < 12).select("vec_id", "embedding", "n2"),
            coarse,
        )
        .select(
            F.col("vec_id").alias("cl"),
            F.col("embedding").alias("ce"),
            F.col("c_label").alias("g"),
        )
        .filter(F.col("g") != 3)
        .select(F.col("cl").alias("c_label"), "ce", "g")
    )
    v_route = simq._route_vec(spark, v, coarse, 5)
    ref_assign = {
        r.vec_id: r.c_label
        for r in simq._nearest_centroid_grouped(
            v_route, cand_g, "g"
        ).collect()
    }
    got_assign = {
        r.vec_id: r.c_label
        for r in simq._grouped_assign_vec(spark, v_route, cand_g, 3).collect()
    }
    assert got_assign == ref_assign
    # the fallback really fired: every group-3 row kept its own group
    g3 = [vid for vid, g in got_route.items() if g == 3]
    if g3:
        assert all(got_assign[vid] == 3 for vid in g3)
