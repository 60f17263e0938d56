"""Pins for the r13 optimization-round rewrites (OPTIMIZATION_r13.md):
each physical-shape change is equality-tested against the r12 reference
form it replaced, and the bench-honesty / shuffle-removal properties are
asserted structurally."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from hielo_spark.io import fan_out, load_table
from hielo_spark.operators import dedup
from hielo_spark.operators import text as T
from hielo_spark.queries import QUERIES


def _same_rows(a, b) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_minhash_bucket_candidates_match_selfjoin_form(spark, sf_dir):
    """r13 candidate generation (bucket aggregate + in-bucket pair
    explode) must emit exactly the pair set of the r12 band self-join."""
    d = load_table(spark, sf_dir, "documents")
    mh = dedup._minhash_frame(d, "doc_id", "text", 64, 16, 3).persist()
    try:
        new = dedup._candidates_from(mh)
        banded = mh.select("id", F.posexplode("bands").alias("band_idx", "band_val"))
        a, b = banded.alias("a"), banded.alias("b")
        ref = (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_val") == F.col("b.band_val"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        assert _same_rows(new, ref)
        assert new.count() > 0  # fixture plants near-dups; empty = broken join
    finally:
        mh.unpersist()


def test_minhash_candidates_plan_has_single_aggregate_no_band_join(spark, sf_dir):
    """The band-bucket stage must be ONE aggregation: no join may touch
    the banded frame any more (the pair space exists only inside the
    explode)."""
    d = load_table(spark, sf_dir, "documents")
    mh = dedup._minhash_frame(d, "doc_id", "text", 64, 16, 3)
    p = dedup._candidates_from(mh)._jdf.queryExecution().executedPlan().toString()
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert node not in p


def test_minhash_candidates_single_kernel_eval(spark, sf_dir):
    """The posexplode-inferred non-empty filter must not duplicate the
    Arrow minhash kernel below the fan-out exchange (guide §4.4): the
    un-persisted candidates plan carries exactly ONE ArrowEvalPython."""
    d = load_table(spark, sf_dir, "documents")
    mh = dedup._minhash_frame(d, "doc_id", "text", 64, 16, 3)
    p = dedup._candidates_from(mh)._jdf.queryExecution().executedPlan().toString()
    assert p.count("ArrowEvalPython") == 1


def test_simhash_bucket_pairs_match_selfjoin_form(spark, sf_dir):
    """r13 simhash pair generation (bucket aggregate + in-bucket explode)
    must emit exactly the pair set of the r12 band self-join, and must
    evaluate the simhash kernel once (the self-join ran it per side)."""
    d = load_table(spark, sf_dir, "documents")
    new = dedup.simhash_neardup_pairs(d, "doc_id", "text", max_hamming=12)
    # r12 reference form, verbatim
    df = d.filter(F.length(F.trim(F.col("text"))) > 0)
    sh = df.select(F.col("doc_id").alias("id"), dedup.simhash64("text").alias("sh"))
    band_bits, n_bands = 16, 4
    banded = sh.select(
        "id", "sh",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftright(F.col("sh"), i * band_bits)
                .bitwiseAND(F.lit((1 << band_bits) - 1))
                .alias("band_val"),
            )
            for i in range(n_bands)
        ])).alias("band"),
    ).select("id", "sh", "band.band_idx", "band.band_val")
    a, b = banded.alias("a"), banded.alias("b")
    ref = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                dedup.hamming64(F.col("a.sh"), F.col("b.sh")).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= 12)
    )
    assert _same_rows(new, ref)
    assert new.count() > 0
    p = new._jdf.queryExecution().executedPlan().toString()
    assert p.count("ArrowEvalPython") == 1
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert node not in p


def test_postings_jaccard_matches_salted_form(spark, sf_dir):
    """r13 ``strategy="postings"`` (element-postings co-occurrence
    counting) must emit exactly the (block, id_a, id_b, jaccard) rows of
    the r12 salted block self-join — on shingles (its winning regime)
    AND on single words (dense elements, its losing regime)."""
    d = load_table(spark, sf_dir, "documents")
    for shingle_n in (3, None):
        salted = dedup.blocked_jaccard_pairs(
            d, "lang", "doc_id", "text", threshold=0.5, shingle_n=shingle_n
        )
        postings = dedup.blocked_jaccard_pairs(
            d, "lang", "doc_id", "text", threshold=0.5, shingle_n=shingle_n,
            strategy="postings",
        )
        assert _same_rows(postings, salted)
        assert postings.count() > 0  # fixture plants near-dups


def test_first_order_agg_matches_window_form(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ref = (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("first_orderdate"),
        )
    )
    new = QUERIES["first_order_per_customer"](spark, sf_dir)
    assert new.schema == ref.schema
    assert _same_rows(new, ref)
    # and the plan is an aggregate, not a window sort
    p = new._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in p


def test_curation_pipeline_agg_matches_window_form(spark, sf_dir):
    """r14: the query reverted to the window rn=1 form — the r13
    min(struct) aggregate (and the scalar min_by decomposition) have
    immutable string/struct aggregation buffers and fall to
    SortAggregate. Pin: rows identical to the r13 aggregate form, the
    plan carries WindowGroupLimit (map-side top-1 per fp) and ZERO
    SortAggregate."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        T.fingerprint("text").alias("fp"),
        T.quality_score("text").alias("quality"),
    ).filter(F.col("quality") >= 0.6)
    kept = scored.groupBy("fp").agg(
        F.min(F.struct("doc_id", "lang", "quality")).alias("keep")
    )
    ref = kept.groupBy("keep.lang").agg(
        F.count("*").alias("n_kept"),
        F.round(F.avg("keep.quality"), 6).alias("avg_quality"),
    )
    new = QUERIES["doc_curation_pipeline"](spark, sf_dir)
    assert new.schema == ref.schema
    assert _same_rows(new, ref)
    p = new._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in p
    assert "SortAggregate" not in p


def test_fan_out_skips_shuffle_when_already_parallel(spark, sf_dir):
    par = spark.sparkContext.defaultParallelism
    d = load_table(spark, sf_dir, "documents")
    # single-file fixture → fans out to session parallelism
    assert fan_out(d).rdd.getNumPartitions() == par
    # already ≥ parallel → returned as-is, no Exchange added
    wide = d.repartition(par)
    assert fan_out(wide) is wide
    wider = d.repartition(par + 3)
    assert fan_out(wider) is wider


def test_fan_out_probe_runs_no_jobs_on_exchange_fed_frames(spark, sf_dir):
    """r14 (ADVICE): with AQE on, probing an exchange-fed frame via
    executedPlan().execute() would materialize its upstream query
    stages — real shuffle jobs at DataFrame-build time. fan_out must
    answer without running ANY job for such frames (their post-shuffle
    width is config-sized, so fan-out is a no-op), and without one for
    scan-rooted frames either."""
    import hielo_spark.io as hio

    st = spark.sparkContext.statusTracker()
    d = load_table(spark, sf_dir, "documents")
    agg = d.groupBy("lang").count()  # exchange-fed → adaptive plan
    hio._FANOUT_MEMO.clear()  # force a fresh probe, not a memo hit
    before = set(st.getJobIdsForGroup(None))
    out = fan_out(agg)
    scan_probe = fan_out(d.select("doc_id"))
    after = set(st.getJobIdsForGroup(None))
    assert after == before, "fan_out probe must not run jobs"
    assert out is agg


def test_fan_out_reads_driver_held_frames_as_one_partition(spark):
    """A LocalRelation frame's rows are already on the driver: fan_out
    reads them as one partition, with no shuffle, and decides so before
    the memo, so rebuilding such frames adds no memo entry."""
    import hielo_spark.io as hio
    from hielo_spark.io import local_frame

    size = len(hio._FANOUT_MEMO)
    for i in range(5):
        df = local_frame(spark, [(i, "a"), (i + 1, "b")], "k long, v string")
        out = fan_out(df)
        assert out.rdd.getNumPartitions() == 1
        assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
    assert len(hio._FANOUT_MEMO) == size


def test_ivf_topk_inline_assignment_matches_join_window_form(spark, sf_dir):
    """r13 ivf_topk computes centroid assignment inline per row; results
    must be bit-identical to the r12 broadcast-join + Window argmax."""
    from hielo_spark.operators import similarity as S

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    new = S.ivf_topk(e, q, k=10, n_centroids=16, n_probe=8, n_assign=2)
    ref = _ivf_topk_r12(e, q, k=10, n_centroids=16, n_probe=8, n_assign=2)
    assert _same_rows(new, ref)
    assert new.count() > 0
    # no Window (and no shuffle of the exploded corpus×k frame) anywhere
    # in the candidate-generation passes: the only Window node left is the
    # final per-query rank over candidates (WindowGroupLimit nodes are that
    # same window's top-k pushdown, not extra windows)
    import re

    p = new._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bWindow \[", p)) <= 1


def _ivf_topk_r12(corpus, queries, k, n_centroids, n_probe, n_assign, seed=42):
    """The r12 reference implementation (join + Window argmax), verbatim."""
    from hielo_spark.operators.similarity import cosine, dot

    corpus_id, corpus_vec, query_id, query_vec = (
        "vec_id", "embedding", "query_id", "query_vec",
    )
    v = F.col(corpus_vec).cast("array<double>")
    seeds = (
        corpus.select(F.col(corpus_id).alias("sid"), v.alias("sv"))
        .orderBy(F.xxhash64(F.col("sid"), F.lit(seed)))
        .limit(n_centroids)
    )
    seed_rows = seeds.collect()
    seed_arr = [(i, list(r["sv"])) for i, r in enumerate(seed_rows)]
    seed_df = F.broadcast(
        corpus.sparkSession.createDataFrame(seed_arr, ["cell", "centroid"])
    )
    assigned = (
        corpus.select(F.col(corpus_id).alias("id"), v.alias("v"))
        .join(seed_df)
        .select(
            "id", "v", "cell",
            dot(F.col("v"), F.col("centroid").cast("array<double>")).alias("aff"),
        )
    )
    w = Window.partitionBy("id").orderBy(F.col("aff").desc(), F.col("cell"))
    cells = assigned.withColumn("rn", F.row_number().over(w)).filter("rn = 1").select("id", "v", "cell")
    centroids = (
        cells.groupBy("cell")
        .agg(F.array(*[F.avg(F.col("v")[i]) for i in range(len(seed_arr[0][1]))]).alias("centroid"))
    )
    centroid_rows = [(r["cell"], list(r["centroid"])) for r in centroids.collect()]
    centroid_df = F.broadcast(
        corpus.sparkSession.createDataFrame(centroid_rows, ["cell", "centroid"])
    )
    lists = (
        corpus.select(F.col(corpus_id).alias("id"), v.alias("v"))
        .join(centroid_df)
        .select("id", "v", "cell", cosine(F.col("v"), F.col("centroid")).alias("aff"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= int(n_assign))
        .select("id", "v", "cell")
    )
    qv = F.col(query_vec).cast("array<double>")
    q_cells = (
        queries.select(F.col(query_id).alias("qid"), qv.alias("qv"))
        .join(centroid_df)
        .select("qid", "qv", "cell", cosine(F.col("qv"), F.col("centroid")).alias("aff"))
    )
    wq = Window.partitionBy("qid").orderBy(F.col("aff").desc(), F.col("cell"))
    probes = F.broadcast(
        q_cells.withColumn("rn", F.row_number().over(wq)).filter(F.col("rn") <= n_probe).select("qid", "qv", "cell")
    )
    scored = lists.join(probes, "cell").filter(F.col("id") != F.col("qid"))
    if n_assign > 1:
        scored = scored.dropDuplicates(["qid", "id"])
    scored = scored.select(
        F.col("qid").alias(query_id),
        F.col("id").alias(corpus_id),
        cosine(F.col("v"), F.col("qv")).alias("cosine_sim"),
    )
    wr = Window.partitionBy(query_id).orderBy(F.col("cosine_sim").desc(), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine_sim", F.col("rank").cast("bigint").alias("rank"))
    )


def test_load_table_schema_memo_is_metadata_only(spark, sf_dir):
    """r13 load_table schema memo: repeat loads must return the same
    schema and identical rows, and the memo may hold ONLY StructType
    objects (no DataFrame/plan/result reuse — bench honesty)."""
    from pyspark.sql.types import StructType

    from hielo_spark import io as IO

    a = load_table(spark, sf_dir, "orders")
    b = load_table(spark, sf_dir, "orders")
    assert a is not b
    assert a.schema == b.schema
    assert a.count() == b.count()
    assert all(isinstance(v, StructType) for v in IO._SCHEMA_MEMO.values())
    # events passes through its ts normalization on both paths
    e1 = load_table(spark, sf_dir, "events")
    e2 = load_table(spark, sf_dir, "events")
    assert dict(e1.dtypes)["ts"] == dict(e2.dtypes)["ts"] == "timestamp"


def test_snapshot_fixture_not_memoized_across_calls(spark, sf_dir):
    """Bench honesty (r13): every call must rebuild from the parquet
    input — no module-level frame reuse keyed on the test data."""
    from hielo_spark.metadata import fixtures as FX

    a = FX.snapshots_from_orders(spark, sf_dir)
    b = FX.snapshots_from_orders(spark, sf_dir)
    assert a is not b
    assert not hasattr(FX, "_FIXTURE_CACHE")
    # identical content, independently derived
    assert a.count() == b.count()


def test_minhash_verify_single_join_matches_two_join_form(spark, sf_dir):
    """r13 session 4: the verify stage (explode pairs → ONE join with the
    hash-set side → per-pair reassembly aggregate) must emit exactly the
    rows of the r12 two-join form it replaced (which shuffled the
    corpus-wide hash arrays twice in the sort-merge regime)."""
    d = load_table(spark, sf_dir, "documents")
    new = dedup.minhash_neardup_pairs(d, "doc_id", "text", threshold=0.5)
    mh = dedup._minhash_frame(d, "doc_id", "text", 64, 16, 3).persist()
    try:
        cands = dedup._candidates_from(mh)
        sets = mh.select("id", "hashes")
        ref = (
            cands.join(
                sets.withColumnRenamed("id", "id_a").withColumnRenamed("hashes", "sh_a"),
                "id_a",
            )
            .join(
                sets.withColumnRenamed("id", "id_b").withColumnRenamed("hashes", "sh_b"),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                F.round(dedup.jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= 0.5)
        )
        assert _same_rows(new, ref)
        assert new.count() > 0  # fixture plants near-dups; empty = broken join
    finally:
        mh.unpersist()


def test_health_metrics_fans_out_underparallel_input(spark, sf_dir):
    """r13 session 4: health_metrics parallelizes its flatten when the
    snapshots source is under-parallel (single-file fixture) — the plan
    carries the conditional round-robin fan-out below the aggregation —
    and the metric rows are identical to the unfanned form."""
    from hielo_spark.analytics.health import health_metrics
    from hielo_spark.metadata.fixtures import snapshots_from_orders
    from hielo_spark.queries.meta import AS_OF_META

    snaps = snapshots_from_orders(spark, sf_dir)
    m = health_metrics(snaps, AS_OF_META)
    if snaps.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        p = m._jdf.queryExecution().executedPlan().toString()
        assert "RoundRobinPartitioning" in p
    # row-identity vs the flatten running directly on the source
    ref = health_metrics(
        snaps.repartition(spark.sparkContext.defaultParallelism), AS_OF_META
    )
    assert _same_rows(m, ref)


def test_health_metrics_refreshes_share_one_fan_out_memo_entry(spark, sf_dir):
    """The ``as_of`` column health_metrics projects onto a scanned
    snapshots frame does not split the fan_out memo: refreshes at new
    ``as_of`` values reuse the first refresh's entry, and so its probe."""
    import hielo_spark.io as hio
    from hielo_spark.analytics.health import health_metrics
    from hielo_spark.metadata.fixtures import snapshots_from_orders

    snaps = snapshots_from_orders(spark, sf_dir)
    health_metrics(snaps, "2025-06-01 12:00:00")
    size = len(hio._FANOUT_MEMO)
    for s in range(1, 6):
        health_metrics(snaps, f"2025-06-01 12:00:{s:02d}")
    assert len(hio._FANOUT_MEMO) == size
