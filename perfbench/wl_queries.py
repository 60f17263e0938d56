"""Query workloads: closed-loop passes over a fixed set of registered
queries (``hielo_spark.queries.QUERIES``), each pass in a seeded order.

One op = build the DataFrame (``QUERIES[name](spark, dir)``) and collect
its result to the driver as pandas.  Collecting (rather than the noop
sink) lets every timed result be checked without running it twice; the
results are small aggregates, so the collect adds little.

Checks, outside the timed span:
* queries with a DuckDB oracle (``hielo_spark.queries.ORACLE``) are
  compared with ``tests/oracle_harness.compare``, exactly;
* queries without an oracle must return rows, and the same rows (by
  digest) on every pass.
"""

from __future__ import annotations

import hashlib
import random
import sys
import time
from contextlib import contextmanager

OLAP = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "q7_nation_volume",
    "q10_returned_customers",
    "filter_orders_multi",
    "events_hourly_windows",
    "events_user_gaps",
    "events_recent_windows",
    "events_asof_join",
    "events_sessionization",
    "first_order_per_customer",
    "meta_health",
    "meta_snapshot_timeline",
]
LLM = [
    "doc_lang_stats",
    "doc_curation_pipeline",
    "doc_neardup_minhash",
    "emb_neardup_cosine",
    "emb_cosine_topk",
]

#: untimed passes before timing starts: after the first calls, a query
#: still runs 15-30% slower on its second call than later, as the JVM's
#: JIT compiles its code paths
WARMUP_PASSES = 2
#: measured passes at least, whatever --seconds says
MIN_PASSES = 2


class _Collected:
    """Lets ``oracle_harness.compare`` check an already-collected result."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def digest(pdf) -> str:
    from tests.oracle_harness import _canon

    c = _canon(pdf)
    return hashlib.sha256(c.to_csv(index=False).encode()).hexdigest()


def run(ctx, names: list[str]) -> None:
    from hielo_spark.queries import ORACLE, QUERIES
    from tests.oracle_harness import compare, duck_connection

    spark = ctx.spark
    conn = duck_connection(ctx.data_dir)
    oracle = {n: conn.execute(ORACLE[n]).df() for n in names if n in ORACLE}
    conn.close()
    digests: dict[str, str] = {}

    def one(name: str, measured: bool) -> None:
        with ctx.op(name, measured) as rec:
            t0 = time.perf_counter()
            with ctx.span("queries.build"):
                df = QUERIES[name](spark, ctx.data_dir)
            rec["build_s"] = time.perf_counter() - t0
            pdf = df.toPandas()
        spark.catalog.clearCache()
        if rec.get("error"):
            return
        if name in oracle:
            problems = compare(_Collected(pdf), oracle[name], name)
            ctx.verdict(rec, not problems, "; ".join(problems))
        else:
            d = digest(pdf)
            first = digests.setdefault(name, d)
            ctx.verdict(rec, len(pdf) > 0 and d == first,
                        f"{name}: {len(pdf)} rows, digest {d[:12]} vs {first[:12]}")

    for _ in range(WARMUP_PASSES):  # checked too; the first pass makes the first calls
        for name in names:
            one(name, measured=False)
    ctx.begin_measure()
    rng = random.Random(ctx.seed)
    # whole passes only, at least MIN_PASSES, then until the deadline: every
    # query gets the same number of samples, so its median means the same
    # thing on every run
    deadline = time.perf_counter() + ctx.seconds
    passes = 0
    while passes < MIN_PASSES or time.perf_counter() < deadline:
        order = list(names)
        rng.shuffle(order)
        for name in order:
            one(name, measured=True)
        passes += 1
    ctx.weights = {n: 1.0 for n in names}
    if ctx.traced and "doc_neardup_minhash" in names:
        _candidate_counts(ctx)


def _candidate_counts(ctx) -> None:
    """Candidate pairs vs kept pairs of the two near-duplicate operators,
    from one untimed evaluation of each.

    MinHash: the output rows of ``dedup.minhash_candidates`` (the LSH band
    join) against those of ``minhash_neardup_pairs``, with the parameters
    doc_neardup_minhash uses.  Embeddings: emb_neardup_cosine itself is
    evaluated while ``applyInPandas`` is intercepted, and the rows its
    Gram-cell stage hands to the kernel are counted as the pairs in the
    cells' tiles (see ``cell_pairs``)."""
    from hielo_spark.io import load_table
    from hielo_spark.operators import dedup
    from hielo_spark.queries import QUERIES

    spark = ctx.spark
    d = load_table(spark, ctx.data_dir, "documents")
    cands = dedup.minhash_candidates(d, "doc_id", "text").count()
    kept = dedup.minhash_neardup_pairs(d, "doc_id", "text", threshold=0.5).count()
    spark.catalog.clearCache()
    ctx.layer["dedup.candidate_pairs"] = float(cands)
    ctx.layer["dedup.kept_ratio"] = kept / cands if cands else 0.0
    with _grouped_inputs() as stages:
        kept = QUERIES["emb_neardup_cosine"](spark, ctx.data_dir).count()
    pairs = sum(cell_pairs(df) for df in stages)
    spark.catalog.clearCache()
    ctx.layer["similarity.candidate_pairs"] = float(pairs)
    ctx.layer["similarity.kept_ratio"] = kept / pairs if pairs else 0.0


@contextmanager
def _grouped_inputs():
    """Collect the input DataFrame of every ``applyInPandas`` call made
    inside the block."""
    from pyspark.sql.pandas.group_ops import PandasGroupedOpsMixin

    seen: list = []
    orig = PandasGroupedOpsMixin.applyInPandas

    def spy(self, func, schema):
        seen.append(self._df)
        return orig(self, func, schema)

    PandasGroupedOpsMixin.applyInPandas = spy
    try:
        yield seen
    finally:
        PandasGroupedOpsMixin.applyInPandas = orig


def cell_pairs(stage) -> int:
    """Pairs in the Gram tiles of one Gram-cell stage.

    Each input row is one (vector, cell) assignment with columns
    ``block, bucket, ci, cj``; a cell scores the vectors of bucket ``ci``
    against those of bucket ``cj`` of its block: na * nb pairs, or
    n * (n - 1) / 2 when ``ci == cj``.  A stage without those columns
    counts as its row count."""
    import pyspark.sql.functions as F

    if not {"block", "bucket", "ci", "cj"} <= set(stage.columns):
        print("perfbench: Gram-cell stage has other columns; counting its rows",
              file=sys.stderr)
        return stage.count()
    per_cell = stage.groupBy("block", "ci", "cj").agg(
        F.sum((F.col("bucket") == F.col("ci")).cast("long")).alias("na"),
        F.sum((F.col("bucket") == F.col("cj")).cast("long")).alias("nb"),
    )
    n = F.when(F.col("ci") == F.col("cj"), F.col("na") * (F.col("na") - 1) / 2).otherwise(
        F.col("na") * F.col("nb"))
    return int(per_cell.agg(F.sum(n)).collect()[0][0] or 0)
