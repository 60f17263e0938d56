"""X1/X2 — deduplication operators (SURVEY §2.8).

Exact dedup: hash-groupBy on a normalized fingerprint — one shuffle keyed
by digest, no comparisons.

Near-dup:
  * MinHash + LSH banding: shingle → per-seed min-hash signature → band
    buckets → candidate pairs via bucket self-join → exact-Jaccard verify.
    The bucket join is the scale story: candidates are generated per
    bucket, never by an O(n²) cross join.
  * SimHash: 64-bit sign-aggregated token hash; near-dups differ in few
    bits (verified by hamming distance on bucket-joined candidates).
  * Blocked exact n-gram Jaccard: deterministic small-block variant used
    for oracle checking (blocking key bounds the pair count).

All hashing uses Spark's xxhash64 (JVM, codegen) — no Python in the path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F
from pyspark.sql.functions import pandas_udf

from ..io import fan_out
from .text import fingerprint, words


def _lcg_params(n: int, seed: int = 7) -> tuple[np.ndarray, np.ndarray]:
    """n deterministic (a, b) pairs for universal hashing h' = a*h + b over
    uint64 wraparound; a forced odd so it's a bijection."""
    state = np.uint64(seed)
    out = np.empty(2 * n, dtype=np.uint64)
    mul = np.uint64(6364136223846793005)
    inc = np.uint64(1442695040888963407)
    with np.errstate(over="ignore"):
        for i in range(2 * n):
            state = state * mul + inc
            out[i] = state
    a = out[:n] | np.uint64(1)
    b = out[n:]
    return a, b


# --------------------------------------------------------------------------
# X1 — exact dedup
# --------------------------------------------------------------------------

def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of ids sharing a normalized-text fingerprint (>1 member)."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n"), F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.col("n") > 1)
    )


def drop_exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the min-id representative per fingerprint (deterministic,
    unlike dropDuplicates)."""
    keep = (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# --------------------------------------------------------------------------
# X2 — MinHash + LSH
# --------------------------------------------------------------------------

def shingles(text: Column | str = "text", n: int = 3) -> Column:
    """Word n-gram shingle array (distinct)."""
    ws = words(text)
    k = F.size(ws)
    grams = F.when(
        k >= n,
        F.transform(
            F.sequence(F.lit(1), k - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(ws, i, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", ws)))
    return F.array_distinct(grams)


def _minhash_kernel(num_hashes: int, bands: int, shingle_n: int):
    """One Arrow-batch kernel: word array → shingle set → 64-bit shingle
    hashes → MinHash signature → per-band mixed bucket hashes.

    Fused into one pandas_udf so the shingle set is built once (three
    interpreted Catalyst projections measured 3× slower), and fully
    vectorized across the batch: shingle hashing is ONE
    ``pd.util.hash_array`` call over the flattened shingles (C siphash
    with a fixed key — deterministic across workers/runs; an earlier
    per-shingle blake2b loop plus per-doc banding loops dominated the
    kernel), signatures are ``np.minimum.reduceat`` over doc offsets, and
    the band fold is rows-per-band vectorized steps over the whole batch.
    The only remaining per-doc Python is shingle-set construction.
    The hash family is engine-internal (the driver check for
    doc_neardup_minhash is rows-only by design); pair SEMANTICS are
    pinned by doc_minhash_recall against exact shingle-Jaccard truth."""
    a_params, b_params = _lcg_params(num_hashes)
    rows = num_hashes // bands
    mix = np.uint64(0x9E3779B97F4A7C15)

    @pandas_udf(f"struct<hashes: array<bigint>, bands: array<bigint>>")
    def kernel(words_col: pd.Series) -> pd.DataFrame:
        sets: list[np.ndarray] = []
        offsets = [0]
        for ws in words_col:
            ws = list(ws) if ws is not None else []
            if len(ws) >= shingle_n:
                shs = {" ".join(ws[i : i + shingle_n]) for i in range(len(ws) - shingle_n + 1)}
            else:
                shs = {" ".join(ws)}
            sets.append(np.asarray(list(shs), dtype=object))
            offsets.append(offsets[-1] + len(shs))
        n = len(sets)
        if n == 0:
            return pd.DataFrame({"hashes": [], "bands": []})
        flat = np.concatenate(sets)
        h = pd.util.hash_array(flat).astype(np.uint64, copy=False)
        offs = np.asarray(offsets[:-1])
        with np.errstate(over="ignore"):
            # Per-seed universal re-hash + per-doc min. One 1-D pass per
            # seed: ``minimum.reduceat`` over a contiguous 1-D array takes
            # numpy's fast inner loop, and the peak temporary is ONE
            # len-N row instead of the (num_hashes × N) matrix the
            # broadcast form materialized (A/B on the sf0.1 corpus:
            # 42 ms vs 127 ms single-threaded, bit-identical output;
            # r13 session 4). Every doc has ≥1 shingle → segments
            # non-empty, so reduceat never sees an empty slice.
            mins = np.empty((num_hashes, n), dtype=np.uint64)
            for j in range(num_hashes):
                mins[j] = np.minimum.reduceat(a_params[j] * h + b_params[j], offs)
            sig3 = mins.reshape(bands, rows, n)
            acc = np.arange(1, bands + 1, dtype=np.uint64)[:, None] * np.ones(
                n, dtype=np.uint64
            )
            for r in range(rows):
                acc = (acc ^ sig3[:, r, :]) * mix
        hashes_out = [h[offsets[i] : offsets[i + 1]].view(np.int64) for i in range(n)]
        bands_out = [acc[:, i].view(np.int64) for i in range(n)]
        return pd.DataFrame({"hashes": hashes_out, "bands": bands_out})

    return kernel


def _minhash_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> DataFrame:
    """(id, hashes, bands) frame — the single expensive projection; callers
    persist it when it feeds both candidate generation and verification."""
    src = fan_out(df)
    kernel = _minhash_kernel(num_hashes, bands, shingle_n)
    return src.select(
        F.col(id_col).alias("id"), kernel(words(text_col)).alias("mh")
    ).select("id", F.col("mh.hashes").alias("hashes"), F.col("mh.bands").alias("bands"))


def _candidates_from(mh: DataFrame) -> DataFrame:
    """Band-bucket candidate pairs: a pair is a candidate if any band
    bucket matches (id_a < id_b). Pair volume scales with collisions,
    not n².

    Physical shape (r13): ONE hash aggregation on (band_idx, band_val)
    collecting the bucket's ids, then an in-bucket pair explode — the
    sorted ids array makes i<j exactly the id_a<id_b pairs. The r12
    self-join form shuffled the exploded band frame twice (build + probe
    sides) before the same global distinct; the aggregate form moves each
    (id, band) row across the wire once and skips the join materialization
    entirely (guide §2.3-2.4). The pair explode is two-stage (explode the
    left index, then explode that row's right-hand slice) so no expression
    ever materializes the O(bucket²) pair array: peak per-row memory is
    one O(bucket) ids array, and pairs stream out of the generators —
    a duplicate-heavy corpus putting 100k ids in one bucket costs ~1 MB
    of task memory, not the ~100 GB a flattened pair array would.

    posexplode_OUTER, not posexplode (guide §4.4): the inner generate
    makes Catalyst infer a ``size(bands) > 0 AND isnotnull(bands)``
    filter on the generator input, and when ``mh`` is not persisted that
    filter pushes below the fan-out exchange — duplicating the whole
    Arrow minhash kernel into a SECOND ArrowEvalPython node that runs on
    the unparallelized scan (measured 10× on the un-persisted
    ``minhash_candidates`` path; plan showed two kernel evaluations).
    The outer form infers no filter, and the kernel emits a non-empty
    bands array for every document (zero-word docs still produce one
    shingle), so the row set is identical; the null guard below is
    belt-and-braces on generator OUTPUT attributes, which cannot be
    pushed below the kernel."""
    banded = mh.select(
        "id", F.posexplode_outer("bands").alias("band_idx", "band_val")
    ).filter(F.col("band_val").isNotNull())
    buckets = (
        banded.groupBy("band_idx", "band_val")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    n = F.size(F.col("ids"))
    lead = buckets.select(
        "ids", F.explode(F.sequence(F.lit(0), n - 2)).alias("i")
    )
    return (
        lead.select(
            F.get("ids", F.col("i")).alias("id_a"),
            # slice is 1-based: positions i+2..n are 0-based indices i+1..n-1
            F.explode(F.slice("ids", F.col("i") + 2, F.size("ids"))).alias("id_b"),
        )
        .distinct()
    )


def minhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding (id_a < id_b).

    rows-per-band = num_hashes/bands; collision probability for Jaccard j
    is ≈ 1-(1-j^r)^b."""
    return _candidates_from(_minhash_frame(df, id_col, text_col, num_hashes, bands, shingle_n))


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


def minhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH candidates verified by exact Jaccard over the hashed shingle
    sets (identical to string-shingle Jaccard barring 64-bit collisions).
    The (id, hashes, bands) frame is computed once and persisted — it
    feeds both the band aggregation and the verification join.

    Verification shape (r13 session 4, guide §8 "move heavy bytes once"):
    each DISTINCT candidate pair explodes into two light (id_a, id_b, id)
    rows and joins the hash-set side ONCE on id; a per-pair aggregate
    reassembles (sh_a, sh_b). The r12 form joined ``sets`` twice (once
    per pair side): in the sort-merge regime at scale that shuffled the
    corpus-wide hash arrays across the wire twice AND carried ``sh_a``
    through the second exchange — heavy bytes ≈ 2·|sets| + |pairs|
    arrays vs |sets| + 2·|pairs| here, a win whenever candidates are
    rarer than documents (the LSH operating point; locally AQE broadcasts
    either way and the A/B is a wash). The ``distinct`` stays BEFORE the
    explode: pair dedup on the two-long proxy keeps a pair colliding in
    k bands from dragging k copies of its hash arrays through the verify
    join. Row-identity vs the two-join form is pinned by
    ``test_minhash_verify_single_join_matches_two_join_form``.

    Cache note: the persisted frame stays pinned for the session (Spark
    has no reliable unpersist-after-lazy-result hook); long-lived callers
    should ``spark.catalog.clearCache()`` after materializing the result,
    as bench.py does.

    PRECONDITION (ADVICE r13): ``id_col`` must be unique in ``df``. The
    single-join reassembly assumes exactly two ``sets`` rows per
    (id_a, id_b) group; a duplicated id yields >2 rows and xs[0]/xs[1]
    can pick two copies of the SAME side — silently reporting
    jaccard=1.0 for a dissimilar pair (the old two-join form emitted
    duplicated but individually correct rows). Enforced below: the
    reassembly counts rows per group and raises on any group != 2, so
    duplicate-id inputs fail loudly instead of emitting wrong values."""
    from pyspark import StorageLevel

    mh = _minhash_frame(df, id_col, text_col, num_hashes, bands, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cands = _candidates_from(mh)
    sets = mh.select("id", "hashes")
    ex = cands.select("id_a", "id_b", F.explode(F.array("id_a", "id_b")).alias("id"))
    # Reassemble via sort_array(collect_list(struct(is_a, hashes))):
    # exactly two rows per group (id_a < id_b, ids unique in sets), and
    # false < true puts the id_b row first — xs[0]=sh_b, xs[1]=sh_a.
    # collect_list lowers to hash-based ObjectHashAggregate; the
    # first(when(...)) spelling of the same reassembly has an
    # array-typed (immutable) buffer and falls back to SortAggregate —
    # a per-partition sort of the verify rows at any scale (the same
    # buffer-mutability cliff the health suite's decimal ordering key
    # works around). Row-identical, A/B a wash locally.
    xs = F.sort_array(
        F.collect_list(
            F.struct((F.col("id") == F.col("id_a")).alias("is_a"), F.col("hashes").alias("h"))
        )
    )
    ver = ex.join(sets, "id").groupBy("id_a", "id_b").agg(
        xs.alias("xs"), F.count(F.lit(1)).alias("_n")
    )
    # Loud duplicate-id guard (ADVICE r13): a valid pair group has
    # exactly 2 sets rows; anything else means id_col was not unique
    # and the reassembly would silently compare a side with itself.
    guard = F.assert_true(
        F.col("_n") == 2,
        F.concat(
            F.lit("minhash_neardup_pairs: duplicate ids in input — pair ("),
            F.col("id_a").cast("string"), F.lit(", "),
            F.col("id_b").cast("string"),
            F.lit(") matched "), F.col("_n").cast("string"),
            F.lit(" set rows (expected 2); id_col must be unique"),
        ),
    )
    return (
        ver.select(
            "id_a",
            "id_b",
            F.when(
                guard.isNull(),
                F.round(jaccard(F.col("xs")[1]["h"], F.col("xs")[0]["h"]), 6),
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------------------
# X2 — blocked exact n-gram Jaccard (deterministic; oracle-checkable)
# --------------------------------------------------------------------------

def _salted_block_sides(sets: DataFrame, n_salts: int) -> tuple[DataFrame, DataFrame, Column]:
    """Two sides of an all-pairs-within-block self-join, partitioned on
    (block, salt) instead of block alone.

    Block keys are few (languages, labels) → joining on block alone
    shuffles everything into ≤ n_blocks skewed partitions, and broadcasting
    the build side instead OOMs once the corpus outgrows the broadcast
    limit. Salting fixes both with bounded memory: the probe side gets one
    deterministic salt per row, the build side is replicated once per salt
    bucket, and the join runs on (block, salt) — n_blocks × n_salts
    evenly-sized partitions, each streamed by sort-merge join. Every (a, b)
    pair meets exactly once (a's single salt picks one of b's replicas).
    Shuffle volume is n_salts × |build side| — the same bytes a broadcast
    would ship to every executor, without the single-node memory cliff.

    n_salts trades parallelism (n_blocks × n_salts join partitions)
    against build-side replication: size it to ~cores/n_blocks, raising
    it only when block keys are few or heavily skewed.
    """
    a = sets.withColumn("_salt", F.pmod(F.xxhash64(F.col("id")), F.lit(n_salts)).cast("int")).alias("a")
    b = sets.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))).alias("b")
    on = (F.col("a.block") == F.col("b.block")) & (F.col("a._salt") == F.col("b._salt"))
    return a, b, on


def _postings_pairs(sets: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard via element postings (r13, guide §2.3/§2.4): bucket
    every (block, element) occurrence, pair WITHIN the bucket, count the
    shared elements per pair — |∩| is the pair's bucket co-occurrence
    count and |∪| = |A|+|B|−|∩|, so the value is bit-identical to the
    array intersect/union form. Only pairs sharing ≥ 1 element ever
    materialize; a zero-overlap pair has J = 0 < threshold, so for
    threshold > 0 the output is row-identical to the all-pairs block
    join while the pair volume drops from Σ_block n² to
    Σ_element k² — concentrated on genuinely similar documents, which is
    what makes an EXACT pass viable at corpus scale. Same streaming
    two-stage in-bucket explode as the minhash candidate stage (never an
    O(k²) in-memory pair array); set sizes ride inside the bucket
    structs, so no join-back to a per-doc size table is needed."""
    docs = sets.select(
        "block",
        F.struct("id", F.size("ws").alias("n")).alias("d"),
        F.explode("ws").alias("e"),
    )
    buckets = (
        docs.groupBy("block", "e")
        .agg(F.sort_array(F.collect_list("d")).alias("xs"))
        .filter(F.size("xs") > 1)
    )
    n = F.size(F.col("xs"))
    lead = buckets.select(
        "block", "xs", F.explode(F.sequence(F.lit(0), n - 2)).alias("i")
    )
    left = F.get("xs", F.col("i"))
    co = lead.select(
        "block",
        left["id"].alias("id_a"),
        left["n"].alias("na"),
        # slice is 1-based: positions i+2..n are 0-based indices i+1..n-1
        F.explode(F.slice("xs", F.col("i") + 2, F.size("xs"))).alias("r"),
    ).select(
        "block", "id_a", "na", F.col("r.id").alias("id_b"), F.col("r.n").alias("nb")
    )
    # size-ratio prefilter (same bound as the join form): drop pairs that
    # cannot reach the threshold before the pair aggregation
    co = co.filter(
        (F.col("na") >= F.col("nb") * threshold)
        & (F.col("nb") >= F.col("na") * threshold)
    )
    pairs = co.groupBy("block", "id_a", "id_b").agg(
        F.count("*").alias("shared"),
        F.min("na").alias("na"),
        F.min("nb").alias("nb"),
    )
    jac = F.round(
        F.col("shared").cast("double") / (F.col("na") + F.col("nb") - F.col("shared")),
        6,
    )
    return pairs.select("block", "id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def blocked_jaccard_pairs(
    df: DataFrame,
    block_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    hashed: bool = True,
    strategy: str = "salted",
    n_salts: int = 8,
    shingle_n: int | None = None,
) -> DataFrame:
    """All pairs within a blocking key with word-set Jaccard ≥ threshold.
    Deterministic — the oracle path for near-dup semantics. The block join
    bounds pairs to Σ block_size² instead of n².

    ``shingle_n`` switches the set elements from single words to word
    n-gram shingles — the exact-truth twin of the MinHash/LSH metric
    (minhash_neardup_pairs verifies candidates against shingle Jaccard,
    so recall of the LSH path is only meaningful against this form).

    ``hashed=True`` set-izes xxhash64(word) longs instead of strings —
    identical Jaccard values (injective up to 64-bit collisions) with much
    cheaper pairwise intersections; turn off to compare raw strings.

    ``strategy`` picks the physical shape (results identical; pinned by
    ``test_r13_optimizations``):
      * ``"salted"`` (default) — salted sort-merge self-join on
        (block, salt); evaluates every in-block pair (Σ block_size²)
        with bounded memory at any corpus size.
      * ``"postings"`` (r13) — element-postings co-occurrence counting
        (``_postings_pairs``): pair volume scales with per-element
        co-occurrence (Σ_element k²), not block sizes. The winning form
        when elements are SELECTIVE (n-gram shingles: A/B at sf0.1
        7.4 s salted → 5.0 s postings, and the asymptotic story at
        corpus scale); measurably WORSE on dense low-cardinality element
        sets (single words on this corpus: 6-12 s salted vs ~29 s
        postings — common words put most of a block in one bucket, so
        Σk² > Σn²). Requires threshold > 0 (zero-overlap pairs never
        materialize); falls back to "salted" when threshold ≤ 0.
      * ``"broadcast"`` — broadcast the build side; only for corpora known
        to fit the broadcast limit (~8 GB hard cap), where it saves the
        build-side shuffle replication.
    """
    elems = shingles(text_col, shingle_n) if shingle_n else words(text_col)
    if hashed:
        elems = F.transform(elems, lambda w: F.xxhash64(w))
    # blank/whitespace-only docs have an empty word set → Jaccard 0 with
    # everything; drop them up front so the pair space (and the SQL oracle,
    # whose split of '' yields ['']) agree exactly
    df = df.filter(F.length(F.trim(F.col(text_col))) > 0)
    sets = fan_out(df).select(
        F.col(block_col).alias("block"),
        F.col(id_col).alias("id"),
        F.array_distinct(elems).alias("ws"),
    )
    if strategy == "postings" and threshold > 0:
        return _postings_pairs(sets, threshold)
    if strategy == "broadcast":
        a = sets.alias("a")
        b = F.broadcast(sets.alias("b"))
        on = F.col("a.block") == F.col("b.block")
    else:
        a, b, on = _salted_block_sides(sets, n_salts)
    # size-ratio prefilter: J = |∩|/|∪| ≤ min(|A|,|B|)/max(|A|,|B|), so a
    # pair whose set sizes differ by more than 1/threshold can't reach the
    # threshold — skip the expensive intersection entirely
    sa, sb = F.size(F.col("a.ws")), F.size(F.col("b.ws"))
    size_ok = (sa >= sb * threshold) & (sb >= sa * threshold)
    return (
        a.join(b, on & (F.col("a.id") < F.col("b.id")) & size_ok)
        .select(
            F.col("a.block").alias("block"),
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(jaccard(F.col("a.ws"), F.col("b.ws")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------------------
# X2 — SimHash
# --------------------------------------------------------------------------

def simhash64(text: Column | str = "text") -> Column:
    """64-bit SimHash over words: per bit position, sum ±1 across token
    hashes, sign-collapse to a bitmask. Token hashing is JVM xxhash64; the
    64-bit unpack + column sums run as one numpy kernel per Arrow batch."""
    base = F.transform(words(text), lambda w: F.xxhash64(w))

    @pandas_udf("bigint")
    def _simhash(hashes: pd.Series) -> pd.Series:
        out = np.zeros(len(hashes), dtype=np.uint64)
        shifts = np.arange(64, dtype=np.uint64)
        for i, h in enumerate(hashes):
            if h is None or len(h) == 0:
                continue
            hv = np.asarray(h, dtype=np.int64).view(np.uint64)
            bits = (hv[:, None] >> shifts[None, :]) & np.uint64(1)  # (n_tokens, 64)
            # signed arithmetic: uint64 would underflow and set every bit
            votes = bits.sum(axis=0).astype(np.int64) * 2 - len(hv)  # (+1/-1 sums)
            out[i] = np.bitwise_or.reduce(
                np.where(votes > 0, np.uint64(1) << shifts, np.uint64(0))
            )
        return pd.Series(out.view(np.int64))

    return _simhash(base)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    band_bits: int = 16,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit hash into 4 × band_bits
    chunks (pigeonhole: any pair within hamming ≤ 3 shares a chunk; wider
    radii trade recall), bucket-join on chunks, verify hamming."""
    n_bands = 64 // band_bits
    # blank/whitespace-only docs all hash to simhash 0 → they'd collide in
    # every band and emit as hamming-0 "near-duplicates"; drop them up
    # front (same prefilter as blocked_jaccard_pairs)
    df = df.filter(F.length(F.trim(F.col(text_col))) > 0)
    sh = df.select(F.col(id_col).alias("id"), simhash64(text_col).alias("sh"))
    banded = sh.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright(F.col("sh"), i * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("band_val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("id", "sh", "band.band_idx", "band.band_val")
    # Same physical shape as the r13 minhash candidate stage: ONE hash
    # aggregation per band bucket + streaming in-bucket pair explode,
    # replacing the r12 band self-join that shuffled the banded frame
    # twice AND evaluated the simhash kernel once per join side (the
    # kernel subtree appeared under both aliases). sort_array over
    # struct(id, sh) orders by id (ids unique), so i<j is exactly
    # id_a<id_b; hamming is computed inline from the carried sketches.
    buckets = (
        banded.groupBy("band_idx", "band_val")
        .agg(F.sort_array(F.collect_list(F.struct("id", "sh"))).alias("xs"))
        .filter(F.size("xs") > 1)
    )
    n = F.size(F.col("xs"))
    lead = buckets.select(
        "xs", F.explode(F.sequence(F.lit(0), n - 2)).alias("i")
    )
    left = F.get("xs", F.col("i"))
    return (
        lead.select(
            left["id"].alias("id_a"),
            left["sh"].alias("sh_a"),
            # slice is 1-based: positions i+2..n are 0-based indices i+1..n-1
            F.explode(F.slice("xs", F.col("i") + 2, F.size("xs"))).alias("r"),
        )
        .select(
            "id_a",
            F.col("r.id").alias("id_b"),
            hamming64(F.col("sh_a"), F.col("r.sh")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------------------------------
# X2/X3 — embedding-cosine near-dup
# --------------------------------------------------------------------------

def _pair_cosine_kernel():
    """Arrow-batch cosine over joined vector pairs.

    The interpreted ``aggregate(zip_with(...))`` HOF form evaluates a
    lambda per element per pair — at |pairs| ≈ Σ block² that interpreter
    loop dominates the whole operator (measured ~4.8 s of a 22 s bench at
    sf0.1). One numpy einsum per Arrow batch replaces it; zero-norm
    vectors map to 0.0 exactly like similarity.cosine."""

    @pandas_udf("double")
    def kernel(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        A = np.array([np.asarray(v, dtype=np.float64) for v in va])
        B = np.array([np.asarray(v, dtype=np.float64) for v in vb])
        num = np.einsum("ij,ij->i", A, B)
        na = np.sqrt(np.einsum("ij,ij->i", A, A))
        nb = np.sqrt(np.einsum("ij,ij->i", B, B))
        ok = (na > 0) & (nb > 0)
        denom = np.where(ok, na * nb, 1.0)
        return pd.Series(np.where(ok, num / denom, 0.0))

    return kernel


def _gram_cell_pairs(
    df: DataFrame,
    block_col: str,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_cells: int,
) -> DataFrame:
    """Triangle-blocked Gram-matrix pairs: rows hash into ``n_cells``
    buckets per block; cell (i ≤ j) receives buckets i and j and computes
    their cross (or within-bucket upper-triangle) cosine Gram in one
    numpy matmul, emitting only pairs ≥ threshold.

    Why this beats the pair-join form: a join materializes |pairs| rows
    each carrying TWO full vectors into the Python kernel — O(pairs·dim)
    Arrow traffic (≈200 MB at 2k vectors/64 dims). Here every vector
    ships once per cell row it participates in — O(rows·n_cells·dim)
    (≈8 MB same corpus) — and the pair space only ever exists as numpy
    tiles inside a task. Memory per task is (block/n_cells)²·8 bytes for
    the tile, bounded by n_cells exactly like n_salts bounds the salted
    join; parallelism is blocks × n_cells(n_cells+1)/2 cells.
    """
    import numpy as np

    dtypes = dict(df.dtypes)
    out_schema = (
        f"block {dtypes[block_col]}, id_a {dtypes[id_col]}, "
        f"id_b {dtypes[id_col]}, cosine_sim double"
    )
    b = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_cells)).cast("int")
    cells = F.array(
        *[
            F.struct(
                F.least(b, F.lit(j)).alias("ci"), F.greatest(b, F.lit(j)).alias("cj")
            )
            for j in range(n_cells)
        ]
    )
    exploded = df.select(
        F.col(block_col).alias("block"),
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        b.alias("bucket"),
        F.explode(cells).alias("cell"),
    ).select("block", "id", "v", "bucket", "cell.ci", "cell.cj")

    def cell_gram(pdf: pd.DataFrame) -> pd.DataFrame:
        ci, cj = int(pdf["ci"].iloc[0]), int(pdf["cj"].iloc[0])
        block = pdf["block"].iloc[0]
        a = pdf[pdf["bucket"] == ci]
        bb = pdf[pdf["bucket"] == cj]
        if len(a) == 0 or len(bb) == 0:
            return pd.DataFrame({"block": [], "id_a": [], "id_b": [], "cosine_sim": []})
        A = np.array([np.asarray(v, dtype=np.float64) for v in a["v"]])
        B = np.array([np.asarray(v, dtype=np.float64) for v in bb["v"]])
        num = A @ B.T
        na = np.sqrt(np.einsum("ij,ij->i", A, A))
        nb = np.sqrt(np.einsum("ij,ij->i", B, B))
        denom = np.outer(na, nb)
        ok = denom > 0
        sim = np.round(np.where(ok, num / np.where(ok, denom, 1.0), 0.0), 6)
        ia, ib = np.nonzero(sim >= threshold)
        id_a = a["id"].to_numpy()[ia]
        id_b = bb["id"].to_numpy()[ib]
        s = sim[ia, ib]
        # canonical (min, max) id order; diagonal cells keep the strict
        # upper triangle so self-pairs and (x,y)/(y,x) duplicates drop
        if ci == cj:
            mask = id_a < id_b
            lo, hi, s = id_a[mask], id_b[mask], s[mask]
        else:
            lo = np.minimum(id_a, id_b)
            hi = np.maximum(id_a, id_b)
        return pd.DataFrame({"block": block, "id_a": lo, "id_b": hi, "cosine_sim": s})

    return exploded.groupBy("block", "ci", "cj").applyInPandas(cell_gram, out_schema)


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    threshold: float = 0.9,
    strategy: str = "gram",
    n_salts: int = 8,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    With ``block_col`` the pair space is bounded per block (deterministic,
    oracle-checkable). Without it, callers should bucket first via
    similarity.lsh_bucket — an unblocked cross join is refused implicitly
    by requiring a block column here.

    ``strategy``:
      * ``"gram"`` (default) — triangle-blocked Gram cells via
        applyInPandas: each vector ships to Python once per cell instead
        of once per candidate pair (see _gram_cell_pairs). Same bounded
        memory, ~25× less Arrow traffic than the pair join.
      * ``"salted"`` — (block, salt) sort-merge pair join + per-pair
        kernel; the all-DataFrame reference form the gram path is
        equality-tested against.
      * ``"broadcast"`` — broadcast the build side (only for corpora known
        to fit the broadcast limit). Results identical.
    """
    if block_col is None:
        raise ValueError("unblocked all-pairs cosine is a cross join; bucket first (similarity.lsh_topk/lsh_bucket)")
    if strategy == "gram":
        return _gram_cell_pairs(df, block_col, id_col, vec_col, threshold, n_salts)
    sets = fan_out(df).select(
        F.col(block_col).alias("block"),
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    if strategy == "broadcast":
        a = sets.alias("a")
        b = F.broadcast(sets.alias("b"))
        on = F.col("a.block") == F.col("b.block")
    else:
        a, b, on = _salted_block_sides(sets, n_salts)
    sim = F.round(_pair_cosine_kernel()(F.col("a.v"), F.col("b.v")), 6)
    return (
        a.join(b, on & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.block").alias("block"),
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            sim.alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


# --------------------------------------------------------------------------
# X1/X2 — duplicate-group resolution: connected components over near-dup
# pairs (keep one representative per component).
# --------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) where component = min node id reachable through
    the pair graph — the canonical representative of each duplicate group.

    Pregel-lite label propagation: every node starts labeled with itself;
    each round adopts the min label among itself and its neighbors; stops
    when a round changes nothing. Rounds = graph diameter (near-dup
    clusters are shallow — a handful). Each round is one join + one
    aggregation keyed on node; no driver-side graph state.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
                ).alias("component"),
            )
        )
        # checkpoint FIRST (one execution of the round's join), then count
        # changes against the materialized frame — counting on the raw
        # lineage would run the round's shuffle twice
        new_labels = updated.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("u")
            .join(labels.alias("l"), "node")
            .filter(F.col("u.component") != F.col("l.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — the "
        "pair graph has a longer chain than expected; raise max_iter"
    )


def dedup_groups(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Every row labeled with its duplicate-group representative (rows with
    no near-dup pair are their own group). The keep-set is
    ``component == id`` rows."""
    comp = connected_components(pairs, id_a, id_b)
    return df.join(comp, df[id_col] == comp.node, "left").select(
        df["*"], F.coalesce(F.col("component"), df[id_col]).alias("dup_group")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    threshold: float = 0.95,
    n_cells: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """SemDedup-style semantic deduplication (the public cluster-then-
    dedup method: k-means over the embedding space, near-duplicate search
    only WITHIN clusters): returns ``(kept, removed_ids)``.

    Pipeline: clustering.kmeans assigns every row a cluster; the
    triangle-blocked Gram-cell kernel finds cosine ≥ ``threshold`` pairs
    inside each cluster; within a pair the LOWER id survives and the
    higher is dominated. Rows dominated by any neighbor are removed —
    the standard greedy approximation of per-group keep-one (in a chain
    a–b–c only a survives). The id rule is deliberate: a
    distance-to-centroid preference would compare floats that BLAS
    computes differently across Arrow batch shapes, making the survivor
    nondeterministic for exact duplicates.

    Scale: no all-pairs anywhere — clusters bound the candidate space
    (at 100 TB you raise k so cluster sizes stay bounded), the Gram
    cells bound per-task memory exactly as in embedding_neardup_pairs,
    and the dominated-row rule is a distinct + anti-join instead of a
    connected-components iteration. The kmeans driver reduce collects
    only k centroid rows per round.
    """
    from .clustering import kmeans

    assigned, _C, _iters = kmeans(df, vec_col=vec_col, id_col=id_col, k=k)
    with_cluster = df.join(assigned.select(id_col, "cluster"), id_col)
    pairs = _gram_cell_pairs(
        with_cluster, "cluster", id_col, vec_col, threshold, n_cells
    )
    # pairs are canonical (id_a < id_b): the higher id of every pair drops
    removed = pairs.select(F.col("id_b").alias(id_col)).distinct()
    kept = df.join(removed, id_col, "left_anti")
    return kept, removed
