"""Deduplication operator family (north-star surface).

Exact → fingerprint → minhash/LSH → simhash, in increasing fuzziness.
Design point at 100 TB: never materialize O(n²) pairs — every near-dup
path goes shingle→signature→band→bucket join, so candidate generation
is a hash join on band keys and only bucket-mates are compared.

All hashes are the cross-engine md5-based family (functions/hashing.py)
so each stage is DuckDB-oracle-checkable.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark import artifacts
from flink_repartition_watermark_example_spark.functions import textfns as TX
from flink_repartition_watermark_example_spark.functions.hashing import (
    MERSENNE_P,
    md5_long,
    md5_long30,
    perm_coeffs,
)
from flink_repartition_watermark_example_spark.scale import fan_out

# Minhash geometry: 16 permutations in 4 bands of 4 rows.  P(candidate)
# = 1-(1-j^4)^4 — the usual S-curve with midpoint ~0.7 jaccard.
NUM_PERMS = 16
NUM_BANDS = 4
ROWS_PER_BAND = NUM_PERMS // NUM_BANDS
SHINGLE_N = 3

# Hot-bucket cap: a band bucket of B docs proposes B(B-1)/2 pairs, so
# one degenerate bucket (viral boilerplate, empty-ish docs) turns the
# candidate join quadratic.  Buckets larger than this are dropped
# entirely before the self-join — the members are so common that
# pairing them is noise, not signal (the standard MinHashLSH hardening;
# exact/fingerprint dedup upstream already caught identical docs).
# The DuckDB oracle applies the same cap, so the gate stays exact.
MAX_BUCKET_DOCS = 64


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: one representative (min id) per duplicate group,
    plus the group size.  A single hash-shuffle on the key columns;
    at scale prefer hashing long text first (see fingerprint_dedup)."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("dup_count"),
    )


def doc_shingles(docs: DataFrame, text_col: str = "text", n: int = SHINGLE_N) -> DataFrame:
    """doc_id + distinct word-n-gram shingle set (array column)."""
    return docs.select(
        "doc_id", F.array_distinct(TX.shingles(TX.tokens(text_col), n)).alias("shingles")
    )


def minhash_sig_array(
    docs: DataFrame | None = None,
    text_col: str = "text",
    num_perms: int = NUM_PERMS,
    *,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-document minhash signature as one array<long> column
    (doc_id, sig) — the compact carrier the LSH pipeline computes ONCE
    and derives everything else from.

    Shape chosen for codegen, not elegance: shingles are EXPLODED to
    flat rows, each row md5-hashed once to 30 bits, and the 16
    permutation minima are ordinary min() aggregates of the universal
    hash (a_k·h + b_k) mod P (functions/hashing.py).  Array
    higher-order functions (transform/array_min) are interpreted
    per-lambda-call in Spark — measured ~8µs/element, 40 s at sf0.1 —
    while the exploded formulation runs inside whole-stage codegen
    with map-side partial mins, so the shuffle carries only
    #docs × #perms values at any scale.  Docs with no shingles
    (< n tokens) produce no rows and drop out.

    ``shingles`` lets callers that already computed (and typically
    persisted) the ``doc_shingles`` relation share it instead of
    re-deriving it — Catalyst does not reuse common subplans across
    DataFrame branches, so without sharing the interpreted shingle
    lambda is the repo's single most re-executed stage.
    """
    a, b = perm_coeffs(num_perms)
    sh = shingles if shingles is not None else doc_shingles(fan_out(docs, "doc_id"), text_col)
    # explode_OUTER + null-filter, not plain explode: from a bare
    # explode Catalyst's InferFiltersFromGenerate derives
    # size(shingles)>0 and pushes it below the repartition into the
    # scan stage, re-computing the whole interpreted shingle lambda
    # single-threaded (measured ~4 s of the 5 s at sf0.1 — the scan is
    # one parquet split).  outer-generate is exempt from the rule, so
    # shingles are computed once, post-shuffle, at full width; the
    # null-filter drops shingle-less docs exactly as explode did.
    flat = (
        sh.select("doc_id", F.explode_outer("shingles").alias("s"))
        .where(F.col("s").isNotNull())
        .select("doc_id", md5_long30(F.col("s")).alias("h"))
    )
    mins = flat.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(a[k]) * F.col("h") + F.lit(b[k])) % F.lit(MERSENNE_P)
            ).alias(f"_m{k}")
            for k in range(num_perms)
        ]
    )
    return mins.select(
        "doc_id",
        F.array(*[F.col(f"_m{k}") for k in range(num_perms)]).alias("sig"),
    )


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", num_perms: int = NUM_PERMS
) -> DataFrame:
    """Scalar-row view of the signatures: (doc_id, perm, minhash)."""
    return minhash_sig_array(docs, text_col, num_perms).select(
        "doc_id", F.posexplode("sig").alias("perm", "minhash")
    )


def lsh_bands(sig_arr: DataFrame, rows_per_band: int = ROWS_PER_BAND) -> DataFrame:
    """Band the signature array: band key = md5 of the band's minhashes
    joined in perm order.  (doc_id, band, band_hash) — derived by array
    slicing, no per-perm shuffle."""
    n_bands = NUM_PERMS // rows_per_band
    band_hashes = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda b: md5_long(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                    lambda v: v.cast("string"),
                ),
            )
        ),
    )
    return sig_arr.select(
        "doc_id", F.posexplode(band_hashes).alias("band", "band_hash")
    )


def band_pair_ids(
    sigs: DataFrame, max_bucket_docs: int = MAX_BUCKET_DOCS
) -> DataFrame:
    """Distinct candidate pair ids (doc_a, doc_b) from a signature
    relation: band the signatures, drop degenerate buckets, self-join
    on (band, band_hash).  The shared candidate-generation core of the
    LSH family — callers pass a *persisted* ``sigs`` so the signature
    pipeline executes once however many times the relation is scanned."""
    from pyspark.sql.window import Window

    bands = lsh_bands(sigs)
    bucket = Window.partitionBy("band", "band_hash")
    bands = (
        bands.withColumn("__bsz", F.count(F.lit(1)).over(bucket))
        .where(F.col("__bsz") <= max_bucket_docs)
        .drop("__bsz")
    )
    # merge hint: the band relation is O(corpus) — it must NEVER be a
    # broadcast build side, but a pre-materialization InMemoryRelation
    # reports its (tiny, array-blind) child estimate and Catalyst will
    # happily pick a 1.5 GB broadcast at sf1.  Sort-merge on the band
    # key is the only strategy that is safe at every scale.
    a, b = bands.alias("a").hint("merge"), bands.alias("b").hint("merge")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    max_bucket_docs: int = MAX_BUCKET_DOCS,
    *,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing at least one LSH band
    bucket, with their estimated jaccard (fraction of equal minhash
    entries across all perms).

    Scale shape: one equi-join on (band, band_hash) proposes pairs; the
    estimate is a zip_with over the two signature arrays — no per-perm
    row explosion, no cross product anywhere.  Buckets larger than
    ``max_bucket_docs`` are dropped before the self-join (see
    MAX_BUCKET_DOCS) so a degenerate bucket cannot go quadratic; the
    bucket-size count rides the same hash shuffle the join needs
    anyway, so the cap costs no extra exchange.

    The signature relation feeds three plan branches (banding + both
    est_jaccard join sides); Catalyst does not share subplans across
    branches, so it is persisted here (or passed pre-persisted via
    ``sigs``) and the shingle→minhash stage runs exactly once.
    """
    if sigs is None:
        sigs = minhash_sig_array(docs, text_col).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        # pin: four plan branches (two band sides + two est_jaccard
        # sides) launch concurrently; each cache-missing branch would
        # recompute the shingle→minhash stage in parallel
        sigs.count()
    pairs = band_pair_ids(sigs, max_bucket_docs)
    # merge hints: the signature relation is O(corpus) — see
    # band_pair_ids for why it must not become a broadcast build side.
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")
    ).hint("merge")
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")
    ).hint("merge")
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda e: e,
        )
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (agree.cast("double") / F.size(F.col("sig_a"))).alias("est_jaccard"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.3,
    *,
    shingles: DataFrame | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram-jaccard near-dup pairs over LSH candidates.

    LSH proposes (subquadratic), exact set-jaccard over the shingle
    arrays disposes; only pairs ≥ threshold survive.

    The whole chain hangs off ONE persisted shingle relation: the
    signature pipeline derives from it and the verify stage scans it
    from cache, so the interpreted shingle lambda — the expensive
    stage — executes once instead of three times (it used to be
    re-derived for candidates and for each verify side; at sf1 that
    was 3× the query's cost).  est_jaccard is skipped entirely for the
    candidate ids: the exact jaccard verdict supersedes it, and the
    sig-array joins that computed it would be dead weight here.

    Verification runs over NARROW exploded rows, not shingle arrays:
    |A∩B| is a counting join — candidates × the a-side's grams,
    equi-joined on (doc_b, gram) — and jaccard = i / (n_a + n_b − i)
    with per-doc set sizes from one count.  The earlier form shipped
    each doc's full shingle ARRAY through both sort-merge join sides
    (~10 KB rows whose sort buffers OOM'd a 2 g JVM at sf10);
    exploded (doc_id, gram) rows are ~30 bytes, sort/spill cleanly,
    and the pair aggregation combines well (every shared gram of a
    pair folds into one row).  Requires threshold > 0: zero-overlap
    candidates drop out of the inner counting join, which is exactly
    the set the threshold filter discards anyway.
    """
    if threshold <= 0:
        # ValueError, not assert: the precondition is load-bearing
        # (zero-overlap pairs drop out of the inner counting join), and
        # an assert is stripped under ``python -O`` — a threshold=0
        # caller would then silently lose every zero/NaN-jaccard
        # candidate pair instead of failing fast.
        raise ValueError("threshold must be positive (see docstring)")
    # fan_out at stage_width (= shuffle.partitions): the shingle
    # lambda is the expensive projection and downstream sorts inherit
    # this width (see winnow_fingerprints).
    #
    # DISK_ONLY, deliberately: the shingle relation is the largest
    # intermediate in the chain (O(corpus bytes) of string arrays);
    # holding it in storage memory starves the 32 concurrent join
    # tasks' execution memory on the default 1 g heap and OOMs at sf1.
    # Local-disk columnar batches re-read in ~scan time, and the win —
    # not re-running the interpreted shingle lambda 3× — is preserved.
    from flink_repartition_watermark_example_spark.scale import stage_width

    # ``shingles`` / ``sigs`` let a session that already materialized
    # these relations (the pinned index artifacts of queries_dedup)
    # share them; otherwise build + pin here as before.
    if shingles is not None:
        sh = shingles
    else:
        sh = doc_shingles(
            fan_out(docs, "doc_id", parts=stage_width(docs)), text_col
        ).persist(StorageLevel.DISK_ONLY)
        # pin before fan-in: the band self-join's two branches and the
        # verify sides launch their stages concurrently, and every
        # cache-missing branch recomputes the interpreted shingle stage
        # in parallel before any partition lands in the cache (the same
        # concurrent-miss pattern measured at 62 s vs 38 s on
        # winnow_containment_pairs at sf10)
        sh.count()
    if sigs is None:
        # sigs persisted too: the band self-join scans its input twice,
        # and each scan would re-run the md5 + 16-min aggregation over
        # the cached shingles.  The signature relation is docs × 17
        # longs — negligible to hold, expensive to recompute.
        sigs = minhash_sig_array(shingles=sh).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        sigs.count()
    cand = band_pair_ids(sigs, MAX_BUCKET_DOCS)
    # exploded distinct grams (doc_shingles already dedupes per doc);
    # derived from the pinned cache, so each scan is a cache read
    g = (
        sh.select("doc_id", F.explode_outer("shingles").alias("g"))
        .where(F.col("g").isNotNull())
    )
    sizes = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ga = g.select(F.col("doc_id").alias("doc_a"), "g")
    gb = g.select(F.col("doc_id").alias("doc_b"), "g")
    inter = (
        cand.join(ga, "doc_a")
        .join(gb, ["doc_b", "g"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("i").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("i")).cast("double")
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# --- simhash ---------------------------------------------------------------

SIMHASH_BITS = 60  # stay inside a positive signed 64-bit int


SIMHASH_BANDS = 4  # 4 × 15-bit bands: pigeonhole guarantees any pair
# with Hamming distance ≤ 3 agrees on at least one band — banded
# candidate generation has 100% recall at the ≤3 threshold.
SIMHASH_MAX_HAMMING = 3


def simhash_neardup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = SIMHASH_MAX_HAMMING,
    bands: int = SIMHASH_BANDS,
    bits: int = SIMHASH_BITS,
    max_bucket_docs: int | None = MAX_BUCKET_DOCS,
    *,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by simhash Hamming distance: candidates are
    pairs agreeing on ≥1 of ``bands`` equal-width bands of the hash
    (equi-join on (band, key) — never all-pairs), verified by
    ``bit_count(xor) <= max_hamming``.  With bands > max_hamming the
    banding is lossless (pigeonhole), so this IS the exact Hamming
    predicate, computed at hash-join scale; a pair colliding in
    several bands is emitted once (distinct).

    ``sh`` optionally supplies a precomputed (doc_id, simhash)
    relation for exactly ``docs`` — simhash is a pure per-doc
    function, so a pinned corpus-wide relation filtered to a
    sub-corpus equals recomputing it there (the staleness audit's
    as-of leg passes the pinned corpus simhash filtered to the
    snapshot horizon).

    ``max_bucket_docs`` is the same degenerate-bucket cap as the LSH
    path (MAX_BUCKET_DOCS, mirrored in the oracle): a band value
    shared by a huge doc population — near-empty docs all simhash to
    ~0 — would otherwise go quadratic in one bucket.  Pairs inside a
    dropped bucket can still surface via their other (under-cap)
    bands; only docs pathologically similar to a whole crowd lose
    recall, the documented at-scale tradeoff."""
    w = bits // bands
    if sh is None:
        sh = simhash(docs, text_col, bits)
    banded = sh.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), i * w).bitwiseAND(
                        F.lit((1 << w) - 1).cast("long")
                    )
                    for i in range(bands)
                ]
            )
        ).alias("band", "key"),
    )
    from pyspark.sql.window import Window

    if max_bucket_docs is not None:
        # None disables the cap (equivalence testing against the
        # uncapped streaming replay, like the LSH path) — a raw
        # `<= NULL` comparison would silently drop EVERY row.
        bucket = Window.partitionBy("band", "key")
        banded = (
            banded.withColumn("__bsz", F.count(F.lit(1)).over(bucket))
            .where(F.col("__bsz") <= max_bucket_docs)
            .drop("__bsz")
        )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash(docs: DataFrame, text_col: str = "text", bits: int = SIMHASH_BITS) -> DataFrame:
    """60-bit simhash over the distinct token set: bit b of the hash is
    set iff Σ_tokens (token_hash bit b ? +1 : −1) > 0.

    Exploded-token formulation, mirroring minhash_sig_array: one md5
    per (doc, distinct token) row, then the 60 per-bit vote sums are
    ordinary map-side-combined hash aggregates — every expression runs
    in whole-stage codegen.  (The earlier array form computed the
    votes with 60 F.aggregate higher-order lambdas, which Spark
    interprets per element — ~60·|tokens| lambda dispatches per doc;
    this form is the same arithmetic at codegen speed, and the shuffle
    carries only 60 partial longs per doc at any scale.)

    ONE pass, no join-back (r12): the earlier form re-joined the doc
    list to keep zero-token docs, which re-ran the tokenize pass in
    the second branch (Catalyst shares no subtrees — tokenize was
    ~half the operator's wall) and added a shuffle join.  Instead the
    null row explode_outer emits for an empty/null token array flows
    THROUGH the aggregate: a null hash fails every bit test, votes −1
    on all bits, so every vote sum is negative and the simhash is 0 —
    exactly the joined form's coalesce(…, 0) for those docs; docs
    with tokens see the identical rows as before."""
    base = fan_out(docs, "doc_id").select(
        "doc_id", F.array_distinct(TX.tokens(text_col)).alias("ts")
    )
    flat = base.select(
        "doc_id", F.explode_outer("ts").alias("t")
    ).select("doc_id", md5_long(F.col("t")).alias("h"))
    vote_cols, sim_col = _simhash_exprs(docs.sparkSession, bits)
    votes = flat.groupBy("doc_id").agg(*vote_cols)
    return votes.select("doc_id", sim_col)


def _simhash_exprs(spark: SparkSession, bits: int):
    """The (vote aggregates, reconstruction) Column trees for
    :func:`simhash`, a session artifact (artifacts.py).  Column objects
    are UNRESOLVED expressions — reusable across any DataFrame with the
    right input names — so the trees are built once per (application,
    bits).  Construction goes through ``F.expr`` (one py4j round trip
    per expression, parsed server-side) instead of composing per-node
    Column operators: the
    composed 60-wide tree cost ~800 py4j round trips — 2.5 s of pure
    driver time on the FIRST call of a session (measured r13; the
    per-call memo from r12 only helped calls 2+), which was a third of
    the cluster_build one-off.  The parsed trees are the same
    arithmetic on the same types (int shiftright/& masks, ±1 int
    votes summed to bigint, bigint bit reconstruction), verified
    hash-identical by every simhash-consumer oracle test.  The store is
    scoped to the application, so a fresh JVM never sees stale gateway
    handles."""

    def build():
        # ONE struct-of-sums aggregate expression + ONE reconstruction
        # expression = two parses total (even one parse per ~13 ms of
        # py4j+parse adds up 61 times)
        votes_sql = "struct(" + ", ".join(
            f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1 "
            f"THEN 1 ELSE -1 END) AS _v{b}"
            for b in range(bits)
        ) + ")"
        sim_sql = "CAST(0 AS BIGINT)" + "".join(
            f" + (CASE WHEN _vs._v{b} > 0 THEN CAST({1 << b} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
            for b in range(bits)
        )
        return (
            [F.expr(votes_sql).alias("_vs")],
            F.expr(sim_sql).alias("simhash"),
        )

    key = artifacts.Key("simhash_exprs", (), (bits,))
    return artifacts.get_or_build(spark, key, build)


# --- winnowing -------------------------------------------------------------

WINNOW_W = 4  # grams per winnowing window; guarantee: any shared run
# of WINNOW_W + SHINGLE_N - 1 consecutive tokens yields at least one
# shared selected fingerprint (Schleimer/Wilkerson/Aiken, MOSS).


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    n: int = SHINGLE_N,
    w: int = WINNOW_W,
) -> DataFrame:
    """MOSS-style winnowed fingerprint set per document: hash every
    word n-gram IN ORDER, slide a window of ``w`` consecutive gram
    hashes, keep each window's minimum, return the distinct selected
    hashes as (doc_id, fp) rows.

    Positional local fingerprinting — the third member of the dedup
    hash family (minhash estimates whole-set jaccard, simhash a global
    bit profile; winnowing keeps ~1/w of the grams yet guarantees any
    sufficiently long shared SUBSTRING is represented, so it catches
    partial overlap/quotation that whole-document signatures dilute).

    Scale shape: one hash shuffle on doc_id feeds both window
    functions (count + sliding min share the partitioning; Catalyst
    plans a single exchange+sort), and the output carries ~|grams|/w
    longs per doc — the 100 TB win over storing full shingle sets.
    Docs shorter than one full window contribute their single partial
    window's min (pos 0), so every non-empty doc has >= 1 fingerprint.

    MEASURED DEAD END (round 7, kept as a warning): rewriting this as
    per-document array algebra (transform/sequence/slice/array_min —
    the repetition_signals pattern) removes the shuffle and the sort
    but ran 2.3→86 s at sf1 and 17→898 s at sf10: Spark evaluates
    higher-order-function lambdas INTERPRETED (HigherOrderFunction is
    excluded from whole-stage codegen), so O(grams × w) boxed
    allocations per doc lose by ~50× to exploded rows that stay
    inside codegen'd projections + a codegen'd WindowExec.  The
    window sort is the right plan on Spark; its sf1→sf10 ratio (7.6×)
    is the linear asymptote of exploded-gram volume, not a defect.
    """
    from pyspark.sql.window import Window

    grams = TX.shingles(TX.tokens(text_col), n)
    # width = shuffle.partitions (scale.stage_width): the window stage
    # sorts EXPLODED gram rows and inherits this hash partitioning
    # (doc_id satisfies its distribution — no extra exchange), so the
    # conf sizes each task's sort buffer.  At sf10 the core-count-wide
    # window sort exhausted a 1 g heap outright; at 4x width (the
    # sweep config) it completes in it.
    from flink_repartition_watermark_example_spark.scale import stage_width

    g = (
        fan_out(docs, "doc_id", parts=stage_width(docs))
        .select("doc_id", F.posexplode_outer(grams).alias("pos", "g"))
        .where(F.col("g").isNotNull())
        .select("doc_id", "pos", md5_long(F.col("g")).alias("h"))
    )
    doc_w = Window.partitionBy("doc_id")
    slide = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    return (
        g.withColumn("n", F.count(F.lit(1)).over(doc_w))
        .withColumn("wmin", F.min("h").over(slide))
        .where(
            (F.col("pos") <= F.col("n") - w)
            | ((F.col("n") < w) & (F.col("pos") == 0))
        )
        .select("doc_id", F.col("wmin").alias("fp"))
        .distinct()
    )


class WinnowBuild(NamedTuple):
    """Shared intermediate of the winnow pair family: the persisted+
    pinned fingerprint relation, per-doc UNCAPPED fingerprint counts,
    and the capped candidate-pair aggregation.  Build it once and hand
    it to both ``winnow_neardup_pairs`` and
    ``winnow_containment_pairs`` when a pipeline runs both — the
    winnow window stage and the pair self-join then run once, not once
    per query (the pair agg was the most expensive dedup stage at
    sf10)."""

    fp: DataFrame
    sizes: DataFrame
    candidates: DataFrame
    # the knobs the candidates were built with — the pair wrappers
    # REFUSE a mismatching build rather than silently ignoring their
    # own arguments (candidates are already filtered at build time)
    min_shared: int = 3
    max_fp_docs: int = MAX_BUCKET_DOCS


def winnow_build(
    docs: DataFrame,
    text_col: str = "text",
    min_shared: int = 3,
    max_fp_docs: int = MAX_BUCKET_DOCS,
) -> WinnowBuild:
    """Compute the winnow pair family's shared stages.

    ``candidates``: (doc_a, doc_b, shared) for pairs sharing >=
    ``min_shared`` selected hashes — an equi-join on the fingerprint
    value, never all-pairs, with the family's hot-bucket discipline:
    fingerprints held by more than ``max_fp_docs`` docs are dropped
    before the self-join (viral boilerplate grams propose quadratic
    noise, and upstream exact/fingerprint dedup already caught
    identical docs).  ``shared`` here is the count over CAP-FILTERED
    fingerprints (candidate generation must stay capped to stay
    non-quadratic); containment recomputes it uncapped.

    The fingerprint relation is persisted AND pinned with a count()
    before any fan-in: its consumers' stages launch concurrently and
    each cache-missing branch would recompute the winnow pipeline in
    parallel before a partition lands in the cache (measured 62 s vs
    ~25 s at sf10).
    """
    from pyspark.sql.window import Window

    # DISK_ONLY, the big-relation discipline of the minhash chain's
    # shingle persist: fp is O(corpus tokens / w) rows — an on-heap
    # columnar cache of it plus the pair join's execution memory
    # crashed the 2 g JVM outright at sf10 (heap OOM inside the window
    # sort), while local-disk batches re-read in ~scan time.
    fp = winnow_fingerprints(docs, text_col).persist(StorageLevel.DISK_ONLY)
    fp.count()
    sizes = fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    hot = Window.partitionBy("fp")
    capped = (
        fp.withColumn("__n", F.count(F.lit(1)).over(hot))
        .where(F.col("__n") <= max_fp_docs)
        .drop("__n")
    )
    # merge hints: O(corpus) on both sides — see band_pair_ids.
    a, b = capped.alias("a").hint("merge"), capped.alias("b").hint("merge")
    candidates = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
        # small (capped) output; persisting lets a second consumer skip
        # the self-join — it re-reads the cached fp either way
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return WinnowBuild(
        fp=fp,
        sizes=sizes,
        candidates=candidates,
        min_shared=min_shared,
        max_fp_docs=max_fp_docs,
    )


def _check_build(build: WinnowBuild, min_shared: int, max_fp_docs: int) -> None:
    if (build.min_shared, build.max_fp_docs) != (min_shared, max_fp_docs):
        raise ValueError(
            f"prebuilt WinnowBuild was computed with min_shared="
            f"{build.min_shared}, max_fp_docs={build.max_fp_docs}; "
            f"requested min_shared={min_shared}, max_fp_docs="
            f"{max_fp_docs} cannot be applied after the fact — "
            "rebuild with winnow_build(docs, ...) at those settings"
        )


def winnow_neardup_pairs(
    docs: DataFrame | None = None,
    text_col: str = "text",
    min_shared: int = 3,
    max_fp_docs: int = MAX_BUCKET_DOCS,
    build: WinnowBuild | None = None,
) -> DataFrame:
    """Near-dup candidate pairs by shared winnowed fingerprints:
    (doc_a, doc_b, shared) for pairs sharing >= ``min_shared`` selected
    hashes (see :func:`winnow_build` for the join shape and cap).

    Pass ``build`` to reuse a :func:`winnow_build` computed once for
    several winnow queries; with ``docs`` alone it builds its own.
    """
    if build is None:
        build = winnow_build(docs, text_col, min_shared, max_fp_docs)
    else:
        _check_build(build, min_shared, max_fp_docs)
    return build.candidates


def winnow_containment_pairs(
    docs: DataFrame | None = None,
    text_col: str = "text",
    min_shared: int = 3,
    min_containment: float = 0.5,
    max_fp_docs: int = MAX_BUCKET_DOCS,
    build: WinnowBuild | None = None,
) -> DataFrame:
    """Containment pairs: (doc_a, doc_b, shared, containment) where
    ``containment`` = shared winnowed fingerprints / the SMALLER doc's
    fingerprint count — the asymmetric-overlap signal (quotation,
    excerpt, doc-inside-doc) that symmetric jaccard dilutes: a 50-line
    doc fully quoted inside a 5000-line doc has jaccard ~0.01 but
    containment ~1.0.

    CANDIDATES come from the capped equi-join (winnow_build — staying
    non-quadratic requires the cap), but for every surviving pair both
    ``shared`` and the denominators are recomputed over the UNCAPPED
    fingerprint sets, so the emitted ratio is a property of the docs,
    not of the cap: an excerpt of viral boilerplate whose overlap is
    mostly hot fingerprints still scores its true containment.  The
    one residual cap effect is on candidate GENERATION — a pair with
    fewer than ``min_shared`` non-hot shared fingerprints is never
    proposed (same emission-time semantics as the LSH hot-bucket cap).

    The recompute join is bounded: candidate pairs (capped output) ×
    the a-side's ~|grams|/w fingerprints, then an equi-join on
    (doc_b, fp) — never all-pairs.
    """
    if build is None:
        build = winnow_build(docs, text_col, min_shared, max_fp_docs)
    else:
        _check_build(build, min_shared, max_fp_docs)
    cand = build.candidates.select("doc_a", "doc_b")
    fa = build.fp.select(F.col("doc_id").alias("doc_a"), "fp")
    fb = build.fp.select(F.col("doc_id").alias("doc_b"), "fp")
    exact = (
        cand.join(fa, "doc_a")
        .join(fb, ["doc_b", "fp"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    na = build.sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_a")
    )
    nb = build.sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_b")
    )
    return (
        exact.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared",
            (
                F.col("shared").cast("double")
                / F.least("n_a", "n_b").cast("double")
            ).alias("containment"),
        )
        .where(F.col("containment") >= min_containment)
    )
