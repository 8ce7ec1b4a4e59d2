"""Training-data pipeline operators: chunking, repetition-quality
signals, deterministic splits/sampling, masking, embedding centroids —
the remaining operations a large-scale curation pipeline runs.

The three most pipeline-central (chunking, hash split, stratified
sample) sit in the primary driver gate; the rest are EXTRA_QUERIES
with the same DuckDB oracles, compared in
tests/test_queries_oracle.py.

Everything here is JVM column algebra — one scan, shuffles only where
an aggregation needs one — and each Spark expression has a lockstep
DuckDB twin (functions/textfns.py, functions/hashing.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark.functions import textfns as TX
from flink_repartition_watermark_example_spark.functions.hashing import md5_long, md5_long_sql
from flink_repartition_watermark_example_spark.queries import register, register_extra
from flink_repartition_watermark_example_spark.sources.tables import load_table

_TOKS = TX.tokens_sql("text")


@register(
    "doc_chunks",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    c AS (SELECT doc_id, len(t) AS n,
                 {TX.chunk_texts_sql('t')} AS chunks
          FROM toks)
    SELECT doc_id,
           CAST(generate_subscripts(chunks, 1) - 1 AS BIGINT) AS chunk_id,
           unnest(chunks) AS chunk_text,
           CAST(least({TX.CHUNK_SIZE},
                      n - (generate_subscripts(chunks, 1) - 1)
                          * {TX.CHUNK_STRIDE}) AS BIGINT) AS n_chunk_tokens
    FROM c
    """,
    doc="Fixed-window chunking with overlap (size 32, stride 24 "
    "tokens) — the split a training pipeline applies before packing "
    "samples. Chunk boundaries are per-document expressions inside the "
    "scan projection (sequence + slice + posexplode); no shuffle at "
    "all — 100 TB of documents chunk at full scan parallelism.",
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    # posexplode_OUTER + null-filter: a bare posexplode lets Catalyst
    # infer size(chunks)>0 and push it into the scan, re-computing the
    # interpreted chunk lambda per row in the (single-split) scan
    # stage; outer-generate is exempt, so chunks evaluate once here.
    return (
        docs.select(
            "doc_id",
            toks.alias("t"),
            F.posexplode_outer(TX.chunk_texts(toks)).alias("chunk_id", "chunk_text"),
        )
        .where(F.col("chunk_text").isNotNull())
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            "chunk_text",
            F.least(
                F.lit(TX.CHUNK_SIZE),
                F.size(F.col("t")) - F.col("chunk_id") * TX.CHUNK_STRIDE,
            )
            .cast("long")
            .alias("n_chunk_tokens"),
        )
    )


@register_extra(
    "doc_chunks_udtf",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    c AS (SELECT doc_id, len(t) AS n,
                 {TX.chunk_texts_sql('t')} AS chunks
          FROM toks)
    SELECT doc_id,
           CAST(generate_subscripts(chunks, 1) - 1 AS BIGINT) AS chunk_id,
           unnest(chunks) AS chunk_text,
           CAST(least({TX.CHUNK_SIZE},
                      n - (generate_subscripts(chunks, 1) - 1)
                          * {TX.CHUNK_STRIDE}) AS BIGINT) AS n_chunk_tokens
    FROM c
    """,
    doc="The doc_chunks operator re-expressed as a Spark 4 Python "
    "UDTF applied via LATERAL join — the table-function extension "
    "point made first-class (completing the UDF / grouped-agg UDAF / "
    "applyInPandas trio). Same whitespace tokenization, window 32 / "
    "stride 24, same oracle as doc_chunks, so the UDTF row expansion "
    "is value-checked against the pure-expression twin. The "
    "expression form remains the 100 TB hot path (UDTFs cross the "
    "Python boundary per row); this entry is the extensibility "
    "contract for logic that genuinely can't be expressed as "
    "columns.",
)
def q_doc_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    size, stride = TX.CHUNK_SIZE, TX.CHUNK_STRIDE

    @udtf(
        returnType="doc_id bigint, chunk_id bigint, chunk_text string, "
        "n_chunk_tokens bigint",
        useArrow=True,  # Arrow-batched transfer → ArrowEvalPythonUDTF
    )
    class ChunkUdtf:
        def eval(self, doc_id, text):
            import re

            # twin of textfns.tokens: split(trim(text), '\\s+') — a
            # blank doc yields one empty token, hence one empty chunk
            toks = re.split(r"\s+", (text or "").strip())
            n = len(toks)
            nc = 1 if n <= size else (n - size + stride - 1) // stride + 1
            for i in range(nc):
                yield (
                    doc_id,
                    i,
                    " ".join(toks[i * stride : i * stride + size]),
                    min(size, n - i * stride),
                )

    spark.udtf.register("doc_chunks_udtf_fn", ChunkUdtf)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "__udtf_chunk_src"
    )
    return spark.sql(
        "SELECT c.* FROM __udtf_chunk_src, "
        "LATERAL doc_chunks_udtf_fn(doc_id, text) c"
    )


@register_extra(
    "repetition_signals",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    b AS (SELECT doc_id, t, {TX.shingles_sql('t', 2)} AS bg FROM toks)
    SELECT doc_id,
           CASE WHEN len(bg) = 0 THEN 0.0
                ELSE 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE)
                           / CAST(len(bg) AS DOUBLE) END AS dup_2gram_ratio,
           CAST(list_max(list_transform(list_distinct(t),
                  x -> len(list_filter(t, y -> y = x)))) AS DOUBLE)
             / CAST(len(t) AS DOUBLE) AS top_token_ratio
    FROM b
    """,
    doc="Gopher-style repetition quality signals: duplicate-bigram "
    "fraction and most-frequent-token share, computed ENTIRELY "
    "per-document (scan-side array algebra, zero data shuffles — the "
    "one exchange is the fan_out parallelism repartition).  History: "
    "the first array form was O(|distinct|·|tokens|) interpreted "
    "lambdas (~80 s at sf1); round 5 replaced it with exploded "
    "per-(doc, gram) hash aggregations — fast at sf1 but memory-"
    "UNBOUNDED: (doc_id, gram) keys are nearly unique, so the "
    "map-side partial agg combines nothing and buffers ~every "
    "exploded row, which reproducibly exhausted the executor heap at "
    "sf10 under 32 task threads (OOM in the spill writer with all "
    "accounted memory fine).  The per-doc form is the 100 TB-correct "
    "shape: dup fraction via codegen array_distinct, top-token share "
    "via a single O(n) pass over the sorted token array, memory "
    "bounded per ROW, cost strictly linear in corpus size.  Values "
    "are bit-identical to the exploded form (integer counts, same "
    "final double divisions), so the oracle is unchanged.",
)
def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    bg = TX.shingles(toks, 2)
    from flink_repartition_watermark_example_spark.scale import fan_out

    # raise the (often single-split) scan's parallelism before the
    # CPU-bound per-row passes, like the dedup family does
    fanned = fan_out(docs, "doc_id")
    # most-frequent-token count = longest run of equal elements in the
    # sorted token array: one fold with (prev, current-run, best) state
    # — O(n log n) sort + O(n) scan per doc, no per-doc hash map.
    s = F.sort_array(toks)
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc, x):
        run = (
            F.when(acc.prev.isNull() | (acc.prev != x), F.lit(1))
            .otherwise(acc.run + 1)
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc.best, run).alias("best"),
        )

    top_c = F.aggregate(s, init, step, lambda acc: acc.best)
    return fanned.select(
        "doc_id",
        F.when(F.size(bg) == 0, F.lit(0.0))
        .otherwise(
            F.lit(1.0)
            - F.size(F.array_distinct(bg)).cast("double")
            / F.size(bg).cast("double")
        )
        .alias("dup_2gram_ratio"),
        (top_c.cast("double") / F.size(toks).cast("double")).alias(
            "top_token_ratio"
        ),
    )


@register(
    "hash_split_counts",
    f"""
    WITH s AS (
      SELECT CASE WHEN {md5_long_sql('CAST(doc_id AS VARCHAR)', salt='split')} % 100 < 90
                  THEN 'train'
                  WHEN {md5_long_sql('CAST(doc_id AS VARCHAR)', salt='split')} % 100 < 95
                  THEN 'val' ELSE 'test' END AS split,
             len({_TOKS}) AS n
      FROM documents
    )
    SELECT split, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS ws_tokens
    FROM s GROUP BY split
    """,
    doc="Deterministic train/val/test assignment by hash bucket "
    "(md5(doc_id) mod 100 → 90/5/5) — reproducible across runs and "
    "engines, no sampling state, no shuffle until the per-split "
    "rollup. The standard leakage-safe split for training corpora.",
)
def q_hash_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = md5_long(F.col("doc_id").cast("string"), salt="split") % 100
    split = (
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select(split.alias("split"), F.size(TX.tokens("text")).alias("n"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("long").alias("ws_tokens"),
        )
    )


@register(
    "stratified_sample_docs",
    f"""
    SELECT doc_id, source FROM documents
    WHERE {md5_long_sql("(source || ':' || CAST(doc_id AS VARCHAR))")} % 10 = 0
    """,
    doc="Deterministic 10% per-source sample: hash(source:doc_id) mod "
    "10 — every executor agrees on membership with zero coordination, "
    "unlike rand()-based sampling, and the per-source salt keeps "
    "strata independent. The pattern behind 'hold out 10% of every "
    "crawl snapshot'.",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = md5_long(
        F.concat(F.col("source"), F.lit(":"), F.col("doc_id").cast("string"))
    )
    return docs.where(h % 10 == 0).select("doc_id", "source")


# Data-mixing rates per source bucket (per-ten-thousand, so membership
# is an integer hash comparison): the "sample crawl A at 80%, curated
# source B at 100%" knob of corpus assembly.  Rates are deterministic
# literals; membership is hash(source:doc_id) — reproducible across
# runs, engines, and partitionings, no sampling state.
MIX_RATES_PERMYRIAD = {
    "src0": 10000, "src1": 8000, "src2": 6000, "src3": 4000, "src4": 2000,
}
_MIX_DEFAULT = 5000


@register_extra(
    "source_mix_sample",
    f"""
    WITH m(source, rate) AS (VALUES
      {', '.join(f"('{s}', {r})" for s, r in MIX_RATES_PERMYRIAD.items())}),
    d AS (
      SELECT doc_id, d.source,
             coalesce(m.rate, {_MIX_DEFAULT}) AS rate,
             {md5_long_sql("(d.source || '#' || CAST(doc_id AS VARCHAR))", salt='mix')}
               % 10000 AS h
      FROM documents d LEFT JOIN m ON m.source = d.source
    )
    SELECT source, count(*) AS n_sampled,
           CAST(min(rate) AS BIGINT) AS rate_permyriad
    FROM d WHERE h < rate GROUP BY source
    """,
    doc="Deterministic source mixing: per-source sampling rates "
    "(permyriad literals) applied via hash(source#doc_id) mod 10000 — "
    "the corpus-assembly knob that up/down-weights each source. The "
    "rate table is a broadcast join, membership is a scan-side "
    "integer comparison; re-running with new rates re-samples "
    "consistently (a doc sampled at 40% stays sampled at 60%).",
)
def q_source_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rates = docs.sparkSession.createDataFrame(
        list(MIX_RATES_PERMYRIAD.items()), ["source", "rate"]
    )
    h = md5_long(
        F.concat(F.col("source"), F.lit("#"), F.col("doc_id").cast("string")),
        salt="mix",
    ) % 10000
    return (
        docs.join(F.broadcast(rates), "source", "left")
        .select("source", F.coalesce(F.col("rate"), F.lit(_MIX_DEFAULT)).alias("rate"), h.alias("h"))
        .where(F.col("h") < F.col("rate"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("rate").cast("long").alias("rate_permyriad"),
        )
    )


# Fixed training-sequence budget for packing (tokens per packed
# sequence).  Greedy bin packing is inherently sequential; the
# distributed-exact formulation is cumulative-sum packing within an
# ordered (split, doc, chunk) stream: pack_id = floor(tokens-before /
# budget) — every engine computes the identical assignment from a
# window cumsum, and a pack overflows its budget by at most one
# chunk (the standard concat-then-split approximation used when
# packing corpora for pretraining).
PACK_BUDGET_TOKENS = 256

# Sub-shard fan-out within each source: the shard key is (source,
# split) with split = md5(doc_id, salt='pack') % PACK_SPLITS, so a
# corpus where ONE source dominates (the common case: a web crawl
# dwarfing every curated set) still spreads its cumsum windows over
# PACK_SPLITS tasks instead of funneling through one.  At 100 TB you'd
# raise this to ~cluster-core count; it only changes which docs share
# a pack, never packing validity (docs are order-independent in
# pretraining packing, and the assignment stays deterministic + exact
# per shard in every engine).
PACK_SPLITS = 8


@register_extra(
    "pack_chunks_into_sequences",
    f"""
    WITH toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
    c AS (SELECT doc_id, source,
                 {md5_long_sql("CAST(doc_id AS VARCHAR)", salt="pack")}
                     % {PACK_SPLITS} AS split,
                 CAST(generate_subscripts(chunks, 1) - 1 AS BIGINT) AS chunk_id,
                 CAST(least({TX.CHUNK_SIZE},
                            len(t) - (generate_subscripts(chunks, 1) - 1)
                                * {TX.CHUNK_STRIDE}) AS BIGINT) AS n_tok
          FROM (SELECT doc_id, source, t, {TX.chunk_texts_sql('t')} AS chunks FROM toks)),
    p AS (
      SELECT source, split, doc_id, chunk_id, n_tok,
             CAST((sum(n_tok) OVER (PARTITION BY source, split
                                    ORDER BY doc_id, chunk_id) - n_tok)
                  // {PACK_BUDGET_TOKENS} AS BIGINT) AS pack_id
      FROM c
    )
    SELECT source, split, pack_id, count(*) AS n_chunks,
           CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM p GROUP BY source, split, pack_id
    """,
    doc="SHARDED sequence packing: chunks are assigned to "
    "fixed-token-budget training sequences by cumulative token count "
    "within each shard (PARTITION BY (source, split), ordered by "
    "(doc_id, chunk_id)) — pack_id = shard-local tokens-before // "
    "budget, split = md5(doc_id) % PACK_SPLITS.  The two-level shard "
    "key is what makes the cumsum scale: each shard's window runs in "
    "its own task after one hash exchange on (source, split), and the "
    "hash sub-shard keeps a corpus dominated by a single source (a "
    "web crawl next to small curated sets) spread over PACK_SPLITS "
    "tasks instead of funneling one.  A partition-LESS cumsum would "
    "funnel the whole corpus through one task; "
    "tests/test_plan_audit.py bans that plan shape repo-wide.  "
    "Packing stays deterministic and exact per shard: every engine "
    "computes the identical assignment, and a pack overflows its "
    "budget by at most one chunk (the standard concat-then-split "
    "approximation used when packing pretraining corpora).",
)
def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    chunks = (
        docs.select(
            "doc_id",
            "source",
            F.size(toks).alias("n"),
            F.posexplode_outer(TX.chunk_texts(toks)).alias("chunk_id", "chunk_text"),
        )
        .where(F.col("chunk_text").isNotNull())
        .select(
            "doc_id",
            "source",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.least(
                F.lit(TX.CHUNK_SIZE),
                F.col("n") - F.col("chunk_id") * TX.CHUNK_STRIDE,
            ).cast("long").alias("n_tok"),
        )
    )
    chunks = chunks.withColumn(
        "split",
        md5_long(F.col("doc_id").cast("string"), salt="pack") % PACK_SPLITS,
    )
    w = (
        Window.partitionBy("source", "split")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = chunks.select(
        "doc_id",
        "source",
        "split",
        "chunk_id",
        "n_tok",
        F.floor(
            (F.sum("n_tok").over(w) - F.col("n_tok")) / PACK_BUDGET_TOKENS
        ).cast("long").alias("pack_id"),
    )
    return packed.groupBy("source", "split", "pack_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tok").cast("long").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# Span-level dedup segments: DISJOINT token windows (stride == size),
# unlike the overlapping training chunks above — dedup over overlapped
# windows would double-count every shared token run.
SPAN_SIZE = TX.CHUNK_SIZE


def span_segments(docs: DataFrame) -> DataFrame:
    """(doc_id, source, chunk_id, chunk_text, seg_key) — each doc cut
    into disjoint SPAN_SIZE-token segments keyed by md5(text).  Pure
    scan-side projection (sequence + slice + posexplode): 100 TB
    segments at full scan parallelism, no shuffle."""
    toks = TX.tokens("text")
    return (
        docs.select(
            "doc_id",
            "source",
            F.posexplode_outer(
                TX.chunk_texts(toks, SPAN_SIZE, SPAN_SIZE)
            ).alias("chunk_id", "chunk_text"),
        )
        .where(F.col("chunk_text").isNotNull())
        .select(
            "doc_id",
            "source",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            "chunk_text",
            F.md5("chunk_text").alias("seg_key"),
        )
    )


_SPAN_SEGS_SQL = f"""
    toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
    segs AS (
      SELECT doc_id, source,
             CAST(generate_subscripts(chunks, 1) - 1 AS BIGINT) AS chunk_id,
             unnest(chunks) AS chunk_text
      FROM (SELECT doc_id, source,
                   {TX.chunk_texts_sql('t', SPAN_SIZE, SPAN_SIZE)} AS chunks
            FROM toks)),
    keyed AS (
      SELECT doc_id, source, chunk_id, chunk_text, md5(chunk_text) AS seg_key
      FROM segs),
    flagged AS (
      SELECT doc_id, source, chunk_id, chunk_text,
             row_number() OVER (PARTITION BY seg_key
                                ORDER BY doc_id, chunk_id) AS rn
      FROM keyed)
"""


@register(
    "span_dedup_stats",
    f"""
    WITH {_SPAN_SEGS_SQL}
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_segs,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(count(*) - sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(count(*) - sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS dup_frac
    FROM flagged GROUP BY source
    """,
    doc="Sub-document exact dedup, stats pass: the duplicated-span "
    "removal stage of web-corpus curation (FineWeb/RefinedWeb run it "
    "per line; the synthetic corpus has no newlines, so spans are "
    "disjoint 32-token windows — same plan either way).  Each segment "
    "is keyed by md5 and only the first (doc_id, chunk_id) occurrence "
    "corpus-wide survives; the per-source roll-up reports how much of "
    "each source is boilerplate already seen elsewhere.  Scale shape: "
    "one hash exchange on the 128-bit segment key (near-unique — the "
    "same shuffle fingerprint_dedup pays at document grain), a rank-1 "
    "flag inside each key partition, then an O(sources) partial+final "
    "agg.  No UDF, no driver loop; 100 TB dedups at shuffle "
    "parallelism.",
)
def q_span_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    segs = span_segments(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("seg_key").orderBy("doc_id", "chunk_id")
    flagged = segs.select(
        "source",
        (F.row_number().over(w) == 1).cast("long").alias("kept"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_segs"),
        F.sum("kept").cast("long").alias("n_kept"),
        (F.count(F.lit(1)) - F.sum("kept")).cast("long").alias("n_dropped"),
        (
            (F.count(F.lit(1)) - F.sum("kept")).cast("double")
            / F.count(F.lit(1))
        ).alias("dup_frac"),
    )


@register_extra(
    "span_dedup_docs",
    f"""
    WITH {_SPAN_SEGS_SQL}
    SELECT doc_id,
           string_agg(chunk_text, ' ' ORDER BY chunk_id) AS dedup_text,
           CAST(count(*) AS BIGINT) AS n_kept_segs
    FROM flagged WHERE rn = 1
    GROUP BY doc_id
    """,
    doc="Sub-document exact dedup, rewrite pass: documents reassembled "
    "from only their corpus-wide-first 32-token segments, in original "
    "segment order — the text that actually ships to training after "
    "span_dedup_stats decides the policy.  Docs whose every segment "
    "was seen earlier disappear entirely (same contract both "
    "engines).  Scale shape: the same seg_key exchange + rank-1 "
    "filter, then one doc_id exchange whose groups are bounded by "
    "document length; reassembly is sort_array over an "
    "array<struct<chunk_id,text>> inside the agg — no UDF.  At 100 TB "
    "both exchanges are plain hash shuffles; nothing global.",
)
def q_span_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return span_dedup_rewrite(load_table(spark, sf_dir, "documents"))


def span_dedup_rewrite(docs: DataFrame) -> DataFrame:
    """``span_dedup_docs`` over ``docs``: keep the first (doc_id,
    chunk_id) occurrence of every segment and reassemble."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("seg_key").orderBy("doc_id", "chunk_id")
    kept = span_segments(docs).withColumn("rn", F.row_number().over(w))
    return reassemble_spans(kept.where(F.col("rn") == 1))


def reassemble_spans(kept: DataFrame) -> DataFrame:
    """(doc_id, dedup_text, n_kept_segs): each doc's kept segments
    joined in original order; a doc with none kept disappears."""
    return kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("chunk_id", "chunk_text"))
                ),
                lambda s: s["chunk_text"],
            ),
            " ",
        ).alias("dedup_text"),
        F.count(F.lit(1)).cast("long").alias("n_kept_segs"),
    )


@register_extra(
    "mask_numeric_ids",
    """
    SELECT event_id,
           regexp_replace(props, '[0-9]+', '#', 'g') AS masked_props,
           CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_masked
    FROM events
    """,
    doc="PII-style masking pass: replace numeric identifier runs in "
    "the semi-structured props column and count redactions — the "
    "scrubbing shape (regexp_replace/extract_all are JVM codegen "
    "expressions) a pipeline applies before text ships to training. "
    "Real PII patterns (emails, phones) drop into the same regex "
    "slot.",
)
def q_mask_numeric_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.regexp_replace(F.col("props"), "[0-9]+", "#").alias("masked_props"),
        F.size(F.regexp_extract_all(F.col("props"), F.lit("[0-9]+"), 0))
        .cast("long")
        .alias("n_masked"),
    )


# Decontamination: a train doc is tainted when it shares at least this
# many distinct 3-gram shingles with ANY doc in the held-out test
# split.  Real pipelines use longer n-grams (8-13); 3 fits the short
# synthetic docs while exercising the identical plan shape.
CONTAM_MIN_OVERLAP = 4

_SPLIT_B = md5_long_sql("CAST(doc_id AS VARCHAR)", salt="split")


@register_extra(
    "decontaminate_train_docs",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (SELECT doc_id, {_SPLIT_B} % 100 AS b,
                  list_distinct({TX.shingles_sql('t', 3)}) AS s
           FROM toks),
    test_g AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE b >= 95),
    train AS (SELECT doc_id, s FROM sh WHERE b < 90),
    ex AS (SELECT doc_id, unnest(s) AS g FROM train),
    hits AS (SELECT ex.doc_id, count(*) AS n
             FROM ex JOIN test_g USING (g) GROUP BY ex.doc_id)
    SELECT t.doc_id,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n_overlap,
           coalesce(h.n, 0) >= {CONTAM_MIN_OVERLAP} AS contaminated
    FROM train t LEFT JOIN hits h ON h.doc_id = t.doc_id
    """,
    doc="Eval-set decontamination: flag train-split documents sharing "
    f"≥{CONTAM_MIN_OVERLAP} distinct 3-gram shingles with the held-out "
    "test split (same hash split as hash_split_counts — train is "
    "checked against ITS OWN corpus's eval set, the leakage that "
    "inflates benchmarks). Scale shape: the eval n-gram set is tiny "
    "relative to the corpus, so it broadcasts; the train side streams "
    "through a map-side join + one hash agg — no shuffle of the "
    "corpus, which is what makes this runnable per-snapshot at 100 TB.",
)
def q_decontaminate_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_repartition_watermark_example_spark.scale import fan_out

    docs = load_table(spark, sf_dir, "documents")
    bucket = md5_long(F.col("doc_id").cast("string"), salt="split") % 100
    # fan_out + explode_OUTER: see operators/dedup.minhash_sig_array —
    # keeps the shingle lambda post-shuffle at full width and blocks
    # InferFiltersFromGenerate from re-computing it in the scan.
    sh = fan_out(docs, "doc_id").select(
        "doc_id",
        bucket.alias("b"),
        F.array_distinct(TX.shingles(TX.tokens("text"), 3)).alias("s"),
    )
    test_g = (
        sh.where(F.col("b") >= 95)
        .select(F.explode_outer("s").alias("g"))
        .where(F.col("g").isNotNull())
        .distinct()
    )
    train = sh.where(F.col("b") < 90)
    hits = (
        train.select("doc_id", F.explode_outer("s").alias("g"))
        .where(F.col("g").isNotNull())
        .join(F.broadcast(test_g), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return (
        train.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_overlap"),
            (F.coalesce(F.col("__n"), F.lit(0)) >= CONTAM_MIN_OVERLAP).alias(
                "contaminated"
            ),
        )
    )


@register_extra(
    "label_centroids",
    """
    WITH ex AS (
      SELECT label,
             generate_subscripts(embedding, 1) - 1 AS pos,
             unnest(embedding) AS v
      FROM embeddings
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(pos AS BIGINT) AS pos,
           count(*) AS n_vecs,
           CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT))
                AS BIGINT) AS sum_q,
           (CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT))
                 AS DOUBLE) / 1000000.0) / count(*) AS centroid
    FROM ex GROUP BY label, pos
    """,
    doc="Per-label embedding centroid in exploded (label, dim) form — "
    "the elementwise vector mean behind IVF retraining and class "
    "prototypes. Components are quantized to integers (floor(v*1e6)) "
    "before summing so the reduction is order-independent and "
    "bit-identical across engines; the shuffle carries "
    "O(labels × dim) partial sums, never the vectors themselves.",
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.floor(F.col("v").cast("double") * 1000000.0).cast("long")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(q).cast("long").alias("sum_q"),
        )
        .select(
            F.col("label").cast("long").alias("label"),
            F.col("pos").cast("long").alias("pos"),
            "n_vecs",
            "sum_q",
            ((F.col("sum_q").cast("double") / 1000000.0) / F.col("n_vecs")).alias(
                "centroid"
            ),
        )
    )


# --- bigram-LM quality scoring (CCNet-style) ------------------------------
#
# A language-model quality filter without an external model: train a
# bigram LM on the corpus itself (c(w1,w2) / c(w1)), score every doc by
# its MEAN transition probability.  Well-formed prose reuses common
# transitions (high score); gibberish/boilerplate-shredded text lands
# in rare transitions (low score).  Probabilities are carried as exact
# INTEGER MICRO-UNITS (floor(c2 * 1e6 / c1)) so the per-doc sum is
# order-insensitive and bit-identical across engines — one double
# division at the very end (the repo's standard hash-parity recipe; a
# float log-prob sum would be summation-order-dependent and could
# never hash-match).
#
# Scale shape: two corpus passes (bigram explode -> LM counts agg;
# bigram explode -> score join), both map-side-combined hash aggs; the
# LM relation grows with observed-bigram vocabulary, not corpus rows,
# and the score join is a plain equi-join on the bigram — AQE
# broadcasts it while it measures small.  At 100 TB train the LM once,
# store it bucketed by bigram, and the scoring join is shuffle-free.

_LM_MICRO = 1_000_000

_LM_CTES = f"""
    toksq AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    bgq AS (SELECT doc_id, unnest({TX.shingles_sql('t', 2)}) AS bg FROM toksq),
    w1q AS (SELECT doc_id, string_split(bg, ' ')[1] AS w1, bg FROM bgq),
    uni AS (SELECT string_split(bg, ' ')[1] AS w1,
                   CAST(count(*) AS BIGINT) AS c1
            FROM bgq GROUP BY 1),
    lm AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2,
                  string_split(bg, ' ')[1] AS w1
           FROM bgq GROUP BY bg)
"""


@register_extra(
    "lm_quality_scores",
    f"""
    WITH {_LM_CTES},
    probs AS (
      SELECT lm.bg, (lm.c2 * {_LM_MICRO}) // uni.c1 AS micro_p
      FROM lm JOIN uni ON lm.w1 = uni.w1
    )
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(p.micro_p) AS BIGINT) AS sum_micro_p,
           CAST(sum(p.micro_p) AS DOUBLE) / (count(*) * {_LM_MICRO})
             AS mean_transition_p
    FROM bgq b JOIN probs p ON b.bg = p.bg
    GROUP BY b.doc_id
    """,
    doc="CCNet-style LM quality score without an external model: a "
    "bigram LM trained on the corpus itself scores every doc by mean "
    "transition probability P(w2|w1) = c(w1 w2)/c(w1), carried as "
    "exact integer micro-units so the aggregation is order-"
    "insensitive and hash-identical across engines. Low scorers are "
    "the gibberish/template-shredded docs a curation run filters.",
)
def q_lm_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_repartition_watermark_example_spark.scale import fan_out

    from pyspark import StorageLevel

    docs = load_table(spark, sf_dir, "documents")
    # the exploded bigram relation feeds THREE branches (unigram agg,
    # bigram agg, score join) whose stages launch concurrently —
    # persist + pin (count) so the interpreted shingle stage runs
    # once, not once per cache-missing branch (same pattern as the
    # dedup chain / winnow_containment_pairs)
    bg = (
        fan_out(docs.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            F.explode_outer(TX.shingles(TX.tokens("text"), 2)).alias("bg"),
        )
        .where(F.col("bg").isNotNull())
        .withColumn("w1", F.split("bg", " ").getItem(0))
        .persist(StorageLevel.DISK_ONLY)
    )
    bg.count()
    uni = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    lm = bg.groupBy("bg", "w1").agg(F.count(F.lit(1)).alias("c2"))
    probs = lm.join(uni, "w1").select(
        "bg",
        F.expr(f"(c2 * {_LM_MICRO}) DIV c1").alias("micro_p"),
    )
    return (
        bg.join(probs, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("micro_p").cast("long").alias("sum_micro_p"),
            (
                F.sum("micro_p").cast("double")
                / (F.count(F.lit(1)) * F.lit(_LM_MICRO))
            ).alias("mean_transition_p"),
        )
    )


# Inference/training batching: pow-2 length buckets.  The bucket CASE
# chain is GENERATED ONCE and shared verbatim by the Spark plan
# (F.expr) and the DuckDB oracle — integer comparisons only, so there
# is no log2 float-parity hazard at exact powers of two.
_LEN_BUCKETS = [1 << i for i in range(18)]  # 1 .. 131072 tokens


def _len_bucket_case(col: str) -> str:
    whens = " ".join(
        f"WHEN {col} <= {b} THEN {b}" for b in _LEN_BUCKETS
    )
    return f"CASE {whens} ELSE {_LEN_BUCKETS[-1] * 2} END"


def _len_bucket_col(n):
    # the F.when fold of _len_bucket_case — same comparisons, same
    # order, integer literals only
    bucket = F.lit(_LEN_BUCKETS[-1] * 2)
    for b in reversed(_LEN_BUCKETS):
        bucket = F.when(n <= b, F.lit(b)).otherwise(bucket)
    return bucket.cast("long")


@register_extra(
    "length_bucket_padding_stats",
    f"""
    WITH d AS (SELECT doc_id, len({_TOKS}) AS n FROM documents),
    b AS (SELECT doc_id, n,
                 CAST({_len_bucket_case('n')} AS BIGINT) AS bucket
          FROM d)
    SELECT bucket,
           count(*) AS n_docs,
           CAST(sum(n) AS BIGINT) AS real_tokens,
           CAST(bucket * count(*) AS BIGINT) AS padded_tokens,
           CAST(bucket * count(*) - sum(n) AS BIGINT) AS wasted_tokens
    FROM b GROUP BY bucket
    """,
    doc="Length-bucketed batching stats: every document lands in the "
    "smallest power-of-two token bucket that holds it, and per bucket "
    "the query reports real vs padded token volume — the padding-"
    "waste metric that drives dynamic-batching/bucketing decisions "
    "for inference and packing-free fine-tuning.  One scan + one "
    "small hash agg (O(#buckets) groups); the bucket expression is a "
    "generated integer CASE chain shared verbatim with the oracle, "
    "immune to log2 float-boundary divergence.  At 100 TB this is a "
    "pure map-side-combine aggregation — partial aggs reduce each "
    "scan split to <=19 rows before the exchange.",
)
def q_length_bucket_padding_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(TX.tokens("text"))
    return (
        docs.select(n.alias("n"), _len_bucket_col(n).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("long").alias("real_tokens"),
            (F.col("bucket") * F.count(F.lit(1)))
            .cast("long")
            .alias("padded_tokens"),
            (F.col("bucket") * F.count(F.lit(1)) - F.sum("n"))
            .cast("long")
            .alias("wasted_tokens"),
        )
    )


# Deterministic global training shuffle: at 100 TB you never ORDER BY
# rand() over the corpus (one total-order sort, and irreproducible);
# you hash-shard and sort WITHIN shards — one exchange on shard, each
# shard's sort local to its task, and the ordering is a pure function
# of doc_id so every rerun (and every engine) derives the same epoch
# order.  SHUFFLE_SHARDS is the parallelism knob (~cluster cores in
# production; 16 keeps the oracle output readable).
SHUFFLE_SHARDS = 16


@register_extra(
    "shuffle_shard_stats",
    f"""
    WITH s AS (
      SELECT doc_id,
             {md5_long_sql("CAST(doc_id AS VARCHAR)", salt="shuffle")} AS k
      FROM documents
    ),
    r AS (
      SELECT doc_id, k, k % {SHUFFLE_SHARDS} AS shard,
             row_number() OVER (PARTITION BY k % {SHUFFLE_SHARDS}
                                ORDER BY k, doc_id) AS pos
      FROM s
    )
    SELECT shard,
           count(*) AS n_docs,
           CAST(sum(pos * (doc_id % 1000)) AS BIGINT) AS order_checksum,
           CAST(min(k) AS BIGINT) AS min_key,
           CAST(max(k) AS BIGINT) AS max_key
    FROM r GROUP BY shard
    """,
    doc="Deterministic epoch-shuffle sharding: shuffle key = "
    "md5(doc_id, salt='shuffle'), shard = key % SHUFFLE_SHARDS, "
    "position = rank of (key, doc_id) within the shard.  The "
    "order_checksum (sum of pos * (doc_id % 1000), mod-reduced so the "
    "BIGINT sum can't overflow DuckDB's checked arithmetic at any "
    "tested scale) is ORDER-SENSITIVE: any engine that assigns a "
    "different within-shard permutation fails the hash compare, so "
    "the oracle pins the full shuffle order, not just shard counts.  "
    "Plan shape: one hash exchange on shard + per-shard local sort "
    "(partitioned WindowExec) + partial/final agg — no total-order "
    "sort, no rand(), reruns reproduce the epoch exactly.",
)
def q_shuffle_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    k = md5_long(F.col("doc_id").cast("string"), salt="shuffle")
    s = docs.select(
        "doc_id", k.alias("k"), (k % SHUFFLE_SHARDS).alias("shard")
    )
    w = Window.partitionBy("shard").orderBy("k", "doc_id")
    return (
        s.withColumn("pos", F.row_number().over(w))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("pos") * (F.col("doc_id") % 1000))
            .cast("long")
            .alias("order_checksum"),
            F.min("k").cast("long").alias("min_key"),
            F.max("k").cast("long").alias("max_key"),
        )
    )


# Per-source token quota for mix materialization: the corpus grows,
# the quota doesn't — selection must be a deterministic pure function
# of doc identity so a re-run (or a second engine) picks the same
# docs.  800 binds at every test SF (~1.3k tokens/source at sf0.01,
# ~13k at sf0.1).
QUOTA_TOKENS = 800


@register_extra(
    "token_quota_selection",
    f"""
    WITH d AS (
      SELECT source, doc_id, len({_TOKS}) AS n,
             {md5_long_sql("CAST(doc_id AS VARCHAR)", salt="quota")} AS pri
      FROM documents
    ),
    c AS (
      SELECT source, doc_id, n,
             sum(n) OVER (PARTITION BY source ORDER BY pri, doc_id) - n
               AS tokens_before
      FROM d
    )
    SELECT source, count(*) AS n_selected,
           CAST(sum(n) AS BIGINT) AS sel_tokens
    FROM c WHERE tokens_before < {QUOTA_TOKENS}
    GROUP BY source
    """,
    doc="Deterministic per-source token-quota selection (mix "
    "materialization): docs gain a hash priority (md5(doc_id, "
    "salt='quota')) and each source keeps its priority-ordered prefix "
    "until the cumulative token count reaches QUOTA_TOKENS — "
    "overflowing by at most one document, the same convention as "
    "sequence packing.  Selection is a pure function of doc identity: "
    "re-runs, engine swaps, and corpus APPENDS that don't displace "
    "priorities reproduce the same sample, and growing the corpus "
    "keeps the selected token mass ~constant (that is the point of a "
    "quota).  Plan: one scan + a per-source cumsum window "
    "(hash-partitioned WindowExec) + the final small agg.  At 100 TB "
    "the window sorts each source's (pri, n) pairs — narrow rows, "
    "never the text; a dominant source can be pre-pruned with an "
    "approximate priority cutoff (rank ~3x budget/avg_tokens by pri) "
    "before the exact window, trading one extra agg for the sort "
    "volume, at the cost of a two-pass plan.",
)
def q_token_quota_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        "doc_id",
        F.size(TX.tokens("text")).alias("n"),
        md5_long(F.col("doc_id").cast("string"), salt="quota").alias("pri"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("pri", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.select(
        "source",
        "n",
        (F.sum("n").over(w) - F.col("n")).alias("tokens_before"),
    )
    return (
        c.where(F.col("tokens_before") < QUOTA_TOKENS)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_selected"),
            F.sum("n").cast("long").alias("sel_tokens"),
        )
    )
