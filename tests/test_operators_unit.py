"""Operator-level unit tests (SURVEY §5.2): window bucketing edge
cases, generator determinism and density, plan-shape assertions, and
the streaming dedup contract."""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark.operators.windowed import windowed_count
from flink_repartition_watermark_example_spark.plans.introspect import plan_facts
from flink_repartition_watermark_example_spark.queries import EXTRA_QUERIES, QUERIES
from flink_repartition_watermark_example_spark.sources.generator import pageviews
from flink_repartition_watermark_example_spark.streaming.dedup import dedup_stream


def _utc(*a):
    return datetime(*a, tzinfo=timezone.utc)


# --- S6 window bucketing: floor semantics at the boundary ----------------


def test_event_on_hour_boundary_belongs_to_starting_window(spark):
    rows = [
        ("k", "2024-01-01 10:00:00"),  # exactly on the boundary
        ("k", "2024-01-01 10:59:59.999999"),  # last µs of the hour
        ("k", "2024-01-01 11:00:00"),  # next window
    ]
    df = spark.createDataFrame(rows, ["url", "s"]).select(
        "url", F.col("s").cast("timestamp").alias("ts")
    )
    out = {r.window_start.hour: r.aggregate for r in windowed_count(df, "ts", ["url"]).collect()}
    assert out == {10: 2, 11: 1}


def test_windows_are_half_open_hour_aligned(spark, sf_dir):
    res = QUERIES["windowed_count"].spark(spark, sf_dir).collect()
    for r in res:
        assert r.window_start.minute == 0 and r.window_start.second == 0
        assert (r.window_end - r.window_start).total_seconds() == 3600


# --- S2 generator: density, determinism, url domain ----------------------


def test_generator_density_and_determinism(spark):
    a = pageviews(spark, _utc(2016, 2, 1), _utc(2016, 2, 1, 2), 1000, seed=7)
    b = pageviews(spark, _utc(2016, 2, 1), _utc(2016, 2, 1, 2), 1000, seed=7)
    assert a.count() == 7200  # one per second over 2 h (Main.scala:13)
    assert a.exceptAll(b).count() == 0  # seeded → identical
    urls = {r.url for r in a.select("url").distinct().collect()}
    assert urls <= {f"http://site.com/{i}" for i in range(10)}  # Pageview.scala:14-16
    # conservation through the flagship query (SURVEY §5.1 invariant 1)
    total = (
        windowed_count(a, "ts", ["url"]).agg(F.sum("aggregate").alias("s")).first().s
    )
    assert total == 7200


# --- S12 plan introspection: the plans we'd want at 100 TB ---------------


def test_flagship_plan_shape(spark, sf_dir):
    facts = plan_facts(QUERIES["windowed_count"].spark(spark, sf_dir))
    assert facts.has_partial_aggregate, "count must be partial+final"
    assert facts.n_exchanges <= 2, "one hash shuffle (+AQE read) max"
    assert facts.read_schema_columns == 2, "scan must prune to ts+event_type"


def test_dim_join_is_broadcast(spark, sf_dir):
    facts = plan_facts(EXTRA_QUERIES["revenue_by_segment"].spark(spark, sf_dir))
    assert facts.has_broadcast_join, "customer dim must broadcast"


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    facts = plan_facts(QUERIES["scan_filter_project"].spark(spark, sf_dir))
    assert facts.pushed_filters


# --- streaming dedup contract -------------------------------------------


def test_stream_dedup_equals_batch_within_watermark(spark, tmp_path):
    src = str(tmp_path / "dups")
    base = pageviews(spark, _utc(2016, 2, 1), _utc(2016, 2, 1, 1), 2000, seed=3)
    # duplicate every event once (same event_id), in the same files
    base.union(base).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    deduped = dedup_stream(stream, ["event_id"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select count(*) as n from dedup_out").first().n
    assert got == base.count()


def test_hll_sketch_within_error_bound(spark, sf_dir):
    """The HLL sketch estimate must land within 5% (~3σ at lgK=12) of
    exact distinct; the query itself emits the bound check so the
    driver's oracle gate verifies it too."""
    rows = QUERIES["approx_distinct_users_sketch"].spark(spark, sf_dir).collect()
    exact = {
        r.event_type: r.distinct_users
        for r in QUERIES["distinct_users_by_type"].spark(spark, sf_dir).collect()
    }
    assert {r.event_type for r in rows} == set(exact)
    for r in rows:
        assert r.sketch_within_5pct, (r.event_type, r.exact_users)
        assert r.exact_users == exact[r.event_type]


# --- LSH hot-bucket cap ----------------------------------------------------


def test_lsh_hot_bucket_is_capped(spark):
    """A degenerate band bucket (here: hundreds of identical docs, so
    every band collides) must be dropped before the self-join rather
    than proposing a quadratic pair set; ordinary small buckets still
    propose their pairs."""
    from flink_repartition_watermark_example_spark.operators.dedup import (
        MAX_BUCKET_DOCS,
        lsh_candidate_pairs,
    )

    boilerplate = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1000 + i, boilerplate) for i in range(3 * MAX_BUCKET_DOCS)]
    # One genuine near-dup pair in its own (tiny) buckets.
    rows += [(1, "alpha beta gamma delta epsilon zeta"),
             (2, "alpha beta gamma delta epsilon zeta")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = lsh_candidate_pairs(docs).select("doc_a", "doc_b").collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    assert got == {(1, 2)}, (
        f"expected only the small-bucket pair, got {len(got)} pairs "
        "(hot bucket leaked into the self-join)"
    )


# --- chunking invariants ---------------------------------------------------


def test_chunking_covers_every_token_with_fixed_overlap(spark):
    """Every token index is covered by >= 1 chunk; consecutive chunks
    overlap by exactly size-stride tokens; short docs yield one chunk."""
    from flink_repartition_watermark_example_spark.functions import textfns as TX

    texts = [
        " ".join(f"w{i}" for i in range(n))
        for n in (1, 5, TX.CHUNK_SIZE, TX.CHUNK_SIZE + 1, 100, 257)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    toks = TX.tokens("text")
    out = (
        docs.select("doc_id", F.posexplode(TX.chunk_texts(toks)).alias("cid", "chunk"))
        .collect()
    )
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.cid, r.chunk.split(" ")))
    for i, t in enumerate(texts):
        n = len(t.split(" "))
        chunks = [c for _, c in sorted(by_doc[i])]
        if n <= TX.CHUNK_SIZE:
            assert len(chunks) == 1 and len(chunks[0]) == n
            continue
        # coverage: concatenating chunk k's tokens from stride offsets
        # reconstructs the doc exactly
        recon = chunks[0] + [
            tok for c in chunks[1:] for tok in c[TX.CHUNK_SIZE - TX.CHUNK_STRIDE :]
        ]
        assert recon == t.split(" "), f"doc {i}: coverage broken"
        # overlap: chunk k+1 starts with the last size-stride tokens of k
        for a, b in zip(chunks, chunks[1:]):
            ov = TX.CHUNK_SIZE - TX.CHUNK_STRIDE
            assert b[:ov] == a[-ov:], f"doc {i}: overlap broken"


# --- iterative connected components (operators/graph.py) -----------------


def test_connected_components_transitive_closure(spark):
    # chain 1-2-3 (1,3 never directly paired), pair 10-11, singleton 99
    verts = spark.createDataFrame([(v,) for v in [1, 2, 3, 10, 11, 99]], ["v"])
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (3, 3)], ["src", "dst"]  # dup/self-loop safe
    )
    from flink_repartition_watermark_example_spark.operators.graph import connected_components

    got = {
        r.v: r.component
        for r in connected_components(verts, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_star_contraction_agrees_with_minlabel(spark):
    """The O(log n) alternating-star production path and the
    obviously-correct min-label twin must agree — exercised on a graph
    with a long chain (the diameter case star contraction exists for),
    a dense clique, dups, self-loops, and isolated vertices."""
    import random

    from flink_repartition_watermark_example_spark.operators.graph import (
        connected_components,
        connected_components_minlabel,
    )

    rng = random.Random(7)
    edges = [(v, v + 1) for v in range(0, 19)]              # chain 0..19
    edges += [(a, b) for a in range(30, 36) for b in range(30, 36)]  # clique
    edges += [(rng.randint(40, 60), rng.randint(40, 60)) for _ in range(25)]
    verts = spark.createDataFrame([(v,) for v in range(0, 70)], ["v"])
    edf = spark.createDataFrame(edges, ["src", "dst"])
    star = {r.v: r.component for r in connected_components(verts, edf).collect()}
    ml = {
        r.v: r.component
        for r in connected_components_minlabel(verts, edf).collect()
    }
    assert star == ml


def test_minhash_keeps_shingle_lambda_out_of_scan_stage(spark, sf_dir):
    """Regression guard for the InferFiltersFromGenerate trap: with a
    bare explode, Catalyst infers size(shingles)>0 and pushes the whole
    interpreted shingle lambda below the fan_out repartition into the
    single-split scan (measured ~4 s single-threaded at sf0.1).  The
    explode_outer construction must leave the scan stage free of any
    array-transform filter."""
    from flink_repartition_watermark_example_spark.operators.dedup import minhash_sig_array
    from flink_repartition_watermark_example_spark.sources.tables import load_table

    plan = (
        minhash_sig_array(load_table(spark, sf_dir, "documents"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # scan is below the repartition; rindex, because an AQE plan string
    # can carry BOTH a Final and an Initial section (two printed trees)
    # — the bottom-most Exchange is the last repartition before the
    # scan in whichever tree prints last, and a leaked lambda would sit
    # below it either way
    scan_side = plan[plan.rindex("Exchange") :]
    assert "transform" not in scan_side, (
        "shingle lambda leaked below the repartition into the scan stage:\n"
        + scan_side[:1500]
    )


def test_new_ops_broadcast_their_small_sides(spark, sf_dir):
    """Scale-shape guards: the CDC anti-join must broadcast the changed
    keys (base table never shuffles for it), and BM25 must broadcast
    the per-term df table back onto the posting list."""
    cdc = EXTRA_QUERIES["cdc_apply_orders"].spark(spark, sf_dir)
    plan = cdc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan

    bm25 = EXTRA_QUERIES["bm25_search"].spark(spark, sf_dir)
    plan = bm25._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# --- skew-join salting: the salt must be IN the join key ------------------


def test_salted_join_spreads_hot_key_and_matches_plain_join(spark):
    from flink_repartition_watermark_example_spark.scale import salted_join

    # 90%-hot key distribution, like the streaming salted-count test
    rows = [(i, "hot" if i % 10 else "cold", i * 3 % 7) for i in range(1000)]
    fact = spark.createDataFrame(rows, "id long, k string, v long")
    dim = spark.createDataFrame(
        [("hot", 100), ("cold", 200)], "k string, bonus long"
    )

    j = salted_join(fact, dim, "k", spread_col="id", salt_buckets=8)
    plain = fact.join(dim, "k")
    assert sorted(map(tuple, j.collect())) == sorted(map(tuple, plain.collect()))

    # the join must execute on (k, __salt): the physical plan's join
    # keys (and the exchanges feeding it) carry the salt column, which
    # is what splits the hot key across salt_buckets tasks
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan, plan[:1500]
    # deterministic: same inputs -> byte-identical result set
    j2 = salted_join(fact, dim, "k", spread_col="id", salt_buckets=8)
    assert sorted(map(tuple, j2.collect())) == sorted(map(tuple, j.collect()))


def test_winnowing_guarantee_shared_run_yields_shared_fingerprint(spark):
    # MOSS guarantee: any shared run of w+n-1 consecutive tokens
    # (here 4+3-1 = 6) produces at least one shared selected
    # fingerprint — the property that makes winnowing a sound
    # substring-overlap detector at 1/w storage.
    from flink_repartition_watermark_example_spark.operators import dedup as DD

    shared_run = "alpha bravo charlie delta echo foxtrot"  # 6 tokens
    docs = spark.createDataFrame(
        [
            (1, f"one two three {shared_run} four five six"),
            (2, f"seven eight nine ten {shared_run} eleven"),
            (3, "totally unrelated words with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    pairs = DD.winnow_neardup_pairs(docs, min_shared=1).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    assert (1, 2) in found
    assert all(3 not in p for p in found)


def test_winnowing_selects_subset_of_gram_hashes_at_reduced_rate(spark, sf_dir):
    from flink_repartition_watermark_example_spark.functions import textfns as TX
    from flink_repartition_watermark_example_spark.functions.hashing import md5_long
    from flink_repartition_watermark_example_spark.operators import dedup as DD
    from flink_repartition_watermark_example_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").limit(200)
    fp = DD.winnow_fingerprints(docs)
    grams = docs.select(
        "doc_id",
        F.explode(TX.shingles(TX.tokens("text"), DD.SHINGLE_N)).alias("g"),
    ).select("doc_id", md5_long(F.col("g")).alias("h")).distinct()
    # every fingerprint is one of the doc's own gram hashes...
    stray = fp.join(
        grams,
        (fp.doc_id == grams.doc_id) & (fp.fp == grams.h),
        "left_anti",
    ).count()
    assert stray == 0
    # ...and winnowing actually thins the set (~1/w of the grams; the
    # 2/w bound holds loosely even on small docs)
    n_fp = fp.count()
    n_g = grams.count()
    assert 0 < n_fp < n_g


def test_winnow_build_shared_across_both_pair_queries(spark, sf_dir):
    # One winnow_build must serve BOTH pair queries with results
    # identical to their standalone forms — the composed path computes
    # the window stage and the capped pair self-join once.
    from flink_repartition_watermark_example_spark.operators import dedup as DD
    from flink_repartition_watermark_example_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(300)
    build = DD.winnow_build(docs)
    near_c = sorted(map(tuple, DD.winnow_neardup_pairs(build=build).collect()))
    cont_c = sorted(
        map(tuple, DD.winnow_containment_pairs(build=build).collect())
    )
    assert near_c == sorted(map(tuple, DD.winnow_neardup_pairs(docs).collect()))
    assert cont_c == sorted(
        map(tuple, DD.winnow_containment_pairs(docs).collect())
    )


def test_containment_shared_recomputed_uncapped(spark):
    # A pair surviving the capped candidate join must report its TRUE
    # (uncapped) shared count and containment: here every fingerprint
    # of the excerpt run is also viral across `copies` docs beyond the
    # cap EXCEPT enough cold ones to propose the pair; the emitted
    # containment must still reflect the full overlap.
    from pyspark.sql import functions as F

    from flink_repartition_watermark_example_spark.operators import dedup as DD

    # cold run proposes the pair; hot run is shared by doc 1, doc 2 AND
    # `copies` other docs, pushing its fingerprints over the cap
    cold = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    hot = "kilo lima mike november oscar papa quebec romeo sierra tango"
    cap = 3
    rows = [(1, f"{cold} {hot}"), (2, f"{cold} {hot} unrelated trailing words here")]
    rows += [(10 + i, f"prefix{i} pad{i} filler{i} {hot}") for i in range(cap + 2)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r.doc_a, r.doc_b): r
        for r in DD.winnow_containment_pairs(
            docs, min_shared=1, min_containment=0.0, max_fp_docs=cap
        ).collect()
    }
    assert (1, 2) in got
    # capped shared (cold fps only) would undercount; the uncapped
    # recompute must include the hot run's shared fingerprints too
    fp = DD.winnow_fingerprints(docs)
    true_shared = (
        fp.where(F.col("doc_id") == 1)
        .select("fp")
        .intersect(fp.where(F.col("doc_id") == 2).select("fp"))
        .count()
    )
    r = got[(1, 2)]
    assert r.shared == true_shared
    n1 = fp.where(F.col("doc_id") == 1).count()
    n2 = fp.where(F.col("doc_id") == 2).count()
    assert abs(r.containment - true_shared / min(n1, n2)) < 1e-12


def test_containment_catches_quotation_that_jaccard_dilutes(spark):
    from flink_repartition_watermark_example_spark.operators import dedup as DD

    quote = "the quick brown fox jumps over the lazy dog tonight"  # 10 toks
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))  # 120 toks
    docs = spark.createDataFrame(
        [(1, quote), (2, f"{filler} {quote}")],
        "doc_id long, text string",
    )
    rows = DD.winnow_containment_pairs(
        docs, min_shared=1, min_containment=0.9
    ).collect()
    assert len(rows) == 1 and (rows[0].doc_a, rows[0].doc_b) == (1, 2)
    assert rows[0].containment >= 0.9
    # the symmetric detector at jaccard >= 0.3 must NOT pair them —
    # that asymmetry is the whole point of the containment signal
    sym = DD.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    assert sym == []


def test_winnow_prebuilt_refuses_mismatched_knobs(spark, sf_dir):
    """A prebuilt WinnowBuild carries the knobs its candidates were
    filtered with; the pair wrappers must REFUSE a mismatching request
    instead of silently ignoring it (the candidates cannot be
    re-filtered after the fact)."""
    import pytest as _pytest

    from flink_repartition_watermark_example_spark.operators import dedup as DD
    from flink_repartition_watermark_example_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(50)
    build = DD.winnow_build(docs)
    with _pytest.raises(ValueError, match="min_shared"):
        DD.winnow_neardup_pairs(build=build, min_shared=5)
    with _pytest.raises(ValueError, match="max_fp_docs"):
        DD.winnow_containment_pairs(build=build, max_fp_docs=7)
    # matching knobs (the defaults) pass through
    assert DD.winnow_neardup_pairs(build=build).columns == [
        "doc_a", "doc_b", "shared",
    ]


def test_release_pins_drops_memo_entries_per_dir(spark, sf_dir):
    # ADVICE r12 #5: the pinned dedup relations need a release path so
    # multi-sf sweeps don't accumulate unbounded checkpoint blocks.
    import flink_repartition_watermark_example_spark.queries_dedup as QD
    from flink_repartition_watermark_example_spark import artifacts

    def pinned(kind):
        return [k for k in artifacts._MEMO if k.kind == kind]

    assert QD.release_pins is artifacts.release  # one name, no wrapper
    artifacts.release()
    QD.pinned_simhash(spark, sf_dir)
    QD.pinned_family_pairs(spark, sf_dir, "simhash")
    assert pinned("pinned_simhash") and pinned("pinned_family_pairs")
    # a different dir is untouched
    assert artifacts.release("/nonexistent/dir") == 0
    assert pinned("pinned_simhash")
    n = artifacts.release(sf_dir)
    assert n >= 2
    assert not pinned("pinned_simhash") and not pinned("pinned_family_pairs")
    # re-pin after release works
    QD.pinned_simhash(spark, sf_dir)
    assert pinned("pinned_simhash")
    artifacts.release()
