"""Physical-plan assertions: the plans we'd want at 100 TB.

Checks .explain output for predicate pushdown into parquet scans,
column pruning, broadcast joins on dimension tables, and whole-stage
codegen on the pure-SQL paths.
"""

import re

from onnxtr_spark.queries import relational as rel

SF_DIR = "/root/testdata/sf0.001"


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushdown_and_pruning(spark):
    p = plan(rel.q1_pricing_summary(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    m = re.search(r"ReadSchema: struct<([^\n]*)", p)  # toString truncates long lines
    assert m, p
    cols = m.group(1)
    assert "l_orderkey" not in cols  # unused columns pruned from the scan
    assert "l_quantity" in cols


def test_q3_broadcasts_dimensions(spark):
    p = plan(rel.q3_shipping_priority(spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in p


def test_q5_broadcasts_dimensions(spark):
    p = plan(rel.q5_nation_volume(spark, SF_DIR))
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p


def test_semi_join_shape(spark):
    p = plan(rel.order_priority_count(spark, SF_DIR))
    assert "LeftSemi" in p


def test_sessionize_stays_jvm_side(spark):
    p = plan(rel.events_sessionize(spark, SF_DIR))
    # pure window+agg algebra: no Python evaluation nodes of any kind
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p and "MapInPandas" not in p
    assert "Window" in p and "HashAggregate" in p


def test_ocr_pipeline_shuffle_budget(spark):
    """The OCR plan's wide ops stay bounded: render spread, media join,
    model-stage repartition, assembly window — and nothing quadratic."""
    from onnxtr_spark.stages.pipeline import extract_from_testdata

    p = plan(extract_from_testdata(spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert p.count("Exchange") <= 8, p
    # the two Python stages: page render + fused detect/recognize
    assert p.count("MapInArrow") == 2 and "MapInPandas" not in p, p


def test_rotated_pipeline_same_shape(spark):
    """assume_straight_pages=False must not change the plan shape —
    the rotated geometry lives inside the same fused Python stage."""
    from onnxtr_spark.stages.pipeline import extract_from_testdata_rotated

    p = plan(extract_from_testdata_rotated(spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert p.count("Exchange") <= 8, p
    assert p.count("MapInArrow") == 2 and "MapInPandas" not in p, p


def test_float_contract_pipeline_same_shape(spark):
    """A float-contract engine pair (real-CNN drop-in) must keep the
    fused single-Arrow-crossing plan: same 2 MapInArrow, same shuffle
    budget — the preprocess/forward/postprocess swap is entirely inside
    the fused Python stage (round-3 verdict item #2)."""
    from onnxtr_spark.engine import EngineConfig
    from onnxtr_spark.stages.detect import DetectConfig
    from onnxtr_spark.stages.ingest import docs_from_documents, load_documents, media_from_documents
    from onnxtr_spark.stages.pipeline import extract_spans
    from onnxtr_spark.stages.recognize import RecognizeConfig

    documents = load_documents(spark, SF_DIR)
    out = extract_spans(
        docs_from_documents(documents),
        media_from_documents(documents),
        det_cfg=DetectConfig(engine=EngineConfig(arch="stub_fast_float", input_contract="float_bchw")),
        reco_cfg=RecognizeConfig(engine=EngineConfig(arch="stub_crnn_float", input_contract="float_bchw")),
    )
    p = plan(out)
    assert "CartesianProduct" not in p
    assert p.count("Exchange") <= 8, p
    assert p.count("MapInArrow") == 2 and "MapInPandas" not in p, p


def test_html_strip_is_pure_jvm_map(spark):
    """The boilerplate strip is regexp column algebra: zero Python
    nodes, zero shuffles — a scan + project that codegens whole-stage."""
    from onnxtr_spark.sources.html import html_extract_query

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan(html_extract_query(docs))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p and "MapInPandas" not in p
    assert "Exchange" not in p  # narrow end to end
    assert "*(1)" in p  # the scan+split project codegens whole-stage


def test_pdf_roundtrip_two_python_stages(spark):
    from onnxtr_spark.sources.pdf import pdf_extract_query

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan(pdf_extract_query(docs))
    assert p.count("MapInPandas") == 2  # synthesize + parse
    assert p.count("Exchange") <= 1  # only the parallelism repartition


def test_eval_partials_single_explicit_shuffle(spark):
    """The matching stage must not be byte-coalesced into one partition:
    ONE explicit hash repartition on the page key feeds the groupBy
    (which reuses the partitioning — no second exchange) and the
    Python stage."""
    from onnxtr_spark.functions import evaluation as ev

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    boxes = ev.eval_boxes_from_documents(docs)
    p = plan(ev.localization_confusion(boxes.drop("text")))
    assert "MapInPandas" in p
    assert re.search(r"Exchange hashpartitioning\(doc_id[^\n]*page", p), p
    # the explicit page-key repartition + the final single-row agg only
    assert p.count("Exchange") <= 2, p


def test_lang_id_broadcast_profiles_no_python(spark):
    """Trigram lang-ID is declarative end to end: zero Python nodes,
    the profile table joins as a broadcast, no cartesian products."""
    from onnxtr_spark.functions import text as T

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan(T.lang_id(docs))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p and "MapInPandas" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_lsh_near_pairs_single_scan_codes(spark):
    """All band codes come from ONE pass over the embeddings for the
    code computation (posexplode over per-band structs, not a per-band
    union), and candidate generation is an equi-join — no cartesian."""
    from onnxtr_spark.functions import similarity as sim

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    p = plan(sim.lsh_near_pairs(emb, bits=4))
    assert "CartesianProduct" not in p
    # the CPU-bound code projection is localCheckpointed: it appears as
    # ONE materialized RDD reused for sizes + refinement + both
    # self-join sides — never re-derived per branch
    assert "Scan ExistingRDD" in p, p
    # parquet is scanned only for the two verify re-attachments
    assert p.count("Scan parquet") <= 2, p
    # bucket sizes are a partial-aggregated count, not a window gather
    assert "Window" not in p, p


def test_straightened_pipeline_same_shape(spark):
    """straighten_pages=True (G4 estimate+rotate+re-detect) lives inside
    the same fused Python stage — identical plan shape to the straight
    pipeline."""
    from onnxtr_spark.stages.pipeline import extract_from_testdata_straightened

    p = plan(extract_from_testdata_straightened(spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert p.count("Exchange") <= 8, p
    assert p.count("MapInArrow") == 2 and "MapInPandas" not in p, p


def test_scanned_pdf_three_python_stages(spark):
    """pdf_scanned_ocr: synthesize + rasterize + fused OCR are the only
    Python passes; PDF bytes cross to Python once per stage, pages once."""
    from onnxtr_spark.sources.pdf import synthesize_pdfs
    from onnxtr_spark.sources.rasterize import rasterize_pdf_pages
    from onnxtr_spark.sources.reader import assemble_page_text
    from onnxtr_spark.stages.fused import detect_recognize_pages

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pages = rasterize_pdf_pages(synthesize_pdfs(docs))
    p = plan(assemble_page_text(detect_recognize_pages(pages), "pdf_scanned"))
    assert p.count("MapInPandas") == 2 and p.count("MapInArrow") == 1, p  # synthesize, rasterize; OCR
    assert "CartesianProduct" not in p


def test_artefact_stage_single_python_pass(spark):
    from onnxtr_spark.stages.artefacts import detect_artefacts
    from onnxtr_spark.stages.ingest import docs_from_documents, load_documents, media_from_documents
    from onnxtr_spark.stages.pipeline import media_pages

    documents = load_documents(spark, SF_DIR)
    pages = media_pages(docs_from_documents(documents), media_from_documents(documents, artefacts=True))
    p = plan(detect_artefacts(pages))
    assert p.count("MapInArrow") == 1 and p.count("MapInPandas") == 1  # render; detect (pages decoded once)
    assert "CartesianProduct" not in p


def test_token_jaccard_prefix_bounded(spark):
    """The SSJoin prefix index must be bounded: each doc contributes at
    most floor((1-t)|X|)+1 tokens to the join side (no stopword d^2)."""
    from pyspark.sql import functions as F

    from onnxtr_spark.functions.dedup import prefix_tokens

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pref = prefix_tokens(docs, 0.9).groupBy("doc_id").agg(
        F.count("*").alias("indexed"), F.first("n").alias("n")
    )
    bad = pref.where(F.col("indexed") > F.floor(0.1 * F.col("n")) + 1).count()
    assert bad == 0


def test_bm25_plan_shape(spark):
    """BM25: term filter sits before the tf shuffle (only matching
    tokens survive the explode), corpus stats broadcast (no
    single-partition window), top-k is TakeOrderedAndProject (never a
    global sort)."""
    from onnxtr_spark.functions.text import bm25_search

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan(bm25_search(docs))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p  # stats/df broadcast
    assert "Window" not in p
    assert "CartesianProduct" not in p or "BroadcastNestedLoop" in p


def test_rolling_and_attribution_single_shuffle(spark):
    """The RANGE rolling window and the as-of attribution each cost ONE
    hash exchange on user_id — no self-join, no extra sort passes."""
    p = plan(rel.events_rolling_7d(spark, SF_DIR))
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "Join" not in p

    p2 = plan(rel.events_purchase_attribution(spark, SF_DIR))
    assert p2.count("Exchange hashpartitioning") == 1, p2
    assert "Join" not in p2


def test_containment_is_directional(spark):
    """A short doc quoted inside a long one: A→B containment fires,
    B→A does not (the long doc's extra shingles dilute it), and
    symmetric docs with disjoint text produce nothing."""
    import pandas as pd

    from pyspark.sql import functions as F

    from onnxtr_spark.functions.dedup import containment_pairs

    quote = "partition pruning beats full scans every single time honestly"
    docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": [
                quote,
                "long preamble about cluster sizing and shuffle tuning " + quote
                + " followed by a long discussion of adaptive execution plans",
                "completely different prose on sourdough hydration ratios",
            ],
        })
    )
    got = containment_pairs(docs, threshold=0.9).toPandas()
    pairs = set(map(tuple, got[["doc_a", "doc_b"]].values.tolist()))
    assert (1, 2) in pairs
    assert (2, 1) not in pairs
    assert not any(3 in p for p in pairs)


def test_minhash_bands_hash_once_no_shuffle_agg(spark):
    """MinHash band keys are one per-row fold: the md5 base hash
    (``concat(0:``, hash64's seed prefix) appears ONCE in the optimized
    plan, not once per signature seed, and there is no groupBy and no
    per-band union, for the batch operator and for the shared helper
    the streaming near-dup twin runs on (doc_id, text) rows."""
    from onnxtr_spark.functions import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    static = spark.createDataFrame(
        [("a", "one two three four"), ("b", "two words")], "doc_id string, text string"
    )
    for df in (dedup.minhash_bands(docs), dedup.band_keys(static)):
        p = df._jdf.queryExecution().optimizedPlan().toString()
        assert p.count("concat(0:") == 1, p
        assert "Union" not in p and "Aggregate" not in p, p


def test_semi_anti_join_queries_shape(spark):
    """q4/q16/q22: EXISTS → LeftSemi, NOT-IN/NOT-EXISTS → LeftAnti,
    dims broadcast, one agg exchange each — never a row-duplicating
    inner join where (anti/semi) set semantics are meant."""
    from onnxtr_spark.queries import relational as rel

    for fn, kind in [
        (rel.q4_late_orders, "LeftSemi"),
        (rel.q16_supplier_count, "LeftAnti"),
        (rel.q22_global_sales_opportunity, "LeftAnti"),
    ]:
        p = plan(fn(spark, SF_DIR))
        assert kind in p, (fn.__name__, p)
        assert "CartesianProduct" not in p
        assert p.count("Exchange hashpartitioning") <= 2, (fn.__name__, p)


def test_simhash_near_pairs_banded_equi_join(spark):
    """Candidate generation is a (band, key) equi-join — never a
    cartesian — and the verify is one bit_count, no window/sort over
    raw signature rows."""
    from onnxtr_spark.functions import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan(dedup.simhash_near_pairs(docs))
    assert "CartesianProduct" not in p
    assert "Window" not in p
    assert re.search(r"hashpartitioning\(band", p) or "band" in p, p


def test_aqe_splits_skewed_join(spark):
    """Scale evidence for the skew story: a join keyed on one hot value
    (10^5 rows on a single key vs 50 spread keys) is re-planned by AQE
    with the skewed partition SPLIT (the final adaptive SortMergeJoin
    carries the skew marker) instead of one straggler task. This is the
    mechanism the LSH/minhash band joins lean on for duplicate-heavy
    keys beyond what their own bucket refinement splits."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(100_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.col("id") % 50).alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(50).select(F.col("id").alias("k"), F.lit("dim").alias("v"))
        joined = left.join(right, "k")
        # collect() executes THIS DataFrame's QueryExecution (count()
        # would finalize a different one), so AQE re-plans in place
        assert len(joined.collect()) > 0
        p = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in p, p
        assert "skew=true" in p, p
    finally:
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                # a key with no pre-test value must be UNSET, not skipped —
                # leaving e.g. adaptive.autoBroadcastJoinThreshold=-1 leaks
                # a no-broadcast regime into every later test
                spark.conf.unset(k)


def test_bucketed_media_join_shuffle_free(spark):
    """The 100-TB ingest strategy made concrete: both sides of the page
    join written bucketBy(media_ref) → the join plans as SortMergeJoin
    with ZERO Exchange (the scan's bucketing satisfies the join's
    required distribution). This is the plan the pipeline docstring
    promises for 10^12 docs."""
    from onnxtr_spark.stages.ingest import (
        docs_from_documents,
        load_documents,
        media_from_documents,
        media_pages_bucketed,
        write_bucketed_corpus,
    )

    documents = load_documents(spark, SF_DIR).limit(50)
    spans_tbl, media_tbl = write_bucketed_corpus(
        docs_from_documents(documents), media_from_documents(documents), buckets=4,
        prefix="onnxtr_bkt_test",
    )
    # at 10^12 docs NEITHER side broadcasts; model that regime (the
    # tiny test tables would otherwise be broadcast and the planner
    # rightly skips bucketing)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = media_pages_bucketed(spark, spans_tbl, media_tbl)
        p = plan(joined)
        assert "SortMergeJoin" in p, p
        assert "Exchange" not in p, p
        assert "Bucketed: true" in p, p
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in (spans_tbl, media_tbl):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_skew_salt_scatters_giant_doc(spark):
    """North-rule skew: one 1000-page document must not pin one task —
    the media join's hash repartition scatters its pages across
    partitions (parallel grain = page, never doc)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from onnxtr_spark.stages.ingest import docs_from_documents, media_from_documents
    from onnxtr_spark.stages.pipeline import media_pages

    giant = pd.DataFrame({"doc_id": [1], "text": [" ".join(f"w{i}" for i in range(30 * 40))]})
    docs_df = spark.createDataFrame(giant)
    pages = media_pages(docs_from_documents(docs_df), media_from_documents(docs_df))
    dist = (
        pages.select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .count()
        .collect()
    )
    n_parts = len(dist)
    biggest = max(r["count"] for r in dist)
    # 40 pages over local[4] defaultParallelism=4: all partitions busy,
    # and no partition hoards more than half the pages
    assert n_parts >= spark.sparkContext.defaultParallelism
    assert biggest <= 40 / 2


def test_contamination_broadcasts_eval_grams(spark):
    """Decontamination must never shuffle the train side: the eval
    n-gram set is the broadcast build side, and the per-doc shared
    count partial-aggregates map-side."""
    from onnxtr_spark.functions.text import contamination

    import re as _re

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan(contamination(docs))
    # the join ON THE GRAM HASH is the broadcast one (the per-doc left
    # join's strategy is conf-dependent and not the point)
    assert _re.search(r"BroadcastHashJoin \[g#", p), p
    assert not _re.search(r"SortMergeJoin \[g#", p), p


def test_new_pipeline_operators_plan_shapes(spark):
    """Scale-shape assertions for the round-5 operators: no per-query
    windows over raw exploded rows, no cartesian products, broadcasts
    where a small side exists."""
    from onnxtr_spark.functions.similarity import cosine_topk_int8, quantize_embeddings
    from onnxtr_spark.functions.text import (
        passage_dedup,
        pii_scrub,
        repetition_stats,
        unigram_nll,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    # pii_scrub and quantize: pure narrow column algebra — no exchange
    # beyond the input spread, certainly no join/window
    for df in (pii_scrub(docs), quantize_embeddings(emb)):
        p = plan(df)
        assert "Window" not in p and "Join" not in p

    # repetition stats: the bigram mode is groupBy+max(struct), never a
    # window over the exploded grams
    p = plan(repetition_stats(docs))
    assert "Window" not in p
    assert "CartesianProduct" not in p

    # passage dedup: single hash aggregate (partial+final), no window
    p = plan(passage_dedup(docs))
    assert "Window" not in p and "Join" not in p

    # unigram NLL: the corpus total is a broadcast 1-row join, not a
    # single-partition window
    p = plan(unigram_nll(docs))
    assert "Window" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p

    # int8 top-k: queries broadcast into the scan side, two-level top-k
    # (partial rank inside fan-out buckets before the final window)
    p = plan(cosine_topk_int8(emb))
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    assert len(re.findall(r"\bWindow \[", p)) == 2  # partial + final row_number only


def test_new_doc_ops_plan_shapes(spark):
    """Scale-shape assertions for the round's doc-pipeline operators:
    pack_sequences shuffles once on the shard key (never a global
    sort); containment has no cartesian product; KMV's k-smallest pass
    is one window after one distinct — no self-joins anywhere."""
    from onnxtr_spark.functions.dedup import containment_pairs
    from onnxtr_spark.functions.text import pack_sequences

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    p = plan(pack_sequences(docs))
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "Sort [shard" in p or "Sort [" in p  # per-shard sort only
    assert "Exchange rangepartitioning" not in p  # no global ordering

    p2 = plan(containment_pairs(docs))
    assert "CartesianProduct" not in p2
    assert "BroadcastNestedLoopJoin" not in p2

    p3 = plan(rel.events_kmv_distinct(spark, SF_DIR))
    assert "CartesianProduct" not in p3
    # exactly one row_number window; WindowGroupLimit (top-k pushdown,
    # partial+final) is expected and welcome — count real Window nodes only
    assert len(re.findall(r"\bWindow \[", p3)) == 1, p3
    assert "WindowGroupLimit" in p3  # k-smallest never materializes full rank


def test_range_join_is_bucketed_equi_join(spark):
    """The 1-hour range join must plan as a hash equi-join on
    (user_id, bucket) — never the nested-loop/cartesian a raw
    inequality join would produce."""
    p = plan(rel.events_range_join(spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # any equi-join strategy is fine; the point is it's never a nested loop
    assert "HashJoin" in p or "SortMergeJoin" in p


def test_weighted_sample_is_take_ordered(spark):
    """A-ES top-k must be TakeOrderedAndProject (per-partition heap),
    never a global Sort + Limit."""
    from onnxtr_spark.functions import selection

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan(selection.weighted_sample(docs))
    assert "TakeOrderedAndProject" in p
    assert "Exchange" not in p  # no shuffle: heaps merge on the driver


def test_histogram_is_partial_agg(spark):
    """One aggregate exchange, map-side partial aggregation, no window."""
    p = plan(rel.events_value_histogram(spark, SF_DIR))
    assert p.count("Exchange") == 1
    assert "partial_count" in p or "HashAggregate" in p
    assert "Window" not in p


def test_bigram_nll_plan_shape(spark):
    """Interpolated bigram LM: adjacent pairs come from zip_with on the
    token array (no positional self-join), the corpus total is a
    broadcast 1-row join, and nothing plans a window or cartesian."""
    from onnxtr_spark.functions.text import bigram_nll

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = plan(bigram_nll(docs))
    assert "Window" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_session5_crawl_ops_plan_shapes(spark):
    """Scale-shape assertions for the crawl/sketch family: PageRank and
    HLL never window or go cartesian; semdedup's only nested-loop join
    is the broadcast centroid attach; the frontier schedule plans
    exactly its two semantic windows."""
    from onnxtr_spark.functions.graph import frontier_schedule, host_pagerank
    from onnxtr_spark.functions.similarity import semdedup
    from onnxtr_spark.functions.urls import url_dedup_query
    from onnxtr_spark.queries.relational import events_hll_distinct

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    p = plan(host_pagerank(docs))
    assert "Window" not in p and "CartesianProduct" not in p

    p = plan(events_hll_distinct(spark, SF_DIR))
    assert "Window" not in p and "CartesianProduct" not in p

    p = plan(url_dedup_query(docs))
    assert "Window" not in p and "Join" not in p  # narrow map + one agg

    # semdedup's post-checkpoint stage (the localCheckpoint truncates the
    # assignment lineage): the pair stage must be an equi-join on cell,
    # never a cartesian
    p = plan(semdedup(emb))
    assert "CartesianProduct" not in p
    assert "Join" in p

    p = plan(frontier_schedule(docs))
    assert "CartesianProduct" not in p
    assert len(re.findall(r"\bWindow \[", p)) == 2  # per-host round + per-round rank


def test_dynamic_partition_pruning_fires_on_partitioned_fact(spark, tmp_path):
    """Writing the fact partitioned by a date-derived key and joining a
    dim filtered on a NON-join column must plan DYNAMIC partition
    pruning: the fact scan's PartitionFilters carry a dynamicpruning
    subquery fed by the dim, so only the surviving months' directories
    are read — the mechanism that turns a 100 TB scan into a 3-month
    scan when the filter is only knowable through the join."""
    from pyspark.sql import functions as F

    fact_path = str(tmp_path / "fact")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    orders.withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM")).write.partitionBy(
        "o_month"
    ).parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = spark.createDataFrame(
        [("1995-03", 1), ("1995-04", 0), ("1996-01", 0)], "o_month string, flag int"
    ).where("flag = 1")
    joined = fact.join(dim, "o_month").groupBy("o_month").agg(F.count("*").alias("n"))
    p = plan(joined)
    assert "dynamicpruning" in p.lower(), p[:2000]
    # and the pruned result is correct
    got = joined.collect()
    assert len(got) == 1 and got[0]["o_month"] == "1995-03"


def test_round5b_ops_plan_shapes(spark):
    """Scale shapes of the round-5b ops: anchor-text windows only over
    the (host, term) aggregate (never raw edges); tf-idf broadcasts the
    1-row N and windows only over the tf aggregate; incremental dedup
    plans an anti-join (broadcast or SMJ, AQE's pick) with no window at
    all; retention windows only the cohort matrix."""
    from onnxtr_spark.functions.dedup import incremental_dedup
    from onnxtr_spark.functions.graph import anchor_text
    from onnxtr_spark.functions.text import tfidf_keywords
    from onnxtr_spark.queries.relational import events_retention_cohorts

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    p = plan(anchor_text(docs))
    assert "CartesianProduct" not in p
    # exactly one window: the modal-term rank over the aggregated terms
    assert len(re.findall(r"\bWindow \[", p)) == 1
    # the window's input is an aggregate, not the raw edge fan-out:
    # every Window appears after a HashAggregate in the tree walk
    assert p.index("Window") > p.index("HashAggregate")

    p = plan(tfidf_keywords(docs))
    assert "CartesianProduct" not in p  # 1-row N attaches as broadcast NL join
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert len(re.findall(r"\bWindow \[", p)) == 1

    p = plan(incremental_dedup(docs))
    assert "Window" not in p and "CartesianProduct" not in p
    assert "LeftAnti" in p

    p = plan(events_retention_cohorts(spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert len(re.findall(r"\bWindow \[", p)) == 1


def test_round5c_ops_plan_shapes(spark):
    """Scale shapes of the normalization/chunking/z-score ops: z-score
    broadcasts the k-row per-type moments back onto the scan (partial
    agg, no second full shuffle); sliding chunking is scan -> explode
    with no join/window; both dedup-normalized and normalize_text stay
    window- and join-free (one partial-combined agg / pure map)."""
    from onnxtr_spark.functions.text import chunk_sliding, normalize_dedup, normalize_text
    from onnxtr_spark.queries.relational import events_value_zscore

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    p = plan(events_value_zscore(spark, SF_DIR))
    assert "BroadcastHashJoin" in p  # moments join must be broadcast
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "Window" not in p

    p = plan(chunk_sliding(docs))
    assert "Generate" in p  # the explode
    assert "Join" not in p and "Window" not in p and "HashAggregate" not in p

    p = plan(normalize_dedup(docs))
    assert p.count("HashAggregate") == 2  # partial + final, nothing else
    assert "Join" not in p and "Window" not in p

    p = plan(normalize_text(docs))
    assert "Exchange" not in p  # pure narrow map over the scan


def test_knn_classify_no_pair_materialization(spark):
    """Round-6 rewrite: exact kNN must not materialize the N_lab x N_unl
    pair relation in the JVM (the old crossJoin(broadcast(unl)) shape —
    575 s at the driver's sf1.0). The plan is one Arrow stage over the
    unlabeled scan: no cross join, no window, no pair shuffle."""
    from onnxtr_spark.functions.similarity import knn_classify

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    p = plan(knn_classify(emb))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Join" not in p and "Window" not in p
    assert "MapInPandas" in p or "ArrowEvalPython" in p


def test_knn_classify_matches_independent_bruteforce(spark):
    """Bit-exact contract of the vectorized path: the NumPy per-dim
    accumulation must reproduce the oracle's sequential float64 fold,
    rounding, (sim DESC, id ASC) top-k, and (votes DESC, label ASC)
    tie-breaks. Re-derives the expected answer with a pure-Python
    scalar loop (independent of both NumPy vectorization and Spark)."""
    import math
    import random

    from onnxtr_spark.functions.similarity import KNN_CLASSIFY_K, ROUND, knn_classify

    rng = random.Random(42)
    dim, n = 7, 61
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)], rng.randrange(4))
        for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    # pure-python re-derivation on the FLOAT32-cast values (the parquet/
    # DataFrame column is array<float>; both engines fold the float64
    # casts of those float32 values)
    import numpy as np

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(np.float32(x)) * float(np.float32(y))
        return acc

    def rnd(x):
        m = 10.0**ROUND
        return math.floor(x * m + 0.5) / m + 0.0

    lab = [(i, v, l) for i, v, l in rows if i % 5 != 0]
    expected = {}
    for qid, qv, _ in rows:
        if qid % 5 != 0:
            continue
        qn = math.sqrt(fold_dot(qv, qv))
        sims = sorted(
            (
                (-rnd(fold_dot(qv, v) / (qn * math.sqrt(fold_dot(v, v)))), i, l)
                for i, v, l in lab
            )
        )[:KNN_CLASSIFY_K]
        votes = {}
        for _, _, l in sims:
            votes[l] = votes.get(l, 0) + 1
        best = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        expected[qid] = (best[0], best[1])

    got = {
        int(r["vec_id"]): (int(r["pred_label"]), int(r["n_votes"]))
        for r in knn_classify(emb).collect()
    }
    assert got == expected
