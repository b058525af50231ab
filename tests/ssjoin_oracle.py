"""Hand-written SSJoin bodies of the three exact set-similarity queries.

These are ``token_jaccard_pairs``, ``ngram_jaccard_pairs`` and
``containment_pairs`` as each built its own prefix filter before the
queries shared ``dedup._prefix``: the token and containment prefixes
are a ``row_number`` window over (global df, element), the n-gram one
an ``array_sort`` + ``slice`` of collected (df, gram) structs, and each
body repeats the exact-ceil quantization, the prefix length, the
candidate self-join and the ``array_intersect`` verify.
``tests/test_ssjoin.py`` asserts the runtime queries return exactly
these rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from onnxtr_spark.functions.dedup import _char_ngrams, _norm_text
from onnxtr_spark.functions.hashing import hash64, round_half_up
from onnxtr_spark.functions.text import shingles, tokens
from onnxtr_spark.partitioning import spread


def prefix_tokens(documents: DataFrame, threshold: float) -> DataFrame:
    """(doc_id, tok, n): each doc's first n - ceil(t·n) + 1 distinct
    tokens by (global df, token), through a row_number window."""
    toks = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.explode(F.array_distinct(tokens())).alias("tok")
    )
    df_counts = toks.groupBy("tok").agg(F.count("*").alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy("df", "tok")
    wn = Window.partitionBy("doc_id")
    num = int(round(threshold * 10000))
    alpha = F.ceil((F.lit(num) * F.col("n")).cast("double") / F.lit(10000.0))
    return (
        toks.join(df_counts, "tok")
        .withColumn("pos", F.row_number().over(wdoc))
        .withColumn("n", F.count("*").over(wn).cast("long"))
        .where(F.col("pos") <= F.col("n") - alpha + 1)
        .select("doc_id", "tok", "n")
    )


def token_jaccard_pairs(documents: DataFrame, threshold: float = 0.9) -> DataFrame:
    documents = spread(documents)
    toks = documents.select(
        F.col("doc_id").cast("long").alias("doc_id"), F.explode(F.array_distinct(tokens())).alias("tok")
    )
    prefix = prefix_tokens(documents, threshold)
    cands = (
        prefix.alias("a")
        .join(prefix.alias("b"), "tok")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .where(
            F.lit(10000) * F.least("na", "nb") >= F.lit(int(round(threshold * 10000))) * F.greatest("na", "nb")
        )
        .distinct()
    )
    docsets = toks.groupBy("doc_id").agg(F.sort_array(F.collect_list("tok")).alias("toks"))
    num = int(round(threshold * 10000))
    return (
        cands.join(docsets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("toks", "ta"), "doc_a")
        .join(docsets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("toks", "tb"), "doc_b")
        .withColumn("inter", F.size(F.array_intersect("ta", "tb")).cast("long"))
        .withColumn("uni", F.col("na") + F.col("nb") - F.col("inter"))
        .where(F.lit(10000) * F.col("inter") >= F.lit(num) * F.col("uni"))
        .select("doc_a", "doc_b", round_half_up(F.col("inter") / F.col("uni"), 4).alias("jaccard"))
    )


def ngram_jaccard_pairs(documents: DataFrame, n: int = 5, threshold: float = 0.8) -> DataFrame:
    num = int(round(threshold * 10000))
    docsets = (
        spread(documents)
        .select(F.col("doc_id").cast("long").alias("doc_id"), _norm_text().alias("norm"))
        .select(
            "doc_id",
            F.array_sort(
                F.transform(_char_ngrams(n, F.col("norm")), lambda g: F.xxhash64(g))
            ).alias("gs"),
        )
        .withColumn("ng", F.size("gs").cast("long"))
        .localCheckpoint(eager=False)
    )
    grams = docsets.select("doc_id", "ng", F.explode("gs").alias("g"))
    df_counts = grams.groupBy("g").agg(F.count("*").alias("df"))
    alpha = F.ceil((F.lit(num) * F.col("ng")).cast("double") / F.lit(10000.0))
    plen = (F.col("ng") - alpha + 1).cast("int")
    prefix = (
        grams.join(df_counts, "g")
        .groupBy("doc_id", "ng")
        .agg(F.array_sort(F.collect_list(F.struct("df", "g"))).alias("dg"))
        .select("doc_id", "ng", F.explode(F.slice("dg", F.lit(1), plen)).alias("s"))
        .select("doc_id", F.col("s.g").alias("g"), "ng")
    )
    cands = (
        prefix.alias("a")
        .join(prefix.alias("b"), "g")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
            F.col("a.ng").alias("na"), F.col("b.ng").alias("nb"),
        )
        .where(F.lit(10000) * F.least("na", "nb") >= F.lit(num) * F.greatest("na", "nb"))
        .distinct()
    )
    return (
        cands.join(docsets.select(F.col("doc_id").alias("doc_a"), F.col("gs").alias("ga")), "doc_a")
        .join(docsets.select(F.col("doc_id").alias("doc_b"), F.col("gs").alias("gb")), "doc_b")
        .withColumn("inter", F.size(F.array_intersect("ga", "gb")).cast("long"))
        .withColumn("uni", F.col("na") + F.col("nb") - F.col("inter"))
        .where(F.lit(10000) * F.col("inter") >= F.lit(num) * F.col("uni"))
        .select("doc_a", "doc_b", round_half_up(F.col("inter") / F.col("uni"), 4).alias("jaccard"))
    )


def containment_pairs(documents: DataFrame, threshold: float = 0.9, k: int = 3) -> DataFrame:
    sh = shingles(documents, k).select(
        F.col("doc_id").cast("long").alias("doc_id"), hash64(F.col("shingle"), 29).alias("h")
    )
    dfc = sh.groupBy("h").agg(F.count("*").alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy("df", "h")
    wn = Window.partitionBy("doc_id")
    num = int(round(threshold * 10000))
    alpha = F.ceil((F.lit(num) * F.col("n")).cast("double") / F.lit(10000.0))
    prefix = (
        sh.join(dfc, "h")
        .withColumn("pos", F.row_number().over(wdoc))
        .withColumn("n", F.count("*").over(wn).cast("long"))
        .where(F.col("pos") <= F.col("n") - alpha + 1)
        .select("doc_id", "h", "n")
    )
    cands = (
        prefix.alias("a")
        .join(sh.alias("b"), "h")
        .where(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
        )
        .distinct()
    )
    docsets = sh.groupBy("doc_id").agg(F.sort_array(F.collect_list("h")).alias("hs"))
    return (
        cands.join(docsets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("hs", "ha"), "doc_a")
        .join(docsets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("hs", "hb"), "doc_b")
        .where(F.lit(10000) * F.size("hb") >= F.lit(num) * F.col("na"))
        .withColumn("inter", F.size(F.array_intersect("ha", "hb")).cast("long"))
        .where(F.lit(10000) * F.col("inter") >= F.lit(num) * F.col("na"))
        .select("doc_a", "doc_b", round_half_up(F.col("inter") / F.col("na"), 4).alias("containment"))
    )
