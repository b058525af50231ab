"""Row and plan identity of the one-fold MinHash band keys and doc
fingerprint against the explode + groupBy forms they replace.

    python plans/r15/fold_probe.py SF_DIR [--time]

The replaced forms are written out below as they stood before the fold:
``minhash_bands`` (explode shingles, a groupBy of 8 ``min`` aggregates,
a 4-way union of band selects), ``fingerprint`` (explode, groupBy
``min``) and the streaming twin's inline per-row fold (the md5 hash
inside each of the 8 seed folds). For each pair the probe prints the
row counts, ``exceptAll`` in both directions, whether the schemas are
equal, and the optimized plan's ``concat(0:`` copies, Union and
Aggregate nodes and the executed plan's Exchange lines; with
``--time`` it also times one full run of each form into the noop sink.
"""

from __future__ import annotations

import sys
import time
from functools import reduce

sys.path.insert(0, ".")

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from onnxtr_spark.functions import dedup, text  # noqa: E402
from onnxtr_spark.functions.dedup import LSH_BANDS, MINHASH_A, MINHASH_K, MINHASH_P  # noqa: E402
from onnxtr_spark.functions.hashing import hash64  # noqa: E402
from onnxtr_spark.session import get_spark  # noqa: E402


def grouped_minhash_bands(documents: DataFrame) -> DataFrame:
    sh = text.shingles(documents).withColumn("base", F.pmod(hash64(F.col("shingle"), 0), F.lit(MINHASH_P)))
    sigs = sh.groupBy("doc_id").agg(*[
        F.min(F.pmod(F.col("base") * F.lit(MINHASH_A[i]), F.lit(MINHASH_P))).alias(f"sig_{i}")
        for i in range(MINHASH_K)
    ])
    r = MINHASH_K // LSH_BANDS
    rows = [
        sigs.select(
            "doc_id",
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("_", *[F.col(f"sig_{b * r + j}").cast("string") for j in range(r)])).alias("band_key"),
        )
        for b in range(LSH_BANDS)
    ]
    return reduce(DataFrame.unionByName, rows)


def grouped_fingerprint(documents: DataFrame) -> DataFrame:
    return text.shingles(documents).groupBy("doc_id").agg(F.min(hash64(F.col("shingle"), 0)).alias("fingerprint"))


def inline_stream_bands(docs: DataFrame) -> DataFrame:
    base = F.transform(text.shingle_array(text.tokens()), lambda s: F.pmod(hash64(s, 0), F.lit(MINHASH_P)))
    sigs = [
        F.array_min(F.transform(base, lambda b: F.pmod(b * F.lit(MINHASH_A[i]), F.lit(MINHASH_P))))
        for i in range(MINHASH_K)
    ]
    r = MINHASH_K // LSH_BANDS
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("_", *[sigs[b * r + j].cast("string") for j in range(r)])).alias("band_key"),
        )
        for b in range(LSH_BANDS)
    ])
    return docs.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def shape(df: DataFrame) -> str:
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    ex = df._jdf.queryExecution().executedPlan().toString()
    return (
        f"concat(0: x{opt.count('concat(0:')}, Union={'Union' in opt}, "
        f"Aggregate={'Aggregate' in opt}, Exchange lines={ex.count('Exchange')}"
    )


def noop_s(df: DataFrame) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    sf_dir = sys.argv[1]
    timed = "--time" in sys.argv
    spark = get_spark("fold_probe", cpus=4, shuffle_partitions=8)
    documents = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream_docs = documents.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    pairs = [
        ("minhash_bands", grouped_minhash_bands(documents), dedup.minhash_bands(documents)),
        ("fingerprint", grouped_fingerprint(documents), text.fingerprint(documents)),
        ("stream band keys", inline_stream_bands(stream_docs), dedup.band_keys(stream_docs)),
    ]
    ids = documents.select("doc_id")
    print(f"{sf_dir}: {ids.count()} docs, {ids.distinct().count()} distinct doc_id")
    for name, old, new in pairs:
        print(
            f"{name}: rows {old.count()} -> {new.count()}, "
            f"exceptAll {old.exceptAll(new).count()}/{new.exceptAll(old).count()}, "
            f"schema equal {old.schema == new.schema}"
        )
        print(f"  old: {shape(old)}\n  new: {shape(new)}")
        if timed:
            print(f"  noop s: old {noop_s(old):.2f}, new {noop_s(new):.2f}")
    spark.stop()


if __name__ == "__main__":
    main()
