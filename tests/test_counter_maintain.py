"""Generic streaming counter store (streaming/counter_maintain) and
its flagship consumer: continuously maintained BM25 corpus stats
(operators/retrieval.bm25_counter_increments)."""

from __future__ import annotations

from pyspark.sql import functions as F

from datagouv_tools_spark.operators.retrieval import (
    bm25_counter_increments,
    bm25_stats_from_counters,
    bm25_topk,
    corpus_stats,
)
from datagouv_tools_spark.sources.catalog import load_table
from datagouv_tools_spark.streaming.counter_maintain import (
    counter_maintain_batch,
    read_counters,
)
from datagouv_tools_spark.streaming.store import run_key_for_checkpoint

TERMS = ["spark", "hash", "window"]


def test_counters_add_merge_and_replay_noop(spark, tmp_path):
    path = str(tmp_path / "ctr")

    def inc(rows):
        return spark.createDataFrame(rows, "key string, val bigint")

    counter_maintain_batch(inc([("a", 2), ("b", 1), ("a", 3)]), path, "r", 0)
    counter_maintain_batch(inc([("b", 4), ("c", 7)]), path, "r", 1)
    assert read_counters(spark, path) == {"a": 5, "b": 5, "c": 7}
    # redelivery + out-of-order replay: tag rejects the double-add
    counter_maintain_batch(inc([("b", 4), ("c", 7)]), path, "r", 1)
    counter_maintain_batch(inc([("a", 2), ("b", 1), ("a", 3)]), path, "r", 0)
    assert read_counters(spark, path) == {"a": 5, "b": 5, "c": 7}


def test_streamed_bm25_stats_equal_batch_and_serve_identical_topk(
    spark, sf_dir, tmp_path
):
    """The payoff: stats maintained from a 2-batch stream equal one
    batch corpus_stats pass, and bm25_topk served from them (no corpus
    stats aggregation at query time) returns the identical ranking."""
    docs = load_table(spark, sf_dir, "documents")
    src = tmp_path / "src"
    src.mkdir()
    half = docs.filter(F.col("doc_id") < 250)
    rest = docs.filter(F.col("doc_id") >= 250)
    half.select("doc_id", "text").coalesce(1).write.parquet(str(src / "f1"))
    rest.select("doc_id", "text").coalesce(1).write.parquet(str(src / "f2"))

    path, ckpt = str(tmp_path / "ctr"), str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda b, i: counter_maintain_batch(
                bm25_counter_increments(b, TERMS), path,
                run_key_for_checkpoint(ckpt), i,
            )
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    maintained = bm25_stats_from_counters(read_counters(spark, path), TERMS)
    assert maintained == corpus_stats(docs, TERMS)

    from datagouv_tools_spark.operators.retrieval import bm25_scores

    served = (
        bm25_scores(docs, TERMS, stats=maintained)
        .filter(F.col("bm25") > 0.0)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(15)
    )
    recompute = bm25_topk(docs, TERMS, k=15)
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, recompute.collect())
    )
