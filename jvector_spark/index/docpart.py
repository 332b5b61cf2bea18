"""Document-partitioned index layout — the cluster-QPS architecture.

The primary (term-partitioned) layout gathers ALL of a query's posting
blocks into one task via a shuffle; that is optimal for rare-term lookups
but pays per-query data movement proportional to the matched blocks. This
module adds the classic complementary layout: partition the corpus by
doc-range into ``n_buckets`` shards, each holding a COMPLETE mini inverted
index over its own documents (all terms of a doc live in its bucket by
construction). Global statistics (idf, avgdl, N) stay corpus-wide and ride
broadcast-side, so per-bucket scores are exact final scores.

Query execution = one scan: the (tiny) query set is shipped inside the UDF
closure, every bucket answers top-k for EVERY query from local blocks via
the same two-tier Block-Max WAND kernel, and a window over the
buckets × k × queries partial results takes the global top-k — the
multi-index rerankFloor merge surveyed as Q10
(GraphSearcher.java:196-201,368-386). No per-query shuffle exists at all:
cluster QPS scales with buckets, the way jvector's QPS scales with search
threads (README.md:21-22).

Trade-offs vs the term-partitioned layout (both kept; same reasoning as
the reference offering both in-memory and on-disk search tiers):
- doc-partitioned: every query touches every bucket (term_id min/max
  row-group pruning inside buckets via the sortWithinPartitions order);
  per-bucket work is small and embarrassingly parallel → high QPS, ideal
  for query-heavy serving;
- term-partitioned: queries touch only the hive buckets holding their
  terms → minimal IO for selective queries, ideal for sparse lookup.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import BLOCK_SIZE, BM25_B, BM25_K1
from .build import (
    SEGMENTS_SCHEMA,
    _encode_exchange,
    _salted_rows,
    _segments_row,
    _stats_and_vocabulary,
    _tokenize,
    _write_blocks,
    _write_dictionary_and_meta,
)
from .query import SPARSE_EXACT_LIMIT, wand_topk_arrays
from .storage import read_table, table_path, tombstone_ids


def build_doc_partitioned(
    corpus: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    doc_map_cols: list[str] | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
    block_size: int = BLOCK_SIZE,
    n_buckets: int = 32,
) -> dict:
    """Build the doc-partitioned index with the build pipeline
    (``index.build``) salted by doc-range bucket: the one corpus-sized
    exchange routes occurrences by bucket, tf aggregation and block encode
    run per bucket inside the Arrow encoder, and postings are
    hive-partitioned by ``part_id`` = bucket and sorted by (term_id,
    block_id) within files so bucket-local term lookups prune row groups."""
    spark = corpus.sparkSession
    toks = _tokenize(corpus, text_col, id_col, doc_map_cols)
    pins = [toks]
    # no hot-term salting: a term's in-bucket run is capped at bucket_width
    # docs by layout
    v = _stats_and_vocabulary(
        toks, index_dir, id_col, doc_map_cols, None, None,
        cached=False, phases=[], pins=pins,
    )
    bucket_width = max(1, math.ceil(v.n_docs / n_buckets))
    # the bucket rides in salt, the encoder's grouping key, so no posting
    # block ever straddles a bucket boundary even when one shuffle task
    # holds several buckets. Its bound has a + 1 because Spark divides in
    # double precision, which can round up at a bucket edge.
    rows, plan = _salted_rows(
        v, (F.col("doc_id") / F.lit(bucket_width)).cast("int"),
        v.max_doc // bucket_width + 1,
    )
    blocks = (
        _encode_exchange(
            rows.select(*plan.pack()), plan, block_size, v.n_docs * v.avgdl,
            by_salt=True,
        )
        .withColumn("part_id", F.col("salt"))
        .sortWithinPartitions("term_id", "block_id")
    )
    postings, nbytes = _write_blocks(
        blocks, table_path(index_dir, "postings"), "part_id"
    )
    _write_dictionary_and_meta(
        spark, index_dir, v, postings, nbytes,
        _segments_row(v.n_docs, v.avgdl, k1, b, block_size, n_buckets)
        + ("doc", int(bucket_width)),
        SEGMENTS_SCHEMA + ", layout string, bucket_width long", [],
    )
    for p in pins:
        p.unpersist()
    return {
        "buckets": n_buckets,
        "postings_emitted": postings,
        "bytes_compressed": nbytes,
    }


def is_doc_partitioned(spark: SparkSession, index_dir: str) -> bool:
    from .storage import read_segments

    seg = read_segments(spark, index_dir)
    return seg.get("layout") == "doc"


def bm25_topk_docpart(
    spark: SparkSession,
    index_dir: str,
    qterms: DataFrame,
    k: int = 10,
    prune: bool = True,
    n_tasks: int | None = None,
) -> DataFrame:
    """Top-k over the doc-partitioned index: broadcast the query table into
    a scan-side UDF, per-bucket Block-Max WAND for every query at once,
    global merge of the buckets' partial top-k. Results must be identical
    to the term-partitioned engine and the brute-force oracle (tested)."""
    from .storage import read_segments

    seg = read_segments(spark, index_dir)
    if seg.get("layout") != "doc":
        raise ValueError(f"{index_dir} is not a doc-partitioned index")
    k1, b_, avgdl, n_docs = seg["k1"], seg["b"], seg["avgdl"], int(seg["n_docs"])
    # tombstones mask on this layout too (M1 semantics — deleted docs must
    # neither fill nor shadow result slots); the sorted id array ships into
    # the same WAND kernel `dead` input the term-partitioned path uses
    dead_set = tombstone_ids(spark, index_dir)
    dead = np.sort(np.fromiter(dead_set, dtype=np.int64)) if dead_set else None

    dct = read_table(spark, index_dir, "dictionary")
    qd = (
        qterms.join(dct.select("term", "term_id", "df"), "term")
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .select("query_id", "term_id", "weight", "idf")
    )
    # the query table is tiny (queries × terms); ship it in the closure —
    # the per-query broadcast of idf constants surveyed as P2
    qrows = qd.toPandas()
    if len(qrows) == 0:
        return spark.createDataFrame(
            [], "query_id int, rank int, doc_id long, score double"
        )
    term_ids = sorted(int(t) for t in qrows["term_id"].unique())
    by_query = {
        int(qid): g[["term_id", "weight", "idf"]].reset_index(drop=True)
        for qid, g in qrows.groupby("query_id")
    }

    meta_cols = [
        "term_id", "salt", "n", "base", "max_doc_id", "max_tf", "min_dl",
        "doc_ids_packed", "tfs_packed", "dls_packed",
    ]

    def bucket_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        batches = [p for p in it]
        if not batches:
            return
        blocks = pd.concat(batches, ignore_index=True)
        if len(blocks) == 0:
            return
        # one term→rows index per bucket; each query then gathers its
        # blocks by searchsorted slices instead of a hash merge (this loop
        # runs buckets × queries times — it is the serving hot path)
        term_arr = blocks["term_id"].to_numpy(np.int64)
        order = np.argsort(term_arr, kind="mergesort")
        sorted_terms = term_arr[order]
        out_q, out_d, out_s = [], [], []
        for qid, qt in by_query.items():
            tq = qt["term_id"].to_numpy(np.int64)
            wq = qt["weight"].to_numpy(np.float64)
            iq = qt["idf"].to_numpy(np.float64)
            row_parts, w_parts, i_parts = [], [], []
            for j in range(len(tq)):
                l = np.searchsorted(sorted_terms, tq[j], "left")
                r = np.searchsorted(sorted_terms, tq[j], "right")
                if r > l:
                    rows = order[l:r]
                    row_parts.append(rows)
                    w_parts.append(np.full(r - l, wq[j]))
                    i_parts.append(np.full(r - l, iq[j]))
            if not row_parts:
                continue
            idx = np.concatenate(row_parts)
            qb = blocks.iloc[idx].reset_index(drop=True)
            qb["weight"] = np.concatenate(w_parts)
            qb["idf"] = np.concatenate(i_parts)
            docs, scores, _dec, _skip = wand_topk_arrays(
                qb, k, k1, b_, avgdl, dead=dead,
                sparse_limit=(SPARSE_EXACT_LIMIT if prune else 2**62),
            )
            out_q.append(np.full(len(docs), qid, dtype=np.int32))
            out_d.append(docs)
            out_s.append(scores)
        if not out_q:
            return
        yield pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "doc_id": np.concatenate(out_d),
                "score": np.concatenate(out_s),
            }
        )

    postings = read_table(spark, index_dir, "postings").filter(
        F.col("term_id").isin(term_ids)
    )
    # blocks are doc-range disjoint ACROSS buckets, so the kernel can score
    # several buckets' blocks in one call — coalesce to ~cores tasks so the
    # per-(query, task) kernel invocation overhead is paid cores times, not
    # buckets times (on a cluster: one task per executor-core slice of the
    # bucket set)
    if n_tasks is None:
        n_tasks = spark.sparkContext.defaultParallelism
    partial = postings.select(*meta_cols).coalesce(int(n_tasks)).mapInPandas(
        bucket_fn, schema="query_id int, doc_id long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
