"""Index-backed BM25 query engine: posting-block decode, exact relational
scoring, and Block-Max-WAND pruned top-k.

Reference analog: GraphSearcher's two-phase search with early termination
(jvector-base/.../graph/GraphSearcher.java:209-487, ScoreTracker.java:158-263,
surveyed Q1-Q6/P4-P5). Key difference exploited here: BM25 block upper
bounds are *exact* maxima computed at build time, so pruning is lossless —
the pruned and unpruned paths must return byte-identical results (tested),
unlike the reference's approximate first pass.

Plan shape / scale notes:
- the query set joins the dictionary broadcast-side; the needed ``part_id``
  hive-buckets are computed first so the postings scan *directory-prunes*
  to only the buckets holding the query's terms — the analog of jvector
  seeking only the adjacency regions a search touches;
- the fused blocks carry tf **and dl** inline, so exact scoring never
  touches the corpus-sized doc_stats table at query time;
- pruned path: one task per query (a searcher per query, exactly the
  reference's GraphSearcher-per-thread model) — cluster QPS scales across
  queries; candidate segments are processed in descending upper-bound order
  with a rising top-k floor θ, skipping every block whose doc-range segment
  cannot beat θ;
- unpruned path: decode → relational aggregate → window top-k; it is the
  oracle for the pruned path and the scale-out path for very large single
  queries (per-doc-range partial top-k then global merge, the rerankFloor
  analog of Q10).
"""

from __future__ import annotations

import math
import time
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import BM25_B, BM25_K1
from .codec import varint_decode
from .storage import (
    dictionary_lookup,
    hash_parts,
    local_relation,
    read_postings,
    read_segments,
    read_table,
    tombstone_ids,
)


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

def _decode_rows(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode a frame of posting blocks → flat (row_idx, doc_id, tf, dl)."""
    ids_out, tfs_out, dls_out, idx_out = [], [], [], []
    base = pdf["base"].to_numpy(np.int64)
    ns = pdf["n"].to_numpy(np.int64)
    for i in range(len(pdf)):
        n = int(ns[i])
        gaps = varint_decode(pdf["doc_ids_packed"].iat[i], n).astype(np.int64)
        gaps[0] += base[i]
        ids_out.append(np.cumsum(gaps))
        tfs_out.append(varint_decode(pdf["tfs_packed"].iat[i], n).astype(np.int64))
        dls_out.append(varint_decode(pdf["dls_packed"].iat[i], n).astype(np.int64))
        idx_out.append(np.full(n, i, dtype=np.int64))
    if not ids_out:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z, z
    return (
        np.concatenate(idx_out),
        np.concatenate(ids_out),
        np.concatenate(tfs_out),
        np.concatenate(dls_out),
    )


def _decode_map_fn(carry_cols: list[str]):
    out_cols = carry_cols + ["doc_id", "tf", "dl"]

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            idx, doc, tf, dl = _decode_rows(pdf)
            out = pdf.iloc[idx][carry_cols].reset_index(drop=True)
            out["doc_id"] = doc
            out["tf"] = tf
            out["dl"] = dl
            yield out[out_cols]

    return fn


def decode_postings(spark: SparkSession, index_dir: str, extra_cols: list[str] | None = None) -> DataFrame:
    """(term_id, doc_id, tf, dl [, extra]) — full decode of the postings
    table; must equal the enriched term_freq relation exactly (round-trip
    test, the analog of TestOnDiskGraphIndex write→load→search parity)."""
    carry = ["term_id"] + (extra_cols or [])
    postings = read_postings(spark, index_dir)
    schema = ", ".join(
        {"term_id": "term_id long"}.get(c, f"{c} {'int' if c in ('salt','block_id','n') else 'long'}")
        for c in carry
    ) + ", doc_id long, tf long, dl long"
    return postings.mapInPandas(_decode_map_fn(carry), schema=schema)


# ---------------------------------------------------------------------------
# query prep
# ---------------------------------------------------------------------------

class _QueryTerm(NamedTuple):
    """One (query, term) pair of the enriched query relation."""

    query_id: object
    term_id: int
    weight: float
    idf: float
    n_salts: int


def _idf(kind: str, n_docs: float, df: int) -> float:
    """idf of a term in ``df`` of ``n_docs`` documents: the IEEE operations,
    in order, of the Catalyst expression this replaced, so only the final
    ``log`` can differ from Spark's (by at most 1 ulp)."""
    if kind == "bm25":
        # Robertson-Sparck-Jones (BM25) idf
        return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    # classic smoothed tf-idf idf (Q11's second exact kernel)
    return math.log(1.0 + n_docs / df)


def _query_spec(
    spark: SparkSession, index_dir: str, qterms: DataFrame, seg: dict,
    global_df: DataFrame | None = None,
    idf: str = "bm25",
):
    """(qd_rows, qid_type, postings): the enriched query relation as a list
    of :class:`_QueryTerm` (tiny — queries × terms), the caller relation's
    query_id dtype, and the part-id-pruned postings scan.

    The caller's ``qterms`` is collected once — the only Spark job of
    planning — and joined on the driver to :func:`dictionary_lookup` of
    just its terms; idf is computed there too. Every query path consumes
    these same rows, so pruned and unpruned results stay exactly equal.

    ``global_df`` (term, df) overrides the shard-local document frequencies
    for idf — the sharded-index path computes idf from CORPUS-wide stats so
    per-shard scores are exact final scores (see ``index.sharded``);
    ``seg['n_docs']`` is likewise already the global count there. Its rows
    for the queried terms cost one more collect."""
    q = qterms.select("query_id", "term", "weight").collect()
    lookup = dictionary_lookup(index_dir, (r.term for r in q))
    if global_df is not None and lookup:
        gdf: dict[str, list[int]] = {}
        for r in (
            global_df.filter(F.col("term").isin(sorted(lookup)))
            .select("term", "df")
            .collect()
        ):
            gdf.setdefault(r.term, []).append(r.df)
        # inner join semantics: a term missing from global_df drops out
        lookup = {
            t: [(tid, df, ns) for tid, _, ns in rows for df in gdf.get(t, ())]
            for t, rows in lookup.items()
        }
    n_docs = float(seg["n_docs"])
    qd_rows = [
        _QueryTerm(r.query_id, tid, r.weight, _idf(idf, n_docs, df), ns)
        for r in q
        for tid, df, ns in lookup.get(r.term, ())
    ]
    # which hive buckets hold these terms? resolved driver-side with the
    # bit-exact python twin of pmod(xxhash64(...)) — no throwaway Spark job
    pairs = [(int(r.term_id), s) for r in qd_rows for s in range(int(r.n_salts))]
    parts = hash_parts(pairs, int(seg["n_parts"])) if pairs else []
    postings = read_postings(spark, index_dir)
    if parts:
        postings = postings.filter(F.col("part_id").isin(parts))
    qid_type = dict(qterms.dtypes).get("query_id", "int")
    return qd_rows, qid_type, postings


def _prepared_query_blocks(
    spark: SparkSession, index_dir: str, qterms: DataFrame, seg: dict,
    global_df: DataFrame | None = None,
    idf: str = "bm25",
) -> DataFrame:
    """Join the query set to the dictionary and fetch only the posting
    blocks of queried terms, with directory-level part_id pruning. Each
    block row replicates once per matching (query, term) pair — fine for
    the relational paths; the WAND batch path uses the bucketed gather in
    :func:`bm25_topk_indexed` instead (blocks ship once per query BUCKET)."""
    qd_rows, qid_type, postings = _query_spec(
        spark, index_dir, qterms, seg, global_df, idf
    )
    # the enriched query relation is tiny (queries × terms): re-emit it as
    # an Arrow-backed local relation for the broadcast join — no job to
    # build or broadcast it, and no persist, so a long-running query loop
    # pins zero executor storage (round-1 leak).
    # Schema derives query_id's type from the caller's relation
    # (long/string query ids must round-trip unchanged); weight is coerced
    # to double so integer weights survive type verification
    qd = local_relation(
        spark,
        [(r.query_id, r.term_id, float(r.weight), float(r.idf)) for r in qd_rows],
        f"query_id {qid_type}, term_id long, weight double, idf double",
    )
    return postings.join(F.broadcast(qd), "term_id")


def _mask_tombstones(spark: SparkSession, index_dir: str, decoded: DataFrame) -> DataFrame:
    """Anti-join decoded postings against the tombstone set (broadcast) —
    deleted docs must neither fill nor shadow result slots (M1 semantics,
    the Bits-acceptOrds filter of GraphSearcher.java:202-205)."""
    dead = tombstone_ids(spark, index_dir)
    if not dead:
        return decoded
    dead_df = F.broadcast(
        local_relation(spark, [(int(x),) for x in sorted(dead)], "doc_id long")
    )
    return decoded.join(dead_df, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# unpruned (relational, exact) path
# ---------------------------------------------------------------------------

def bm25_topk_indexed_unpruned(
    spark: SparkSession, index_dir: str, qterms: DataFrame, k: int = 10,
    offset: int = 0,
    global_stats: dict | None = None,
    global_df: DataFrame | None = None,
) -> DataFrame:
    """Decode matched blocks → JVM-side scoring → window top-k."""
    seg = read_segments(spark, index_dir)
    if global_stats:
        seg = {**seg, **global_stats}
    blocks = _prepared_query_blocks(spark, index_dir, qterms, seg, global_df)
    carry = ["term_id", "query_id", "weight", "idf"]
    schema = "term_id long, query_id int, weight double, idf double, doc_id long, tf long, dl long"
    decoded = blocks.select(*carry, "n", "base", "doc_ids_packed", "tfs_packed", "dls_packed").mapInPandas(
        _decode_map_fn(carry), schema=schema
    )
    decoded = _mask_tombstones(spark, index_dir, decoded)
    k1, b, avgdl = seg["k1"], seg["b"], seg["avgdl"]
    contrib = (
        F.col("weight")
        * F.col("idf")
        * F.col("tf")
        / (
            F.col("tf")
            + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
        )
    )
    scored = (
        decoded.withColumn("contrib", contrib)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") > offset) & (F.col("rank") <= offset + k))
        .select("query_id", "rank", "doc_id", "score")
    )


# ---------------------------------------------------------------------------
# pruned (Block-Max WAND) path
# ---------------------------------------------------------------------------

# terms with at most this many postings in a query's working set are
# decoded exactly upfront instead of bounded: a sparse term's single block
# spans nearly the whole doc space, so leaving it bounded adds its full
# upper bound to EVERY segment and strangles pruning. Decoding it costs
# microseconds; pruning then has to beat only the dense terms' bounds.
SPARSE_EXACT_LIMIT = 2048


def wand_topk_arrays(
    pdf: pd.DataFrame,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    dead: np.ndarray | None = None,
    accept: np.ndarray | None = None,
    sparse_limit: int = SPARSE_EXACT_LIMIT,
) -> tuple[np.ndarray, np.ndarray, int, int]:
    """Pure numpy Block-Max top-k for one query's posting blocks — the
    two-phase scorer (approx bound + exact, GraphSearcher.java:451-487)
    with a two-tier term split:

    - **Sparse terms** (≤ ``sparse_limit`` postings in this query's working
      set) are decoded EXACTLY upfront — microseconds of work. A sparse
      term's one block spans nearly the whole doc space; bounding it would
      add its full upper bound to every segment and strangle pruning (this
      is the rerank-tier analog: exact scores where exactness is cheap).
    - **Dense terms**' block doc-ranges [base, max_doc_id] induce a
      piecewise-constant upper-bound function over doc space; each
      segment's bound = dense UB sum + the max exact sparse contribution
      inside the segment. Bounds are DERIVED from stored (max_tf, min_dl)
      and current global stats — still valid (BM25 monotone in tf, anti-
      monotone in dl) after incremental extends change n_docs/avgdl.

    Sweep segments in descending bound order; decode only blocks
    overlapping segments that can still beat the current k-th score θ
    (skip iff UB < θ — ties must be processed so the smaller-doc_id winner
    is found, mirroring NodeQueue.java:104-129). Segments partition doc
    space and sparse-only docs outside dense coverage enter the heap with
    complete scores, so the result equals the unpruned path exactly.
    ``dead`` (sorted tombstoned doc_ids) are masked before scoring so
    deleted docs neither fill nor shadow result slots; ``accept`` (sorted
    doc_ids) restricts the result universe — the Bits-acceptOrds predicate
    filter of GraphSearcher.java:202-205 (Q8).
    Returns (doc_ids, scores, blocks_decoded, blocks_skipped).
    """
    nb = len(pdf)
    lo = pdf["base"].to_numpy(np.int64)
    hi = pdf["max_doc_id"].to_numpy(np.int64)
    idf = pdf["idf"].to_numpy(np.float64)
    weight = pdf["weight"].to_numpy(np.float64)
    ns = pdf["n"].to_numpy(np.int64)
    term = pdf["term_id"].to_numpy(np.int64)
    max_tf = pdf["max_tf"].to_numpy(np.float64)
    min_dl = pdf["min_dl"].to_numpy(np.float64)
    ub = (
        weight * idf * max_tf
        / (max_tf + k1 * (1.0 - b + b * min_dl / avgdl))
    )
    ids_col = pdf["doc_ids_packed"].to_numpy(object)
    tfs_col = pdf["tfs_packed"].to_numpy(object)
    dls_col = pdf["dls_packed"].to_numpy(object)

    n_decoded = 0

    def batch_decode(bis: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Decode MANY blocks in three varint calls total (flat buffers) —
        the bulk-decode analog of the reference's fused SIMD scoring
        (FusedPQDecoder / jvector_simd.c bulk kernels). Returns flat
        (docs, contribs) across the given block indices."""
        nonlocal n_decoded
        n_decoded += len(bis)
        counts = ns[bis]
        total = int(counts.sum())
        if total == 0:
            z = np.zeros(0, dtype=np.int64)
            return z, z.astype(np.float64)
        gaps = varint_decode(b"".join(ids_col[bis]), total).astype(np.int64)
        tf = varint_decode(b"".join(tfs_col[bis]), total).astype(np.float64)
        dl = varint_decode(b"".join(dls_col[bis]), total).astype(np.float64)
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        g = np.cumsum(gaps)
        before = g[starts] - gaps[starts]  # cumsum just before each block
        docs = g - np.repeat(before, counts) + np.repeat(lo[bis], counts)
        contrib = (
            np.repeat(weight[bis] * idf[bis], counts)
            * tf
            / (tf + k1 * (1.0 - b + b * dl / avgdl))
        )
        if dead is not None and len(dead):
            alive = ~np.isin(docs, dead, assume_unique=False)
            docs, contrib = docs[alive], contrib[alive]
        if accept is not None:
            keep = np.isin(docs, accept, assume_unique=False)
            docs, contrib = docs[keep], contrib[keep]
        return docs, contrib

    # --- split terms: sparse -> exact upfront, dense -> bounded ----------
    uniq_t, inv_t = np.unique(term, return_inverse=True)
    term_total = np.bincount(inv_t, weights=ns.astype(np.float64))
    sparse_blk = term_total[inv_t] <= sparse_limit

    sd_all, sc_all = batch_decode(np.flatnonzero(sparse_blk))
    if len(sd_all):
        usd, inv = np.unique(sd_all, return_inverse=True)
        usc = np.bincount(inv, weights=sc_all)
    else:
        usd = np.zeros(0, dtype=np.int64)
        usc = np.zeros(0, dtype=np.float64)

    d_idx = np.flatnonzero(~sparse_blk)
    if len(d_idx) == 0:
        sel = np.lexsort((usd, -usc))[:k]
        return usd[sel], usc[sel], n_decoded, 0

    # --- dense segments: piecewise-constant upper bound over doc space ---
    lo_d, hi_d, ub_d = lo[d_idx], hi[d_idx], ub[d_idx]
    bounds = np.unique(np.concatenate([lo_d, hi_d + 1]))
    seg_lo = bounds[:-1]
    seg_hi = bounds[1:]  # exclusive
    n_seg = len(seg_lo)
    delta = np.zeros(n_seg + 1, dtype=np.float64)
    li = np.searchsorted(seg_lo, lo_d)
    ri = np.searchsorted(seg_lo, hi_d + 1)
    np.add.at(delta, li, ub_d)
    np.add.at(delta, ri, -ub_d)
    seg_ub = np.cumsum(delta[:-1])

    # sparse side of each segment's bound: the max exact sparse
    # contribution of any doc in the segment's range (exact, not a bound)
    if len(usd):
        sl = np.searchsorted(usd, seg_lo)
        sr = np.searchsorted(usd, seg_hi)
        seg_smax = np.zeros(n_seg, dtype=np.float64)
        nz = np.flatnonzero(sl < sr)
        if len(nz):
            usc_ext = np.append(usc, -np.inf)  # sentinel: allows index len
            ind = np.empty(2 * len(nz), dtype=np.int64)
            ind[0::2] = sl[nz]
            ind[1::2] = sr[nz]
            seg_smax[nz] = np.maximum.reduceat(usc_ext, ind)[0::2]
        seg_ub = seg_ub + seg_smax

    order = np.argsort(-seg_ub, kind="mergesort")
    # chunk rank of each segment: position of its chunk in the sweep
    CHUNK = 32
    seg_chunk = np.empty(n_seg, dtype=np.int64)
    seg_chunk[order] = np.arange(n_seg) // CHUNK
    n_chunks = int(seg_chunk.max()) + 1
    # a block becomes needed at the FIRST chunk containing any of its
    # segments; group block indices by that chunk so each block is batch-
    # decoded exactly once, right when the sweep first touches it
    seg_chunk_ext = np.append(seg_chunk, np.iinfo(np.int64).max)  # sentinel
    ind = np.empty(2 * len(d_idx), dtype=np.int64)
    ind[0::2] = li
    ind[1::2] = ri
    blk_first_chunk = np.minimum.reduceat(seg_chunk_ext, ind)[0::2]
    chunk_order = np.argsort(blk_first_chunk, kind="mergesort")
    chunk_starts = np.searchsorted(blk_first_chunk[chunk_order], np.arange(n_chunks + 1))

    # sparse-only docs outside dense coverage have complete scores already
    top_docs = np.zeros(0, dtype=np.int64)
    top_scores = np.zeros(0, dtype=np.float64)
    if len(usd):
        outside = (usd < seg_lo[0]) | (usd >= seg_hi[-1])
        if outside.any():
            od, oc = usd[outside], usc[outside]
            sel = np.lexsort((od, -oc))[:k]
            top_docs, top_scores = od[sel], oc[sel]
            usd, usc = usd[~outside], usc[~outside]
    theta = top_scores[k - 1] if len(top_scores) >= k else -math.inf

    # postings bucketed by chunk rank AT DECODE TIME (each posting sorted
    # exactly once); the sweep then just drains its chunk's bucket
    chunk_buckets: dict[int, list[tuple[np.ndarray, np.ndarray]]] = {}

    def bucket_postings(docs: np.ndarray, contrib: np.ndarray) -> None:
        if not len(docs):
            return
        ranks = seg_chunk[np.searchsorted(seg_lo, docs, side="right") - 1]
        o = np.argsort(ranks, kind="stable")
        docs, contrib, ranks = docs[o], contrib[o], ranks[o]
        cut = np.flatnonzero(np.diff(ranks)) + 1
        starts = np.concatenate(([0], cut))
        ends = np.concatenate((cut, [len(ranks)]))
        for s, e in zip(starts, ends):
            chunk_buckets.setdefault(int(ranks[s]), []).append(
                (docs[s:e], contrib[s:e])
            )

    if len(usd):
        bucket_postings(usd, usc)

    # Sweep segments in UB-desc order in CHUNKS: per chunk, newly needed
    # blocks are bulk-decoded (three varint calls for the whole chunk) and
    # the chunk's postings drained from its bucket. The pruning rule
    # applies at chunk granularity — a chunk is skipped only when its best
    # segment's UB < theta — so results stay exactly equal to the unpruned
    # path.
    for ci in range(n_chunks):
        if len(top_docs) >= k and seg_ub[order[ci * CHUNK]] < theta:
            break  # order is UB-desc: no later chunk can beat theta
        s, e = chunk_starts[ci], chunk_starts[ci + 1]
        if e > s:
            nd, nc = batch_decode(d_idx[chunk_order[s:e]])
            bucket_postings(nd, nc)
        parts = chunk_buckets.pop(ci, None)
        if not parts:
            continue
        d = np.concatenate([p[0] for p in parts])
        c = np.concatenate([p[1] for p in parts])
        ud, inv = np.unique(d, return_inverse=True)
        sc = np.bincount(inv, weights=c)
        # merge into running top-k (each segment lives in exactly one
        # chunk, so no doc is ever double-counted)
        top_docs = np.concatenate([top_docs, ud])
        top_scores = np.concatenate([top_scores, sc])
        sel = np.lexsort((top_docs, -top_scores))[:k]
        top_docs, top_scores = top_docs[sel], top_scores[sel]
        if len(top_docs) >= k:
            theta = top_scores[-1]

    return top_docs, top_scores, n_decoded, nb - n_decoded


def _wand_group_fn(
    k: int, k1: float, b: float, avgdl: float, with_metrics: bool,
    dead: np.ndarray | None = None,
    accept: np.ndarray | None = None,
    offset: int = 0,
):
    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(key[0])
        # pagination (Q9 resume analog): compute top-(offset+k) exactly,
        # emit ranks (offset, offset+k] — a batch engine re-derives the
        # skipped prefix instead of holding cursor state
        t0 = time.perf_counter() if with_metrics else 0.0
        docs, scores, dec, skip = wand_topk_arrays(
            pdf, offset + k, k1, b, avgdl, dead, accept
        )
        kernel_ms = (time.perf_counter() - t0) * 1e3
        docs, scores = docs[offset:], scores[offset:]
        out = pd.DataFrame(
            {
                "query_id": np.full(len(docs), qid, dtype=np.int32),
                "rank": np.arange(offset + 1, offset + len(docs) + 1, dtype=np.int32),
                "doc_id": docs,
                "score": scores,
            }
        )
        if with_metrics:
            # per-query search-cost + latency counters (SearchResult.java's
            # visited/expanded + LatencyBenchmark.java:30-80 percentiles
            # feed off this column in bench.py)
            out["blocks_decoded"] = np.int32(dec)
            out["blocks_skipped"] = np.int32(skip)
            out["kernel_ms"] = np.float64(kernel_ms)
        return out

    return fn


def _wand_bucket_fn(
    bucket_queries_bc,
    k: int, k1: float, b: float, avgdl: float, with_metrics: bool,
    dead: np.ndarray | None = None,
    accept: np.ndarray | None = None,
    offset: int = 0,
):
    """Kernel for the bucketed gather: the group holds each matched block
    ONCE per bucket; ``bucket_queries_bc`` (a Spark BROADCAST of the
    query-batch-sized dict) lists each bucket's queries as
    (query_id, (term_ids, weights, idfs)). A broadcast — not a plain
    closure — because the driver pickles a task's closure PER TASK on the
    scheduler thread: at 5000 queries the spec dict is MBs, and that
    serial per-task cost was measured as the stage that stopped the batch
    query from scaling past ~0.5 efficiency at 2→8 cores (the broadcast
    ships once per worker instead). Each query selects its terms' blocks
    from the group and runs the standard per-query WAND kernel —
    identical math/tie-breaks to the per-query grouping, ~queries-per-term/
    buckets less shuffle+Arrow traffic."""

    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        outs = []
        for qid, (tids, weights, idfs) in bucket_queries_bc.value.get(int(key[0]), ()):
            spec = pd.DataFrame(
                {"term_id": tids, "weight": weights, "idf": idfs}
            )
            sub = pdf.merge(spec, on="term_id")
            if len(sub) == 0:
                continue
            t0 = time.perf_counter() if with_metrics else 0.0
            docs, scores, dec, skip = wand_topk_arrays(
                sub, offset + k, k1, b, avgdl, dead, accept
            )
            kernel_ms = (time.perf_counter() - t0) * 1e3
            docs, scores = docs[offset:], scores[offset:]
            out = pd.DataFrame(
                {
                    "query_id": np.full(len(docs), qid, dtype=np.int32),
                    "rank": np.arange(
                        offset + 1, offset + len(docs) + 1, dtype=np.int32
                    ),
                    "doc_id": docs,
                    "score": scores,
                }
            )
            if with_metrics:
                out["blocks_decoded"] = np.int32(dec)
                out["blocks_skipped"] = np.int32(skip)
                out["kernel_ms"] = np.float64(kernel_ms)
            outs.append(out)
        if not outs:
            return pd.DataFrame(
                {
                    "query_id": np.zeros(0, np.int32),
                    "rank": np.zeros(0, np.int32),
                    "doc_id": np.zeros(0, np.int64),
                    "score": np.zeros(0, np.float64),
                    **(
                        {
                            "blocks_decoded": np.zeros(0, np.int32),
                            "blocks_skipped": np.zeros(0, np.int32),
                            "kernel_ms": np.zeros(0, np.float64),
                        }
                        if with_metrics
                        else {}
                    ),
                }
            )
        return pd.concat(outs, ignore_index=True)

    return fn


def bm25_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    qterms: DataFrame,
    k: int = 10,
    prune: bool = True,
    with_metrics: bool = False,
    offset: int = 0,
    global_stats: dict | None = None,
    global_df: DataFrame | None = None,
    query_buckets: int | None = None,
    accept_ids: np.ndarray | None = None,
) -> DataFrame:
    """BM25 top-k over the index. ``prune=False`` is the relational exact
    path; ``prune=True`` runs Block-Max WAND (results must be identical —
    the ``usePruning`` escape hatch mirrors Bench.java:56). Tombstoned
    docs (index/maintenance.delete_docs) are masked on both paths.
    ``offset`` pages past the first ``offset`` results (Q9 resume analog,
    GraphSearcher.java:489-527). A doc-partitioned index (layout="doc")
    dispatches to the scatter-gather engine transparently.

    ``global_stats`` ({n_docs, avgdl}) and ``global_df`` (term → corpus
    df) override shard-local statistics so a shard of a sharded index
    scores with CORPUS-wide BM25 constants (format v2 derives block bounds
    from (max_tf, min_dl) + these stats at query time, so pruning stays
    lossless under overridden stats too).

    ``accept_ids`` (sorted int64 array) restricts results to those doc ids
    INSIDE the WAND kernel (the Bits-acceptOrds mask, Q8) — the bucketed
    gather then serves filtered batches with the same ≤ buckets× block
    shuffle as unfiltered ones; only the pruned path supports it."""
    seg0 = read_segments(spark, index_dir)
    if global_stats:
        seg0 = {**seg0, **global_stats}
    if seg0.get("layout") == "doc":
        if offset or with_metrics or global_stats or global_df:
            raise ValueError(
                "offset/with_metrics/global overrides not supported on "
                "doc-partitioned layout"
            )
        from .docpart import bm25_topk_docpart

        if accept_ids is not None:
            raise ValueError("accept_ids not supported on doc-partitioned layout")
        return bm25_topk_docpart(spark, index_dir, qterms, k, prune)
    if not prune:
        if accept_ids is not None:
            raise ValueError("accept_ids requires the pruned (WAND) path")
        return bm25_topk_indexed_unpruned(
            spark, index_dir, qterms, k, offset, global_stats, global_df
        )
    seg = seg0
    dead_set = tombstone_ids(spark, index_dir)
    dead = (
        np.sort(np.fromiter(dead_set, dtype=np.int64)) if dead_set else None
    )
    schema = "query_id int, rank int, doc_id long, score double"
    if with_metrics:
        schema += ", blocks_decoded int, blocks_skipped int, kernel_ms double"

    # Bucketed gather (the 2→8-core scaling fix): grouping by query_id
    # replicates each posting block once per query that matches its term —
    # for a 5000-query batch over a shared vocabulary that is a memory-
    # bandwidth-bound shuffle + Arrow transfer which stops scaling inside
    # one box long before the (parallelism-independent) WAND kernel does.
    # Instead, queries are dealt round-robin into ``query_buckets`` groups
    # and each block ships once per BUCKET that needs its term (≤ buckets
    # times total, vs ≤ queries times); the kernel loops the bucket's
    # queries in-task. Math, tie-breaks, metrics and pagination are
    # identical to the per-query grouping (equivalence pytest-enforced).
    qd_rows, _, postings = _query_spec(spark, index_dir, qterms, seg, global_df)
    qspec: dict = {}
    for r in qd_rows:
        # duplicate (query, term) rows sum their weights — same math as the
        # per-query path scoring each duplicate block row separately
        tmap = qspec.setdefault(r.query_id, {})
        w, i_ = tmap.get(int(r.term_id), (0.0, float(r.idf)))
        tmap[int(r.term_id)] = (w + float(r.weight), i_)
    qids = sorted(qspec)
    if not qids:
        # no query term matched the dictionary (OOV batch, or a shard whose
        # local vocabulary lacks every term): same empty result as the
        # per-query grouping — never repartition(0), which raises
        return local_relation(spark, [], schema)
    if query_buckets is None:
        # bucket count sized by the QUERY BATCH, never by parallelism: the
        # shuffled volume is Σ_buckets |blocks(bucket's terms)| — hot Zipf
        # terms appear in most buckets, so volume grows with bucket count,
        # and a core-derived count would make the hi-parallelism leg
        # shuffle MORE bytes for the same batch (an anti-scaling harness
        # artifact, the same principle as data-sized shuffle partitions).
        # ~64 queries/bucket amortizes each bucket's block set well; the
        # floor keeps small batches parallel across a few dozen tasks.
        query_buckets = min(len(qids), max(32, -(-len(qids) // 64)))
    bucket_queries: dict[int, list] = {}
    tb_pairs = set()
    for i, qid in enumerate(qids):
        bkt = i % query_buckets
        spec = qspec[qid]
        arrs = (
            np.fromiter(spec.keys(), dtype=np.int64),
            np.fromiter((v[0] for v in spec.values()), dtype=np.float64),
            np.fromiter((v[1] for v in spec.values()), dtype=np.float64),
        )
        bucket_queries.setdefault(bkt, []).append((int(qid), arrs))
        tb_pairs.update((t, bkt) for t in spec)
    tb = local_relation(spark, sorted(tb_pairs), "term_id long, bucket int")
    bq_bc = spark.sparkContext.broadcast(bucket_queries)
    blocks = postings.join(F.broadcast(tb), "term_id")
    return (
        blocks.select(
            "bucket", "term_id", "n", "base", "max_doc_id",
            "max_tf", "min_dl", "doc_ids_packed", "tfs_packed", "dls_packed",
        )
        # one shuffle partition PER BUCKET: under the session default (32)
        # several buckets hash-collide into one partition and the tail
        # task serializes 4-6 buckets' kernels — a straggler that costs
        # nothing at low parallelism and ~20% wall at 8+ cores. groupBy
        # reuses this exchange (partitioning satisfies the distribution).
        .repartition(query_buckets, "bucket")
        .groupBy("bucket")
        .applyInPandas(
            _wand_bucket_fn(
                bq_bc, k, seg["k1"], seg["b"], seg["avgdl"],
                with_metrics, dead, accept=accept_ids, offset=offset,
            ),
            schema=schema,
        )
    )


def bm25_topk_prefix(
    spark: SparkSession,
    index_dir: str,
    prefix: str,
    k: int = 10,
    query_id: int = 0,
    prune: bool = True,
    **kwargs,
) -> DataFrame:
    """(rank, doc_id, score) — wildcard/prefix query ``prefix*``: expand
    against the ``dictionary`` table (a metadata-sized range scan — the
    hierarchy-descent idiom of Q3: narrow through the small relation before
    touching postings), then answer ONE multi-term batch over the expanded
    term set, weight 1 per matched term (Lucene's MultiTermQuery BM25-sum
    rewrite). The expanded terms ride the normal directory-pruned WAND
    path, so only their posting blocks are read. Must match the brute
    ``operators.topk.prefix_topk_bruteforce`` rank-identically; a prefix
    matching no dictionary term returns no rows."""
    if not prefix:
        raise ValueError("prefix must be non-empty")
    dct = read_table(spark, index_dir, "dictionary")
    qterms = dct.filter(F.col("term").startswith(prefix)).select(
        F.lit(int(query_id)).alias("query_id"),
        "term",
        F.lit(1.0).alias("weight"),
    )
    return bm25_topk_indexed(
        spark, index_dir, qterms, k=k, prune=prune, **kwargs
    ).select("rank", "doc_id", "score")


def tfidf_topk_indexed(
    spark: SparkSession, index_dir: str, qterms: DataFrame, k: int = 10
) -> DataFrame:
    """Index-backed TF-IDF top-k (Q11's second exact scoring kernel over
    the same fused posting blocks): decode matched blocks (directory-pruned
    like the BM25 path), score ``weight · (1+ln tf) · ln(1 + N/df)``
    JVM-side, window top-k. Must equal the brute-force tfidf oracle
    (hash-checked by the driver)."""
    seg = read_segments(spark, index_dir)
    blocks = _prepared_query_blocks(spark, index_dir, qterms, seg, idf="tfidf")
    carry = ["term_id", "query_id", "weight", "idf"]
    schema = (
        "term_id long, query_id int, weight double, idf double, "
        "doc_id long, tf long, dl long"
    )
    decoded = blocks.select(
        *carry, "n", "base", "doc_ids_packed", "tfs_packed", "dls_packed"
    ).mapInPandas(_decode_map_fn(carry), schema=schema)
    decoded = _mask_tombstones(spark, index_dir, decoded)
    contrib = (
        F.col("weight") * F.col("idf") * (F.lit(1.0) + F.log(F.col("tf")))
    )
    scored = (
        decoded.withColumn("contrib", contrib)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def threshold_search_indexed(
    spark: SparkSession, index_dir: str, qterms: DataFrame, theta: float
) -> DataFrame:
    """All (query_id, doc_id, score) with score ≥ θ (reference analog:
    threshold search, GraphSearcher.java:192-196 / Q7) — exact and cheap in
    batch: score-all then filter."""
    seg = read_segments(spark, index_dir)
    blocks = _prepared_query_blocks(spark, index_dir, qterms, seg)
    carry = ["term_id", "query_id", "weight", "idf"]
    schema = "term_id long, query_id int, weight double, idf double, doc_id long, tf long, dl long"
    decoded = blocks.select(*carry, "n", "base", "doc_ids_packed", "tfs_packed", "dls_packed").mapInPandas(
        _decode_map_fn(carry), schema=schema
    )
    decoded = _mask_tombstones(spark, index_dir, decoded)
    k1, b, avgdl = seg["k1"], seg["b"], seg["avgdl"]
    contrib = (
        F.col("weight") * F.col("idf") * F.col("tf")
        / (F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl)))
    )
    return (
        decoded.withColumn("contrib", contrib)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
        .filter(F.col("score") >= theta)
    )


# ---------------------------------------------------------------------------
# predicate-filtered search (Bits acceptOrds analog, Q8)
# ---------------------------------------------------------------------------

# above this many accepted ids, stop shipping the mask into the WAND UDF and
# switch to the shuffle-join relational plan — same crossover reasoning as
# Spark's own broadcast-join threshold
ACCEPT_BROADCAST_LIMIT = 5_000_000


def bm25_topk_indexed_filtered(
    spark: SparkSession,
    index_dir: str,
    qterms: DataFrame,
    accept: DataFrame,
    k: int = 10,
    accept_limit: int = ACCEPT_BROADCAST_LIMIT,
    bucketed: bool = True,
) -> DataFrame:
    """Top-k restricted to the docs in ``accept`` (a DataFrame with a
    ``doc_id`` column — typically the output of any predicate over
    ``doc_map`` or the source table). Reference analog: the ``Bits
    acceptOrds`` result-universe filter (GraphSearcher.java:202-205,
    TestLowCardinalityFiltering.java:53-57).

    Physical strategy, chosen like the reference chooses filter strategy by
    selectivity: a *selective* predicate yields a small accept set → ship it
    into the Block-Max WAND kernel as a sorted id mask (pruning stays
    lossless: unfiltered block bounds still upper-bound filtered scores). A
    *broad* predicate (> ``accept_limit`` ids) → relational plan: decode
    matched blocks, hash-join the accept set on doc_id (Catalyst/AQE pick
    broadcast vs shuffle), score JVM-side, window top-k. Both paths return
    identical results (tested).

    The selective path rides the BUCKETED gather (blocks ship ≤ buckets×,
    not ≤ queries× — at a 5000-query filtered batch the per-query grouping
    reintroduces the block-replication shuffle the bucketed path was built
    to kill); ``bucketed=False`` keeps the per-query grouping as the
    equivalence-tested fallback."""
    n_accept = accept.count()
    if n_accept <= accept_limit:
        ids = np.sort(
            np.fromiter(
                (r[0] for r in accept.select("doc_id").distinct().collect()),
                dtype=np.int64,
            )
        )
        if bucketed:
            return bm25_topk_indexed(
                spark, index_dir, qterms, k=k, prune=True, accept_ids=ids
            )
        seg = read_segments(spark, index_dir)
        dead_set = tombstone_ids(spark, index_dir)
        dead = (
            np.sort(np.fromiter(dead_set, dtype=np.int64)) if dead_set else None
        )
        blocks = _prepared_query_blocks(spark, index_dir, qterms, seg)
        return (
            blocks.select(
                "query_id", "term_id", "weight", "idf", "n", "base", "max_doc_id",
                "max_tf", "min_dl", "doc_ids_packed", "tfs_packed", "dls_packed",
            )
            .groupBy("query_id")
            .applyInPandas(
                _wand_group_fn(
                    k, seg["k1"], seg["b"], seg["avgdl"], False, dead, ids
                ),
                schema="query_id int, rank int, doc_id long, score double",
            )
        )

    # relational path: scales to arbitrarily large accept sets
    seg = read_segments(spark, index_dir)
    blocks = _prepared_query_blocks(spark, index_dir, qterms, seg)
    carry = ["term_id", "query_id", "weight", "idf"]
    schema = (
        "term_id long, query_id int, weight double, idf double, "
        "doc_id long, tf long, dl long"
    )
    decoded = blocks.select(
        *carry, "n", "base", "doc_ids_packed", "tfs_packed", "dls_packed"
    ).mapInPandas(_decode_map_fn(carry), schema=schema)
    decoded = _mask_tombstones(spark, index_dir, decoded)
    decoded = decoded.join(accept.select("doc_id").distinct(), "doc_id")
    k1, b, avgdl = seg["k1"], seg["b"], seg["avgdl"]
    contrib = (
        F.col("weight") * F.col("idf") * F.col("tf")
        / (
            F.col("tf")
            + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
        )
    )
    scored = (
        decoded.withColumn("contrib", contrib)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
