"""Inverted-index build pipeline (SURVEY.md §3.1 Spark translation).

Every build runs the same stages (reference analog: GraphIndexBuilder.build
→ cleanup → write, jvector-base/.../graph/GraphIndexBuilder.java:439-511):
the single-shot ``build_index(checkpointed=False)``, the fused
``build_index_transcripts`` (and so every shard of ``index.sharded``), the
checkpointed ``build_index`` and the doc-partitioned
``index.docpart.build_doc_partitioned``.

  1. **Tokenize once** into a narrow cached projection (doc_id, token
     array [, doc_map columns]); raw text is never cached. Each consumer
     below re-derives what it needs from the cached arrays.
  2. **doc_stats** is ``size(tokens)``, written with n_docs, avgdl and the
     doc_id/dl extremes observed on the same pass; doc_map is written
     concurrently.
  3. **Vocabulary and salt plan**: one map-combined ``groupBy(term)``
     carrying cf, dense lexicographic term_ids, and ``n_salts`` per term.
  4. **Pack plan** (:class:`PackPlan`): the exchange row is one int64, two
     int64s or the 4-column fallback, chosen from the observed widths.
  5. **The exchange**: the one corpus-sized shuffle, sorted JVM-side into
     a presorted Arrow encoder that aggregates tf and emits fused posting
     blocks (delta+varint docID gaps, varint tfs + dls inline, (max_tf,
     min_dl) block-max metadata — score bounds derive from these at query
     time).
  6. **part_id** is derived over the encoded blocks, and the dictionary's
     df is summed from the blocks' meta columns.

The checkpointed build runs stages 1-4 once and stages the packed exchange
row hive-partitioned by ``part_id``, with the pack plan beside it. Each
part is then one encode job and one ``build_lineage`` row — the checkpoint
unit (analog of OnHeapGraphIndex save/load + CheckpointManager.java:33-112,
B11/B12). A killed build resumes by skipping committed parts, and the
finished index equals the single-shot build row for row (tested).

Skew (SURVEY.md P11): a term with cf > ``salt_threshold`` is split into
``n_salts`` doc-range sub-lists — salt = doc_id * n_salts // n_docs — so a
hot term's postings land in multiple shuffle groups. cf ≥ df, so a term
splits at least as much as its document count asks; over-salting is
harmless (blocks stay doc-range-disjoint), under-salting would not be.
Doc-range (not hash) salting keeps every (term, salt) run sorted and
doc-disjoint, which the WAND query path exploits for block skipping.

Scale notes: per-posting dl is stored inline in each block (varint, ~1
byte) so query-time exact scoring never joins the corpus-sized doc_stats
table — the fused-feature trick (FusedPQ.java:75-122). tf is aggregated on
the reduce side of the exchange, so the exchange is the only corpus-sized
shuffle in the whole build.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import BLOCK_SIZE, BM25_B, BM25_K1
from ..functions.analysis import TOKEN_PATTERN, tokens_col
from ..operators.doc_ids import assign_dense_ids
from .storage import (
    FORMAT_VERSION,
    POSTINGS_SCHEMA,
    read_segments,
    read_table,
    sized_shuffle_n,
    table_path,
    write_table,
)

# Arrow batch rows for the encode exchange: its rows are at most ~40 B
# wide, so 128k-row batches are ~5 MB — far fewer IPC round-trips and
# allocator churn per partition than the session default
ENCODE_ARROW_BATCH = 131_072
# serializes the session-global Arrow batch-size override around the encode
# write (see _write_blocks) across threads sharing a SparkSession
_ARROW_BATCH_LOCK = threading.Lock()

LINEAGE_SCHEMA = (
    "part_id int, docs_indexed long, postings_emitted long, "
    "bytes_compressed long, status string"
)
SEGMENTS_SCHEMA = (
    "format_version int, n_docs long, avgdl double, k1 double, b double, "
    "block_size int, token_pattern string, n_parts int"
)


def _bg_job(fn) -> "tuple[threading.Thread, list]":
    """Submit an independent Spark job from a background thread.

    Serial driver-side job submission is an Amdahl tax the 4×-parallelism
    leg pays and the 1× leg does not: while one small write's tasks drain,
    the other quota'd cores idle (measured hi-leg core utilization
    0.88–0.92 with everything serial). A real cluster driver submits
    independent jobs concurrently and lets the scheduler fill idle slots —
    same outputs, byte-for-byte, since the overlapped jobs share no
    dependency. ``InheritableThread`` propagates job-group/local properties
    and cooperates with py4j pinned-thread mode. Errors re-raise on join
    via the returned holder.
    """
    from pyspark import InheritableThread

    holder: list = []

    def run() -> None:
        try:
            fn()
        except BaseException as e:  # noqa: BLE001 — re-raised on join
            holder.append(e)

    t = InheritableThread(target=run, daemon=True)
    t.start()
    return t, holder


def _bg_join(t: "threading.Thread", holder: list) -> None:
    t.join()
    if holder:
        raise holder[0]


def _varint_nbytes(v: np.ndarray) -> np.ndarray:
    """Per-value LEB128 byte length, bounded by the array max: one compare
    pass per byte tier actually present (1-2 for tf/dl/gap data) instead of
    the 10-round masked shift loop — the encoder is memory-bandwidth-bound
    and every full-array pass shows up in multi-worker scaling."""
    nb = np.ones(v.shape, dtype=np.int64)
    vmax = int(v.max()) if v.size else 0
    k = 1
    while k < 10 and vmax >= (1 << (7 * k)):
        nb += v >= np.uint64(1 << (7 * k))
        k += 1
    return nb


def _varint_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode the whole array once; also return per-value byte
    lengths so callers can slice out sub-ranges without re-encoding.

    Byte planes are written per tier over the COMPRESSED subset that still
    has bytes left (values needing >j bytes), so single-byte-dominated
    data (tfs, dls, small gaps) costs ~2 passes, not 10 masked rounds."""
    v = np.asarray(values, dtype=np.uint64)
    nb = _varint_nbytes(v)
    if v.size == 0:
        return b"", nb
    ends = np.cumsum(nb)
    starts = ends - nb
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    max_nb = int(nb.max())
    for j in range(max_nb):
        if j == 0:
            idx, vj, nbj = starts, v, nb
        else:
            sel = nb > j
            idx = starts[sel] + j
            vj = v[sel]
            nbj = nb[sel]
        byte = ((vj >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        byte[nbj > j + 1] |= 0x80
        out[idx] = byte
    return out.tobytes(), nb


def encode_partition_pdf(
    pdf: pd.DataFrame, block_size: int = BLOCK_SIZE, carry_part_id: bool = False,
) -> pd.DataFrame:
    """Vectorized block encoder for one (already filtered) partition of the
    enriched tf relation. Expects columns term_id, salt, doc_id, tf, dl
    (plus part_id when ``carry_part_id``); rows may arrive unsorted. Emits
    one row per posting block with (max_tf, min_dl) block-max metadata —
    the query derives the BM25 upper bound from these plus *current*
    global stats, so bounds stay exact after incremental extends/compacts
    change n_docs/avgdl (format v2; no baked score bound to go stale).

    Everything except the final per-block byte slicing is numpy-vectorized
    across the whole partition — the Arrow-batch equivalent of the
    reference's SIMD bulk kernels (PanamaVectorUtilSupport.java).
    """
    if len(pdf) == 0:
        return _empty_postings_pdf(carry_part_id)
    pdf = pdf.sort_values(["term_id", "salt", "doc_id"], kind="mergesort")
    term = pdf["term_id"].to_numpy(np.int64)
    salt = pdf["salt"].to_numpy(np.int32)
    d = pdf["doc_id"].to_numpy(np.int64)
    tf = pdf["tf"].to_numpy(np.int64)
    dl = pdf["dl"].to_numpy(np.int64)
    part = pdf["part_id"].to_numpy(np.int32) if carry_part_id else None
    out = _encode_sorted_arrays(term, salt, d, tf, dl, part, block_size)
    res = pd.DataFrame(out)
    res["salt"] = res["salt"].astype("int32")
    if carry_part_id:
        res["part_id"] = res["part_id"].astype("int32")
    return res


def _encode_sorted_arrays(
    term: np.ndarray,
    salt: np.ndarray,
    d: np.ndarray,
    tf: np.ndarray,
    dl: np.ndarray,
    part: np.ndarray | None,
    block_size: int,
) -> dict:
    """Array core of :func:`encode_partition_pdf`: input pre-sorted by
    (term, salt, doc); returns the posting-block columns as a plain dict
    (``part_id`` first when ``part`` is given)."""
    n = len(d)

    group_start = np.ones(n, dtype=bool)
    group_start[1:] = (term[1:] != term[:-1]) | (salt[1:] != salt[:-1])
    # position within (term, salt) group
    gidx = np.cumsum(group_start) - 1
    first_of_group = np.flatnonzero(group_start)
    pos = np.arange(n) - first_of_group[gidx]
    blk_in_group = pos // block_size
    block_start = group_start | (pos % block_size == 0)

    prev_d = np.empty(n, dtype=np.int64)
    prev_d[1:] = d[:-1]
    # A group's first gap is 0 and its base is the first doc itself: this
    # keeps every block's [base, max_doc_id] range tight (a base of 0 would
    # make the first block of every (term, salt) run appear to span all of
    # doc space, gutting block-max pruning).
    prev_d[group_start] = d[group_start]
    gaps = (d - prev_d).astype(np.uint64)

    id_buf, id_len = _varint_encode_with_lengths(gaps)
    tf_buf, tf_len = _varint_encode_with_lengths(tf.astype(np.uint64))
    dl_buf, dl_len = _varint_encode_with_lengths(dl.astype(np.uint64))
    id_off = np.concatenate(([0], np.cumsum(id_len)))
    tf_off = np.concatenate(([0], np.cumsum(tf_len)))
    dl_off = np.concatenate(([0], np.cumsum(dl_len)))

    starts = np.flatnonzero(block_start)
    ends = np.empty_like(starts)
    ends[:-1] = starts[1:]
    ends[-1] = n
    # base: the group's first doc at a group's first block (gap there is 0),
    # else the last doc of the previous block
    base = np.where(starts == first_of_group[gidx[starts]], d[starts], d[starts - 1])

    out = {
        "term_id": term[starts],
        "salt": salt[starts],
        "block_id": blk_in_group[starts].astype(np.int32),
        "n": (ends - starts).astype(np.int32),
        "base": base,
        "max_doc_id": d[ends - 1],
        "max_tf": np.maximum.reduceat(tf, starts),
        "min_dl": np.minimum.reduceat(dl, starts),
        "doc_ids_packed": [
            id_buf[id_off[s] : id_off[e]] for s, e in zip(starts, ends)
        ],
        "tfs_packed": [tf_buf[tf_off[s] : tf_off[e]] for s, e in zip(starts, ends)],
        "dls_packed": [dl_buf[dl_off[s] : dl_off[e]] for s, e in zip(starts, ends)],
    }
    if part is not None:
        out = {"part_id": part[starts], **out}
    return out


def _empty_postings_pdf(carry_part_id: bool = False) -> pd.DataFrame:
    cols = {
        "term_id": pd.Series(dtype="int64"),
        "salt": pd.Series(dtype="int32"),
        "block_id": pd.Series(dtype="int32"),
        "n": pd.Series(dtype="int32"),
        "base": pd.Series(dtype="int64"),
        "max_doc_id": pd.Series(dtype="int64"),
        "max_tf": pd.Series(dtype="int64"),
        "min_dl": pd.Series(dtype="int64"),
        "doc_ids_packed": pd.Series(dtype=object),
        "tfs_packed": pd.Series(dtype=object),
        "dls_packed": pd.Series(dtype=object),
    }
    if carry_part_id:
        cols = {"part_id": pd.Series(dtype="int32"), **cols}
    return pd.DataFrame(cols)


def _aggregate_occ_arrays(
    keys: list[np.ndarray],
) -> tuple[list[np.ndarray], np.ndarray]:
    """Run-length tf aggregation over exchange-row columns sorted by all of
    them: a run of equal rows is one (term, salt, doc) occurrence group.
    Returns the run heads and their tfs. All-unique input (tf ≡ 1 — the
    dominant case for short turns) skips the gathers entirely."""
    n = len(keys[0])
    start = np.ones(n, dtype=bool)
    start[1:] = keys[0][1:] != keys[0][:-1]
    for a in keys[1:]:
        start[1:] |= a[1:] != a[:-1]
    starts = np.flatnonzero(start)
    if starts.size == n:
        return keys, np.ones(n, dtype=np.int64)
    return [a[starts] for a in keys], np.diff(np.append(starts, n)).astype(np.int64)


class PackPlan(NamedTuple):
    """The exchange row's encoding, chosen per build from observed widths.

    UnsafeRow stores every fixed-width field in an 8-byte slot, so only
    dropping slots shrinks the bytes the corpus-sized shuffle writes, reads
    and sorts:

    - ``cols=1``: ``tsdd = (term_id << salt_bits | salt) << (doc_bits +
      dl_bits) | doc_id << dl_bits | dl`` — one slot and a single-long
      Tungsten sort key;
    - ``cols=2``: ``ts = term_id << salt_bits | salt`` and ``dd = doc_id <<
      dl_bits | dl`` — two slots, for id spaces too wide for one (a shard
      at a large id offset);
    - ``cols=4``: the plain (term_id, salt, doc_id, dl) row, when a pack
      could overflow 63 bits (negative ids, absurd vocabularies).

    Every field has a fixed width, so the packs preserve order: sorting the
    exchange columns IS sorting (term_id, salt, doc_id, dl)."""

    cols: int
    salt_bits: int
    doc_bits: int
    dl_bits: int

    @classmethod
    def choose(
        cls, n_terms: int, max_salt: int, min_doc: int, max_doc: int, max_dl: int
    ) -> "PackPlan":
        salt_bits = max(1, max(max_salt, 1).bit_length())
        doc_bits = max(1, max(max_doc, 1).bit_length())
        dl_bits = max(1, max(max_dl, 1).bit_length())
        max_ts = (n_terms << salt_bits) - 1
        if (
            min_doc < 0
            or max_ts >= 1 << 63
            or (max_doc << dl_bits) + max_dl >= 1 << 63
        ):
            cols = 4
        elif ((max_ts + 1) << (doc_bits + dl_bits)) - 1 < 1 << 63:
            cols = 1
        else:
            cols = 2
        return cls(cols, salt_bits, doc_bits, dl_bits)

    @property
    def names(self) -> list[str]:
        return {1: ["tsdd"], 2: ["ts", "dd"], 4: ["term_id", "salt", "doc_id", "dl"]}[
            self.cols
        ]

    def pack(self) -> list[Column]:
        """The exchange columns, from (term_id, salt, doc_id, dl) rows."""
        if self.cols == 4:
            return [F.col(c) for c in self.names]
        ts = F.shiftleft("term_id", self.salt_bits) + F.col("salt").cast("long")
        dd = F.shiftleft("doc_id", self.dl_bits) + F.col("dl")
        if self.cols == 2:
            return [ts.alias("ts"), dd.alias("dd")]
        return [(F.shiftleft(ts, self.doc_bits + self.dl_bits) + dd).alias("tsdd")]

    def route(self, by_salt: bool) -> list[Column]:
        """Exchange partitioning keys over the packed row: (term_id, salt),
        injective, so a hot term's salts still spread across partitions —
        or the salt alone, when the salt is a doc-range bucket."""
        if self.cols == 4:
            return [F.col("salt")] if by_salt else [F.col("term_id"), F.col("salt")]
        ts = (
            F.col("ts")
            if self.cols == 2
            else F.shiftright("tsdd", self.doc_bits + self.dl_bits)
        )
        return [ts.bitwiseAND(F.lit((1 << self.salt_bits) - 1))] if by_salt else [ts]

    def doc_id(self) -> Column:
        """doc_id, unpacked from the exchange row."""
        if self.cols == 4:
            return F.col("doc_id")
        dd = (
            F.col("dd")
            if self.cols == 2
            else F.col("tsdd").bitwiseAND(F.lit((1 << (self.doc_bits + self.dl_bits)) - 1))
        )
        return F.shiftright(dd, self.dl_bits)

    def unpack(self, keys: list[np.ndarray]) -> tuple[np.ndarray, ...]:
        """(term_id, salt, doc_id, dl) arrays from exchange-column arrays."""
        if self.cols == 4:
            term, salt, doc, dl = keys
            return term, salt.astype(np.int32), doc, dl
        if self.cols == 1:
            dd_bits = self.doc_bits + self.dl_bits
            keys = [keys[0] >> dd_bits, keys[0] & ((1 << dd_bits) - 1)]
        ts, dd = keys
        return (
            ts >> self.salt_bits,
            (ts & ((1 << self.salt_bits) - 1)).astype(np.int32),
            dd >> self.dl_bits,
            dd & ((1 << self.dl_bits) - 1),
        )


def _encode_occ_map_fn(block_size: int, plan: PackPlan):
    """mapInPandas fn: exchange rows → in-worker tf aggregation → fused
    posting blocks. The build shuffles RAW occurrences once instead of
    paying a separate tf-groupBy exchange: the aggregation happens on the
    reduce side of the one shuffle, where the data already sits.

    Rows arrive sorted by every exchange column: the exchange sorts on the
    JVM side (Tungsten radix sort, off-heap and cache-efficient), so the
    worker never sorts — random-access-heavy python sorting was the build's
    main memory-bandwidth hog and the first thing to stop scaling when
    multiple workers share a socket. Arrow batch boundaries never break
    ordering because the whole partition is concatenated first (per-column
    ``np.concatenate``, not ``pd.concat``, whose consolidation would copy
    every column into one 2D block). The path stays in numpy end to end:
    run-length tf on the packed columns, then only the surviving rows are
    unpacked with shifts and masks."""
    names = plan.names

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[str, list[np.ndarray]] = {c: [] for c in names}
        for p in it:
            if len(p):
                for c in names:
                    acc[c].append(p[c].to_numpy(np.int64))
        if not acc[names[0]]:
            yield _empty_postings_pdf()
            return
        keys = [a[0] if len(a) == 1 else np.concatenate(a) for a in acc.values()]
        if os.environ.get("JV_DEBUG"):
            # the encoder TRUSTS the upstream sortWithinPartitions keys; if a
            # later edit drifts the sort contract, negative doc gaps wrap to
            # huge uint64 varints and the build emits corrupted blocks
            # SILENTLY. This debug-gated check makes that drift fail loudly
            # (run the suite once with JV_DEBUG=1 after touching the sort).
            tie = np.ones(len(keys[0]) - 1, dtype=bool)
            ok = np.zeros_like(tie)
            for a in keys:
                ok |= tie & (a[1:] > a[:-1])
                tie &= a[1:] == a[:-1]
            ok |= tie
            if not bool(ok.all()):
                i = int(np.flatnonzero(~ok)[0])
                raise AssertionError(
                    f"presorted encode input violates {tuple(names)} order "
                    f"at row {i + 1}: {tuple(int(a[i]) for a in keys)} -> "
                    f"{tuple(int(a[i + 1]) for a in keys)}"
                    " — upstream sortWithinPartitions keys drifted"
                )
        keys, tf = _aggregate_occ_arrays(keys)
        term, salt, doc, dl = plan.unpack(keys)
        res = pd.DataFrame(_encode_sorted_arrays(term, salt, doc, tf, dl, None, block_size))
        res["salt"] = res["salt"].astype("int32")
        yield res

    return fn


def _encode_map_fn(block_size: int, carry_part_id: bool = False):
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Concatenate the partition's Arrow batches: groups are confined to
        # one partition by the repartition(term_id, salt) upstream, but may
        # span batches within it. Memory = one shuffle partition (sized via
        # spark.sql.shuffle.partitions).
        batches = [p for p in it]
        if not batches:
            yield _empty_postings_pdf(carry_part_id)
            return
        yield encode_partition_pdf(
            pd.concat(batches, ignore_index=True), block_size, carry_part_id
        )

    return fn


def build_index(
    corpus: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    doc_map_cols: list[str] | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
    block_size: int = BLOCK_SIZE,
    salt_threshold: int = 4096,
    target_salt_postings: int = 4096,
    n_parts: int = 8,
    resume: bool = False,
    fail_after_parts: int | None = None,
    checkpointed: bool = True,
) -> dict:
    """Build (or resume) the full index at ``index_dir``; returns build
    metrics. Both modes run the same pipeline (module docstring) and write
    the same rows.

    ``checkpointed=True`` stages the packed exchange rows once, then runs
    one encode job and commits one ``build_lineage`` row per part — the
    price of partition-level restart (B11/B12) is one extra corpus-sized
    write+read plus a fixed ~1 s of driver scheduling per part.
    ``resume=True`` skips the parts already committed;
    ``fail_after_parts`` injects a crash after that many part commits (for
    resume tests — the analog of the reference's checkpoint kill/restart
    tests).

    ``checkpointed=False`` runs one encode job over every part with no
    staging round-trip. Use it when rerunning the whole build is an
    acceptable failure domain — e.g. moderate corpora or benchmarking."""
    if not checkpointed:
        toks = _tokenize(corpus, text_col, id_col, doc_map_cols)
        try:
            return _build_index_single_shot(
                toks, index_dir, id_col, doc_map_cols, k1, b, block_size,
                salt_threshold, target_salt_postings, n_parts, cached=False,
            )
        finally:
            toks.unpersist()

    spark = corpus.sparkSession
    staging = os.path.join(index_dir, "_staging")
    occ_dir = os.path.join(staging, "occ")
    plan_path = os.path.join(staging, "pack_plan.json")
    lineage_path = table_path(index_dir, "build_lineage")
    postings_path = table_path(index_dir, "postings")
    if not (resume and os.path.exists(os.path.join(index_dir, "segments", "_SUCCESS"))):
        # a fresh stage: parts and lineage rows of an earlier build are stale
        shutil.rmtree(postings_path, ignore_errors=True)
        shutil.rmtree(lineage_path, ignore_errors=True)
        toks = _tokenize(corpus, text_col, id_col, doc_map_cols)
        pins = [toks]
        v = _stats_and_vocabulary(
            toks, index_dir, id_col, doc_map_cols, salt_threshold,
            target_salt_postings, cached=False, phases=[], pins=pins,
        )
        rows, plan = _salted_rows(v, _hot_term_salt(v.n_docs, 0), v.max_salts - 1)
        rows.select(_part_id(n_parts).alias("part_id"), *plan.pack()).write.mode(
            "overwrite"
        ).partitionBy("part_id").parquet(occ_dir)
        v.terms.select("term", "term_id", "cf", "n_salts").write.mode(
            "overwrite"
        ).parquet(os.path.join(staging, "dictionary"))
        with open(plan_path, "w") as f:
            json.dump(plan._asdict(), f)
        # stage completion marker
        write_table(
            spark.createDataFrame(
                [_segments_row(v.n_docs, v.avgdl, k1, b, block_size, n_parts)],
                SEGMENTS_SCHEMA,
            ),
            index_dir, "segments",
        )
        for p in pins:
            p.unpersist()

    committed = 0
    # the staging directory is removed only after the dictionary is written:
    # without it, a resumed build has nothing left to do
    if os.path.exists(plan_path):
        with open(plan_path) as f:
            plan = PackPlan(**json.load(f))
        seg = read_segments(spark, index_dir)
        done_parts: set[int] = set()
        if resume and os.path.exists(lineage_path):
            done_parts = {
                r.part_id
                for r in read_table(spark, index_dir, "build_lineage")
                .filter(F.col("status") == "complete")
                .collect()
            }
        # per-part distinct doc counts in ONE column-pruned job (not one per
        # part): lineage metadata must never multiply the job count — at
        # 10^5 parts the per-part fixed job-submission cost would dominate
        todo = [p for p in range(n_parts) if p not in done_parts]
        part_docs: dict[int, int] = {}
        if todo and os.path.exists(occ_dir):
            part_docs = {
                r.part_id: r.docs
                for r in spark.read.parquet(occ_dir)
                .groupBy("part_id")
                .agg(F.countDistinct(plan.doc_id()).alias("docs"))
                .collect()
            }
        for p in todo:
            part_src = os.path.join(occ_dir, f"part_id={p}")
            postings = nbytes = 0  # an empty hash bucket is complete at once
            if os.path.exists(part_src):
                blocks = _encode_exchange(
                    spark.read.parquet(part_src), plan, block_size,
                    seg["n_docs"] * seg["avgdl"] / n_parts,
                )
                postings, nbytes = _write_blocks(
                    blocks, os.path.join(postings_path, f"part_id={p}")
                )
            spark.createDataFrame(
                [(p, int(part_docs.get(p, 0)), postings, nbytes, "complete")],
                LINEAGE_SCHEMA,
            ).write.mode("append").parquet(lineage_path)
            committed += 1
            if fail_after_parts is not None and committed >= fail_after_parts:
                raise RuntimeError(f"injected failure after {committed} part commits")
        _write_dictionary(
            spark, index_dir, spark.read.parquet(os.path.join(staging, "dictionary"))
        )
        os.remove(plan_path)
        shutil.rmtree(staging, ignore_errors=True)

    totals = read_table(spark, index_dir, "build_lineage").agg(
        F.sum("postings_emitted").alias("postings"),
        F.sum("bytes_compressed").alias("bytes"),
    ).collect()[0]
    return {
        "parts": n_parts,
        "parts_built": committed,
        "postings_emitted": int(totals["postings"]),
        "bytes_compressed": int(totals["bytes"]),
    }


def build_index_transcripts(
    src: DataFrame,
    index_dir: str,
    order_cols: list[str],
    text_col: str = "text",
    doc_map_cols: list[str] | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
    block_size: int = BLOCK_SIZE,
    salt_threshold: int = 4096,
    target_salt_postings: int = 4096,
    n_parts: int = 8,
    id_offset: int = 0,
) -> dict:
    """Fused end-to-end build from a raw (un-id'd) transcripts table:
    dense-id assignment, tokenization, and the raw-text drop all happen
    inside the ONE pass that populates the only corpus-sized cache.
    ``id_offset`` shifts every assigned doc_id (a shard of a sharded index
    occupies the dense global range [offset, offset + n); index.sharded).

    Why this beats chaining ``assign_dense_ids`` + ``build_index`` (the
    round-1 shape): that chain caches the corpus WITH its text (for the
    deterministic-range pin), caches it again inside the build, and caches
    the *exploded* occurrence relation a third time — at 2→8 cores the
    measured build-scaling efficiency was 0.40 because the timed region was
    dominated by this cache traffic, which saturates a single box's memory
    bandwidth long before the cores do. Here exactly one relation is ever
    cached — (_pid, order_cols, token array), raw text already projected
    away — the scan reads text bytes once, and occurrences are re-derived
    from the cached arrays by the two consumers (a vocabulary aggregate and
    the single corpus-sized shuffle). Same output index, byte-for-byte
    (equivalence-tested)."""
    pins: list = []
    keep = [c for c in (doc_map_cols or []) if c not in order_cols]
    phases: list = []
    t0 = time.perf_counter()
    pre = assign_dense_ids(
        src,
        order_cols,
        "doc_id",
        pins=pins,
        pre_persist=lambda d: d.select(
            "_pid", *order_cols, *keep, tokens_col(text_col).alias("_toks")
        ),
    )
    # assign_dense_ids materializes eagerly (range-sampling job + tokenize
    # + cache populate + per-partition count collect), so this bracket is
    # a real phase boundary, not lazy-plan time
    phases.append(("ids_tokenize_cache", time.perf_counter() - t0))
    if id_offset:
        pre = pre.withColumn("doc_id", F.col("doc_id") + F.lit(int(id_offset)))
    try:
        return _build_index_single_shot(
            pre, index_dir, "doc_id", doc_map_cols, k1, b, block_size,
            salt_threshold, target_salt_postings, n_parts, cached=True,
            id_offset=id_offset, phases=phases,
        )
    finally:
        for p in pins:
            p.unpersist()


def _build_index_single_shot(
    toks: DataFrame,
    index_dir: str,
    id_col: str,
    doc_map_cols: list[str] | None,
    k1: float,
    b: float,
    block_size: int,
    salt_threshold: int,
    target_salt_postings: int,
    n_parts: int,
    cached: bool,
    id_offset: int = 0,
    phases: list | None = None,
) -> dict:
    """Stages 2-6 over the stage-1 token relation ``toks``, with one encode
    job and no staging round-trip: the doc_stats write, the vocabulary's
    dense-id passes, an optional doc_map write, the encode write and the
    dictionary write, with the meta writes overlapping the last. ``cached``
    says ``toks`` is already materialized, so the doc_stats write can
    overlap the vocabulary job."""
    spark = toks.sparkSession
    if phases is None:
        phases = []
    pins: list = []
    v = _stats_and_vocabulary(
        toks, index_dir, id_col, doc_map_cols, salt_threshold,
        target_salt_postings, cached=cached, phases=phases, pins=pins,
    )
    rows, plan = _salted_rows(
        v, _hot_term_salt(v.n_docs, id_offset), v.max_salts - 1
    )
    t = time.perf_counter()
    blocks = _encode_exchange(
        rows.select(*plan.pack()), plan, block_size, v.n_docs * v.avgdl
    ).withColumn("part_id", _part_id(n_parts))
    postings, nbytes = _write_blocks(blocks, table_path(index_dir, "postings"), "part_id")
    phases.append(("encode_shuffle_write", time.perf_counter() - t))
    _write_dictionary_and_meta(
        spark, index_dir, v, postings, nbytes,
        _segments_row(v.n_docs, v.avgdl, k1, b, block_size, n_parts),
        SEGMENTS_SCHEMA, phases,
    )
    for p in pins:
        p.unpersist()
    return {
        "parts": n_parts,
        "parts_built": n_parts,
        "postings_emitted": postings,
        "bytes_compressed": nbytes,
        "phase_secs": {k: round(s, 3) for k, s in phases},
    }


def _tokenize(
    corpus: DataFrame, text_col: str, id_col: str, doc_map_cols: list[str] | None
) -> DataFrame:
    """Stage 1: tokenize EXACTLY once into the narrow cached projection
    (id, ``_toks`` [, doc_map cols]) — the shape the fused transcripts build
    pins. Consumers re-derive what they need from the cached arrays: two
    cheap explodes beat caching the 30×-wider exploded relation, and at
    cluster scale MEMORY_AND_DISK spills gracefully instead of OOMing. The
    cache is populated by its first consumer."""
    keep = [c for c in (doc_map_cols or []) if c != id_col]
    return corpus.select(
        F.col(id_col), tokens_col(text_col).alias("_toks"), *keep
    ).persist(StorageLevel.MEMORY_AND_DISK)


class _Vocab(NamedTuple):
    """What stages 2-3 leave for the exchange."""

    occ: DataFrame  # (doc_id, dl, term), re-derived lazily from the token cache
    terms: DataFrame  # persisted (term, cf, n_salts, term_id)
    n_docs: int
    avgdl: float
    min_doc: int
    max_doc: int
    max_dl: int
    n_terms: int
    max_salts: int


def _timed(phases: list, name: str, fn):
    def run() -> None:
        t = time.perf_counter()
        fn()
        phases.append((name, time.perf_counter() - t))

    return run


def _stats_and_vocabulary(
    toks: DataFrame,
    index_dir: str,
    id_col: str,
    doc_map_cols: list[str] | None,
    salt_threshold: int | None,
    target_salt_postings: int | None,
    *,
    cached: bool,
    phases: list,
    pins: list,
) -> _Vocab:
    """Stages 2-3: write doc_stats and doc_map, and build the vocabulary
    with its salt plan. ``salt_threshold=None`` turns hot-term salting off
    (n_salts ≡ 1) for a caller whose salt is a doc-range bucket. The
    persisted vocabulary and the dense-id pins are appended to ``pins``."""
    occ = toks.select(
        F.col(id_col).alias("doc_id"),
        F.size("_toks").alias("dl"),
        F.explode("_toks").alias("term"),
    )
    obs = Observation()
    dstats = toks.select(
        F.col(id_col).alias("doc_id"), F.size("_toks").cast("long").alias("dl")
    ).observe(
        obs, F.count("*").alias("n"), F.avg("dl").alias("avgdl"),
        # the doc_id/dl extremes ride the same pass for free: they size the
        # pack plan's shift widths (and gate its feasibility)
        F.max("dl").alias("max_dl"),
        F.max("doc_id").alias("max_doc"), F.min("doc_id").alias("min_doc"),
    )
    # doc_map reads only the token relation, so its write overlaps the
    # critical path instead of serializing behind it (phase wall times
    # therefore overlap; build_sec is the truth)
    bg = []
    if doc_map_cols:
        dm_sel = toks.select(id_col, *doc_map_cols)
        bg.append(_bg_job(_timed(
            phases, "doc_map_write", lambda: write_table(dm_sel, index_dir, "doc_map")
        )))
    # doc_stats and the vocabulary are independent jobs over the SAME
    # cache. When it is already populated, the doc_stats write runs from a
    # background thread so its wall overlaps the vocabulary job (a >1-core
    # leg back-fills idle cores with the second job's tasks; a 1-core leg
    # runs them back to back). Otherwise doc_stats goes first and populates
    # the cache: two concurrent first consumers would tokenize every
    # partition twice.
    write_stats = _timed(
        phases, "doc_stats_write", lambda: write_table(dstats, index_dir, "doc_stats")
    )
    if cached:
        bg.append(_bg_job(write_stats))
    else:
        write_stats()

    # one aggregated shuffle whose output is vocabulary-, not corpus-,
    # sized; the vocabulary size and max n_salts ride assign_dense_ids' own
    # count collect (no separate pack-plan aggregate job)
    n_salts = (
        F.lit(1)
        if salt_threshold is None
        else F.when(
            F.col("cf") > salt_threshold,
            F.ceil(F.col("cf") / F.lit(target_salt_postings)).cast("int"),
        ).otherwise(F.lit(1))
    )
    terms = (
        occ.groupBy("term")
        .agg(F.count("*").cast("long").alias("cf"))
        .withColumn("n_salts", n_salts)
    )
    t = time.perf_counter()
    n_out: list = []
    mx_out: dict = {}
    terms = assign_dense_ids(
        terms, ["term"], id_col="term_id", pins=pins,
        n_out=n_out, max_of={"n_salts": F.col("n_salts")}, max_out=mx_out,
    ).persist()
    pins.append(terms)
    phases.append(("term_ids", time.perf_counter() - t))
    for job in bg:
        _bg_join(*job)
    st = obs.get
    return _Vocab(
        occ, terms, int(st["n"]), float(st["avgdl"]),
        int(st["min_doc"] or 0), int(st["max_doc"] or 0), int(st["max_dl"] or 0),
        int(n_out[0]), int(mx_out.get("n_salts") or 1),
    )


def _hot_term_salt(n_docs: int, id_offset: int) -> Column:
    """Stage 3's salt plan applied to an occurrence: the term's doc range
    split into ``n_salts`` equal sub-ranges of the shard-local rank
    ``doc_id - id_offset`` (a shard's ids start at its global offset, and
    its salts must span its own [0, n_docs) to stay balanced)."""
    return F.least(
        ((F.col("doc_id") - F.lit(int(id_offset))) * F.col("n_salts")
         / F.lit(n_docs)).cast("int"),
        F.col("n_salts") - 1,
    ).cast("int")


def _salted_rows(v: _Vocab, salt: Column, max_salt: int) -> tuple[DataFrame, PackPlan]:
    """Stage 4: the (term_id, salt, doc_id, dl) occurrence rows, and the
    pack plan for them from the observed widths (``max_salt`` bounds
    ``salt``)."""
    rows = v.occ.join(
        F.broadcast(v.terms.select("term", "term_id", "n_salts")), "term"
    ).withColumn("salt", salt)
    return rows, PackPlan.choose(v.n_terms, max_salt, v.min_doc, v.max_doc, v.max_dl)


def _part_id(n_parts: int) -> Column:
    """A (term_id, salt) run's hive bucket. The single-shot build derives it
    over the ~block_size×-smaller block relation after encoding: shipping
    it on every occurrence row costs ~17 % more exchange bytes for a
    high-entropy value the shuffle codec cannot compress."""
    return F.pmod(F.xxhash64("term_id", "salt"), F.lit(n_parts)).cast("int")


def _encode_exchange(
    rows: DataFrame, plan: PackPlan, block_size: int, n_rows: float,
    by_salt: bool = False,
) -> DataFrame:
    """Stage 5: THE corpus-sized shuffle of packed exchange rows, sorted on
    the JVM side into the presorted encoder; returns the block relation.
    The partition count derives from the expected row count ``n_rows``,
    capped at the configured cluster-sized value, so tiny corpora stop
    paying 32 task+worker fixed costs per build."""
    return (
        rows.repartition(sized_shuffle_n(rows, n_rows), *plan.route(by_salt))
        .sortWithinPartitions(*plan.names)
        .mapInPandas(_encode_occ_map_fn(block_size, plan), schema=POSTINGS_SCHEMA)
    )


def _write_blocks(
    blocks: DataFrame, path: str, partition_by: str | None = None
) -> tuple[int, int]:
    """Write the block relation — the job that runs the encode exchange —
    and return (postings, packed payload bytes), observed during the write
    itself (no re-read pass).

    The large Arrow batches are scoped to this write, so mapInPandas
    surfaces with wide rows (multimodal binary) keep the session default.
    The override mutates session-global runtime conf, so
    ``_ARROW_BATCH_LOCK`` keeps two concurrent builds sharing one
    SparkSession from racing the set/restore (which could leave 128k
    batches applied to an unrelated wide-row job)."""
    spark = blocks.sparkSession
    obs = Observation()
    writer = blocks.observe(
        obs,
        F.coalesce(F.sum("n"), F.lit(0)).alias("postings"),
        (
            F.coalesce(F.sum(F.length("doc_ids_packed")), F.lit(0))
            + F.coalesce(F.sum(F.length("tfs_packed")), F.lit(0))
            + F.coalesce(F.sum(F.length("dls_packed")), F.lit(0))
        ).alias("bytes"),
    ).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    arrow_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    with _ARROW_BATCH_LOCK:
        try:
            arrow_prev = spark.conf.get(arrow_key)
        except Exception:  # noqa: BLE001
            arrow_prev = None
        spark.conf.set(arrow_key, str(ENCODE_ARROW_BATCH))
        try:
            writer.parquet(path)
        finally:
            if arrow_prev is None:
                spark.conf.unset(arrow_key)
            else:
                spark.conf.set(arrow_key, arrow_prev)
    m = obs.get
    return int(m["postings"]), int(m["bytes"])


def _write_dictionary(spark: SparkSession, index_dir: str, terms: DataFrame) -> None:
    """The final dictionary: the vocabulary with exact df summed from the
    postings' block meta (a column-pruned scan that never touches the
    packed payloads)."""
    dfreq = (
        read_table(spark, index_dir, "postings")
        .groupBy("term_id")
        .agg(F.sum("n").cast("long").alias("df"))
    )
    write_table(
        terms.join(dfreq, "term_id").select("term", "term_id", "df", "cf", "n_salts"),
        index_dir, "dictionary",
    )


def _segments_row(
    n_docs: int, avgdl: float, k1: float, b: float, block_size: int, n_parts: int
) -> tuple:
    return (
        FORMAT_VERSION, n_docs, avgdl, float(k1), float(b), int(block_size),
        TOKEN_PATTERN, int(n_parts),
    )


def _write_dictionary_and_meta(
    spark: SparkSession,
    index_dir: str,
    v: _Vocab,
    postings: int,
    nbytes: int,
    segments: tuple,
    segments_schema: str,
    phases: list,
) -> None:
    """Stage 6's tail for a one-job build. Lineage and segments depend only
    on the already-observed encode metrics, not on the dictionary, so they
    overlap the dictionary finalize. One job-level lineage row (part_id =
    -1 marks "all parts, one commit")."""

    def write_meta() -> None:
        spark.createDataFrame(
            [(-1, v.n_docs, postings, nbytes, "complete")], LINEAGE_SCHEMA
        ).write.mode("overwrite").parquet(table_path(index_dir, "build_lineage"))
        write_table(
            spark.createDataFrame([segments], segments_schema), index_dir, "segments"
        )

    meta = _bg_job(_timed(phases, "meta_writes", write_meta))
    _timed(phases, "dictionary_write", lambda: _write_dictionary(spark, index_dir, v.terms))()
    _bg_join(*meta)
