"""Index storage layout — "Iceberg-shaped" Parquet tables.

The v1 sandbox image has no iceberg-spark-runtime jar, so the index is laid
out as plain Parquet directories with the exact table schemas an Iceberg
catalog would hold (SURVEY.md §7 M2 errata: decide Parquet-vs-Iceberg at M2
start — decided: Parquet, same layout; swapping the writer for
``df.writeTo(...).append()`` is a one-liner once the jar exists).

Layout (reference analog: the versioned on-disk graph format,
jvector-base/.../graph/disk/OnDiskGraphIndex.java:72, CommonHeader.java:59-152):

    <index_dir>/
      segments/       1 row: format_version, n_docs, avgdl, k1, b,
                      block_size, token_pattern   (the header/footer analog)
      dictionary/     term, term_id, df, cf, n_salts
      postings/       part_id, term_id, salt, block_id, n, base,
                      max_doc_id, max_tf, min_dl,
                      doc_ids_packed, tfs_packed, dls_packed
                      — block-max metadata FUSED inline with the packed
                      payload (one scan serves prune+score, the analog of
                      FusedPQ packing neighbor codes with adjacency,
                      graph/disk/feature/FusedPQ.java:75-122); Parquet column
                      pruning lets meta-only scans skip the binary columns,
                      so no separate block_meta table is materialized.
      doc_stats/      doc_id, dl
      doc_map/        doc_id + the source's natural-key columns
      build_lineage/  part_id, docs_indexed, postings_emitted,
                      bytes_compressed, status  (checkpoint/resume, the
                      analog of OnHeapGraphIndex save/load + CheckpointManager,
                      GraphIndexBuilder.java:865-969)

``postings/`` is hive-partitioned by ``part_id`` (a deterministic hash
bucket of (term_id, salt)) so query-time term lookups prune directories —
the analog of jvector only seeking the adjacency regions the search
touches.

Query planning reads the metadata tables on the driver through pyarrow:
:func:`read_segments`, :func:`tombstone_ids` and :func:`dictionary_lookup`
(a ``term``-filtered read of only the queried terms) launch no Spark job,
and :func:`read_postings` opens the postings scan with the declared
:data:`POSTINGS_TABLE_SCHEMA`, so Spark runs no schema-inference job
either: the one planning job left is the collect of the caller's query
relation. Nothing is cached across calls: every call reads the tables as
they are on disk, so no write (extend, delete, compact, parameter
refresh) leaves a reader stale.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# v2: posting blocks carry (max_tf, min_dl); the BM25 block upper bound is
# derived at query time from current global stats, so incremental extends /
# compactions that change n_docs/avgdl/df never leave stale baked bounds
# (v1 stored a build-time max_score_bound).
FORMAT_VERSION = 2

TABLES = ("segments", "dictionary", "postings", "doc_stats", "doc_map", "build_lineage")

# columns of a postings data file (the encoders' output schema)
POSTINGS_SCHEMA = (
    "term_id long, salt int, block_id int, n int, base long, max_doc_id long, "
    "max_tf long, min_dl long, doc_ids_packed binary, "
    "tfs_packed binary, dls_packed binary"
)
# the postings table as Spark reads it back: the hive partition column
# comes last, the order partition discovery gives it
POSTINGS_TABLE_SCHEMA = POSTINGS_SCHEMA + ", part_id int"


def table_path(index_dir: str, name: str) -> str:
    return os.path.join(index_dir, name)


def shuffle_n(df: DataFrame) -> int:
    """The session's configured shuffle-partition count, for EXPLICIT
    ``repartition(n, cols...)`` on the CPU-heavy Arrow-encode exchanges.

    Why explicit: AQE's ``coalescePartitions`` targets shuffle-BYTE balance
    (advisory 64 MB) and is blind to downstream cost per byte. The encode
    stages pipe each partition through a Python/Arrow worker whose varint
    packing costs ~10-100x more CPU per byte than a JVM scan, so letting
    AQE coalesce them serializes the build's dominant CPU work (measured:
    the sf0.1 encode stage coalesced 32 -> 10 tasks and became 75 % of
    build wall; at 1000 executors the same coalesce would idle most of the
    cluster). ``spark.sql.shuffle.partitions`` is already sized to the
    data / cluster (docs/SCALE.md), so pinning the exchange to it keeps
    the configured parallelism without disabling AQE elsewhere."""
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


# target occurrence rows per encode task: ~100 ms of vectorized varint
# work — enough to amortize the fixed task cost (scheduling + Arrow
# round-trip + python worker dispatch, ~0.1-0.2 s). Above the ceiling the
# configured shuffle-partition count (sized to the cluster) still rules.
ENCODE_ROWS_PER_TASK = 262_144


def sized_shuffle_n(df: DataFrame, approx_rows: float | None) -> int:
    """Scale-adaptive partition count for the CPU-heavy Arrow-encode
    exchanges: derived from the input size (guide idiom — never a
    constant tuned to one box), with the session's configured
    shuffle-partition count as the CEILING so cluster-scale inputs keep
    their full configured parallelism. A kilobyte input gets one task
    instead of paying the full configured task count in fixed overheads
    (on a cold session each task also spawns a python worker).
    ``approx_rows=None`` falls back to the configured count."""
    n = shuffle_n(df)
    if approx_rows is None or approx_rows <= 0:
        return n
    return max(1, min(n, -(-int(approx_rows) // ENCODE_ROWS_PER_TASK)))


def _ddl_names(schema: str) -> list[str]:
    """Column names from a DDL schema string, splitting only on top-level
    commas (``array<double>`` etc. stay intact)."""
    names, depth, cur = [], 0, []
    for ch in schema:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            names.append("".join(cur).strip().split()[0])
            cur = []
        else:
            cur.append(ch)
    names.append("".join(cur).strip().split()[0])
    return names


def local_relation(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """DataFrame from driver-local rows, converted via Arrow.

    ``createDataFrame(list)`` splits local data into ``defaultParallelism``
    pickled slices behind an RDD, so every use of it (a broadcast, a
    ``coalesce(1)``) is a Spark job through a Python-worker task (measured
    ~0.5 s warm for 2 rows, ~4 s per job at local[32] for 64 rows). The
    pandas/Arrow conversion happens driver-side and yields a local
    relation: building or broadcasting it launches no job at all. Raises
    ``ValueError`` when a row's arity differs from the schema's."""
    import pandas as pd

    names = _ddl_names(schema)
    bad = next((r for r in rows if len(r) != len(names)), None)
    if bad is not None:
        raise ValueError(
            f"row {bad!r} has {len(bad)} values; schema {schema!r} has "
            f"{len(names)} columns"
        )
    pdf = (
        pd.DataFrame(dict(zip(names, map(list, zip(*rows)))))
        if rows
        else pd.DataFrame({n: [] for n in names})
    )
    return spark.createDataFrame(pdf, schema)


def local_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """One-partition :func:`local_relation`, for writers: ``repartition(1)``
    gives them their single output file for well under a second."""
    return local_relation(spark, rows, schema).repartition(1)


# Spark's XxHash64 primes (sql/catalyst XXH64) — used to resolve
# pmod(xxhash64(term_id, salt), n_parts) driver-side without a Spark job
_XXH64_M = (1 << 64) - 1
_XXH64_P1 = 0x9E3779B185EBCA87
_XXH64_P2 = 0xC2B2AE3D27D4EB4F
_XXH64_P3 = 0x165667B19E3779F9
_XXH64_P4 = 0x85EBCA77C2B2AE63
_XXH64_P5 = 0x27D4EB2F165667C5


def _xxh64_rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _XXH64_M


def _xxh64_fmix(h: int) -> int:
    h ^= h >> 33
    h = h * _XXH64_P2 & _XXH64_M
    h ^= h >> 29
    h = h * _XXH64_P3 & _XXH64_M
    h ^= h >> 32
    return h


def _xxh64_long(v: int, seed: int) -> int:
    h = (seed + _XXH64_P5 + 8) & _XXH64_M
    k1 = _xxh64_rotl((v & _XXH64_M) * _XXH64_P2 & _XXH64_M, 31) * _XXH64_P1 & _XXH64_M
    h ^= k1
    h = (_xxh64_rotl(h, 27) * _XXH64_P1 + _XXH64_P4) & _XXH64_M
    return _xxh64_fmix(h)


def _xxh64_int(v: int, seed: int) -> int:
    h = (seed + _XXH64_P5 + 4) & _XXH64_M
    h ^= (v & 0xFFFFFFFF) * _XXH64_P1 & _XXH64_M
    h = (_xxh64_rotl(h, 23) * _XXH64_P2 + _XXH64_P3) & _XXH64_M
    return _xxh64_fmix(h)


def hash_part_id(term_id: int, salt: int, n_parts: int) -> int:
    """``pmod(xxhash64(term_id :: long, salt :: int), n_parts)`` computed
    in pure Python, bit-exact with the Catalyst expression (seed 42; long
    column hashed as 8 bytes, int column as 4 — equality with Spark is
    pytest-enforced). Query paths use this to resolve the pruned part set
    for a handful of (term, salt) pairs driver-side; the throwaway
    local-relation Spark job it replaces cost ~0.5 s of fixed scheduling
    per query call."""
    h = _xxh64_int(salt, _xxh64_long(term_id, 42))
    if h >= 1 << 63:
        h -= 1 << 64  # Spark's hash is a SIGNED long; pmod of it
    return h % n_parts  # python % already yields the positive residue


def hash_parts(pairs, n_parts: int) -> list[int]:
    """Distinct sorted part ids for (term_id, salt) pairs (see
    :func:`hash_part_id`)."""
    return sorted({hash_part_id(int(t), int(s), int(n_parts)) for t, s in pairs})


def write_table(df: DataFrame, index_dir: str, name: str, mode: str = "overwrite",
                partition_by: list[str] | None = None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(table_path(index_dir, name))


def read_table(spark: SparkSession, index_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(table_path(index_dir, name))


def read_postings(spark: SparkSession, index_dir: str) -> DataFrame:
    """The postings table, read with its declared schema: Spark skips the
    footer-reading schema-inference job it would otherwise run, and still
    discovers the ``part_id`` directories, so a ``part_id`` filter prunes
    them in the plan."""
    return spark.read.schema(POSTINGS_TABLE_SCHEMA).parquet(
        table_path(index_dir, "postings")
    )


def _arrow_table(index_dir: str, name: str, **scan) -> pa.Table | None:
    """A table read on the driver through pyarrow, or None when its
    directory is absent or holds no data file. Discovery skips names
    starting with ``_`` or ``.`` (``_SUCCESS``, ``.crc`` checksums,
    ``_temporary``), as Spark's reader does. ``scan`` goes to
    ``Dataset.to_table`` (``columns``, ``filter``)."""
    path = table_path(index_dir, name)
    if not os.path.isdir(path):
        return None
    dset = ds.dataset(path, format="parquet")
    if not dset.files:
        return None
    return dset.to_table(**scan)


def read_segments(spark: SparkSession, index_dir: str) -> dict:
    """The single segments row as a plain dict (header metadata), read on
    the driver — no Spark job."""
    tbl = _arrow_table(index_dir, "segments")
    if tbl is None or tbl.num_rows == 0:
        raise FileNotFoundError(f"no segments row under {index_dir}")
    return tbl.slice(0, 1).to_pylist()[0]


def update_segments(spark: SparkSession, index_dir: str, **updates) -> dict:
    """Rewrite the single segments row with ``updates`` applied and EVERY
    other column preserved verbatim — layout-agnostic (a doc-partitioned
    index's extra ``layout``/``bucket_width`` columns survive any stats or
    parameter refresh). This is the only sanctioned way to rewrite
    ``segments``: re-emitting a fixed column list would silently strip a
    newer layout's columns and corrupt query dispatch."""
    tbl = read_table(spark, index_dir, "segments")
    schema = tbl.schema
    seg = tbl.collect()[0].asDict()
    unknown = set(updates) - set(seg)
    if unknown:
        raise KeyError(f"unknown segments column(s): {sorted(unknown)}")
    seg.update(updates)
    row = tuple(seg[f.name] for f in schema.fields)
    write_table(spark.createDataFrame([row], schema), index_dir, "segments")
    return seg


def tombstone_ids(spark: SparkSession, index_dir: str) -> set[int] | None:
    """The current tombstone set (deleted doc_ids), or None if empty/absent.
    Driver-side set is intentional: it is broadcast into scoring UDFs, the
    same way the reference keeps deletions as an in-memory bitset
    (OnHeapGraphIndex deletedNodes; marked via GraphIndexBuilder.java:681-683).
    A set too large to broadcast is the signal to compact."""
    tbl = _arrow_table(index_dir, "tombstones", columns=["doc_id"])
    if tbl is None:
        return None
    return set(pc.unique(tbl.column("doc_id")).to_pylist()) or None


def dictionary_lookup(index_dir: str, terms) -> dict[str, list[tuple[int, int, int]]]:
    """term → [(term_id, df, n_salts)] for ``terms`` only: a driver-side
    read of four dictionary columns with ``term IN terms`` pushed into the
    scan, so Parquet row-group statistics skip groups holding none of the
    terms. Never a full collect of the vocabulary (docs/SCALE.md gives its
    limit at ~10^9 terms)."""
    terms = sorted({t for t in terms if t is not None})
    if not terms:
        return {}
    tbl = _arrow_table(
        index_dir, "dictionary",
        columns=["term", "term_id", "df", "n_salts"],
        filter=pc.field("term").isin(terms),
    )
    out: dict[str, list[tuple[int, int, int]]] = {}
    for r in tbl.to_pylist() if tbl is not None else ():
        out.setdefault(r["term"], []).append((r["term_id"], r["df"], r["n_salts"]))
    return out


def block_meta(spark: SparkSession, index_dir: str) -> DataFrame:
    """Meta-only view over the fused postings table; Parquet column pruning
    means this scan never reads the packed binary columns."""
    return read_table(spark, index_dir, "postings").select(
        "term_id", "salt", "block_id", "n", "base", "max_doc_id", "max_tf",
        "min_dl",
    )
