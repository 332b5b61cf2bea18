"""Driver-side query planning: the pyarrow metadata readers return exactly
what the Spark reads they replaced returned, a single-query indexed read
stays within its Spark job budget, and every read sees the index as the
last write left it (nothing is cached across calls)."""

from __future__ import annotations

import os

import pytest

GOLDEN_V2 = os.path.join(os.path.dirname(__file__), "golden", "v2_index")
ORDER = ["conv_id", "turn_idx"]


def _spark_segments(spark, index_dir):
    """The Spark read ``read_segments`` replaced."""
    from jvector_spark.index.storage import read_table

    return read_table(spark, index_dir, "segments").collect()[0].asDict()


def _assert_same_dict(got: dict, want: dict):
    assert list(got) == list(want)
    assert got == want
    assert {k: type(v) for k, v in got.items()} == {
        k: type(v) for k, v in want.items()
    }


def test_local_relation_rejects_mismatched_rows(spark):
    from jvector_spark.index.storage import local_df, local_relation

    schema = "a long, b double"
    with pytest.raises(ValueError, match="3 values"):
        local_relation(spark, [(1, 2.0), (2, 3.0, 4.0)], schema)
    with pytest.raises(ValueError, match="1 values"):
        local_df(spark, [(1,)], schema)
    got = local_relation(spark, [(1, 2.0), (2, 3.0)], schema).collect()
    assert [tuple(r) for r in got] == [(1, 2.0), (2, 3.0)]
    assert local_relation(spark, [], schema).count() == 0


def test_read_segments_matches_spark_read_term_layout(spark):
    from jvector_spark.index.storage import read_segments

    _assert_same_dict(read_segments(spark, GOLDEN_V2), _spark_segments(spark, GOLDEN_V2))


def test_read_segments_matches_spark_read_doc_layout(spark, corpus, tmp_path):
    from pyspark.sql import functions as F

    from jvector_spark.index.docpart import build_doc_partitioned
    from jvector_spark.index.storage import read_segments

    d = str(tmp_path / "dp")
    build_doc_partitioned(corpus.filter(F.col("doc_id") < 600), d, n_buckets=4)
    got = read_segments(spark, d)
    assert got["layout"] == "doc"
    _assert_same_dict(got, _spark_segments(spark, d))


def test_read_segments_missing_table_raises(spark, tmp_path):
    from jvector_spark.index.storage import read_segments

    with pytest.raises(FileNotFoundError):
        read_segments(spark, str(tmp_path))


def test_tombstone_ids_reads_spark_appended_table(spark, tmp_path):
    from jvector_spark.index.maintenance import delete_docs, tombstone_ids
    from jvector_spark.index.storage import table_path

    d = str(tmp_path)
    path = table_path(d, "tombstones")
    assert tombstone_ids(spark, d) is None  # absent
    spark.createDataFrame([], "doc_id long").write.mode("append").parquet(path)
    assert tombstone_ids(spark, d) is None  # present but empty

    delete_docs(spark, d, [3, 1, 4])
    delete_docs(spark, d, [1, 5, 9, 2, 6])
    delete_docs(spark, d, spark.range(100, 140).toDF("doc_id").repartition(3))
    names = os.listdir(path)
    assert "_SUCCESS" in names
    assert any(n.endswith(".crc") for n in names)
    assert sum(n.endswith(".parquet") for n in names) >= 4

    want = {1, 2, 3, 4, 5, 6, 9} | set(range(100, 140))
    got = tombstone_ids(spark, d)
    assert got == want
    assert all(type(x) is int for x in got)
    spark_read = {r.doc_id for r in spark.read.parquet(path).distinct().collect()}
    assert got == spark_read


def test_dictionary_lookup_reads_only_the_queried_terms(spark):
    from jvector_spark.index.storage import dictionary_lookup, read_table

    dct = read_table(spark, GOLDEN_V2, "dictionary")
    rows = dct.orderBy("term").limit(3).collect()
    terms = [r.term for r in rows]
    got = dictionary_lookup(GOLDEN_V2, terms + ["zz-not-a-term", None])
    assert got == {
        r.term: [(r.term_id, r.df, r.n_salts)] for r in rows
    }
    assert dictionary_lookup(GOLDEN_V2, []) == {}


def test_driver_idf_matches_catalyst_within_one_ulp(spark):
    """Planning computes idf on the driver; it must agree with the Catalyst
    expression it replaced to 1 ulp (the same IEEE operations in the same
    order; only ``log`` may round differently)."""
    import math

    from pyspark.sql import functions as F

    from jvector_spark.index.query import _idf

    cases = [(n, df) for n in (1, 7, 1000, 123457, 10**9 + 7)
             for df in (1, 2, 3, n // 3 + 1, n // 2 + 1, n) if df >= 1]
    rows = spark.createDataFrame(cases, "n_docs long, df long").select(
        "n_docs", "df",
        F.log(F.lit(1.0) + (F.col("n_docs").cast("double") - F.col("df") + F.lit(0.5))
              / (F.col("df") + F.lit(0.5))).alias("bm25"),
        F.log(F.lit(1.0) + F.col("n_docs").cast("double") / F.col("df")).alias("tfidf"),
    ).collect()
    for r in rows:
        for kind in ("bm25", "tfidf"):
            want = r[kind]
            got = _idf(kind, float(r.n_docs), r.df)
            assert abs(got - want) <= math.ulp(want), (kind, r)


# ---------------------------------------------------------------------------
# the job budget of one indexed read
# ---------------------------------------------------------------------------


def _job_stage_names(sc, group: str) -> list[list[str]]:
    st = sc.statusTracker()
    out = []
    for j in sorted(st.getJobIdsForGroup(group)):
        info = st.getJobInfo(j)
        stages = [st.getStageInfo(s) for s in (info.stageIds if info else [])]
        out.append([s.name for s in stages if s is not None])
    return out


def test_single_query_read_job_budget(spark, corpus, query_set, tmp_path):
    """Planning reads metadata on the driver: the call itself launches at
    most the one collect of the caller's query relation, the whole read at
    most four jobs, and no job reads a metadata table or infers a schema."""
    from pyspark.sql import functions as F

    from jvector_spark.index.build import build_index
    from jvector_spark.index.maintenance import delete_docs
    from jvector_spark.index.query import bm25_topk_indexed

    d = str(tmp_path / "idx")
    build_index(corpus.filter(F.col("doc_id") < 1500), d, n_parts=4, checkpointed=False)
    delete_docs(spark, d, [0, 7, 42])
    terms = sorted({t for ts in query_set["terms"][:3] for t in ts})
    qterms = spark.createDataFrame(
        [(0, t, 1.0) for t in terms], "query_id int, term string, weight double"
    )
    want = bm25_topk_indexed(spark, d, qterms, k=10, prune=False).collect()  # warm
    assert want

    sc = spark.sparkContext
    try:
        sc.setJobGroup("jv_plan", "plan one read")
        df = bm25_topk_indexed(spark, d, qterms, k=10)
        sc.setJobGroup("jv_scan", "run one read")
        got = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    plan, scan = _job_stage_names(sc, "jv_plan"), _job_stage_names(sc, "jv_scan")
    assert len(plan) <= 1, plan
    assert len(plan) + len(scan) <= 4, plan + scan
    names = [n for job in plan + scan for n in job]
    assert not [n for n in names if n.startswith("parquet at")], names
    assert not [n for n in names if "storage.py" in n], names
    key = lambda r: (r.rank, r.doc_id, round(r.score, 9))  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, want))


# ---------------------------------------------------------------------------
# freshness: every write is visible to the next read
# ---------------------------------------------------------------------------


def _same_ranking(got, want):
    """Rank-identical at 6 dp; scores equal to 1e-9 form one tie group
    ordered by doc_id on both sides, so summation order cannot flip a tie."""

    def norm(rows):
        return sorted(
            ((int(d), round(float(s), 6), round(float(s), 9)) for d, s in rows),
            key=lambda r: (-r[2], r[0]),
        )

    g, w = norm(got), norm(want)
    return len(g) == len(w) and all(a[:2] == b[:2] for a, b in zip(g, w))


def test_reads_stay_fresh_across_writes(spark, query_set, tmp_path):
    """Read, write, read again — after extend, delete_docs, compact_index
    and set_bm25_params the next indexed query (both paths) must equal the
    Python BM25 oracle over the index's current logical contents."""
    from jvector_spark import BM25_B, BM25_K1
    from jvector_spark.fixtures import bm25_oracle, make_transcripts_pdf
    from jvector_spark.index.build import build_index
    from jvector_spark.index.extend import extend_index
    from jvector_spark.index.maintenance import compact_index, delete_docs, set_bm25_params
    from jvector_spark.index.query import bm25_topk_indexed
    from jvector_spark.operators.topk import queries_df

    pdf = make_transcripts_pdf(n_turns=1200, seed=11).sort_values(ORDER)
    pdf = pdf.reset_index(drop=True)
    pdf["doc_id"] = range(len(pdf))
    n_base = 900
    schema = "conv_id string, turn_idx int, role string, text string, doc_id long"
    cols = ["conv_id", "turn_idx", "role", "text", "doc_id"]
    base = spark.createDataFrame(pdf[cols][:n_base], schema)
    extra = spark.createDataFrame(pdf[cols][n_base:].drop(columns="doc_id"),
                                  "conv_id string, turn_idx int, role string, text string")
    queries = [list(t) for t in query_set["terms"][:6]]
    qterms = queries_df(spark, list(enumerate(queries)))

    d = str(tmp_path / "idx")
    build_index(base, d, n_parts=3, checkpointed=False)
    state = {"n": n_base, "dead": set(), "compacted": set(), "k1": BM25_K1, "b": BM25_B}

    def check(when: str):
        n, dead, gone = state["n"], state["dead"], state["compacted"]
        live = pdf[:n][~pdf["doc_id"][:n].isin(gone)]
        want = bm25_oracle(
            live["text"].tolist(), live["doc_id"].tolist(), queries,
            k=10 + len(dead), k1=state["k1"], b=state["b"],
        )
        want = [[(doc, s) for doc, s in w if doc not in dead][:10] for w in want]
        for prune in (True, False):
            got: dict[int, list] = {}
            for r in sorted(
                bm25_topk_indexed(spark, d, qterms, k=10, prune=prune).collect(),
                key=lambda r: r.rank,
            ):
                got.setdefault(r.query_id, []).append((r.doc_id, r.score))
            for qid, w in enumerate(want):
                assert _same_ranking(got.get(qid, []), w), (when, prune, qid)

    check("build")
    extend_index(extra, d, order_cols=ORDER)
    state["n"] = len(pdf)
    check("extend")
    top1 = {
        int(r.doc_id) for r in bm25_topk_indexed(spark, d, qterms, k=1).collect()
    }
    delete_docs(spark, d, top1)
    state["dead"] = top1
    check("delete_docs")
    compact_index(spark, d)
    state["dead"], state["compacted"] = set(), top1
    check("compact_index")
    set_bm25_params(spark, d, k1=0.9, b=0.4)
    state["k1"], state["b"] = 0.9, 0.4
    check("set_bm25_params")
