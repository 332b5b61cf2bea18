#!/usr/bin/env python3
"""End-to-end benchmark of the jvector_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload ann   --seed 1 --seconds 15 --trace 1
    python3 perfbench/run.py --workload all   --seed 1 --seconds 15

Each workload runs in one Python process on ``local[4]`` with one client
thread in a closed loop. Inputs come from ``--seed``; the engine sees only
the generated tables. Every result is checked against an oracle outside the
timed region, and a wrong result counts as a failed op. ``--trace 0``
prints the end-to-end metrics; ``--trace 1`` turns on the Spark event log,
puts a job group around each call, and prints the per-layer metrics. The
last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; a detail file per run
goes to ``.perfbench_out/``. perfbench/README.md explains the workloads and
metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

WORKLOADS = ("serve", "ann")
CORES = 4
# the engine's JVM heap: the library default (8g) is sized for its own
# bench; the benchmark's inputs fit well inside 2g
DRIVER_MEM = "2g"

# serve: an 8k-turn index served to one client. A traced run also builds a
# 2k-turn shard at the top of a 2^50 id range. Its doc_ids need more bits
# than the one-int64 exchange row has left, so that shard's build runs the
# two-int64 row (a shard this small still fits one int64 at a 10^12 offset).
PART_TURNS = 2_000  # turns per generated partition
SERVE_PARTS = 4  # partitions 0-3 are served; partition 4 is the wide shard
SERVE_TURNS = SERVE_PARTS * PART_TURNS
WIDE_TURNS = PART_TURNS
WIDE_PREFIX = f"p{SERVE_PARTS:05d}_"  # first conv_id of the wide shard's partition
WIDE_OFFSET = (1 << 50) - WIDE_TURNS
ORDER_COLS = ["conv_id", "turn_idx"]
TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)
QUERY_POOL = 1_000
READS_PER_WRITE = 3
EXTEND_TURNS = 300
DELETE_IDS = 30
CHECK_QUERIES = 16

# ann: 12k x 64-d clustered embeddings, four held-out 200-query batches
ANN_VECS = 12_000
ANN_DIM = 64
ANN_BATCH = 200
ANN_BATCHES = 4
ANN_K = 10
# a tier's first batch pays more than its later ones; a second round halves
# that cost's share of the timed batches
ANN_MIN_ROUNDS = 2
TIERS = ("sq8", "pq", "bq", "nvq")

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "qps": "queries/s",
    "read_p50_ms": "ms",
    "write_p50_ms": "ms",
    "recall_at_10": "ratio",
    "ok_frac": "ratio",
    "index_bytes_per_item": "B",
}

# buckets for self time: the module that submitted a Spark job
SELF_BUCKETS = (
    "driver", "storage", "query", "build", "extend", "maintenance",
    "vectors", "operators", "parquet", "async", "bench",
)
SELF_KINDS = ("build", "read", "write", "ann")

PER_LAYER = {
    "session.start_s": "s",
    "fixtures.gen_s": "s",
    **{f"build.{p}_s": "s" for p in (
        "ids_tokenize_cache", "doc_stats_write", "doc_map_write", "term_ids",
        "encode_shuffle_write", "dictionary_write", "meta_writes",
    )},
    "build.narrow.turns_per_s": "turns/s",
    "build.wide.turns_per_s": "turns/s",
    "build.jobs": "count",
    "build.stages": "count",
    "build.shuffle_write_bytes": "B",
    "build.spill_bytes": "B",
    "build.executor_cpu_s": "s",
    "build.gc_s": "s",
    "build.python_bytes_sent": "B",
    "build.python_bytes_returned": "B",
    "build.python_run_s": "s",
    **{f"index.{t}_bytes": "B" for t in (
        "postings", "block_meta", "dictionary", "doc_stats", "doc_map",
    )},
    "query.jobs_per_call": "count",
    "query.stages_per_call": "count",
    "query.planning_jobs_per_call": "count",
    "query.planning_jobs.storage_per_call": "count",
    "query.planning_jobs.query_per_call": "count",
    "query.planning_s": "s",
    "query.cold_read_ms": "ms",
    "query.kernel_ms_p50": "ms",
    "query.kernel_ms_tail": "ms",
    "query.blocks_decoded": "count",
    "query.blocks_skipped": "count",
    "query.skip_ratio": "ratio",
    "query.shuffle_bytes_per_call": "B",
    "query.executor_cpu_s": "s",
    "query.python_bytes_sent": "B",
    "query.python_run_s": "s",
    "extend.s_per_call": "s",
    "extend.jobs_per_call": "count",
    "extend.stages_per_call": "count",
    "maintenance.delete_s_per_call": "s",
    "maintenance.delete_jobs_per_call": "count",
    "serve.read_after_write_p50_ms": "ms",
    "serve.read_tail_ms": "ms",
    "serve.read_tail_pct": "pct",
    "serve.reads": "count",
    "serve.writes": "count",
    **{
        f"vectors.{t}.{m}": u
        for t in TIERS
        for m, u in (
            ("qps", "queries/s"), ("recall_at_10", "ratio"), ("build_s", "s"),
            ("jobs_per_call", "count"), ("executor_cpu_s", "s"),
            ("python_run_s", "s"),
        )
    },
    "host.steal_core_s": "s",
    "host.busy_core_s": "s",
    "trace.overhead_frac": "ratio",
    **{f"self.{k}.{b}_ms": "ms" for k in SELF_KINDS for b in SELF_BUCKETS},
}


class EngineMissing(RuntimeError):
    pass


def _prepare_environment() -> None:
    """Keep every file the run writes inside the checkout, and make the
    engine importable from it."""
    if not os.path.isfile(os.path.join(ROOT, "jvector_spark", "__init__.py")):
        raise EngineMissing(f"jvector_spark not found under {ROOT}")
    for d in ("tmp", "spark_local", "eventlog", "data"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "spark_local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


class Instrument:
    """Timers around each call into the engine. With tracing on, each call
    also runs under its own Spark job group, so the event log can be split
    per call afterwards."""

    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.spans: list[dict] = []

    def call(self, kind: str, fn, traced: bool | None = None):
        """Run ``fn()``; returns (result, seconds)."""
        on = self.traced if traced is None else (self.traced and traced)
        group = f"{kind}#{len(self.spans)}" if on else None
        if on:
            self.sc.setJobGroup(group, kind)
        t_wall = time.time()
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            dt = time.perf_counter() - t0
            if on:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                self.spans.append({
                    "group": group, "kind": kind,
                    "start_ms": int(t_wall * 1000),
                    "end_ms": int(t_wall * 1000 + dt * 1000) + 1,
                })
        return out, dt


class Run:
    """State of one benchmark run: the session, timers, op outcomes."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool):
        self.workload, self.seed, self.seconds, self.traced = (
            workload, seed, seconds, traced,
        )
        self.data = os.path.join(WORK, "data", f"{workload}-{seed}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        # timed reads (serve) or each tier's batches (ann), plain and
        # instrumented
        self.paired: dict[str, dict[bool, list[float]]] = {}
        self.setup_parts: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.detail: dict = {}
        self.spark = None
        self.ins: Instrument | None = None

    # -- outcome bookkeeping ------------------------------------------------
    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.failures.append(what + ": " + traceback.format_exc(limit=3))

    # -- session ----------------------------------------------------------
    def start_session(self) -> None:
        from jvector_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "tmp", "warehouse"),
        }
        if self.traced:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + os.path.join(WORK, "eventlog")
        t0 = time.perf_counter()
        self.spark = get_spark(
            cores=CORES, app_name=f"perfbench-{self.workload}", extra_conf=conf
        )
        self.setup_parts["session"] = time.perf_counter() - t0
        self.layer["session.start_s"] = self.setup_parts["session"]
        self.ins = Instrument(self.spark, self.traced)

    def stop_session(self) -> list[dict]:
        """Stop Spark, wait for the JVM and its Python workers to exit, and
        return the run's event log (empty when untraced)."""
        from pyspark import SparkContext

        if self.spark is None:
            return []
        from stats import process_tree

        app_id = self.spark.sparkContext.applicationId
        tree = [p for p in process_tree(os.getpid()) if p != os.getpid()]
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        self.spark = None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        _wait_gone(tree, timeout=30)
        if not self.traced:
            return []
        from eventlog import find_event_log, read_events

        events: list[dict] = []
        log_dir = os.path.join(WORK, "eventlog")
        for path in find_event_log(log_dir, app_id):
            events.extend(read_events(path))
        for name in os.listdir(log_dir):
            if app_id in name:
                shutil.rmtree(os.path.join(log_dir, name), ignore_errors=True)
        return events

    def cleanup(self) -> None:
        shutil.rmtree(self.data, ignore_errors=True)


def _wait_gone(pids: list[int], timeout: float) -> None:
    import signal

    deadline = time.time() + timeout
    alive = list(pids)
    while alive and time.time() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if alive:
            time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except (OSError, IndexError):
        return True


def dir_bytes(path: str, skip=(".crc", "_SUCCESS")) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            if not f.endswith(skip):
                total += os.path.getsize(os.path.join(dp, f))
    return total


def timed_loop(seconds: float, cycle, min_cycles: int = 1) -> None:
    """Closed loop: run ``cycle(i)`` back to back, at least ``min_cycles``
    times, and then while one more cycle would end nearer to ``seconds``
    than stopping does (a cycle lasts several seconds here)."""
    t0 = time.perf_counter()
    i = 0
    while True:
        cycle(i)
        i += 1
        elapsed = time.perf_counter() - t0
        if i >= min_cycles and elapsed + 0.5 * elapsed / i >= seconds:
            return


def _rows_by_query(rows) -> dict[int, list]:
    """Result rows grouped by query_id, each group in rank order."""
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(int(r["query_id"]), []).append(r)
    for v in got.values():
        v.sort(key=lambda r: int(r["rank"]))
    return got


# ---------------------------------------------------------------------------
# serve: single-query reads over a prebuilt index, a write every few reads
# ---------------------------------------------------------------------------


def _qterms(spark, rows):
    """(query_id, term, weight) relation for ``rows`` of (query_id, terms);
    a duplicated term becomes weight 2 (bag semantics)."""
    out = []
    for qid, terms in rows:
        w: dict[str, float] = {}
        for t in terms:
            w[t] = w.get(t, 0.0) + 1.0
        out.extend((int(qid), t, c) for t, c in w.items())
    return spark.createDataFrame(out, "query_id int, term string, weight double")


def _write_transcripts(path: str, n_parts: int, seed: int) -> None:
    """Write the table ``fixtures.make_transcripts_distributed(spark,
    n_parts * PART_TURNS, n_parts, seed)`` makes: partition ``p`` is
    ``make_transcripts_pdf(PART_TURNS, seed + p)`` with conv_ids prefixed
    ``p<p>_``. It is generated driver-side, one parquet file per partition:
    at this size a Spark job would only add its start-up cost to setup."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jvector_spark import fixtures

    schema = pa.schema([
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string(), nullable=False),
        pa.field("text", pa.string(), nullable=False),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC"), nullable=False),
    ])
    os.makedirs(path, exist_ok=True)
    for p in range(n_parts):
        pdf = fixtures.make_transcripts_pdf(PART_TURNS, seed=seed + p)
        pdf["conv_id"] = f"p{p:05d}_" + pdf["conv_id"]
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
            os.path.join(path, f"part-{p:05d}.parquet"),
        )


def _index_layer_bytes(index_dir: str) -> dict[str, int]:
    """On-disk bytes per index table; postings split into the packed
    payload columns and the block meta columns, from parquet metadata."""
    import pyarrow.parquet as pq

    out = {}
    for t in ("dictionary", "doc_stats", "doc_map"):
        p = os.path.join(index_dir, t)
        out[t] = dir_bytes(p) if os.path.isdir(p) else 0
    post = os.path.join(index_dir, "postings")
    meta = 0
    for dp, _, files in os.walk(post):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(dp, f)).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for c in range(g.num_columns):
                    col = g.column(c)
                    if not col.path_in_schema.endswith("_packed"):
                        meta += col.total_compressed_size
    out["block_meta"] = meta
    out["postings"] = dir_bytes(post) - meta
    return out


def run_serve(run: Run) -> None:
    import numpy as np
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from jvector_spark import fixtures
    from jvector_spark.index.extend import extend_index
    from jvector_spark.index.maintenance import delete_docs, verify_index
    from jvector_spark.index.query import bm25_topk_indexed
    from jvector_spark.index.sharded import build_shard
    from oracle import Bm25Oracle, same_ranking
    from stats import median, recall_at_k, tail

    spark, ins = run.spark, run.ins
    rng = np.random.default_rng(run.seed)

    # -- inputs -----------------------------------------------------------
    t0 = time.perf_counter()
    corpus_dir = os.path.join(run.data, "corpus")
    _write_transcripts(
        corpus_dir, SERVE_PARTS + 1 if run.traced else SERVE_PARTS, run.seed
    )
    queries = fixtures.make_query_set(QUERY_POOL, seed=run.seed + 1)
    qrows = list(zip(queries["query_id"].tolist(), queries["terms"].tolist()))
    run.setup_parts["gen"] = time.perf_counter() - t0
    run.layer["fixtures.gen_s"] = run.setup_parts["gen"]

    # oracle input: read the generated table back with pyarrow (no Spark)
    pdf = pq.read_table(corpus_dir).to_pandas().sort_values(ORDER_COLS)
    served_pdf = pdf[pdf["conv_id"] < WIDE_PREFIX]
    oracle = Bm25Oracle()
    oracle.add(range(len(served_pdf)), served_pdf["text"].tolist())

    # -- build and check the served index (one-int64 row) -----------------
    src = spark.read.parquet(corpus_dir)
    idx = os.path.join(run.data, "index")
    res, dt = ins.call("build", lambda: build_shard(
        src.filter(F.col("conv_id") < WIDE_PREFIX), idx, ORDER_COLS,
        doc_map_cols=ORDER_COLS,
    ))
    run.setup_parts["build_narrow"] = dt
    run.layer["build.narrow.turns_per_s"] = len(served_pdf) / dt
    for k, v in res["phase_secs"].items():
        key = f"build.{k}_s"
        if key in PER_LAYER:
            run.layer[key] = v
    index_bytes = dir_bytes(idx)
    for t, v in _index_layer_bytes(idx).items():
        run.layer[f"index.{t}_bytes"] = v

    def check_index(name: str, d: str, o: Bm25Oracle) -> float:
        """verify_index, then a top-10 batch of the first queries against
        the oracle (outside every timer). Returns the batch's latency."""
        try:
            rep = verify_index(spark, d)
            run.check(bool(rep["ok"]), f"verify_index({name}): {rep}")
        except Exception:  # noqa: BLE001 — a failed check is a failed op
            run.error(f"verify_index({name})")
        sample = qrows[:CHECK_QUERIES]
        try:
            t0 = time.perf_counter()
            got = _rows_by_query(bm25_topk_indexed(
                spark, d, _qterms(spark, sample), k=10
            ).collect())
            dt = time.perf_counter() - t0
            ok = all(
                same_ranking(
                    [(r["doc_id"], r["score"]) for r in got.get(int(q), [])],
                    o.topk(terms, 10),
                )
                for q, terms in sample
            )
            run.check(ok, f"{name} top-10 differs from the BM25 oracle")
        except Exception:  # noqa: BLE001
            run.error(f"{name} query")
            dt = 0.0
        return dt

    # the session's first read, so also the query path's warm-up
    run.layer["query.cold_read_ms"] = check_index("narrow", idx, oracle) * 1e3

    # -- traced run: the wide shard (two-int64 row) -------------------------
    # Its build only feeds per-layer metrics, so plain runs leave it out.
    if run.traced:
        wide_pdf = pdf[pdf["conv_id"] >= WIDE_PREFIX]
        wide_oracle = Bm25Oracle()
        wide_oracle.add(
            range(WIDE_OFFSET, WIDE_OFFSET + len(wide_pdf)),
            wide_pdf["text"].tolist(),
        )
        wide_idx = os.path.join(run.data, "wide")
        _, dt = ins.call("build_wide", lambda: build_shard(
            src.filter(F.col("conv_id") >= WIDE_PREFIX), wide_idx, ORDER_COLS,
            id_offset=WIDE_OFFSET, doc_map_cols=ORDER_COLS,
        ))
        run.layer["build.wide.turns_per_s"] = len(wide_pdf) / dt
        check_index("wide", wide_idx, wide_oracle)

    # -- reads and writes ---------------------------------------------------
    reads: list[float] = []
    reads_after_write: list[float] = []
    writes: list[float] = []
    recalls: list[float] = []
    kernel_ms: list[float] = []
    blocks = [0, 0]
    # reads start past the queries the checks used
    state = {"read_no": CHECK_QUERIES, "write_no": 0, "after_write": False}

    def read(traced: bool) -> None:
        q, terms = qrows[state["read_no"] % len(qrows)]
        state["read_no"] += 1
        try:
            rows, dt = ins.call(
                "read",
                lambda: bm25_topk_indexed(
                    spark, idx, _qterms(spark, [(q, terms)]), k=10,
                    with_metrics=traced,
                ).collect(),
                traced=traced,
            )
        except Exception:  # noqa: BLE001
            run.error(f"read {q}")
            return
        run.paired.setdefault("read", {False: [], True: []})[traced].append(dt)
        if traced == run.traced:  # a traced run's plain ops only time the overhead
            reads.append(dt)
            if state["after_write"]:
                reads_after_write.append(dt)
        state["after_write"] = False
        want = oracle.topk(terms, 10)
        got = [(r["doc_id"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])]
        run.check(same_ranking(got, want), f"read {q} {terms}: {got} != {want}")
        recalls.append(recall_at_k([d for d, _ in got], [d for d, _ in want]))
        if traced and rows:
            kernel_ms.append(float(rows[0]["kernel_ms"]))
            blocks[0] += int(rows[0]["blocks_decoded"])
            blocks[1] += int(rows[0]["blocks_skipped"])

    ext_s: list[float] = []
    del_s: list[float] = []

    def write(traced: bool) -> None:
        """extend_index with a fresh batch of turns, then delete_docs of
        some live ids."""
        w = state["write_no"]
        state["write_no"] += 1
        new = fixtures.make_transcripts_pdf(EXTEND_TURNS, seed=run.seed * 1000 + w)
        new["conv_id"] = f"x{w:05d}_" + new["conv_id"]
        new = new.sort_values(ORDER_COLS)
        new_df = spark.createDataFrame(new, TRANSCRIPT_SCHEMA)
        dead = sorted(
            int(x) for x in rng.choice(oracle.live_ids(), DELETE_IDS, replace=False)
        )
        n_old = oracle.n_docs
        try:
            _, t_ext = ins.call(
                "extend",
                lambda: extend_index(new_df, idx, ORDER_COLS, doc_map_cols=ORDER_COLS),
                traced=traced,
            )
            _, t_del = ins.call(
                "delete", lambda: delete_docs(spark, idx, dead), traced=traced
            )
        except Exception:  # noqa: BLE001
            run.error(f"write {w}")
            return
        # a write is checked by the reads after it
        run.attempted += 1
        oracle.add(range(n_old, n_old + len(new)), new["text"].tolist())
        oracle.delete(dead)
        state["after_write"] = True
        if traced == run.traced:
            writes.append(t_ext + t_del)
        if traced:
            ext_s.append(t_ext)
            del_s.append(t_del)

    def cycle(i: int) -> None:
        write(instrumented(run, i, 0))
        for j in range(1, READS_PER_WRITE + 1):
            read(instrumented(run, i, j))

    measure(run, cycle)

    read_p50 = median(reads)
    run.e2e.update({
        "qps": 1.0 / read_p50 if read_p50 else 0.0,
        "read_p50_ms": read_p50 * 1e3,
        "write_p50_ms": median(writes) * 1e3,
        "recall_at_10": sum(recalls) / len(recalls) if recalls else 0.0,
        "index_bytes_per_item": index_bytes / SERVE_TURNS,
    })
    pct, tv = tail(reads)
    run.layer.update({
        "serve.read_after_write_p50_ms": median(reads_after_write) * 1e3,
        "serve.read_tail_ms": tv * 1e3,
        "serve.read_tail_pct": pct,
        "serve.reads": len(reads),
        "serve.writes": len(writes),
        "extend.s_per_call": median(ext_s),
        "maintenance.delete_s_per_call": median(del_s),
        "query.kernel_ms_p50": median(kernel_ms),
        "query.kernel_ms_tail": tail(kernel_ms)[1],
        "query.blocks_decoded": blocks[0] / max(1, len(kernel_ms)),
        "query.blocks_skipped": blocks[1] / max(1, len(kernel_ms)),
        "query.skip_ratio": blocks[1] / max(1, blocks[0] + blocks[1]),
    })
    run.detail["reads_ms"] = [round(x * 1e3, 3) for x in reads]
    run.detail["writes_ms"] = [round(x * 1e3, 3) for x in writes]
    run.detail["read_tail_pct"] = pct


# ---------------------------------------------------------------------------
# ann: 200-query batches round-robin over four persisted vector tiers
# ---------------------------------------------------------------------------


def run_ann(run: Run) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jvector_spark import fixtures
    from jvector_spark.index import vectors as V
    from jvector_spark.operators.bq import ann_topk_bq_batch
    from stats import median, recall_at_k

    spark, ins = run.spark, run.ins

    # -- inputs: base vectors + held-out queries from one generator --------
    t0 = time.perf_counter()
    n_q = ANN_BATCH * ANN_BATCHES
    pdf = fixtures.make_embeddings_pdf(
        ANN_VECS + n_q, dim=ANN_DIM, seed=run.seed
    )
    X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    base, held = X[:ANN_VECS], X[ANN_VECS:]
    emb_dir = os.path.join(run.data, "embeddings")
    os.makedirs(emb_dir, exist_ok=True)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(ANN_VECS, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, base.size + 1, ANN_DIM, dtype=np.int32)),
                pa.array(base.ravel()),
            ),
        }),
        os.path.join(emb_dir, "part-0.parquet"),
    )
    emb = spark.read.parquet(emb_dir)
    batches = [
        spark.createDataFrame(
            [(int(b * ANN_BATCH + j), held[b * ANN_BATCH + j].tolist())
             for j in range(ANN_BATCH)],
            "query_id long, qvec array<double>",
        )
        for b in range(ANN_BATCHES)
    ]
    run.setup_parts["gen"] = time.perf_counter() - t0
    run.layer["fixtures.gen_s"] = run.setup_parts["gen"]

    # exact ground truth: numpy cosine scan (not part of setup time)
    bn = base / np.linalg.norm(base, axis=1, keepdims=True)
    hn = held / np.linalg.norm(held, axis=1, keepdims=True)
    sims = hn @ bn.T
    truth = np.argsort(-sims, axis=1, kind="stable")[:, :ANN_K]

    # -- persisted tiers ----------------------------------------------------
    dirs = {t: os.path.join(run.data, t) for t in TIERS}
    build_s = {}
    for t in TIERS:
        _, dt = ins.call("ann_build", lambda t=t: getattr(V, f"{t}_build")(emb, dirs[t]))
        build_s[t] = dt
        run.layer[f"vectors.{t}.build_s"] = dt
        run.setup_parts[f"build_{t}"] = dt
    tier_bytes = sum(dir_bytes(d) for d in dirs.values())

    def query(t: str, q):
        if t == "bq":
            _, codes = V.bq_load(spark, dirs[t])
            return ann_topk_bq_batch(emb, q, k=ANN_K, codes=codes).collect()
        fn = getattr(V, f"ann_topk_{t}_batch_indexed")
        return fn(spark, dirs[t], emb, q, k=ANN_K).collect()

    def check(t: str, b: int, rows) -> list[float]:
        """Structural oracle: k rows per query, ranks in order, each score
        the exact cosine of the id it names. Returns per-query recall."""
        got = _rows_by_query(rows)
        ok = len(got) == ANN_BATCH
        recalls = []
        for qid in range(b * ANN_BATCH, (b + 1) * ANN_BATCH):
            rs = got.get(qid, [])
            ids = [int(r["vec_id"]) for r in rs]
            cos = np.array([float(r["cos"]) for r in rs])
            ok = ok and len(rs) == ANN_K and len(set(ids)) == ANN_K
            ok = ok and all(0 <= i < ANN_VECS for i in ids)
            if ok:
                exact = sims[qid, ids]
                ok = bool(np.allclose(cos, exact, atol=1e-6)) and bool(
                    np.all(np.diff(cos) <= 1e-12)
                )
            recalls.append(recall_at_k(ids, truth[qid].tolist(), ANN_K))
        run.check(ok, f"ann {t} batch {b}: malformed or mis-scored result")
        return recalls

    lat: dict[str, list[float]] = {t: [] for t in TIERS}
    rec: dict[str, list[float]] = {t: [] for t in TIERS}
    spans_of: dict[str, list[int]] = {t: [] for t in TIERS}

    # warm-up: round 0's first batch is the session's first query, which pays
    # JIT and Python-worker start-up, so it is checked but not timed
    try:
        rows, run.setup_parts["warmup"] = ins.call(
            "ann", lambda: query(TIERS[0], batches[0]), traced=False
        )
        rec[TIERS[0]].extend(check(TIERS[0], 0, rows))
    except Exception:  # noqa: BLE001
        run.error(f"ann {TIERS[0]} batch 0")

    def cycle(i: int) -> None:
        """One round: batch ``i`` (mod ANN_BATCHES) against every tier."""
        b = i % ANN_BATCHES
        for j, t in enumerate(TIERS):
            if i == 0 and j == 0:
                continue  # the warm-up ran it
            traced = instrumented(run, i, j)
            n_spans = len(ins.spans)
            try:
                rows, dt = ins.call("ann", lambda t=t: query(t, batches[b]), traced=traced)
            except Exception:  # noqa: BLE001
                run.error(f"ann {t} batch {b}")
                continue
            if len(ins.spans) > n_spans:
                spans_of[t].append(n_spans)
            run.paired.setdefault(t, {False: [], True: []})[traced].append(dt)
            lat[t].append(dt)
            rec[t].extend(check(t, b, rows))

    measure(run, cycle, min_cycles=ANN_MIN_ROUNDS)

    all_lat = [x for t in TIERS for x in lat[t]]
    all_rec = [x for t in TIERS for x in rec[t]]
    wall = sum(all_lat)
    run.e2e.update({
        "qps": ANN_BATCH * len(all_lat) / wall if wall else 0.0,
        # tiers differ in speed and SQ8 has one batch fewer (the warm-up), so
        # each tier counts once: the median of the tiers' median latencies
        "read_p50_ms": median([median(lat[t]) for t in TIERS]) * 1e3,
        "write_p50_ms": median(list(build_s.values())) * 1e3,
        "recall_at_10": sum(all_rec) / len(all_rec) if all_rec else 0.0,
        "index_bytes_per_item": tier_bytes / ANN_VECS,
    })
    for t in TIERS:
        w = sum(lat[t])
        run.layer[f"vectors.{t}.qps"] = ANN_BATCH * len(lat[t]) / w if w else 0.0
        run.layer[f"vectors.{t}.recall_at_10"] = (
            sum(rec[t]) / len(rec[t]) if rec[t] else 0.0
        )
    run.detail["tier_spans"] = spans_of
    run.detail["batches_ms"] = {t: [round(x * 1e3, 3) for x in lat[t]] for t in TIERS}


# ---------------------------------------------------------------------------
# shared measurement, per-layer folding, output
# ---------------------------------------------------------------------------


def instrumented(run: Run, cycle_no: int, op_no: int) -> bool:
    """Whether op ``op_no`` of cycle ``cycle_no`` runs instrumented. A
    traced run alternates plain and instrumented ops, and flips the pattern
    each cycle, so over two cycles every op position (and every tier) runs
    once each way and the instrumentation's own cost is measured in the
    same session."""
    return run.traced and (cycle_no + op_no) % 2 == 1


def measure(run: Run, cycle, min_cycles: int = 1) -> None:
    """The timed region: the closed loop, bracketed by the host record."""
    from statistics import fmean

    from stats import cpu_delta, cpu_times

    before = cpu_times()
    t0 = time.perf_counter()
    # a traced run makes two cycles at least: each op position both ways
    timed_loop(run.seconds, cycle,
               min_cycles=max(min_cycles, 2) if run.traced else min_cycles)
    run.detail["timed_s"] = time.perf_counter() - t0
    host = cpu_delta(before, cpu_times())
    run.detail["host"] = host
    run.layer["host.steal_core_s"] = host.get("steal_core_s", 0.0)
    run.layer["host.busy_core_s"] = host.get("busy_core_s", 0.0)
    pairs = [p for p in run.paired.values() if p[False] and p[True]]
    if run.traced and pairs:
        run.layer["trace.overhead_frac"] = (
            sum(fmean(p[True]) for p in pairs) / sum(fmean(p[False]) for p in pairs)
            - 1.0
        )
        run.detail["paired_op_s"] = run.paired


def _bucket(module: str) -> str:
    """Self-time bucket of a submitting module (see SELF_BUCKETS)."""
    head, _, rest = module.partition(".")
    if head == "index":
        rest = {"sharded": "build", "codec": "storage"}.get(rest, rest)
        return rest if rest in SELF_BUCKETS else "query"
    if head in ("operators", "functions", "fixtures"):
        return "operators"
    return module if module in SELF_BUCKETS else "bench"


def fold_trace(run: Run, events: list[dict]) -> None:
    """Per-layer numbers of a traced run from its event log and spans."""
    from eventlog import PY_RETURNED, PY_RUN_MS, PY_SENT, summarize, self_times_ms
    from stats import median

    groups = summarize(events)
    by_kind: dict[str, list] = {}
    for sp in run.ins.spans:
        st = groups.get(sp["group"])
        if st is not None:
            by_kind.setdefault(sp["kind"], []).append((sp, st))
    run.detail["groups"] = {
        sp["group"]: {**sp, **groups[sp["group"]].totals()}
        for sp in run.ins.spans if sp["group"] in groups
    }

    def per_call(kind, fn):
        calls = by_kind.get(kind, [])
        return sum(fn(sp, st) for sp, st in calls) / len(calls) if calls else 0.0

    def total(kind, fn):
        return sum(fn(sp, st) for sp, st in by_kind.get(kind, []))

    L = run.layer
    L["build.jobs"] = total("build", lambda sp, st: len(st.jobs))
    L["build.stages"] = total("build", lambda sp, st: st.stages)
    L["build.shuffle_write_bytes"] = total("build", lambda sp, st: st.shuffle_write_bytes)
    L["build.spill_bytes"] = total("build", lambda sp, st: st.spill_bytes)
    L["build.executor_cpu_s"] = total("build", lambda sp, st: st.cpu_ns / 1e9)
    L["build.gc_s"] = total("build", lambda sp, st: st.gc_ms / 1e3)
    L["build.python_bytes_sent"] = total("build", lambda sp, st: st.python[PY_SENT])
    L["build.python_bytes_returned"] = total(
        "build", lambda sp, st: st.python[PY_RETURNED])
    L["build.python_run_s"] = total("build", lambda sp, st: st.python[PY_RUN_MS] / 1e3)

    L["query.jobs_per_call"] = per_call("read", lambda sp, st: len(st.jobs))
    L["query.stages_per_call"] = per_call("read", lambda sp, st: st.stages)

    def planning(sp, st, module=None):
        return sum(
            1 for j in st.jobs
            if j.module != "bench" and (module is None or j.module == module)
        )

    L["query.planning_jobs_per_call"] = per_call("read", planning)
    L["query.planning_jobs.storage_per_call"] = per_call(
        "read", lambda sp, st: planning(sp, st, "index.storage"))
    L["query.planning_jobs.query_per_call"] = per_call(
        "read", lambda sp, st: planning(sp, st, "index.query"))

    def planning_s(sp, st):
        scans = [j.submit_ms for j in st.jobs if j.module == "bench"]
        end = min(scans) if scans else sp["end_ms"]
        return max(0, end - sp["start_ms"]) / 1e3

    L["query.planning_s"] = per_call("read", planning_s)
    L["query.shuffle_bytes_per_call"] = per_call(
        "read", lambda sp, st: st.shuffle_write_bytes)
    L["query.executor_cpu_s"] = per_call("read", lambda sp, st: st.cpu_ns / 1e9)
    L["query.python_bytes_sent"] = per_call("read", lambda sp, st: st.python[PY_SENT])
    L["query.python_run_s"] = per_call("read", lambda sp, st: st.python[PY_RUN_MS] / 1e3)

    L["extend.jobs_per_call"] = per_call("extend", lambda sp, st: len(st.jobs))
    L["extend.stages_per_call"] = per_call("extend", lambda sp, st: st.stages)
    L["maintenance.delete_jobs_per_call"] = per_call("delete", lambda sp, st: len(st.jobs))

    spans = run.ins.spans
    for t, idxs in run.detail.get("tier_spans", {}).items():
        calls = [(spans[i], groups[spans[i]["group"]]) for i in idxs
                 if spans[i]["group"] in groups]
        n = len(calls) or 1
        L[f"vectors.{t}.jobs_per_call"] = sum(len(st.jobs) for _, st in calls) / n
        L[f"vectors.{t}.executor_cpu_s"] = sum(st.cpu_ns for _, st in calls) / 1e9 / n
        L[f"vectors.{t}.python_run_s"] = (
            sum(st.python[PY_RUN_MS] for _, st in calls) / 1e3 / n
        )

    # self time per layer: span duration minus what its child spans cover;
    # a write is its extend call plus the delete call right after it
    kind_of = {"build": "build", "read": "read", "extend": "write",
               "delete": "write", "ann": "ann"}
    calls: list[tuple[str, dict[str, float]]] = []
    for sp in run.ins.spans:
        st = groups.get(sp["group"])
        k = kind_of.get(sp["kind"])
        if st is None or k is None:
            continue
        if sp["kind"] == "delete" and calls and calls[-1][0] == "write":
            per = calls[-1][1]
        else:
            per = {}
            calls.append((k, per))
        for mod, ms in self_times_ms(sp["start_ms"], sp["end_ms"], st.jobs).items():
            b = _bucket(mod)
            per[b] = per.get(b, 0) + ms
    for k in {k for k, _ in calls}:
        for b in SELF_BUCKETS:
            L[f"self.{k}.{b}_ms"] = median([per.get(b, 0) for kk, per in calls if kk == k])


def emit(run: Run) -> dict:
    """The result line: end-to-end metrics, or per-layer ones when traced."""
    run.e2e["setup_s"] = sum(run.setup_parts.values())
    run.e2e["ok_frac"] = 1.0 - run.failed / max(1, run.attempted)
    names = PER_LAYER if run.traced else END_TO_END
    src = run.layer if run.traced else run.e2e
    metrics = {
        n: {"value": float(src.get(n, 0.0)), "unit": u} for n, u in names.items()
    }
    return {
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": int(run.attempted),
        "failed": int(run.failed),
        "metrics": metrics,
    }


def run_workload(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    from stats import tree_peak_rss_mb

    t0 = time.perf_counter()
    run = Run(workload, seed, seconds, traced)
    body = {"serve": run_serve, "ann": run_ann}[workload]
    try:
        run.start_session()
        body(run)
        run.e2e["peak_rss_mb"] = tree_peak_rss_mb()
    finally:
        t_stop = time.perf_counter()
        events = run.stop_session()
        run.cleanup()
        run.detail["stop_s"] = time.perf_counter() - t_stop
        run.detail["wall_s"] = time.perf_counter() - t0
    if traced:
        fold_trace(run, events)
    result = emit(run)
    os.makedirs(OUT, exist_ok=True)
    detail = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "trace": int(traced), "setup_parts_s": run.setup_parts,
        "end_to_end": run.e2e, "per_layer": run.layer,
        "failures": run.failures[:20], **run.detail,
    }
    with open(os.path.join(OUT, f"{workload}-seed{seed}-trace{int(traced)}.json"),
              "w", encoding="utf-8") as f:
        json.dump(detail, f, indent=1, sort_keys=True, default=str)
    for n, m in result["metrics"].items():
        print(f"{workload} {n} = {m['value']:.6g} {m['unit']}")
    host = run.detail.get("host", {})
    print(f"{workload} seed={seed} host steal_core_s={host.get('steal_core_s')} "
          f"busy_core_s={host.get('busy_core_s')} failed={run.failed}/{run.attempted}")
    for f_ in run.failures[:5]:
        print("FAILED:", f_.splitlines()[0][:300])
    return result


def run_all(seed: int, seconds: float, trace: int) -> int:
    """Every workload, each in its own process; one summary line."""
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for w in WORKLOADS:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
            capture_output=True, text=True, check=False,
        )
        lines = p.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stderr[-4000:])
            code = code or p.returncode or 1
            continue
        res = json.loads(lines[-1])
        summary["correct"] &= res["correct"]
        summary["attempted"] += res["attempted"]
        summary["failed"] += res["failed"]
        for n, m in res["metrics"].items():
            summary["metrics"][f"{w}.{n}"] = m
    if code:
        return code
    print(f"failed_frac = {summary['failed'] / max(1, summary['attempted']):.6g} ratio")
    print(json.dumps(summary))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        _prepare_environment()
    except EngineMissing as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args.seed, args.seconds, args.trace)
    result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
