"""The benchmark's workloads.

A workload is a list of operations run in passes. For the three catalog
workloads an operation is one catalog query: ``QuerySpec.build`` plus a
materialization of every output column through the DataFrame's own
``queryExecution().toRdd().count()``, the plan the DuckDB oracle checks.
For ``ingest`` an operation is one chunk of the write path, plus a closing
operation (state compaction and the streaming twins).

Every workload also has a warm-up pass, run once on a cold session before
the timed passes, which is also the output check (the checking itself is
timed apart and left out of the set-up time), and a set of layer probes
run only by the traced run.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import re
import shutil
import sys
import threading
import time
import traceback

import duckdb
import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gen import input_rows
from spans import count_calls, fs_bytes_written, jobs_started, plan_counters

DEDUP = (
    "corpus_dedup_pipeline",
    "minhash_lsh_candidates",
    "cluster_dedup_stats",
    "cluster_aware_split_leakage",
    "jaccard_prefix_filter_join",
    "simhash_hamming_pairs_q",
    "incremental_dedup_survivors",
    "substring_dup_pairs",
    "lsh_band_sweep",
    "lsh_param_chooser",
    "exact_dedup_docs",
)
RELATIONAL = tuple(
    [f"tpch_q{i}" for i in range(1, 23)]
    + ["report_order_fulfillment", "cube_segment_status", "grouping_sets_order_stats"]
)
VECTORS = (
    "ann_brute_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_ivf_trained_topk",
    "ann_recall_at_k",
    "cosine_neardup_lsh",
    "cosine_neardup_lsh_probed",
    "semantic_dedup_stats",
    "kmeans_embedding_clusters",
    "embedding_covariance",
    "embedding_top_pc_power",
)


def materialize(df: DataFrame) -> int:
    """Run ``df``'s own physical plan and return its row count. Every
    output column is computed: the RDD of rows is counted after the
    projection, so no column can be pruned (``DataFrame.count`` would plan
    a new query that reads no columns)."""
    return int(df._jdf.queryExecution().toRdd().count())


class Ctx:
    """What one run shares across passes: session, inputs, tracer and the
    counters of the current pass."""

    def __init__(self, spark, sf_dir: str, work_dir: str, tracer, seed: int, clock=None):
        self.spark = spark
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.tracer = tracer
        self.seed = seed
        # () -> (wall seconds, engine CPU seconds)
        self.clock = clock or (lambda: (time.perf_counter(), time.thread_time()))
        self.counters: dict[str, float] = {}

    @property
    def tracing(self) -> bool:
        return self.tracer.enabled

    def add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0) + value

    @contextlib.contextmanager
    def jobs(self, key: str):
        if self.tracing:
            with jobs_started(self.spark, self.counters, key):
                yield
        else:
            yield


_CTE_HEAD = re.compile(r"\b(\w+) AS \((?=\s*(?:WITH|SELECT|\())", re.IGNORECASE)


def materialized_ctes(sql: str) -> str:
    """The same oracle query with every named, non-recursive CTE marked
    ``MATERIALIZED``. DuckDB otherwise inlines a CTE at each reference, and
    the dedup twins reference their MinHash pair CTE from inside recursive
    connected-components CTEs, so it is recomputed per recursion step:
    ``cluster_aware_split_leakage``'s twin takes 66 s on 50 documents
    inlined and 0.6 s materialized. Materializing a deterministic CTE does
    not change its result (every catalog twin hashes identically both
    ways). A recursive CTE is declared with a column list, which the
    pattern does not match, so it stays as written."""
    return _CTE_HEAD.sub(lambda m: f"{m.group(1)} AS MATERIALIZED (", sql)


class OracleAnswers:
    """DuckDB oracle results, served to the output check through the two
    result calls it makes. They are computed on a background thread while
    the session starts and the warm-up pass runs (the engine's clock counts
    only the main thread and the JVM's processes); the check waits for
    them, and the waiting is check time, not set-up time. Each result is
    kept as an Arrow file in ``cache_dir`` (the seed's input directory),
    keyed by the DuckDB version and the query text, so a later run on the
    same seed reads it back."""

    def __init__(self, con, sqls, cache_dir: str):
        self._tables = {}
        self._error: BaseException | None = None
        self._thread = threading.Thread(
            target=self._load, args=(con, list(dict.fromkeys(sqls)), cache_dir), daemon=True
        )
        self._thread.start()

    def wait(self) -> None:
        self._thread.join()
        if self._error is not None:
            raise self._error

    def _load(self, con, sqls: list[str], cache_dir: str) -> None:
        try:
            self._compute(con, sqls, cache_dir)
        except BaseException as e:  # re-raised on the main thread by wait()
            self._error = e

    def _compute(self, con, sqls: list[str], cache_dir: str) -> None:
        os.makedirs(cache_dir, exist_ok=True)
        for sql in sqls:
            key = hashlib.sha256(f"{duckdb.__version__}\n{sql}".encode()).hexdigest()[:32]
            path = os.path.join(cache_dir, f"{key}.arrow")
            if not os.path.isfile(path):
                table = con.execute(sql).fetch_arrow_table()
                tmp = f"{path}.tmp-{os.getpid()}"
                with pa.OSFile(tmp, "wb") as f, pa.ipc.new_file(f, table.schema) as w:
                    w.write_table(table)
                os.replace(tmp, path)
            with pa.OSFile(path) as f:
                self._tables[sql] = pa.ipc.open_file(f).read_all()

    def execute(self, sql: str) -> _Answer:
        self.wait()
        return _Answer(self._tables[sql])


class _Answer:
    def __init__(self, table):
        self._table = table

    def fetch_arrow_table(self):
        return self._table

    def fetchall(self) -> list[tuple]:
        cols = self._table.column_names
        return [tuple(r[c] for c in cols) for r in self._table.to_pylist()]


def log_failure(what: str) -> None:
    print(f"FAILED {what}", file=sys.stderr)
    traceback.print_exc(limit=6, file=sys.stderr)


class CatalogWorkload:
    """Catalog queries, timed as build + optimize + full materialization."""

    def __init__(self, name: str, queries: tuple[str, ...], tables: tuple[str, ...], probes=None):
        self.name = name
        self.queries = queries
        self.tables = tables
        self._probes = probes

    def resolve(self, registry: dict) -> None:
        names = []
        for q in self.queries:
            if q.startswith("tpch_q"):  # catalog names carry a suffix
                hits = [n for n in registry if n.startswith(q + "_")]
                if len(hits) != 1:
                    raise KeyError(f"no unique catalog query for {q}: {hits}")
                q = hits[0]
            names.append(q)
        self.specs = {n: registry[n] for n in names}

    def ops(self) -> list[str]:
        return list(self.specs)

    def begin_pass(self, ctx: Ctx) -> None:
        pass

    def run_op(self, ctx: Ctx, name: str, op_id: str) -> DataFrame:
        span = ctx.tracer.span
        with span("plans.build", op_id), ctx.jobs("build_jobs"):
            df = self.specs[name].build(ctx.spark, ctx.sf_dir)
        with span("plans.optimize", op_id):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
        with span("plans.exec", op_id):
            materialize(df)
        if ctx.tracing:
            for k, v in plan_counters(df).items():
                ctx.add(k, v)
        return df

    def oracle_sqls(self) -> list[str]:
        return [materialized_ctes(s.oracle) for s in self.specs.values() if s.oracle is not None]

    def warm_up(self, ctx: Ctx, order: list[str], oracles: OracleAnswers):
        """Run every operation once as a timed pass would, then collect each
        DataFrame it materialized and compare it with its DuckDB twin on the
        same input through the catalog's own oracle gate. Returns
        (attempted, failed, (wall, CPU) seconds spent only on checking)."""
        from tools.check_oracle import compare_one

        sqls = {n: materialized_ctes(s.oracle) for n, s in self.specs.items() if s.oracle}
        done, failed = {}, 0
        for name in order:
            try:
                done[name] = self.run_op(ctx, name, f"warm:{name}")
            except Exception:
                log_failure(f"{self.name} {name} (warm-up)")
                failed += 1
        t0 = ctx.clock()
        with contextlib.redirect_stdout(sys.stderr):
            for name, df in done.items():
                # True = match; False = mismatch or error; None = no oracle,
                # which leaves the operation unchecked and so counts as failed
                ok = compare_one(
                    ctx.spark, oracles, name, {name: lambda *_, df=df: df}, sqls, sf_dir=ctx.sf_dir
                )
                failed += ok is not True
        t1 = ctx.clock()
        return len(order), failed, (t1[0] - t0[0], t1[1] - t0[1])

    def probes(self, ctx: Ctx) -> dict[str, float]:
        return self._probes(ctx) if self._probes else {}


# --- layer probes (traced run only) -------------------------------------------------


def _timed(ctx: Ctx, name: str, df: DataFrame) -> tuple[int, float]:
    t0 = time.perf_counter()
    with ctx.tracer.span(name, "probe"):
        n = materialize(df)
    return n, time.perf_counter() - t0


def dedup_probes(ctx: Ctx) -> dict[str, float]:
    """Time each text near-dup layer on the documents table, from a pinned
    copy of its input so each probe measures its own layer."""
    from syntheticdata_pipeline__spark.functions.text import tokens
    from syntheticdata_pipeline__spark.operators.clusters import connected_components
    from syntheticdata_pipeline__spark.operators.neardup import (
        collapse_identical_sets,
        jaccard_pairs_inverted,
        minhash_mins_agg,
        minhash_pairs_from_sets,
        word_shingles,
    )
    from syntheticdata_pipeline__spark.plans.docs_q import _MH_BANDS, _MH_HASHES
    from syntheticdata_pipeline__spark.session import load_table

    spark = ctx.spark
    docs = load_table(spark, ctx.sf_dir, "documents").select("doc_id", "text")
    docs = docs.localCheckpoint(eager=True)
    n_docs = materialize(docs)
    _, t_tok = _timed(ctx, "functions.text.tokens", docs.select("doc_id", tokens(F.col("text"))))
    sets = docs.select(F.col("doc_id").alias("id"), word_shingles(F.col("text")).alias("sh"))
    _, t_sh = _timed(ctx, "operators.neardup.shingle", sets)
    sets = sets.localCheckpoint(eager=True)
    _, t_sig = _timed(ctx, "operators.neardup.signature", minhash_mins_agg(sets, _MH_HASHES))
    cand = minhash_pairs_from_sets(sets, num_hashes=_MH_HASHES, bands=_MH_BANDS)
    n_cand, t_pairs = _timed(ctx, "operators.neardup.band_join", cand)
    n_sets = materialize(collapse_identical_sets(sets))
    exact = jaccard_pairs_inverted(docs, block_col=None, threshold=0.5)
    n_verified = materialize(
        cand.select("id_a", "id_b").join(exact.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi")
    )
    edges = cand.select("id_a", "id_b").localCheckpoint(eager=True)
    calls: dict[str, int] = {}
    t0 = time.perf_counter()
    with ctx.tracer.span("operators.clusters.cc", "probe"), count_calls(type(edges), calls, "n"):
        materialize(connected_components(edges, src="id_a", dst="id_b"))
    t_cc = time.perf_counter() - t0
    return {
        "functions.text.tokens_s": t_tok,
        "operators.neardup.shingle_s": t_sh,
        "operators.neardup.signature_s": t_sig,
        # the banding stage computes its own signatures from the pinned
        # sets, so the signature probe's time is taken off
        "operators.neardup.band_join_s": max(t_pairs - t_sig, 0.0),
        "operators.neardup.verified_per_candidate": n_verified / max(n_cand, 1),
        "operators.neardup.sets_per_doc": n_sets / max(n_docs, 1),
        "operators.clusters.cc_s": t_cc,
        # round 1 is folded into the initial aggregate; every later round
        # runs one convergence count
        "operators.clusters.cc_rounds": 1 + calls.get("n", 0),
    }


def vector_probes(ctx: Ctx) -> dict[str, float]:
    """Time the embedding top-k kernels (Arrow ``mapInPandas`` and the
    LSH bucket join) and fixed-iteration k-means on the embeddings table."""
    from syntheticdata_pipeline__spark.operators.clusters import kmeans_fixed_iters
    from syntheticdata_pipeline__spark.operators.similarity import (
        lsh_bucketed_topk,
        topk_pandas_kernel,
    )
    from syntheticdata_pipeline__spark.session import load_table

    vecs = load_table(ctx.spark, ctx.sf_dir, "embeddings").localCheckpoint(eager=True)
    queries = vecs.filter(F.col("vec_id") < 10)
    _, t_arrow = _timed(
        ctx, "operators.similarity.topk", topk_pandas_kernel(vecs, queries.toPandas(), k=5)
    )
    lsh = lsh_bucketed_topk(vecs, queries, k=5, multi_probe=True)
    n_res, t_lsh = _timed(ctx, "operators.similarity.topk", lsh)
    candidates = plan_counters(lsh)["join_rows"]
    _, t_km = _timed(ctx, "operators.clusters.kmeans", kmeans_fixed_iters(vecs, k=8, iters=2))
    return {
        "operators.similarity.topk_s": t_arrow + t_lsh,
        "operators.similarity.candidates_per_result": candidates / max(n_res, 1),
        "operators.clusters.kmeans_s": t_km,
    }


# --- ingest --------------------------------------------------------------------


def _frame_rows(df: DataFrame) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


class IngestWorkload:
    """The write path: time-ordered chunks of ``events`` and ``documents``
    with seeded boundaries and a seeded share of replayed keys, each run
    through state filtering and append, incremental transition counts,
    incremental MinHash dedup and a keyed upsert; then compaction and the
    streaming twins under an ``availableNow`` trigger."""

    name = "ingest"
    tables = ("events", "documents")
    n_chunks = 2
    replay_share = 0.10
    sink_buckets = 8

    def resolve(self, registry: dict) -> None:
        self.registry = registry

    def ops(self) -> list[str]:
        return [f"chunk{i}" for i in range(self.n_chunks)] + ["close"]

    # -- chunk plan ----------------------------------------------------------
    def _chunks(self, n: int, rng: np.random.Generator) -> list[tuple[int, int, list[int]]]:
        """(lo, hi, replayed ids) per chunk: id range [lo, hi) plus a seeded
        sample of ids from earlier chunks."""
        # boundaries jitter around equal chunks (a chunk holds half of the
        # rows, +- 6%), so per-chunk work barely depends on the seed
        cuts = np.concatenate([[0], np.cumsum(rng.dirichlet(np.full(self.n_chunks, 40.0)))])
        bounds = [int(round(c * n)) for c in cuts]
        bounds[-1] = n
        out = []
        for lo, hi in zip(bounds, bounds[1:]):
            k = min(int((hi - lo) * self.replay_share), lo)
            replay = sorted(int(x) for x in rng.choice(lo, k, replace=False)) if k else []
            out.append((lo, hi, replay))
        return out

    def _plan(self, ctx: Ctx) -> None:
        if getattr(self, "_planned", None) == ctx.sf_dir:
            return
        rng = np.random.default_rng([ctx.seed, 7])
        rows = {t: input_rows(ctx.sf_dir, t) for t in self.tables}
        self.ev_chunks = self._chunks(rows["events"], rng)
        self.doc_chunks = self._chunks(rows["documents"], rng)
        self.n_events = rows["events"]
        self._planned = ctx.sf_dir

    # -- one pass --------------------------------------------------------------
    def begin_pass(self, ctx: Ctx) -> None:
        from syntheticdata_pipeline__spark.operators.state import StateTable
        from syntheticdata_pipeline__spark.session import load_table
        from syntheticdata_pipeline__spark.sources.readers import load_events

        self._plan(ctx)
        self.dir = os.path.join(ctx.work_dir, "ingest")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        spark = ctx.spark
        for t in getattr(self, "_mem_tables", []):
            spark.catalog.dropTempView(t)
        self._mem_tables = []
        self.events = load_events(spark, ctx.sf_dir)
        self.docs = load_table(spark, ctx.sf_dir, "documents")
        self.ev_state = StateTable(spark, os.path.join(self.dir, "ev_state"), ["event_id"])
        self.sig_state = StateTable(
            spark, os.path.join(self.dir, "sig_state"), ["id"], value_cols=["sig"]
        )
        self.sink = os.path.join(self.dir, "events_sink")
        self.t_state = None
        self.counts: dict[tuple[str, str], int] = {}
        self.survivors: list[tuple[int, str]] = []
        self.files: set[str] = set()
        self.bytes0 = fs_bytes_written(spark) if ctx.tracing else 0

    def run_op(self, ctx: Ctx, name: str, op_id: str) -> None:
        if name == "close":
            self._close(ctx, op_id)
        else:
            self._chunk(ctx, int(name[len("chunk"):]), op_id)
        if ctx.tracing:
            # file names are unique per write, so every file seen after any
            # step is one file written during the pass
            for root, _, files in os.walk(self.dir):
                self.files.update(os.path.join(root, f) for f in files)
            ctx.counters["bytes_written"] = fs_bytes_written(ctx.spark) - self.bytes0
            ctx.counters["files_written"] = len(self.files)

    def _chunk(self, ctx: Ctx, i: int, op_id: str) -> None:
        from syntheticdata_pipeline__spark.operators.neardup import incremental_minhash_dedup
        from syntheticdata_pipeline__spark.operators.state import incremental_transition_counts
        from syntheticdata_pipeline__spark.plans.docs_q import (
            _INC_EST_THRESHOLD,
            _MH_BANDS,
            _MH_HASHES,
        )
        from syntheticdata_pipeline__spark.sources.readers import write_keyed_overwrite

        span = ctx.tracer.span

        def rows(df, col, chunk):
            lo, hi, replay = chunk
            keep = F.col(col).between(lo, hi - 1)
            return df.filter(keep | F.col(col).isin(replay) if replay else keep)

        ev = rows(self.events, "event_id", self.ev_chunks[i])
        dc = rows(self.docs, "doc_id", self.doc_chunks[i]).withColumnRenamed("doc_id", "id")
        with span("operators.state.filter_new", op_id):
            new_ev = self.ev_state.filter_new(ev).localCheckpoint(eager=True)
            new_dc = self.sig_state.filter_new(dc).localCheckpoint(eager=True)
        with span("operators.state.append", op_id):
            self.ev_state.append(new_ev)
        with span("operators.state.transitions", op_id):
            counts, state = incremental_transition_counts(new_ev, self.t_state)
            for r in counts.collect():
                key = (r["from_type"], r["to_type"])
                self.counts[key] = self.counts.get(key, 0) + int(r["n"])
            self.t_state = state.localCheckpoint(eager=True)
        with span("operators.neardup.incremental", op_id):
            prior = self.sig_state.load() if self.sig_state.exists() else None
            survivors, sigs = incremental_minhash_dedup(
                new_dc.withColumnRenamed("id", "doc_id"),
                prior,
                num_hashes=_MH_HASHES,
                bands=_MH_BANDS,
                est_threshold=_INC_EST_THRESHOLD,
            )
            self.survivors += [tuple(r) for r in survivors.select("doc_id", "lang").collect()]
        with span("operators.state.append", op_id):
            self.sig_state.append(sigs)
        with span("sources.write", op_id):
            write_keyed_overwrite(ev, self.sink, "event_id", n_buckets=self.sink_buckets)

    def _close(self, ctx: Ctx, op_id: str) -> None:
        from syntheticdata_pipeline__spark.streaming.windows import (
            dedup_within_watermark,
            read_events_stream,
            tumbling_counts,
        )

        span = ctx.tracer.span
        with span("operators.state.compact", op_id):
            self.ev_state.compact()
            self.sig_state.compact()
        spark = ctx.spark
        twins = (
            ("tumbling", tumbling_counts, "complete"),
            ("dedup", lambda ev: dedup_within_watermark(ev, ["user_id", "event_type"]), "append"),
        )
        last = []
        for kind, build, mode in twins:
            table = f"perfbench_{kind}_{len(self._mem_tables)}"
            with span("streaming.run", op_id):
                q = (
                    build(read_events_stream(spark, ctx.sf_dir))
                    .writeStream.format("memory")
                    .queryName(table)
                    .outputMode(mode)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
            self._mem_tables.append(table)
            progress = q.recentProgress
            last += progress[-1:]
            if ctx.tracing:
                ctx.add(
                    "stream_batch_s",
                    sum(p.durationMs.get("triggerExecution", 0) for p in progress) / 1000.0,
                )
                ctx.add("stream_input_rows", sum(p.numInputRows for p in progress))
        if ctx.tracing:
            ctx.add("stream_state_rows", sum(op.numRowsTotal for p in last for op in p.stateOperators))

    # -- output checks ---------------------------------------------------------
    def oracle_sqls(self) -> list[str]:
        return [
            self._transitions_sql(),
            self._survivors_sql(),
            self._tumbling_sql(),
            "SELECT DISTINCT user_id, event_type FROM events",
        ]

    def _transitions_sql(self) -> str:
        sql = materialized_ctes(self.registry["event_transition_matrix"].oracle)
        return f"SELECT from_type, to_type, n FROM ({sql})"

    def _survivors_sql(self) -> str:
        return materialized_ctes(self.registry["incremental_dedup_survivors"].oracle)

    def _tumbling_sql(self) -> str:
        return materialized_ctes(self.registry["stream_tumbling_counts"].oracle)

    def warm_up(self, ctx: Ctx, order: list[str], con: OracleAnswers):
        """Run one full pass, then check what it left behind: chunked
        results equal their one-shot batch twins (DuckDB oracles of the
        catalog's batch queries, and the one-shot dedup call), and the
        keyed sink reads back with no duplicate keys. A failed property
        fails every operation of the pass. Returns (attempted, failed,
        (wall, CPU) seconds spent only on checking)."""
        self.begin_pass(ctx)
        raised = 0
        for name in order:
            try:
                self.run_op(ctx, name, f"warm:{name}")
            except Exception:
                log_failure(f"ingest {name}")
                raised += 1
        if raised:
            return len(order), len(order), (0.0, 0.0)
        t0 = ctx.clock()
        try:
            ok = self._properties(ctx, con)
        except Exception:
            log_failure("ingest output check")
            ok = False
        t1 = ctx.clock()
        return len(order), 0 if ok else len(order), (t1[0] - t0[0], t1[1] - t0[1])

    def _properties(self, ctx: Ctx, con: OracleAnswers) -> bool:
        from syntheticdata_pipeline__spark.operators.neardup import incremental_minhash_dedup
        from syntheticdata_pipeline__spark.plans.docs_q import (
            _INC_EST_THRESHOLD,
            _MH_BANDS,
            _MH_HASHES,
        )

        spark = ctx.spark
        checks = {}
        want = sorted(con.execute(self._transitions_sql()).fetchall())
        checks["transition counts == one-shot"] = want == sorted(
            (a, b, n) for (a, b), n in self.counts.items()
        )
        want = sorted(con.execute(self._survivors_sql()).fetchall())
        per_lang: dict[str, int] = {}
        for _, lang in self.survivors:
            per_lang[lang] = per_lang.get(lang, 0) + 1
        checks["dedup survivors per lang == oracle"] = want == sorted(per_lang.items())
        oneshot, _ = incremental_minhash_dedup(
            self.docs,
            None,
            num_hashes=_MH_HASHES,
            bands=_MH_BANDS,
            est_threshold=_INC_EST_THRESHOLD,
        )
        checks["dedup survivors == one-shot"] = sorted(
            r[0] for r in oneshot.select("doc_id").collect()
        ) == sorted(d for d, _ in self.survivors)
        sink = spark.read.parquet(self.sink)
        got = sink.agg(F.count("*").alias("n"), F.countDistinct("event_id").alias("k")).first()
        checks["keyed sink has no duplicate keys"] = got["n"] == got["k"] == self.n_events
        checks["compacted state holds every key"] = self.ev_state.count() == self.n_events
        want = sorted(con.execute(self._tumbling_sql()).fetchall())
        cols = "window_start_us, event_type, n_events, sum_value"
        got = _frame_rows(spark.sql(f"SELECT {cols} FROM {self._mem_tables[0]}"))
        checks["tumbling stream == oracle"] = want == got
        want = sorted(con.execute("SELECT DISTINCT user_id, event_type FROM events").fetchall())
        got = _frame_rows(spark.sql(f"SELECT user_id, event_type FROM {self._mem_tables[1]}"))
        checks["watermark dedup keeps one row per key"] = want == got
        for what, ok in checks.items():
            print(f"{'PASS' if ok else 'FAIL'} ingest: {what}", file=sys.stderr)
        return all(checks.values())

    def probes(self, ctx: Ctx) -> dict[str, float]:
        return {}


WORKLOADS = {
    # the vectors workload does not fit the run budget beside these two, so
    # the dedup trace also probes the similarity and k-means layers
    "dedup": CatalogWorkload(
        "dedup", DEDUP, ("documents",), lambda ctx: {**dedup_probes(ctx), **vector_probes(ctx)}
    ),
    "relational": CatalogWorkload(
        "relational",
        RELATIONAL,
        ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"),
    ),
    "vectors": CatalogWorkload("vectors", VECTORS, ("embeddings",), vector_probes),
    "ingest": IngestWorkload(),
}
