"""The two workloads: ``ingest`` and ``batch``.

Both are closed loops with one client: the next operation starts when
the previous one has returned and been checked. Operations are timed
with ``perf_counter`` around the engine calls and the ``collect`` that
consumes their result; the oracle check runs after the clock stops.
Set-up ends with untimed warm-up operations, because the first
operations of a fresh JVM run up to twice as slow while the JIT
compiles the hot paths.

- ``ingest`` builds the IVF index (k=128) and appends the first batch
  of fresh vectors, then repeats a fixed cycle: ``append_to_index`` one
  batch of ``gen.APPEND_ROWS`` fresh vectors, reopen ``IVFEngine``
  (n_probe 20, k 5), run ``SEARCHES_PER_CYCLE`` searches. Every 4th
  search goes through ``map_to_docs``; every 4th (offset 1) searches
  for a vector of the batch just appended. The clock is checked
  between cycles only, so a run holds whole cycles.
- ``batch`` runs ``multi_query_knn_ivf(k=5, n_probe=20)`` over
  ``BATCH_IDS`` corpus ids per call, drawn without replacement so that no
  call reuses the session's query-vector memo.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen
import oracle
from tracing import Tracer, dir_size, state_probe

K = 5
N_PROBE = 20
KMEANS_K = 128
BATCH_IDS = 4
# untimed warm-up; one-id calls warm the same code paths as full calls
# in half the time
WARMUP_SINGLE_CALLS = 5
WARMUP_CALLS = 3
WARMUP_SEARCHES = 4  # searches 0 and 3 go through map_to_docs
SEARCHES_PER_CYCLE = 8
MAX_ERRORS_KEPT = 5


@dataclass
class Tally:
    """Samples, failures and oracle counts of one run."""

    latencies_ms: list[float] = field(default_factory=list)
    queries: int = 0
    timed_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    recalls: list[float] = field(default_factory=list)
    pairs: int = 0  # (query, row) pairs the probe sets hold
    results: int = 0  # rows returned by query operations
    appended: int = 0
    append_s: float = 0.0
    errors: list[str] = field(default_factory=list)

    def check(self, what: str, error: str | None) -> None:
        self.attempted += 1
        if error is not None:
            self.failed += 1
            if len(self.errors) < MAX_ERRORS_KEPT:
                self.errors.append(f"{what}: {error}")

    def guarded(self, what: str, fn):
        """Run ``fn``; an exception counts as a failed operation."""
        try:
            return fn()
        except Exception as exc:  # the run goes on and reports the failure
            self.check(what, f"{type(exc).__name__}: {str(exc)[:300]}")
            return None


class IndexView:
    """The oracle's view of an IVF index directory, read back from disk."""

    def __init__(self, index_dir: str):
        self.dir = index_dir
        cents = pq.read_table(f"{index_dir}/centroids").to_pydict()
        order = np.argsort(cents["cluster"])
        self.cluster_ids = np.asarray(cents["cluster"])[order]
        self.centroids = np.asarray(cents["centroid"], dtype=np.float64)[order]

    def rows(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """``(vec_id, cluster, embedding)`` of every stored row, by vec_id."""
        t = ds.dataset(f"{self.dir}/embeddings_indexed", format="parquet", partitioning="hive").to_table(
            columns=["vec_id", "cluster", "embedding"]
        )
        ids = t["vec_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        emb = t["embedding"].combine_chunks().flatten().to_numpy().reshape(len(ids), -1)
        return ids[order], t["cluster"].to_numpy()[order], emb[order]

    def check(self, want_ids: np.ndarray, want_vecs: np.ndarray, new: slice):
        """Read the index back; ``(error or None, ProbeIndex)``.

        Every live id must be stored once with its input vector, and each
        row in ``new`` must sit in a nearest cluster by squared distance."""
        ids, clusters, emb = self.rows()
        index = oracle.ProbeIndex(self.cluster_ids, self.centroids, ids, emb, clusters)
        if len(ids) != len(want_ids) or not np.array_equal(ids, want_ids):
            return f"index holds {len(ids)} rows, expected {len(want_ids)}", index
        if not np.array_equal(emb, want_vecs):
            return "stored embeddings differ from the inputs", index
        if not np.isin(clusters, self.cluster_ids).all():
            return "row in a cluster without a centroid", index
        x = want_vecs[new].astype(np.float64)
        d2 = (x**2).sum(1)[:, None] + (self.centroids**2).sum(1)[None, :] - 2 * x @ self.centroids.T
        got = d2[np.arange(len(x)), np.searchsorted(self.cluster_ids, clusters[new])]
        bad = np.nonzero(got > d2.min(1) + 1e-6)[0]
        if len(bad):
            return f"{len(bad)} rows not in a nearest cluster, e.g. vec_id {ids[new][bad[0]]}", index
        return None, index


def _search(engine, docs, qvec, mapback: bool, tracer: Tracer):
    """One online query: ``(rows, seconds)``; rows are (vec_id, score[, snippet])."""
    from gpu_accelerated_vector_indexing_spark.operators.knn import map_to_docs

    with tracer.op("mapback" if mapback else "search"):
        t0 = time.perf_counter()
        with tracer.span("engine.search"):
            df = engine.search([float(x) for x in qvec], k=K)
        if mapback:
            with tracer.span("knn.map_to_docs"):
                df = map_to_docs(df, docs)
            with tracer.span("knn.mapback.collect"):
                rows = [(r.vec_id, r.score, r.snippet) for r in df.collect()]
        else:
            with tracer.span("engine.collect"):
                rows = [(r.vec_id, r.score) for r in df.collect()]
        return rows, time.perf_counter() - t0


def _check_search(tally: Tally, index: oracle.ProbeIndex, inputs, qvec, rows, mapback, timed):
    qvec = np.asarray(qvec, dtype=np.float64)
    expected = index.expected(qvec, N_PROBE, K)
    # map_to_docs inner-joins documents, which exist for corpus ids only
    keep = (lambda ids: ids < gen.CORPUS_ROWS) if mapback else None
    error = oracle.check_topk([(r[0], r[1]) for r in rows], expected, K, keep=keep)
    if error is None and mapback:
        error = next(
            (f"snippet of doc {r[0]} differs" for r in rows if r[2] != inputs.texts[r[0]][:200]),
            None,
        )
    tally.check("mapback" if mapback else "search", error)
    if timed:
        tally.pairs += len(expected[0])
        if not mapback:
            tally.recalls.append(oracle.recall([r[0] for r in rows], index.exact(qvec, K)))


def ingest(spark, inputs: gen.Inputs, work: str, seconds: float, tracer: Tracer, setup_t0: float):
    from gpu_accelerated_vector_indexing_spark.engine import IVFEngine
    from gpu_accelerated_vector_indexing_spark.operators.index_build import (
        append_to_index,
        build_partitioned_index,
    )

    tally = Tally()
    index_dir = f"{work}/index"
    with tracer.op("build"):
        t0 = time.perf_counter()
        with tracer.span("index_build.build_partitioned_index"):
            build_partitioned_index(spark, inputs.dir, index_dir, k=KMEANS_K)
        build_s = time.perf_counter() - t0
    view = IndexView(index_dir)
    error, index = view.check(inputs.corpus_ids, inputs.corpus, slice(None))
    tally.check("build", error)

    docs = spark.read.parquet(f"{inputs.dir}/documents.parquet")
    appends = spark.read.parquet(f"{inputs.dir}/appends.parquet")
    files_written = []
    live = {"ids": inputs.corpus_ids, "vecs": inputs.corpus, "index": index}

    def append(batch: int, timed: bool) -> None:
        """Append one batch; time it when ``timed``, check it always."""
        new_df = appends.filter(appends.batch == batch).drop("batch")
        before = dir_size(index_dir)[0]
        with tracer.op("append"):
            t0 = time.perf_counter()
            with tracer.span("index_build.append_to_index"):
                n = tally.guarded("append", lambda: append_to_index(spark, index_dir, new_df))
            dt = time.perf_counter() - t0
        if n is None:
            return
        if timed:
            tally.appended += n
            tally.append_s += dt
            tally.timed_s += dt
            files_written.append(dir_size(index_dir)[0] - before)
        new_ids = inputs.append_ids(batch)
        live["ids"] = np.concatenate([live["ids"], new_ids])
        live["vecs"] = np.concatenate([live["vecs"], inputs.appends[batch]])
        error, live["index"] = view.check(live["ids"], live["vecs"], slice(-len(new_ids), None))
        if n != len(new_ids):
            error = f"appended {n} rows, expected {len(new_ids)}"
        tally.check("append", error)

    def reopen(timed: bool):
        with tracer.op("reopen"):
            t0 = time.perf_counter()
            with tracer.span("engine.from_pretrained"):
                engine = IVFEngine.from_pretrained(spark, index_dir, n_probe=N_PROBE)
            if timed:
                tally.timed_s += time.perf_counter() - t0
        return engine

    # warm-up, checked but not timed: one append, a reopen and searches,
    # two of them through map_to_docs (the coarse job plus the fine plan
    # inside its join)
    append(0, timed=False)
    engine = reopen(timed=False)
    for n in range(WARMUP_SEARCHES):
        qvec, mapback = inputs.queries[-1 - n], n % 3 == 0
        rows = tally.guarded("warm-up", lambda: _search(engine, docs, qvec, mapback, tracer)[0])
        if rows is not None:
            _check_search(tally, live["index"], inputs, qvec, rows, mapback, timed=False)
    setup_s = time.perf_counter() - setup_t0
    start_state = state_probe(spark, index_dir)
    first_op = len(tracer.ops)

    query_no = 0
    start = time.perf_counter()
    for batch in range(1, gen.APPEND_BATCHES):
        if time.perf_counter() - start >= seconds:
            break
        append(batch, timed=True)
        engine = reopen(timed=True)
        new_vecs = inputs.appends[batch]
        for i in range(SEARCHES_PER_CYCLE):
            mapback = i % 4 == 3
            if i % 4 == 1:
                qvec = new_vecs[i]
            else:
                qvec = inputs.queries[query_no % gen.QUERY_ROWS]
                query_no += 1
            out = tally.guarded("search", lambda: _search(engine, docs, qvec, mapback, tracer))
            if out is None:
                continue
            rows, dt = out
            tally.latencies_ms.append(dt * 1000.0)
            tally.timed_s += dt
            tally.queries += 1
            tally.results += len(rows)
            _check_search(tally, live["index"], inputs, qvec, rows, mapback, timed=True)

    end_state = state_probe(spark, index_dir)
    live_bytes = len(live["ids"]) * gen.DIM * 4
    e2e = _end_to_end(tally, setup_s, space_amp=end_state["index_bytes"] / live_bytes)
    layers = _per_layer(tracer, tally, first_op, start_state, end_state, build_s, files_written)
    return tally, e2e, layers


def batch(spark, inputs: gen.Inputs, work: str, seconds: float, tracer: Tracer, setup_t0: float):
    from gpu_accelerated_vector_indexing_spark.operators.ivf import (
        fixture_centroid_rows,
        multi_query_knn_ivf,
    )

    tally = Tally()
    with tracer.op("build"):
        t0 = time.perf_counter()
        with tracer.span("ivf.fixture_centroid_rows"):
            rows = fixture_centroid_rows(spark, inputs.dir)
        build_s = time.perf_counter() - t0
    labels, cents = oracle.label_centroids(inputs.corpus, inputs.labels)
    got = dict(rows)
    tally.check(
        "build",
        None
        if sorted(got) == labels.tolist()
        and np.abs(np.asarray([got[lab] for lab in labels.tolist()]) - cents).max() <= 1.01e-8
        else "label centroids differ from the per-label means",
    )
    index = oracle.ProbeIndex(labels, cents, inputs.corpus_ids, inputs.corpus, inputs.labels)
    order = np.random.default_rng(inputs.seed).permutation(gen.CORPUS_ROWS)

    def call(ids, timed: bool) -> None:
        def run():
            with tracer.op("batch"):
                t0 = time.perf_counter()
                with tracer.span("ivf.multi_query_knn_ivf"):
                    df = multi_query_knn_ivf(spark, inputs.dir, ids.tolist(), k=K, n_probe=N_PROBE)
                with tracer.span("ivf.collect"):
                    out = [(r.query_id, r.vec_id, r.score) for r in df.collect()]
                return out, time.perf_counter() - t0

        res = tally.guarded("batch", run)
        if res is None:
            return
        out, dt = res
        if timed:
            tally.latencies_ms.append(dt * 1000.0)
            tally.timed_s += dt
            tally.queries += len(ids)
            tally.results += len(out)
        by_query: dict[int, list] = {int(q): [] for q in ids}
        stray = 0
        for q, vid, score in out:
            if q in by_query:
                by_query[q].append((vid, score))
            else:
                stray += 1
        errors = [f"{stray} rows for ids not asked for"] if stray else []
        for q, got_rows in by_query.items():
            qvec = inputs.corpus[q].astype(np.float64)
            expected = index.expected(qvec, N_PROBE, K)
            if timed:
                tally.pairs += len(expected[0])
                tally.recalls.append(oracle.recall([v for v, _ in got_rows], index.exact(qvec, K)))
            err = oracle.check_topk(got_rows, expected, K)
            if err:
                errors.append(f"query {q}: {err}")
        tally.check("batch", errors[0] if errors else None)

    for i in range(WARMUP_SINGLE_CALLS):
        call(order[i : i + 1], timed=False)
    order = order[WARMUP_SINGLE_CALLS:]
    calls = (order[i : i + BATCH_IDS] for i in range(0, len(order), BATCH_IDS))
    for _ in range(WARMUP_CALLS):
        call(next(calls), timed=False)
    setup_s = time.perf_counter() - setup_t0
    start_state = state_probe(spark, None)
    first_op = len(tracer.ops)
    start = time.perf_counter()
    for ids in calls:
        if time.perf_counter() - start >= seconds:
            break
        call(ids, timed=True)
    end_state = state_probe(spark, None)
    e2e = _end_to_end(
        tally, setup_s,
        space_amp=os.path.getsize(f"{inputs.dir}/embeddings.parquet") / (gen.CORPUS_ROWS * gen.DIM * 4),
    )
    layers = _per_layer(tracer, tally, first_op, start_state, end_state, build_s, [])
    return tally, e2e, layers


def _end_to_end(tally: Tally, setup_s, space_amp) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "query_p50_ms": statistics.median(tally.latencies_ms) if tally.latencies_ms else 0.0,
        "qps": tally.queries / tally.timed_s if tally.timed_s else 0.0,
        "recall_at_k": statistics.fmean(tally.recalls) if tally.recalls else 0.0,
        "ok_rate": 1.0 - tally.failed / max(tally.attempted, 1),
        "space_amp": space_amp,
    }


QUERY_OPS = ("search", "mapback", "batch")
FINE_SPANS = ("engine.collect", "knn.mapback.collect", "ivf.collect")


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def _per_layer(tracer: Tracer, tally: Tally, first_op, start_state, end_state, build_s, files_written):
    if not tracer.enabled:
        return {}
    timed = tracer.ops[first_op:]
    queries = [o for o in timed if o.kind in QUERY_OPS]
    appends = [o for o in timed if o.kind == "append"]
    builds = [o for o in tracer.ops if o.kind == "build"]
    timed_spans = [s for s in tracer.spans if s.op >= first_op]

    def span_median(name):
        return _median([(s.end - s.start) * 1000.0 for s in timed_spans if s.name == name])

    def per_op(ops, fn):
        return statistics.fmean(fn(o) for o in ops) if ops else 0.0

    fine_cpu_ns = sum(o.by_span.get(s, {}).get("executorCpuTime", 0) for o in queries for s in FINE_SPANS)
    n_queries = max(tally.queries, 1)
    return {
        "engine.coarse_ms": span_median("engine.search"),
        "engine.fine_ms": span_median("engine.collect"),
        "knn.mapback_ms": span_median("knn.mapback.collect"),
        "ivf.construct_ms": span_median("ivf.multi_query_knn_ivf"),
        "ivf.collect_ms": span_median("ivf.collect"),
        "vector.cpu_ns_per_pair": fine_cpu_ns / tally.pairs if tally.pairs else 0.0,
        "scan.rows_read_per_result": sum(o.totals["inputRecords"] for o in queries) / max(tally.results, 1),
        "scan.input_bytes_per_query": sum(o.totals["inputBytes"] for o in queries) / n_queries,
        "spark.jobs_per_op": per_op(queries, lambda o: o.jobs),
        "spark.stages_per_op": per_op(queries, lambda o: o.stages),
        "spark.tasks_per_op": per_op(queries, lambda o: o.tasks),
        "spark.driver_ms_per_op": per_op(queries, lambda o: o.driver_ms),
        "spark.executor_run_ms_per_op": per_op(queries, lambda o: o.totals["executorRunTime"]),
        "spark.executor_cpu_ms_per_op": per_op(queries, lambda o: o.totals["executorCpuTime"] / 1e6),
        "spark.gc_ms_per_op": per_op(queries, lambda o: o.totals["jvmGcTime"]),
        "spark.shuffle_bytes_per_op": per_op(
            queries, lambda o: o.totals["shuffleReadBytes"] + o.totals["shuffleWriteBytes"]
        ),
        "index_build.build_ms": build_s * 1000.0,
        "index_build.append_ms": span_median("index_build.append_to_index"),
        "index_build.append_vps": tally.appended / tally.append_s if tally.append_s else 0.0,
        "index_build.append_jobs": per_op(appends, lambda o: o.jobs),
        "index_build.append_output_bytes": per_op(appends, lambda o: o.totals["outputBytes"]),
        "index_build.files_written": statistics.fmean(files_written) if files_written else 0.0,
        "index.files": end_state["index_files"],
        "index.bytes": end_state["index_bytes"],
        "index_build.build_jobs": per_op(builds, lambda o: o.jobs),
        "index_build.build_executor_ms": per_op(builds, lambda o: o.totals["executorRunTime"]),
        "memo.entries_start": start_state["memo_entries"],
        "memo.entries_end": end_state["memo_entries"],
        "storage.persisted_mb_start": start_state["persisted_mb"],
        "storage.persisted_mb_end": end_state["persisted_mb"],
        "trace.bookkeeping_ms_per_op": tracer.bookkeeping_s * 1000.0 / max(len(tracer.ops), 1),
        "trace.query_p50_ms": _median(tally.latencies_ms),
    }
