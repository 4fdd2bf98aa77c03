"""The workloads.  Each drives the package only through its public
functions, on inputs generated from the run's seed.

Every workload returns the same end-to-end fields, so each run reports
every metric in ``BENCHMARK.json``:

- ``write_cpu_s`` and ``write_rows``: CPU time of the workload's write or
  build phase and the rows it wrote — chunks ingested (rag), vectors
  indexed (ann_batch); ``write_s`` is its wall time;
- ``query_cpu_ms`` and ``query_ms``: CPU time and latency of each
  operation of a closed loop with one client — one question (rag), one
  probe batch through IVFPQ search and refine (ann_batch);
- ``write_probe_ms`` and ``probe_ms``: speed-probe samples taken beside
  the write phase and after each operation of the loop;
- ``recall``: share of the NumPy brute-force top-5 returned.

CPU time is that of the benchmark process and all its descendants (the
driver JVM and the Python workers it forks): on a shared host it stays
put when other tenants load the CPUs, while wall time doubles (README.md,
"Why CPU time").  The loop does a fixed number of operations, set from
``--seconds`` at a nominal rate, so every run does the same work and its
JIT warm-up stands at the same point whatever the host's speed.

Sizes keep one run, with session start, warm-up and checks, to about a
minute on a 4-core host (see README.md for the run budget).
"""

from __future__ import annotations

import importlib
import itertools
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from spans import NullTracer
from stats import Outcomes, speed_probe, tree_cpu_s

PKG = "postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_spark"

# The reference embeds to 1536 floats.  At 1536-d, building one question's
# top-k DataFrame takes ~23k py4j round trips (the probe is inlined as
# literal columns); on a shared VM their latency swings 2-3x with CPU
# steal, and over ten runs the quartile spread of question latency was
# 0.8 of its median, far past any usable bound.  At 256-d the build is
# still most of a question, so the same cost shows in question latency.
RAG_DIM = 256
RAG_PAGES = 1000
# Questions per second of ``--seconds`` in the timed loop (about the
# rate of a 4-core host), and questions asked in the warm-up.
RAG_QUESTIONS_PER_S = 1.5
RAG_WARM_QUESTIONS = 10

CURATION_DOCS = 300

ANN_ITEMS = 4_000
ANN_PROBES = 512
ANN_BATCH = 16
ANN_BATCHES_PER_S = 1.0
ANN_WARM_BATCHES = 4
# Operating point: 16 coarse lists (the IVFPQIndex default) over data
# drawn from 32 mixture components, 16 sub-quantizers, 4 lists probed and
# a 100-row ADC shortlist re-ranked exactly.
ANN_K_CLUSTERS = 16
ANN_M = 16
ANN_NPROBE = 4
ANN_SHORTLIST = 100
K = 5


class Ctx:
    """Per-run state handed to a workload."""

    def __init__(self, spark, seed: int, seconds: float, tmp: str, tracer, on_timed_end):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.tmp = tmp
        self.tracer = tracer
        self.out = Outcomes()
        self.report: dict = {}
        self._on_timed_end = on_timed_end

    def mark_end_of_timed(self) -> None:
        """Called by a workload when its timed region ends (before checks)."""
        self._on_timed_end()


def _mod(name: str):
    """A module of the package under test, imported on first use so that
    run.py can report a missing package before anything else fails."""
    return importlib.import_module(f"{PKG}.{name}")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def loop_ops(seconds: float, per_s: float) -> int:
    """Operations in a timed loop of nominally ``seconds``: a fixed count,
    so that a slow host does the same work as a fast one."""
    return max(3, round(seconds * per_s))


def _write_parquet(path: str, table: pa.Table) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def _topk_ids(matrix: np.ndarray, ids: np.ndarray, probe: np.ndarray, k: int = K):
    """Brute-force L2 top-k over float64 with the id as tie-break."""
    d = ((matrix - probe[None, :]) ** 2).sum(axis=1)
    order = np.lexsort((ids, d))[:k]
    return [ids[i] for i in order]


# --------------------------------------------------------------------------
# rag
# --------------------------------------------------------------------------

def _pages_table(rows) -> pa.Table:
    return pa.table(
        {
            "source": [r[0] for r in rows],
            "doc_id": pa.array([r[1] for r in rows], pa.int64()),
            "text": [r[2] for r in rows],
        }
    )


def rag_setup(ctx: Ctx) -> None:
    """Warm-up: a small ingest and full questions on pages from another
    seed.  In a fresh JVM question latency keeps falling for the first
    ~10 questions (most of a question is building its DataFrame on the
    driver), from up to 1.5x the steady value."""
    pipeline = _mod("pipeline")
    rows, _ = gen.rag_pages(ctx.seed + 10_000, 10)
    src = _write_parquet(f"{ctx.tmp}/warm/pages.parquet", _pages_table(rows))
    chunks, status = pipeline.ingest_documents(ctx.spark.read.parquet(src), dim=RAG_DIM)
    chunks.write.mode("overwrite").parquet(f"{ctx.tmp}/warm/chunks")
    pipeline.status_registered(status).collect()
    table = ctx.spark.read.parquet(f"{ctx.tmp}/warm/chunks")
    for q in gen.rag_questions(ctx.seed + 10_000, RAG_WARM_QUESTIONS):
        hits = pipeline.search(table, q, dim=RAG_DIM)
        pipeline.sse_events(pipeline.summaries(hits, q)).collect()


def rag(ctx: Ctx) -> dict:
    """Ingest into a parquet chunk table and status log, list the log,
    then ask questions one at a time against the table just written."""
    pipeline = _mod("pipeline")
    E = _mod("functions.embed")
    spark, tr, out = ctx.spark, ctx.tracer, ctx.out

    rows, props = gen.rag_pages(ctx.seed, RAG_PAGES)
    questions = gen.rag_questions(ctx.seed, 400)
    src = _write_parquet(f"{ctx.tmp}/rag/pages.parquet", _pages_table(rows))
    sink_chunks, sink_status = f"{ctx.tmp}/rag/chunks", f"{ctx.tmp}/rag/status"
    ctx.report["input"] = props

    # ---- timed: ingest, status listings, then the question loop ----------
    write_probes = [speed_probe() for _ in range(3)]
    t0, c0 = time.perf_counter(), tree_cpu_s()
    docs = spark.read.parquet(src)
    with tr.span("pipeline.ingest_documents.build"):
        chunks, status = pipeline.ingest_documents(docs, dim=RAG_DIM)
    with tr.span("pipeline.ingest_documents.exec"):
        chunks.write.mode("overwrite").parquet(sink_chunks)
        status.write.mode("overwrite").parquet(sink_status)
    ingest_s, ingest_cpu_s = time.perf_counter() - t0, tree_cpu_s() - c0
    write_probes += [speed_probe() for _ in range(3)]
    t1 = time.perf_counter()
    with tr.span("pipeline.status_listing"):
        st = spark.read.parquet(sink_status)
        registered = pipeline.status_registered(st).collect()
        failed = pipeline.status_failed(st).collect()
    listing_s = time.perf_counter() - t1

    table = spark.read.parquet(sink_chunks)

    def ask(q):
        # The program's own question path.  ``pipeline.search`` embeds the
        # question and builds the top-k DataFrame; the serve projection is
        # built on it; one collect executes the scan, the top-k and the
        # projection together.
        with tr.span("operators.knn.knn.build"):
            hits = pipeline.search(table, q, dim=RAG_DIM)
        with tr.span("pipeline.serve_projection"):
            events = pipeline.sse_events(pipeline.summaries(hits, q))
        with tr.span("operators.knn.knn.exec"):
            return events.collect()

    lat, cpu, probes_s, answers = [], [], [], []
    for q in questions[: loop_ops(ctx.seconds, RAG_QUESTIONS_PER_S)]:
        ts, cs = time.perf_counter(), tree_cpu_s()
        events = out.run("search", ask, q)
        lat.append(time.perf_counter() - ts)
        cpu.append(tree_cpu_s() - cs)
        probes_s.append(speed_probe())
        answers.append((q, events))
    ctx.mark_end_of_timed()

    # ---- checks (untimed) ------------------------------------------------
    ct = pq.read_table(sink_chunks).to_pydict()
    n_chunks = len(ct["id"])
    out.check("chunks_written", n_chunks > 0)
    out.check("chunk_ids_unique", len(set(ct["id"])) == n_chunks)
    out.check(
        "chunk_len_le_7500",
        max(len(t) for t in ct["origntext"]) <= gen.MAX_CHUNK_CHARS,
    )
    out.check(
        "chunk_dim", all(len(e) == RAG_DIM for e in ct["embedding"])
    )
    sl = pq.read_table(sink_status).to_pandas()
    last = sl.sort_values("seq").groupby("id")["status"].last()
    out.check(
        "status_ends_completed",
        len(last) == n_chunks and bool((last == "COMPLETED").all()),
    )
    out.check("status_failed_empty", len(failed) == 0, f"({len(failed)} rows)")
    out.check("status_registered_all", len(registered) == n_chunks)

    emb = np.asarray(ct["embedding"], dtype=np.float64)
    ids = np.asarray(ct["id"], dtype=object)
    # The question embedding, timed apart from the question loop.
    with tr.span("functions.embed.hash_embed_py"):
        probes = [E.hash_embed_py(q, RAG_DIM) for q, _ in answers]
    hits_ok = hits_returned = 0
    for (q, events), probe in zip(answers, probes):
        if events is None:
            continue
        truth = _topk_ids(emb, ids, np.asarray(probe, np.float64))
        hits_returned += len(events) // 3
        got = {r["id"] for r in events}
        hits_ok += len(got & set(truth))
        out.check("top5_matches_bruteforce", got == set(truth), q)
        out.check("three_events_per_hit", len(events) == 3 * K, f"({len(events)})")

    if tr.enabled:
        # Standalone calls of the two ingest stages, on the same pages.
        with tr.span("pipeline.chunk_documents"):
            _noop(pipeline.chunk_documents(spark.read.parquet(src)))
        with tr.span("functions.embed.hash_embedder"):
            _noop(table.select(E.hash_embedder(RAG_DIM)("origntext").alias("e")))
        scanned = tr.totals()["operators.knn.knn.exec"]["input_rows"]
        ctx.report["ratios"] = {
            "text.chunks_per_page": n_chunks / len(rows),
            "knn.rows_scanned_per_hit": scanned / max(hits_returned, 1),
        }
        # The curation layers ride along here: a curation workload of its
        # own does not fit the run budget (README.md).
        curation_layers(ctx)
    ctx.report.update(
        chunks=n_chunks,
        queries=len(lat),
        ingest_s=ingest_s,
        listing_s=listing_s,
        ingest_chunks_per_s=n_chunks / ingest_s,
    )
    return {
        "write_rows": n_chunks,
        "write_s": ingest_s,
        "write_cpu_s": ingest_cpu_s,
        "write_probe_ms": [x * 1000 for x in write_probes],
        "query_cpu_ms": [x * 1000 for x in cpu],
        "probe_ms": [x * 1000 for x in probes_s],
        "query_ms": [x * 1000 for x in lat],
        "recall": hits_ok / (K * max(len(answers), 1)),
    }


# --------------------------------------------------------------------------
# ann_batch
# --------------------------------------------------------------------------

def _vec_table(ids_name: str, vecs: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    lists = pa.ListArray.from_arrays(
        pa.array(np.arange(0, vecs.size + 1, vecs.shape[1]), pa.int32()), flat
    )
    return pa.table({ids_name: pa.array(np.arange(len(vecs)), pa.int64()), "embedding": lists})


def _build_index(ctx: Ctx, items_df, tr):
    """IVFPQIndex build, including materialising its cached code table."""
    quant = _mod("operators.quant")
    with tr.span("operators.quant.IVFPQIndex"):
        index = quant.IVFPQIndex(
            items_df, k_clusters=ANN_K_CLUSTERS, m=ANN_M, id_col="vec_id",
            vec_col="embedding", seed=ctx.seed,
        )
        index.indexed.count()
    return index, quant


def _search_batch(index, quant, batch, items_df, tr):
    with tr.span("operators.quant.IVFPQIndex.search_many"):
        cand = index.search_many(
            batch, shortlist=ANN_SHORTLIST, nprobe=ANN_NPROBE, probe_id="probe_id"
        )
    with tr.span("operators.quant.PQCodebook.refine"):
        return quant.PQCodebook.refine(cand, items_df, batch, k=K, id_col="vec_id").collect()


def ann_setup(ctx: Ctx) -> None:
    """Warm-up: a small IVFPQ build (few lists, codes and iterations, so
    the cold JVM pays for loading and compiling the build's code paths,
    not for k-means work) and a few batch searches, on vectors from
    another seed."""
    quant = _mod("operators.quant")
    spark = ctx.spark
    items, probes, _ = gen.ann_vectors(ctx.seed + 10_000, 400, 8)
    ip = _write_parquet(f"{ctx.tmp}/warm/items.parquet", _vec_table("vec_id", items))
    pp = _write_parquet(f"{ctx.tmp}/warm/probes.parquet", _vec_table("probe_id", probes))
    items_df, probes_df = spark.read.parquet(ip), spark.read.parquet(pp)
    index = quant.IVFPQIndex(
        items_df, k_clusters=4, m=ANN_M, codes=16, id_col="vec_id",
        vec_col="embedding", seed=ctx.seed, iters=2, coarse_max_iter=2,
    )
    index.indexed.count()
    # In a fresh JVM batch latency keeps falling over the first few batches.
    for _ in range(ANN_WARM_BATCHES):
        _search_batch(index, quant, probes_df, items_df, NullTracer())


def ann_batch(ctx: Ctx) -> dict:
    """IVFPQ index build, then probe batches through ``search_many`` and
    ``PQCodebook.refine`` in a closed loop that cycles through the probe
    batches.  After the timed region the exact ``knn_join`` runs over the
    distinct probes served: timed on its own, and the reference for the
    check."""
    Kn = _mod("operators.knn")
    spark, tr, out = ctx.spark, ctx.tracer, ctx.out
    items, probes, props = gen.ann_vectors(ctx.seed, ANN_ITEMS, ANN_PROBES)
    props.update(
        nprobe=ANN_NPROBE, shortlist=ANN_SHORTLIST, k_clusters=ANN_K_CLUSTERS,
        m=ANN_M, batch=ANN_BATCH,
    )
    ctx.report["input"] = props
    ip = _write_parquet(f"{ctx.tmp}/ann/items.parquet", _vec_table("vec_id", items))
    pp = _write_parquet(f"{ctx.tmp}/ann/probes.parquet", _vec_table("probe_id", probes))
    items_df, probes_df = spark.read.parquet(ip), spark.read.parquet(pp)

    # ---- timed: index build, then probe batches --------------------------
    write_probes = [speed_probe() for _ in range(3)]
    t0, c0 = time.perf_counter(), tree_cpu_s()
    index, quant = _build_index(ctx, items_df, tr)
    build_s, build_cpu_s = time.perf_counter() - t0, tree_cpu_s() - c0
    write_probes += [speed_probe() for _ in range(3)]
    batches = [
        probes_df.filter(
            (probes_df.probe_id >= lo) & (probes_df.probe_id < lo + ANN_BATCH)
        )
        for lo in range(0, ANN_PROBES, ANN_BATCH)
    ]
    lat, cpu, probes_s, served = [], [], [], []
    n_batches = loop_ops(ctx.seconds, ANN_BATCHES_PER_S)
    for b in itertools.islice(itertools.cycle(range(len(batches))), n_batches):
        ts, cs = time.perf_counter(), tree_cpu_s()
        got = out.run("ivfpq_batch", _search_batch, index, quant, batches[b], items_df, tr)
        lat.append(time.perf_counter() - ts)
        cpu.append(tree_cpu_s() - cs)
        probes_s.append(speed_probe())
        served.append((b, got))
    ctx.mark_end_of_timed()
    n_probes = min(len(served), len(batches)) * ANN_BATCH

    te = time.perf_counter()
    with tr.span("operators.knn.knn_join"):
        exact = out.run(
            "knn_join",
            lambda: Kn.knn_join(
                probes_df.filter(probes_df.probe_id < n_probes), items_df,
                k=K, probe_id="probe_id", item_id="vec_id",
            ).collect(),
        ) or []
    exact_s = time.perf_counter() - te

    # ---- checks ----------------------------------------------------------
    ids = np.arange(len(items))
    items64 = items.astype(np.float64)
    truth = [_topk_ids(items64, ids, probes[p].astype(np.float64)) for p in range(n_probes)]
    ex: dict[int, list] = {}
    for r in exact:
        ex.setdefault(r["probe_id"], []).append((r["rank"], r["item_id"]))
    for p in range(n_probes):
        out.check(
            "knn_join_matches_bruteforce",
            [i for _, i in sorted(ex.get(p, []))] == truth[p],
            f"probe {p}",
        )
    hits = returned = 0
    for b, got in served:
        mine: dict[int, list] = {}
        for r in got or []:
            mine.setdefault(r["probe_id"], []).append(r["vec_id"])
        returned += len(got or [])
        for p in range(b * ANN_BATCH, (b + 1) * ANN_BATCH):
            m = mine.get(p, [])
            out.check("ivfpq_five_rows", len(m) == K, f"probe {p}: {len(m)}")
            hits += len(set(m) & set(truth[p]))

    if tr.enabled:
        # Candidate rows exchanged into the per-probe ranks of the ADC
        # shortlist and of the exact re-rank, per hit returned.
        t = tr.totals()
        moved = sum(
            t[s]["shuffle_read_rows"]
            for s in ("operators.quant.IVFPQIndex.search_many", "operators.quant.PQCodebook.refine")
        )
        ctx.report["ratios"] = {"quant.candidates_per_hit": moved / max(returned, 1)}
    ctx.report.update(
        ann_build_s=build_s,
        ann_probes_per_s=len(served) * ANN_BATCH / sum(lat),
        exact_probes_per_s=n_probes / exact_s,
        batches_served=len(served),
    )
    return {
        "write_rows": ANN_ITEMS,
        "write_s": build_s,
        "write_cpu_s": build_cpu_s,
        "write_probe_ms": [x * 1000 for x in write_probes],
        "query_cpu_ms": [x * 1000 for x in cpu],
        "probe_ms": [x * 1000 for x in probes_s],
        "query_ms": [x * 1000 for x in lat],
        "recall": hits / (K * ANN_BATCH * len(served)),
    }


# --------------------------------------------------------------------------
# curation layers (traced rag runs only)
# --------------------------------------------------------------------------

CURATION_QUERY = "curation_v3_pipeline"


def _docs_table(rows) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": [r[1] for r in rows],
            "lang": [r[2] for r in rows],
            "source": [r[3] for r in rows],
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }
    )


def _canonical(df) -> list[tuple]:
    """Order-insensitive canonical rows (exact values, as strings)."""
    cols = sorted(df.columns)
    return sorted(
        tuple("NULL" if v is None else repr(v) if isinstance(v, float) else str(v)
              for v in row)
        for row in df[cols].itertuples(index=False)
    )


def curation_layers(ctx: Ctx) -> None:
    """The curation layers, run in rag's traced run (see README.md): a
    warm-up composed run on docs from another seed, then one composed run
    on the seed's docs (a build span and an exec span), checked row for
    row against its DuckDB oracle, then each stage standalone on the same
    docs."""
    import duckdb

    Q = _mod("queries")
    query = Q.QUERIES[CURATION_QUERY]
    spark, tr, out = ctx.spark, ctx.tracer, ctx.out
    warm, corpus, sink = f"{ctx.tmp}/cur_warm", f"{ctx.tmp}/cur", f"{ctx.tmp}/cur_out"
    rows, _ = gen.curation_docs(ctx.seed + 10_000, 40)
    _write_parquet(f"{warm}/documents.parquet", _docs_table(rows))
    out.run("curation_warmup", lambda: query(spark, warm).write.mode("overwrite").parquet(sink))
    rows, props = gen.curation_docs(ctx.seed, CURATION_DOCS)
    _write_parquet(f"{corpus}/documents.parquet", _docs_table(rows))

    t0 = time.perf_counter()
    with tr.span("operators.dedup.curate_corpus_v2.build"):
        df = out.run("curation_build", query, spark, corpus)
    with tr.span("operators.dedup.curate_corpus_v2.exec"):
        out.run("curation_exec", lambda: df.write.mode("overwrite").parquet(sink))
    run_s = time.perf_counter() - t0

    got = pq.read_table(sink).to_pandas()
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{corpus}/documents.parquet'")
    want = con.execute(Q.ORACLES[CURATION_QUERY]).fetchdf()
    con.close()
    out.check("curation_oracle_columns", sorted(got.columns) == sorted(want.columns))
    g, w = _canonical(got), _canonical(want)
    out.check("curation_oracle_rows", g == w, f"({len(g)} vs {len(w)} rows)")

    _curation_stages(ctx, corpus)
    ctx.report["curation"] = {
        "input": props, "run_s": run_s, "output_rows": len(g), "oracle_rows": len(w),
    }
    ctx.report.setdefault("ratios", {})["curation.docs_per_s"] = CURATION_DOCS / run_s


def _curation_stages(ctx: Ctx, corpus: str) -> None:
    """Each stage of the composition run standalone on the same corpus
    (with the query's stop-word overlay), one span each.  These are not
    expected to add up to the composed wall time."""
    from pyspark.sql import functions as F

    Q = _mod("queries")
    T = _mod("operators.textstats")
    D = _mod("operators.dedup")
    S = _mod("operators.selection")
    spark, tr = ctx.spark, ctx.tracer
    overlay = Q.curation._V3_OVERLAY
    docs = spark.read.parquet(f"{corpus}/documents.parquet").withColumn(
        "text",
        F.when(F.col("doc_id") % 2 == 0, F.concat(F.lit(overlay), F.col("text")))
        .otherwise(F.col("text")),
    )
    with tr.span("textstats.gopher_quality_flags"):
        _noop(T.gopher_quality_flags(docs))
    with tr.span("textstats.surprisal_tercile_buckets"):
        _noop(T.surprisal_tercile_buckets(docs))
    with tr.span("dedup.exact_dedup"):
        _noop(D.exact_dedup(docs))
    with tr.span("dedup.strip_dup_ngrams"):
        _noop(D.strip_dup_ngrams(docs, n=8))
    pairs_path = f"{ctx.tmp}/cur_pairs"
    with tr.span("dedup.jaccard_pairs"):
        D.jaccard_pairs(docs, n=3, threshold=0.8, max_df=5).write.mode(
            "overwrite"
        ).parquet(pairs_path)
    with tr.span("dedup.connected_components"):
        _noop(D.connected_components(spark.read.parquet(pairs_path)))
    with tr.span("selection.dsir_select"):
        _noop(
            S.dsir_select(
                docs.select("doc_id", "lang", "text"), F.col("lang") == "en", k=100
            )
        )


# The benchmark's workloads, in BENCHMARK.json order.
WORKLOADS = {
    "rag": (rag_setup, rag),
    "ann_batch": (ann_setup, ann_batch),
}
