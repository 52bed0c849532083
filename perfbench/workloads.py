"""The two workloads. Each runs set-up, timed phases and correctness checks
against the package's public entry points, and fills ``ctx.metrics`` (the
end-to-end metrics) and ``ctx.layers`` (the per-layer metrics).

``build_iterate`` never touches table storage: the fused KG build
(``operators.fused`` + ``operators.canon``), sized so that the kernel pass
is its largest layer, then BGP matching and the crawl link graph's
PageRank. Traced runs add the round-bound iterative operators and the same
build at ``local[1]``.

``maintain_serve`` is the read path then the write path: a closed loop with
one client sending one request per serve API over a staged snapshot-1
store, then a delta snapshot applied incrementally to that store. Traced
runs add BM25, the dedup family and a timed from-scratch staged build.

Inputs come from ``fill``, run in a process of its own before a measured
run starts; the workloads only read them.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from statistics import median as _median

from . import checks, inputs

# input sizes (pages, docs, events); perfbench/LAYERS.md gives the reasons
N_FUSED = 20000
# of the fused corpus's 16 files, the first 2 (the link core and 2 244 pages
# after it) are the warm-up build's input and the link graph's
HEAD_FILES = 2
N_STAGED = 600
N_DOCS = 300
N_EVENTS = 3000
# the declared queries of __spark_entry__.queries() each workload times:
# BGP matching beside the fused build. The others run in traced runs only:
# the round-bound operators (star-star connected components, HITS,
# HyperBall, and the dedup family's verified near-duplicates closed by
# connected components), because one cold star-star pass alone costs a
# third of an untraced run's share of the benchmark's time budget, and
# BM25, whose time buys serve passes instead
ITERATIVE_BUILD = ("kg_bgp_match",)
ITERATIVE_BUILD_TRACED = ("g_components_starstar", "g_hits", "g_hyperball")
ITERATIVE_SERVE_TRACED = ("u5_bm25", "d_dedup_clusters")
PAGERANK_ITERS = 5
MIN_PRECISION_RECALL = 0.95  # the paper's bar for the triple set
SEARCH_WORDS = 8  # words of the remembered passage a search sends
# timed repetitions, each after one untimed warm-up. A build costs 8 s and
# a query pass 4.3 s, so each takes the median (the mean) of two warm ones.
# A serve pass costs 2.7 s and its median is over five: slow phases of the
# host that last a pass or two drop out, and so does the first warm pass,
# often 20-45 % slower than the rest. Traced runs take the serve spans from
# three
MIN_BUILDS = 2
MIN_QUERY_PASSES = 2
MIN_SERVE_PASSES = 5
MIN_SERVE_PASSES_TRACED = 3


def tail(values: list[float]) -> tuple[float, int, int]:
    """The highest percentile with at least ten samples beyond it ->
    (value, percentile, n). Below 20 samples that percentile would not
    exceed the median, so the maximum is reported, as p100."""
    s = sorted(values)
    n = len(s)
    if n < 20:
        return s[-1], 100, n
    idx = n - 11  # ten samples lie above s[idx]
    return s[idx], int(100 * (idx + 1) / n), n


def _timed_loop(fn, seconds: float, min_reps: int, check=None) -> list[float]:
    """Walls of ``fn()`` repeated at least ``min_reps`` times and for at
    least ``seconds``; ``check`` gets each result outside the timing."""
    walls, t_end = [], time.perf_counter() + seconds
    while len(walls) < min_reps or time.perf_counter() < t_end:
        t = time.perf_counter()
        out = fn()
        walls.append(time.perf_counter() - t)
        if check is not None:
            check(out)
    return walls


def _median_wall(fn, reps: int = 3) -> float:
    return _median(_timed_loop(fn, 0, reps))


# ---------------------------------------------------------------------------
# inputs: made once per checkout by ``fill`` in a process of its own, then
# only read by the measured runs


def build_inputs(cache: str, seed: int, fill: bool = False) -> dict:
    pages_dir, ids = inputs.fused_pages(cache, seed, N_FUSED, fill)
    return {
        "pages": pages_dir,
        "reference": inputs.oracle_triples(
            cache, f"fused_{inputs.window_start(seed)}_{N_FUSED}",
            lambda: inputs.page_dicts(ids), fill),
    }


def serve_inputs(cache: str, seed: int, spark=None, fill: bool = False) -> dict:
    """The two snapshots, the oracle on snapshot 2, and two stores the
    pipeline materialized: snapshot 1 (served, then maintained) and
    snapshot 2 built from scratch (what the increment must reproduce).
    ``spark`` is a callable giving a session, used only to fill."""
    from chunksilo_spark.plans.pipeline import run_pipeline
    from chunksilo_spark.sources.corpus import aliases_df

    snaps = inputs.snapshots(cache, seed, N_STAGED, fill)
    out = dict(snaps, reference=inputs.oracle_triples(
        cache, f"staged2_{snaps['key']}", lambda: _snapshot2_pages(snaps["s2"]), fill))
    digest = inputs.package_digest()
    for name in ("s1", "s2"):
        def build(tmp, src=snaps[name], name=name):
            session = spark()
            run_pipeline(session, session.read.parquet(src), aliases_df(session), tmp,
                         fingerprint=name)
        out[f"store_{name}"] = inputs.ensure(
            os.path.join(cache, f"store_{name}_{snaps['key']}_{digest}"), build, fill)
    return out


def fill(cache: str, seed: int, spark) -> None:
    """Make every cached input of every workload, for every page window
    (seeds ``0..N_WINDOWS-1`` name them) and this seed's query tables. The
    fused corpora's oracles are single-threaded Python: they run in worker
    processes, forked before any JVM starts, while this one builds the
    stores."""
    from concurrent.futures import ProcessPoolExecutor

    windows = range(inputs.N_WINDOWS)
    with ProcessPoolExecutor(len(windows)) as pool:
        jobs = [pool.submit(build_inputs, cache, w, True) for w in windows]
        for w in windows:
            serve_inputs(cache, w, spark, fill=True)
        for job in jobs:
            job.result()
    inputs.query_tables(cache, seed, N_DOCS, N_EVENTS, fill=True)


# ---------------------------------------------------------------------------
# kernels (driver-side, fixed page sample; traced runs only)


def kernel_metrics(seed: int) -> dict[str, float]:
    from chunksilo_spark.functions.chunk import chunk_text, split_sentences
    from chunksilo_spark.functions.embed import cosine_topk, normalize_rows
    from chunksilo_spark.functions.extract import extract_text
    from chunksilo_spark.functions.minhash import minhash_signatures_batch
    from chunksilo_spark.functions.triples import (
        extract_mentions,
        extract_triples_from_text,
        normalize_surface,
    )
    from chunksilo_spark.models import BowEmbedder
    from chunksilo_spark.sources.corpus import build_entity_pool

    lo = inputs.window_start(seed)
    pages = inputs.page_dicts(range(lo, lo + 200))
    htmls = []
    for p in pages:
        try:
            htmls.append(p["html"].decode("utf-8", "strict"))
        except UnicodeDecodeError:
            pass
    texts = [extract_text(h) for h in htmls]
    en = [t for t, p in zip(texts, pages) if p["lang"] == "en"]
    chunks = [c[1] for t in texts for c in chunk_text(t)]
    surfaces = [s for t in en for a, b in split_sentences(t)
                for s, _, _ in extract_mentions(t[a:b])]
    emb = BowEmbedder()
    alias_mat = normalize_rows(emb.embed([a for al in build_entity_pool() for a in al]))
    queries = normalize_rows(emb.embed(surfaces))
    shingles = [normalize_surface(s).split() for s in surfaces]

    def per_item(fn, n):
        return _median_wall(fn) / max(n, 1) * 1e6

    def mentions_all():
        for t in en:
            for a, b in split_sentences(t):
                extract_mentions(t[a:b])

    return {
        "functions.extract.extract_text.us_per_page":
            per_item(lambda: [extract_text(h) for h in htmls], len(htmls)),
        "functions.triples.extract_triples_from_text.us_per_doc":
            per_item(lambda: [extract_triples_from_text(t) for t in en], len(en)),
        "functions.triples.extract_mentions.us_per_doc": per_item(mentions_all, len(en)),
        "functions.chunk.chunk_text.us_per_doc":
            per_item(lambda: [chunk_text(t) for t in texts], len(texts)),
        "models.BowEmbedder.embed.us_per_text": per_item(lambda: emb.embed(chunks), len(chunks)),
        "functions.embed.cosine_topk.us_per_query":
            per_item(lambda: cosine_topk(queries, alias_mat, k=1), len(surfaces)),
        "functions.minhash.minhash_signatures_batch.us_per_surface":
            per_item(lambda: minhash_signatures_batch(shingles), len(shingles)),
    }


# ---------------------------------------------------------------------------
# build_iterate


def fused_job(spark, pages, cores: int, tr):
    """pages -> canonical triples, the fused throughput mode (the same
    composition as the frozen bench's kg_pipeline job), persisted and
    counted; the caller unpersists it. With tracing on, every layer
    boundary is forced with a persist + count so each span holds its own
    layer's work."""
    from pyspark import StorageLevel

    from chunksilo_spark.operators import fused as fz
    from chunksilo_spark.operators import stage2_link as s2
    from chunksilo_spark.operators.canon import canon_map, normalize_column
    from chunksilo_spark.sources.corpus import aliases_df

    forced = tr.enabled
    keep = []

    def boundary(df):
        if forced:
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            keep.append(df)
            return df, df.count()
        return df, None

    with tr.span("operators.stage2_link.build_alias_broadcast"):
        alias_bc = s2.build_alias_broadcast(spark, aliases_df(spark))
    with tr.span("operators.fused.fused_linked_triples"):
        fused = fz.fused_linked_triples(pages, alias_bc).persist(StorageLevel.MEMORY_AND_DISK)
        keep.append(fused)
        if forced:
            tr.count("operators.fused.fused_linked_triples.rows_out", fused.count())
    with tr.span("operators.fused.distinct_norms"):
        norms, _ = boundary(fz.distinct_norms(fused))
    with tr.span("operators.canon.canon_map"):
        surfaces, n_in = boundary(
            norms.unionByName(normalize_column(aliases_df(spark), "alias")).distinct()
        )
        if forced:
            tr.count("operators.canon.canon_map.surfaces_in", n_in)
        canon, _ = boundary(canon_map(surfaces, partitions=max(8, cores // 2)))
    with tr.span("operators.fused.canonical_from_fused"):
        out = fz.canonical_from_fused(fused, canon).persist(StorageLevel.MEMORY_AND_DISK)
        out.count()
    for df in keep:
        df.unpersist()
    return out


TRIPLE_COLS = ("url", "subj_canon", "pred", "obj_canon")


def _digest(df) -> tuple:
    """(rows, sum of row hashes): equal for equal multisets of triples."""
    from pyspark.sql import functions as F

    r = df.select(F.count("*"), F.sum(F.xxhash64(*TRIPLE_COLS).cast("decimal(38,0)"))).first()
    return int(r[0]), int(r[1] or 0)


def _run_declared(ctx, names, qdir, tracer=None) -> tuple[dict, dict]:
    """Run each declared query of ``__spark_entry__.queries()`` once with a
    collect sink -> (wall per query, (columns, rows) per query)."""
    import __spark_entry__ as entry_mod

    qs, walls, results = entry_mod.queries(), {}, {}
    for name in names:
        with (tracer or ctx.tracer).span(f"iterative_ops.{name}"):
            t = time.perf_counter()
            sdf = qs[name](ctx.spark, qdir)
            rows = [tuple(r) for r in sdf.collect()]
            walls[name] = time.perf_counter() - t
        results[name] = (list(sdf.columns), rows)
    ctx.attempted += len(walls)
    return walls, results


def _check_declared(ctx, qdir, results) -> None:
    for msg in checks.iterative_oracle_failures(qdir, results):
        ctx.fail(msg)


def _report_walls(ctx, walls: dict[str, list[float]]) -> None:
    """Per-query median walls as layers; the suite wall is their sum."""
    for name, ws in walls.items():
        ctx.layer(f"{name}.s", _median(ws))
    ctx.layer("workload.suite_wall_s", ctx.layers.get("workload.suite_wall_s", 0.0)
              + sum(_median(ws) for ws in walls.values()))
    ctx.note("query walls (median): " + ", ".join(
        f"{n} {_median(w):.2f} s" for n, w in walls.items()))


def _traced_declared(ctx, names, qdir) -> None:
    walls, results = _run_declared(ctx, names, qdir)
    _check_declared(ctx, qdir, results)
    _report_walls(ctx, {f"iterative_ops.{n}": [w] for n, w in walls.items()})


def build_iterate(ctx) -> None:
    import glob

    from chunksilo_spark.operators import graph as g

    tr, seed, secs = ctx.tracer, ctx.seed, ctx.seconds
    paths = build_inputs(ctx.cache, seed)
    qdir = inputs.query_tables(ctx.cache, seed, N_DOCS, N_EVENTS, fill=False)
    spark = ctx.spark
    off = tr.disabled_copy()
    files = sorted(glob.glob(os.path.join(paths["pages"], "*.parquet")))
    pages = spark.read.parquet(*files)

    def warm_up(session, cores) -> float:
        """A build of the first files: the JVM compiles the plans and the
        Python workers start, so that every timed build runs warm."""
        t = time.perf_counter()
        fused_job(session, session.read.parquet(*files[:HEAD_FILES]), cores, off).unpersist()
        return time.perf_counter() - t

    # the warm-up's wall holds the JVM's first parquet scan, so the loads
    # after it (their median counts) are warm
    ctx.setup_s += warm_up(spark, ctx.cores)
    ctx.setup_s += _median_wall(lambda: spark.read.parquet(*files).count())
    ctx.note("set-up done")

    # -- fused build at local[n]. The first build's triples are scored
    #    against the oracle, and every build after it must hash to the same
    #    multiset -------------------------------------------------------------
    first: list = []

    def check_build(out) -> None:
        if not first:
            got = {tuple(r) for r in out.select(*TRIPLE_COLS).collect()}
            _score_triples(ctx, "fused", got, inputs.load_triples(paths["reference"]))
            first.append(_digest(out))
        elif _digest(out) != first[0]:
            ctx.fail("fused build: triples differ from the first build's")
        out.unpersist()

    def build_at(session, df, cores, tracer, reps):
        walls = _timed_loop(lambda: fused_job(session, df, cores, tracer), secs, reps,
                            check_build)
        ctx.attempted += len(walls)
        return walls

    # every build is warm: two give the median. A traced run reports no
    # end-to-end metric; one build gives the untraced wall it compares with
    build_walls = build_at(spark, pages, ctx.cores, off, 1 if tr.enabled else MIN_BUILDS)
    pps = N_FUSED / _median(build_walls)
    ctx.metrics["write_pages_per_s"] = pps
    ctx.note(f"fused builds: {', '.join(f'{w:.2f}' for w in build_walls)} s")

    if tr.enabled:
        with tr.span("bench.fused_build"):
            t = time.perf_counter()
            out = fused_job(spark, pages, ctx.cores, tr)
            traced = time.perf_counter() - t
        ctx.attempted += 1
        check_build(out)
        ctx.trace_phase("fused_build", _median(build_walls), traced)

    # -- query passes: BGP matching and the PageRank of the link graph of the
    #    corpus's first files. The first pass is cold (a cold pass alone
    #    varied 40 % between runs) and is a warm-up, part of setup_s; the
    #    median of at least two warm passes follows. Every pass is checked --
    link_pages = spark.read.parquet(*files[:HEAD_FILES])
    walls: dict[str, list[float]] = {}

    def query_pass(tracer=tr):
        q_walls, results = _run_declared(ctx, ITERATIVE_BUILD, qdir, tracer)
        with tracer.span("operators.graph.crawl_edges"):
            t1 = time.perf_counter()
            edges = g.crawl_edges(link_pages).localCheckpoint()
            n_edges = edges.count()
            q_walls["operators.graph.crawl_edges"] = time.perf_counter() - t1
        with tracer.span("operators.graph.pagerank"):
            t1 = time.perf_counter()
            ranks = g.pagerank(edges, iters=PAGERANK_ITERS).collect()
            q_walls["operators.graph.pagerank"] = time.perf_counter() - t1
        for name, w in q_walls.items():
            walls.setdefault(name if name.startswith("operators.") else
                             f"iterative_ops.{name}", []).append(w)
        return results, edges, n_edges, ranks

    def check_pass(out) -> None:
        results, edges, n_edges, ranks = out
        _check_declared(ctx, qdir, results)
        edge_rows = edges.collect()
        endpoints = {r[0] for r in edge_rows} | {r[1] for r in edge_rows}
        total = sum(r["rank"] for r in ranks)
        ctx.attempted += 1
        if n_edges == 0 or {r["node"] for r in ranks} != endpoints or abs(total - 1.0) > 1e-6:
            ctx.fail(f"pagerank: {len(ranks)} ranks over {n_edges} edges, mass {total}")

    t = time.perf_counter()
    warm = query_pass(off)
    ctx.setup_s += time.perf_counter() - t
    check_pass(warm)
    walls.clear()
    ctx.metrics["query_wall_s"] = _median(
        _timed_loop(query_pass, secs, MIN_QUERY_PASSES, check_pass))
    _report_walls(ctx, walls)

    # -- traced runs: the iterative family, then the same build at local[1]
    #    (the N-vs-4N criterion) -----------------------------------------
    if tr.enabled:
        _traced_declared(ctx, ITERATIVE_BUILD_TRACED, qdir)
        spark = ctx.restart_spark(1)
        warm_up(spark, 1)
        walls1 = build_at(spark, spark.read.parquet(*files), 1, off, 1)
        pps1 = N_FUSED / _median(walls1)
        ctx.layer("workload.scaling_efficiency", (pps / ctx.cores) / pps1)
        ctx.note(f"fused build: {pps:.1f} pages/s at local[{ctx.cores}] ({len(build_walls)} "
                 f"builds), {pps1:.1f} pages/s at local[1] ({len(walls1)} builds)")


def _score_triples(ctx, label, got: set, reference: set) -> None:
    from chunksilo_spark.plans.oracle import precision_recall

    prec, rec = precision_recall(got, reference)
    ctx.metrics["triple_precision"], ctx.metrics["triple_recall"] = prec, rec
    if min(prec, rec) < MIN_PRECISION_RECALL:
        ctx.fail(f"{label} triples: precision {prec:.4f} recall {rec:.4f} "
                 f"below {MIN_PRECISION_RECALL}")


# ---------------------------------------------------------------------------
# maintain_serve


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files
                     if f.endswith(".parquet"))
    return total


def _num_rows(path: str) -> int:
    return checks.read_table(path, []).num_rows


def _serve_requests(seed: int, ref) -> list[tuple]:
    """One request per serve API, in the order of a user session: a search,
    then an entity resolved by ``entity_lookup`` (the step ``kg_api`` says
    every other call starts from), its neighbourhood and a two-hop pattern
    query. ``related_entities`` (personalized PageRank: 3.5 s warm, 6.5 s
    cold, more than the rest of a pass) runs outside the loop, on the same
    entity, in traced runs only. The repository has no query log, so the
    equal weights and the draws below are assumptions (perfbench/LAYERS.md).

    The search is a known-item search, as ``scripts/serve.py``'s
    ``search_docs`` takes it: the first words of a seeded stored chunk,
    restricted to the calendar year of its document."""
    rng = random.Random(seed * 31 + 7)
    i = rng.randrange(len(ref.c_text))
    words = ref.c_text[i].replace('"', " ").split()[:SEARCH_WORDS]
    year = ref.doc_ts[ref.c_url[i]].year
    search = (" ".join(words), f"{year}-01-01", f"{year}-12-31")
    e = ref.edges
    ids = sorted(set(e["subj_canon_id"]) | set(e["obj_canon_id"]))
    cid = int(rng.choice(ids))
    surface = ref.nodes.loc[ref.nodes["canon_id"] == cid, "canon_surface"].iloc[0]
    preds = sorted(set(e["pred"]))
    return [
        ("search", search),
        ("entity_lookup", surface),
        ("neighborhood", [cid]),
        ("answer_bgp", (rng.choice(preds), rng.choice(preds))),
    ]


def _serve_one(kind, arg, tabs, tr):
    from chunksilo_spark.plans import kg_api
    from chunksilo_spark.plans.search_api import run_search

    if kind == "search":
        query, date_from, date_to = arg
        with tr.span("plans.search_api.run_search"):
            return run_search(tabs["documents"], tabs["chunks"], query,
                              date_from=date_from, date_to=date_to)
    with tr.span(f"plans.kg_api.{kind}"):
        if kind == "entity_lookup":
            return kg_api.entity_lookup(tabs["nodes"], arg).collect()
        if kind == "neighborhood":
            return kg_api.neighborhood(tabs["edges"], arg).collect()
        if kind == "answer_bgp":
            p1, p2 = arg
            return kg_api.answer_bgp(
                tabs["edges"], [("?a", p1, "?b"), ("?b", p2, "?c")],
                select=["a", "b", "c"]).collect()
        return kg_api.related_entities(tabs["edges"], arg).collect()


def _search_layers(query, tabs, tr) -> None:
    """Traced runs: the layers run_search composes, called one by one."""
    from chunksilo_spark.functions.textstats import (
        extract_quoted_phrases,
        preprocess_query,
        tokenize_filename,
    )
    from chunksilo_spark.operators.retrieval import search_index
    from chunksilo_spark.operators.search import EMBED_TOP_K, rerank
    from chunksilo_spark.plans.search_api import bm25_filename_scores

    _phrases, cleaned = extract_quoted_phrases(query)
    cleaned = preprocess_query(cleaned)
    with tr.span("operators.retrieval.search_index"):
        hits = search_index(tabs["chunks"], cleaned, k=EMBED_TOP_K).localCheckpoint()
        hits.count()
    with tr.span("operators.search.rerank"):
        rerank(hits, cleaned, text_col="text", id_col="url", tiebreak_col="chunk_id").collect()
    with tr.span("plans.search_api.bm25_filename_scores"):
        bm25_filename_scores(tabs["documents"], tokenize_filename(cleaned)).collect()


def _check_answer(ref, kind, arg, got) -> list[str]:
    if kind == "search":
        return ref.check_search(arg, got)
    if kind == "entity_lookup":
        return ref.check_lookup(arg, got)
    if kind == "neighborhood":
        return ref.check_neighborhood(arg, got)
    if kind == "answer_bgp":
        return ref.check_bgp(arg[0], arg[1], got)
    return ref.check_related(arg, got)


def maintain_serve(ctx) -> None:
    from chunksilo_spark.operators import incremental as incr
    from chunksilo_spark.plans.pipeline import apply_increment, run_pipeline
    from chunksilo_spark.sources.corpus import aliases_df

    tr, seed, secs, spark = ctx.tracer, ctx.seed, ctx.seconds, ctx.spark
    paths = serve_inputs(ctx.cache, seed)
    qdir = inputs.query_tables(ctx.cache, seed, N_DOCS, N_EVENTS, fill=False)
    store = os.path.join(ctx.run_dir, "store")
    t = time.perf_counter()
    shutil.copytree(paths["store_s1"], store)
    tabs = {name: spark.read.parquet(os.path.join(store, name)).cache()
            for name in ("documents", "chunks", "nodes", "edges")}
    for df in tabs.values():
        df.count()
    ref = checks.ServeReference(store)
    reqs = _serve_requests(seed, ref)
    ctx.setup_s += time.perf_counter() - t
    # the table cache above holds the JVM's first parquet scan, so these
    # loads (their median counts) are warm
    ctx.setup_s += _median_wall(lambda: spark.read.parquet(paths["s1"]).count())

    # -- serve: closed loop, one client, over the snapshot-1 tables; each
    #    pass is the request mix. One warm-up pass (part of setup_s)
    #    compiles the plans and starts the Python workers; the median of at
    #    least five warm passes follows. Every answer of every pass is
    #    checked ------------------------------------------------------------
    lat: dict[str, list[float]] = {}

    def serve_pass(tracer=tr):
        answers = []
        for kind, arg in reqs:
            t = time.perf_counter()
            answers.append(_serve_one(kind, arg, tabs, tracer))
            lat.setdefault(kind, []).append(time.perf_counter() - t)
        return answers

    def check_pass(answers) -> None:
        ctx.attempted += len(reqs)
        for (kind, arg), got in zip(reqs, answers):
            for msg in _check_answer(ref, kind, arg, got):
                ctx.fail(msg)

    t = time.perf_counter()
    warm = serve_pass(tr.disabled_copy())
    ctx.setup_s += time.perf_counter() - t
    check_pass(warm)
    lat.clear()
    ctx.note("set-up done")

    serve_walls = _timed_loop(
        serve_pass, secs, MIN_SERVE_PASSES_TRACED if tr.enabled else MIN_SERVE_PASSES,
        check_pass)
    ctx.note(f"serve passes: {', '.join(f'{w:.2f}' for w in serve_walls)} s")
    ctx.metrics["query_wall_s"] = _median(serve_walls)
    if tr.enabled:
        _search_layers(reqs[0][1][0], tabs, tr)
        # related entities of the session's entity: once to warm up, once traced
        related = ("related_entities", reqs[2][1])
        for tracer in (tr.disabled_copy(), tr):
            ctx.attempted += 1
            for msg in _check_answer(ref, *related, _serve_one(*related, tabs, tracer)):
                ctx.fail(msg)
    for df in tabs.values():
        df.unpersist()
    search = lat["search"]
    kg = [x for k, v in lat.items() if k != "search" for x in v]
    for label, xs in (("search", search), ("kg_query", kg)):
        value, pct, n = tail(xs)
        ctx.layer(f"workload.{label}_p50_ms", _median(xs) * 1e3)
        ctx.layer(f"workload.{label}_tail_ms", value * 1e3)
        ctx.note(f"{label}: p50 {_median(xs) * 1e3:.1f} ms, tail p{pct} "
                 f"{value * 1e3:.1f} ms over n={n}")

    if tr.enabled:
        # BM25 once to warm up (it costs 0.5 s warm), then the traced queries
        _check_declared(ctx, qdir, _run_declared(ctx, ("u5_bm25",), qdir,
                                                 tr.disabled_copy())[1])
        _traced_declared(ctx, ITERATIVE_SERVE_TRACED, qdir)

    # -- maintain: apply snapshot 2 to the snapshot-1 store. One cold sample
    #    per run: no pipeline plan has run in this session before it --------
    aliases = aliases_df(spark)
    s2_pages = checks.read_table(paths["s2"], []).num_rows
    t = time.perf_counter()
    apply_increment(spark, spark.read.parquet(paths["s2"]), aliases, store, fingerprint="s2")
    t_incr = time.perf_counter() - t
    ctx.attempted += 1
    ctx.metrics["write_pages_per_s"] = s2_pages / t_incr
    ctx.layer("workload.increment_s", t_incr)
    ctx.layer("plans.pipeline.apply_increment.s", t_incr)
    ctx.note(f"increment {t_incr:.2f} s over {s2_pages} pages (-{paths['n_deleted']} "
             f"~{paths['n_modified']} +{paths['n_added']})")
    # the increment must leave exactly what a from-scratch build of snapshot
    # 2 writes; its triples are then scored against the oracle on snapshot 2
    for msg in checks.tables_equal(store, paths["store_s2"]):
        ctx.fail(msg)
    got = set(zip(*[checks.read_table(os.path.join(store, "triples"), [c]).column(0).to_pylist()
                    for c in TRIPLE_COLS]))
    _score_triples(ctx, "staged", got, inputs.load_triples(paths["reference"]))

    if not tr.enabled:
        return
    # -- traced runs: a timed staged build of snapshot 1, then snapshot 2
    #    applied to a copy of it with spans --------------------------------
    fresh = os.path.join(ctx.run_dir, "fresh")
    with tr.span("plans.pipeline.run_pipeline"):
        t = time.perf_counter()
        run_pipeline(spark, spark.read.parquet(paths["s1"]), aliases, fresh, fingerprint="s1")
        t_build = time.perf_counter() - t
    ctx.attempted += 1
    for msg in checks.tables_equal(fresh, paths["store_s1"]):
        ctx.fail(msg)
    ctx.layer("workload.staged_build_pages_per_s", N_STAGED / t_build)
    manifest = _read_manifest(fresh)
    for stage in PIPELINE_STAGES:
        ctx.layer(f"plans.pipeline.{stage}.s", manifest.get(stage, {}).get("wall_s", 0.0))
    _storage_layers(ctx, fresh, paths["s1"])
    traced_store = os.path.join(ctx.run_dir, "traced")
    shutil.copytree(fresh, traced_store)
    with tr.span("bench.staged_maintain"):
        t = time.perf_counter()
        with tr.span("operators.incremental.change_log"):
            t1 = time.perf_counter()
            log = incr.change_log(
                incr.with_content_hash(spark.read.parquet(paths["s2"])).select(
                    "url", "content_md5"),
                spark.read.parquet(os.path.join(traced_store, "documents")).select(
                    "url", "content_md5"))
            frontier = log.where(log.change.isin("new", "modified")).count()
            ctx.layer("operators.incremental.change_log.s", time.perf_counter() - t1)
            ctx.layer("operators.incremental.frontier_rows", frontier)
        with tr.span("plans.pipeline.apply_increment"):
            apply_increment(spark, spark.read.parquet(paths["s2"]), aliases, traced_store,
                            fingerprint="s2")
        traced = time.perf_counter() - t
    ctx.attempted += 1
    for msg in checks.tables_equal(traced_store, paths["store_s2"]):
        ctx.fail(msg)
    ctx.trace_phase("staged_maintain", t_incr, traced)


def _snapshot2_pages(s2_dir: str) -> list[dict]:
    import pyarrow.parquet as pq

    t = pq.read_table(s2_dir)
    return [
        {"url": u, "html": h, "lang": lang}
        for u, h, lang in zip(t.column("url").to_pylist(), t.column("html").to_pylist(),
                              t.column("lang").to_pylist())
    ]


def _read_manifest(store: str) -> dict:
    import json

    with open(os.path.join(store, "_manifest.json")) as f:
        return json.load(f)["stages"]


PIPELINE_STAGES = (
    "stage1_extract", "stage1_chunk", "stage1_quarantine", "stage2_mentions",
    "stage2_linked", "stage3_raw_triples", "stage3_canon", "stage3_triples",
    "stage4_nodes", "stage4_edges",
)


def _storage_layers(ctx, store, s1_dir) -> None:
    """Storage and waste ratios of a freshly built store."""
    build_bytes = _dir_bytes(store)
    input_bytes = _dir_bytes(s1_dir)
    ctx.layer("sources.storage.bytes_written", build_bytes)
    ctx.layer("sources.storage.bytes_per_input_byte", build_bytes / input_bytes)
    ctx.layer("plans.lineage.rows", _num_rows(os.path.join(store, "lineage")))
    mentions = _num_rows(os.path.join(store, "mentions"))
    linked = _num_rows(os.path.join(store, "linked_mentions"))
    ctx.layer("operators.stage2_link.linked_ratio", linked / mentions if mentions else 0.0)
    ctx.layer("operators.stage1_extract.quarantined_rows",
              _num_rows(os.path.join(store, "quarantine")))


WORKLOADS = {"build_iterate": build_iterate, "maintain_serve": maintain_serve}
