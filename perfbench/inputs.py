"""Seeded benchmark inputs, generated outside the program and cached on disk.

Every input is a pure function of ``--seed``: the seed picks a page-id
window of the synthetic corpus (``generate_page`` is a pure function of the
page id), the pages a delta snapshot deletes or modifies, the draws of the
serve request mix, and the rows of the small tables the iterative queries
read. Seeds congruent modulo ``N_WINDOWS`` share a page window, so a
checkout fills at most ``N_WINDOWS`` corpus caches per workload.

Caches live under the checkout's ``.perfbench_work/cache`` directory, keyed
by ``CORPUS_VERSION`` and the window (and, for outputs computed by the
program itself, by a digest of the package sources). The program only ever
sees the staged parquet files. Each function takes ``fill``: only the fill
step (``run.py --fill``) makes a missing entry; a measured run reads.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import random
import shutil

N_WINDOWS = 2
WINDOW_BASE = 1_000_000  # far past the link universe and every test fixture
WINDOW_STRIDE = 100_000
LINK_CORE = 256  # pages 0..255: the fixed link universe every page links into
FUSED_FILES = 16  # parquet files of the fused-build corpus: one scan task each


def window_start(seed: int) -> int:
    return WINDOW_BASE + (seed % N_WINDOWS) * WINDOW_STRIDE


def package_digest() -> str:
    """Digest of the package sources: a cached output of the program or of
    its oracle is reused only by the code that produced it."""
    import chunksilo_spark

    h = hashlib.sha1()
    pkg = os.path.dirname(os.path.abspath(chunksilo_spark.__file__))
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


@contextlib.contextmanager
def fresh_dir(path: str):
    """Yield a temp sibling of ``path``; rename it into place on success so
    an interrupted fill never leaves a half-written cache entry."""
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        yield tmp
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def ensure(path: str, make, fill: bool) -> str:
    """The cache directory ``path``, complete once it holds ``_DONE``. A
    missing entry is made by ``make(tmp_dir)`` when ``fill`` is set; a
    measured run (``fill`` unset) never makes one, so no fill work can
    land inside its timings or its memory peak."""
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    if not fill:
        raise RuntimeError(f"input cache entry {os.path.basename(path)} is missing: "
                           "the fill step did not make it")
    with fresh_dir(path) as tmp:
        make(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
    return path


# ---------------------------------------------------------------------------
# pages


def page_dicts(ids) -> list[dict]:
    from chunksilo_spark.sources.corpus import build_entity_pool, generate_page

    pool = build_entity_pool()
    return [generate_page(int(i), pool) for i in ids]


def write_pages(pages: list[dict], out_dir: str, n_files: int) -> None:
    """Stage page dicts as parquet with the corpus ``PAGES_SCHEMA``
    (timestamps UTC-adjusted so Spark reads them as ``timestamp``), split
    over ``n_files`` files so a scan has that many tasks."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(pages) // n_files)
    for i in range(n_files):
        part = pages[i * per : (i + 1) * per]
        if not part:
            break
        table = pa.table(
            {
                "url": [p["url"] for p in part],
                "warc_ts": [p["warc_ts"] for p in part],
                "html": [p["html"] for p in part],
                "text": [None] * len(part),
                "lang": [p["lang"] for p in part],
            },
            schema=schema,
        )
        pq.write_table(table, os.path.join(out_dir, f"part-{i:05d}.parquet"))


def _cached_pages(cache: str, name: str, build, n_files: int, fill: bool) -> str:
    return ensure(os.path.join(cache, name), lambda tmp: write_pages(build(), tmp, n_files),
                  fill)


def fused_pages(cache: str, seed: int, n_pages: int, fill: bool) -> tuple[str, list[int]]:
    """The fused-build corpus: the fixed link core (so the crawl link graph
    has edges) plus ``n_pages - LINK_CORE`` pages of the seed's window."""
    from chunksilo_spark.sources.corpus import CORPUS_VERSION

    lo = window_start(seed)
    ids = list(range(LINK_CORE)) + list(range(lo, lo + n_pages - LINK_CORE))
    name = f"fused_v{CORPUS_VERSION}_{lo}_{n_pages}"
    return _cached_pages(cache, name, lambda: page_dicts(ids), FUSED_FILES, fill), ids


def snapshots(cache: str, seed: int, n_pages: int, fill: bool) -> dict:
    """Two crawl snapshots of one window. Snapshot 2 deletes 10 % of the
    pages, modifies 5 % (html edited) and adds ``n_pages // 10`` new ones;
    which pages is drawn from the seed's window index."""
    from chunksilo_spark.sources.corpus import CORPUS_VERSION

    lo = window_start(seed)
    ids1 = list(range(lo, lo + n_pages))
    rng = random.Random(seed % N_WINDOWS)
    shuffled = ids1[:]
    rng.shuffle(shuffled)
    n_del, n_mod = n_pages // 10, n_pages // 20
    deleted = set(shuffled[:n_del])
    modified = set(shuffled[n_del : n_del + n_mod])
    added = list(range(lo + n_pages, lo + n_pages + n_pages // 10))
    key = f"v{CORPUS_VERSION}_{lo}_{n_pages}"

    def snap2() -> list[dict]:
        out = []
        for p in page_dicts([i for i in ids1 if i not in deleted] + added):
            if p["page_id"] in modified:
                p = dict(p, html=p["html"] + b"<p>Revised for the new crawl.</p>")
            out.append(p)
        return out

    return {
        "s1": _cached_pages(cache, f"snap1_{key}", lambda: page_dicts(ids1), 8, fill),
        "s2": _cached_pages(cache, f"snap2_{key}", snap2, 8, fill),
        "key": key,
        "n_deleted": n_del,
        "n_modified": n_mod,
        "n_added": len(added),
    }


# ---------------------------------------------------------------------------
# oracle triple sets (plans/oracle.py semantics on a page window)


def oracle_triples(cache: str, name: str, pages_fn, fill: bool) -> str:
    """``plans.oracle.run_oracle`` over an explicit page list instead of
    pages ``0..n-1``: the oracle module's page source is swapped for the
    window for the duration of the call, so the semantics are the oracle's
    own code, unmodified. Returns the cache entry; ``load_triples`` reads
    it."""

    def make(tmp: str) -> None:
        from chunksilo_spark.plans import oracle

        pages = pages_fn()
        saved = oracle.golden_pages
        oracle.golden_pages = lambda _n: pages
        try:
            triples = oracle.run_oracle(len(pages))["triples"]
        finally:
            oracle.golden_pages = saved
        with open(os.path.join(tmp, "triples.json"), "w") as f:
            json.dump(sorted(triples), f)

    return ensure(os.path.join(cache, f"oracle_{name}_{package_digest()}"), make, fill)


def load_triples(entry: str) -> set:
    with open(os.path.join(entry, "triples.json")) as f:
        return {tuple(t) for t in json.load(f)}


# ---------------------------------------------------------------------------
# tables for the declared iterative queries

_VOCAB = (
    "spark join window table scan key agg row slow fast value part hash merge "
    "batch line sort order data column query customer group filter stream "
    "small big vector the a"
).split()
_LANGS = ["en"] * 8 + ["de", "es"]
_EVENT_TYPES = ["click", "purchase", "view", "signup", "error"]


def query_tables(cache: str, seed: int, n_docs: int, n_events: int, fill: bool) -> str:
    """``documents`` (doc_id 0..n-1 contiguous, as the derived-edge queries
    require, with exact and near duplicates for the dedup family) and
    ``events`` (the claims relation of ``kg_bgp_match``), drawn from the
    seed."""
    return ensure(os.path.join(cache, f"qtables_{seed}_{n_docs}_{n_events}"),
                  lambda tmp: _write_query_tables(tmp, seed, n_docs, n_events), fill)


def _write_query_tables(out_dir: str, seed: int, n_docs: int, n_events: int) -> None:
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed * 7919 + 11)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 8 and r < 0.06:
            text = texts[rng.randrange(i)]  # exact duplicate
        elif i > 8 and r < 0.18:
            words = texts[rng.randrange(i)].split()
            for _ in range(max(1, len(words) // 12)):
                words[rng.randrange(len(words))] = rng.choice(_VOCAB)
            text = " ".join(words)  # near duplicate
        else:
            text = " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(20, 70)))
        texts.append(text)
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [rng.choice(_LANGS) for _ in range(n_docs)],
            "source": [f"src{i % 7}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    t0 = dt.datetime(2024, 1, 1)
    events = pa.table(
        {
            "event_id": pa.array(range(n_events), pa.int64()),
            "ts": pa.array(
                [t0 + dt.timedelta(seconds=rng.randrange(86400 * 30))
                 for _ in range(n_events)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array(
                [rng.randrange(n_events // 40 + 1) for _ in range(n_events)],
                pa.int64(),
            ),
            "event_type": [rng.choice(_EVENT_TYPES) for _ in range(n_events)],
            "value": [round(rng.uniform(0.01, 400.0), 2) for _ in range(n_events)],
            "props": ["{}"] * n_events,
        }
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))
