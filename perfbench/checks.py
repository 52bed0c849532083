"""Correctness checks, all run outside the timed regions.

Each check returns a list of failure strings (empty means the output is
correct); the workloads count every failure against ``attempted``.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import re

import numpy as np

# the columns tests/test_incremental.py compares between an incrementally
# maintained store and a from-scratch build (None: every column)
INCREMENT_TABLES = {
    "documents": ["url", "content_md5", "text", "n_chars", "ok"],
    "chunks": ["url", "chunk_id", "text", "char_start", "char_end"],
    "quarantine": ["url", "error"],
    "linked_mentions": None,
    "raw_triples": None,
    "canon_map": None,
    "triples": None,
    "nodes": None,
    "edges": None,
}


def read_table(path: str, columns=None):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").to_table(columns=columns)


def _rows(path: str, columns) -> list[tuple]:
    t = read_table(path, columns)
    cols = sorted(t.column_names) if columns is None else columns
    data = [t.column(c).to_pylist() for c in cols]
    return sorted(zip(*data), key=repr)


def tables_equal(got_dir: str, want_dir: str) -> list[str]:
    """Every maintained table equals the from-scratch build, row for row."""
    bad = []
    for table, cols in INCREMENT_TABLES.items():
        a = _rows(os.path.join(got_dir, table), cols)
        b = _rows(os.path.join(want_dir, table), cols)
        if a != b:
            bad.append(f"increment: table {table} differs from a from-scratch "
                       f"build ({len(a)} vs {len(b)} rows)")
    return bad


# ---------------------------------------------------------------------------
# serve: brute-force recomputation over the materialized tables


# The query-side semantics a search check needs, restated here from the
# reference's documented test doubles (test/conftest.py: the bag-of-words
# embedder and the term-overlap reranker) and its query parsing, so that a
# change to the program's own copies shows up as a failed check.
_EMBED_DIM = 384
_QUOTED_RE = re.compile(r'"([^"]+)"')
_CAMEL_RE = re.compile(r"([a-z])([A-Z])")
_FILENAME_SPLIT_RE = re.compile(r"[_\-.\s]+")


def split_query(query: str) -> tuple[list[str], str]:
    """-> (quoted phrases, the query without them, whitespace collapsed and
    trailing ``.,!?;`` stripped)."""
    phrases = _QUOTED_RE.findall(query)
    cleaned = re.sub(r"\s+", " ", re.sub(r'"[^"]*"', " ", query)).strip()
    return phrases, cleaned.rstrip(".,!?;").strip()


def embed_words(text: str) -> np.ndarray:
    """Each lowercased whitespace word adds 1 at ``sum(ord) % 384``;
    L2-normalized float32."""
    vec = np.zeros(_EMBED_DIM, dtype=np.float32)
    for word in text.lower().split():
        vec[sum(ord(c) for c in word) % _EMBED_DIM] += 1.0
    n = np.linalg.norm(vec)
    return vec / n if n > 0 else vec


def overlap_score(query: str, text: str) -> float:
    """Frequency-weighted term overlap per text token, times 100."""
    terms = query.lower().split()
    toks = text.lower().split()
    return round(sum(toks.count(t) for t in terms) / max(len(toks), 1) * 100.0, 6)


def filename_terms(name: str) -> list[str]:
    """Split on ``[_-.\\s]+`` and camelCase, lowercase, extension last."""
    parts = name.rsplit(".", 1)
    ext = parts[1].lower() if len(parts) == 2 and parts[1] else None
    terms = [t.lower() for t in _FILENAME_SPLIT_RE.split(_CAMEL_RE.sub(r"\1 \2", parts[0]))
             if t]
    return terms + [ext] if ext else terms


def _utc_naive(ts):
    return ts.astimezone(dt.timezone.utc).replace(tzinfo=None) if ts.tzinfo else ts


class ServeReference:
    """numpy/pandas recomputation of the search and KG answers from the
    parquet files the pipeline materialized."""

    def __init__(self, store_dir: str) -> None:
        import pyarrow.compute as pc

        ch = read_table(os.path.join(store_dir, "chunks"),
                        ["url", "chunk_id", "text", "embedding"])
        self.c_url = ch.column("url").to_pylist()
        self.c_id = ch.column("chunk_id").to_pylist()
        self.c_text = ch.column("text").to_pylist()
        flat = pc.list_flatten(ch.column("embedding")).to_numpy(zero_copy_only=False)
        self.emb = flat.astype(np.float32).reshape(len(self.c_url), -1)
        docs = read_table(os.path.join(store_dir, "documents"), ["url", "warc_ts"])
        self.doc_url = docs.column("url").to_pylist()
        self.doc_ts = {u: _utc_naive(t) for u, t in
                       zip(self.doc_url, docs.column("warc_ts").to_pylist())}
        self.nodes = read_table(os.path.join(store_dir, "nodes")).to_pandas()
        self.edges = read_table(os.path.join(store_dir, "edges")).to_pandas()

    # -- search (plans.search_api.run_search) --------------------------------
    def search(self, query: str, date_from, date_to, now: str = "2026-01-01") -> dict:
        from chunksilo_spark.operators import search as srch
        from chunksilo_spark.plans import search_api

        phrases, cleaned = split_query(query)
        q = embed_words(cleaned).astype(np.float64)
        # the JVM's order of operations: float*double products summed left
        # to right; squares in float, summed left to right in double
        dot = np.add.accumulate(self.emb.astype(np.float64) * q, axis=1)[:, -1]
        sq = (self.emb * self.emb).astype(np.float64)
        norm = np.sqrt(np.add.accumulate(sq, axis=1)[:, -1])
        with np.errstate(divide="ignore", invalid="ignore"):
            score = np.where(norm > 0, dot / norm, 0.0).astype(np.float32)
        order = sorted(range(len(score)),
                       key=lambda i: (-score[i], self.c_url[i], self.c_id[i]))
        top = order[: srch.EMBED_TOP_K]
        # date filter: a bound is a date cast to a UTC midnight timestamp
        lo = dt.datetime.fromisoformat(date_from) if date_from else None
        hi = dt.datetime.fromisoformat(date_to) if date_to else None
        top = [i for i in top
               if (lo is None or self.doc_ts[self.c_url[i]] >= lo)
               and (hi is None or self.doc_ts[self.c_url[i]] <= hi)]
        now_d = dt.date.fromisoformat(now)
        boosted = {}
        for i in top:
            age = (now_d - self.doc_ts[self.c_url[i]].date()).days
            decay = math.exp(-math.log(2.0) / srch.RECENCY_HALF_LIFE_DAYS * age)
            boosted[i] = float(score[i]) * (1.0 + srch.RECENCY_WEIGHT * decay)
        cands = sorted(top, key=lambda i: (-boosted[i], self.c_url[i], self.c_id[i]))
        cands = cands[: srch.RERANK_CANDIDATES]
        rr = [overlap_score(cleaned, self.c_text[i]) for i in cands]
        ranked = sorted(zip(cands, rr), key=lambda t: (-t[1], self.c_url[t[0]], self.c_id[t[0]]))
        ranked = ranked[: search_api.RERANK_TOP_K]
        ranked = [(i, s) for i, s in ranked if s >= srch.SCORE_THRESHOLD]
        ranked = [(i, s) for i, s in ranked
                  if all(p.lower() in self.c_text[i].lower() for p in phrases)]
        chunks = [(self.c_url[i], round(float(s), 4), self.c_text[i]) for i, s in ranked]
        return {"chunks": chunks, "matched_files": self._bm25_files(filename_terms(cleaned))}

    def _bm25_files(self, terms: list[str]) -> list[tuple]:
        from chunksilo_spark.operators.ranking import BM25_B, BM25_K1
        from chunksilo_spark.plans import search_api

        if not terms:
            return []
        urls = sorted(set(self.doc_url))
        toks = [filename_terms(u.rsplit("/", 1)[-1]) for u in urls]
        n = len(urls)
        avgdl = sum(len(t) for t in toks) / n
        dfs = [sum(1 for t in toks if term in t) for term in terms]
        scored = []
        for u, t in zip(urls, toks):
            s = 0.0
            for term, df in zip(terms, dfs):
                tf = t.count(term)
                idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
                s = s + idf * (tf * (BM25_K1 + 1.0)
                               / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * len(t) / avgdl)))
            if s > 0:
                scored.append((u, s))
        scored.sort(key=lambda x: (-x[1], x[0]))
        top = scored[: search_api.MATCHED_FILES_TOP_K][: search_api.MATCHED_FILES_CAP]
        return [(u, round(s, 4)) for u, s in top]

    def check_search(self, request: tuple, got: dict) -> list[str]:
        query = request[0]
        want = self.search(*request)
        got_chunks = [(c["location"]["uri"], c["score"], c["text"]) for c in got["chunks"]]
        got_files = [(m["uri"], m["score"]) for m in got["matched_files"]]
        bad = []
        if got_chunks != want["chunks"]:
            bad.append(f"search {query!r}: chunks differ from brute force")
        if got_files != want["matched_files"]:
            bad.append(f"search {query!r}: matched files differ from brute force")
        return bad

    # -- KG queries (plans.kg_api) -------------------------------------------
    def check_lookup(self, surface: str, rows) -> list[str]:
        n = self.nodes
        want = n[n["canon_surface"].str.lower() == surface.strip().lower()]
        want = want.sort_values(["n_mentions", "canon_id"], ascending=[False, True])
        w = [tuple(r) for r in want[["canon_id", "canon_surface", "n_mentions", "n_urls"]]
             .itertuples(index=False)]
        g = [(r["canon_id"], r["canon_surface"], r["n_mentions"], r["n_urls"]) for r in rows]
        return [] if g == w else [f"entity_lookup {surface!r} differs from brute force"]

    def check_neighborhood(self, ids: list[int], rows) -> list[str]:
        e = self.edges
        cols = list(e.columns)
        out = e[e["subj_canon_id"].isin(ids)].assign(role="subj")
        inn = e[e["obj_canon_id"].isin(ids)].assign(role="obj")
        w = sorted((tuple(r) for df in (out, inn) for r in df.itertuples(index=False)),
                   key=repr)
        g = sorted((tuple(r[c] for c in cols + ["role"]) for r in rows), key=repr)
        return [] if g == w else [f"neighborhood {ids} differs from brute force"]

    def check_bgp(self, p1: str, p2: str, rows) -> list[str]:
        e = self.edges
        a = e[e["pred"] == p1][["subj_canon_id", "obj_canon_id"]]
        a.columns = ["a", "b"]
        b = e[e["pred"] == p2][["subj_canon_id", "obj_canon_id"]]
        b.columns = ["b", "c"]
        w = {tuple(map(int, r)) for r in a.merge(b, on="b")[["a", "b", "c"]].itertuples(index=False)}
        g = {(int(r["a"]), int(r["b"]), int(r["c"])) for r in rows}
        return [] if g == w else [f"answer_bgp ({p1}, {p2}) differs from brute force"]

    def check_related(self, seed_ids: list[int], rows, k: int = 20, iters: int = 3,
                      damping: float = 0.85) -> list[str]:
        """Personalized PageRank to 2e-6, with ``kg_api.related_entities``'s
        default ``k`` and ``iters``."""
        e = self.edges
        src = np.concatenate([e["subj_canon_id"].to_numpy(), e["obj_canon_id"].to_numpy()])
        dst = np.concatenate([e["obj_canon_id"].to_numpy(), e["subj_canon_id"].to_numpy()])
        w = np.concatenate([e["support"].to_numpy(), e["support"].to_numpy()]).astype(float)
        keep = w > 0
        src, dst, w = src[keep], dst[keep], w[keep]
        nodes = np.unique(np.concatenate([src, dst]))
        pos = {int(v): i for i, v in enumerate(nodes)}
        si = np.array([pos[int(v)] for v in src], dtype=np.int64)
        di = np.array([pos[int(v)] for v in dst], dtype=np.int64)
        present = [s for s in seed_ids if int(s) in pos]
        reset = np.zeros(len(nodes))
        for s in present:
            reset[pos[int(s)]] += 1.0
        reset /= max(len(present), 1)
        outw = np.bincount(si, weights=w, minlength=len(nodes))
        dangling = outw == 0
        rank = reset.copy()
        for _ in range(iters):
            contrib = np.bincount(di, weights=rank[si] * w / outw[si], minlength=len(nodes))
            rank = (1 - damping) * reset + damping * contrib + damping * rank[dangling].sum() * reset
        r6 = np.round(rank, 6)
        want = sorted(range(len(nodes)), key=lambda i: (-r6[i], nodes[i]))[:k]
        got = [(int(r["node"]), float(r["rank"])) for r in rows]
        if len(got) != len(want):
            return [f"related_entities {seed_ids}: {len(got)} rows, expected {len(want)}"]
        cut = r6[want[-1]]
        for node, rnk in got:
            i = pos.get(node)
            if i is None or abs(rank[i] - rnk) > 2e-6 or r6[i] < cut - 2e-6:
                return [f"related_entities {seed_ids}: node {node} rank {rnk} "
                        f"differs from brute force"]
        return []


# ---------------------------------------------------------------------------
# iterative queries: the oracle gate's comparison on the timed outputs


def iterative_oracle_failures(tables_dir: str, results: dict) -> list[str]:
    """Compare each query's collected Spark rows with its DuckDB oracle using
    ``scripts/check_oracles.canon_rows(exact=True)``, the gate's own exact
    comparison. Queries without an oracle are skipped."""
    import duckdb

    import __spark_entry__ as entry_mod
    from scripts.check_oracles import canon_rows

    oracles = entry_mod.oracle_sql()
    con = duckdb.connect()
    for t in ("documents", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    bad = []
    for name, (cols, rows) in results.items():
        if name not in oracles:
            continue
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        if sorted(cols) != sorted(dcols) or len(rows) != len(drows):
            bad.append(f"{name}: shape differs from its oracle")
        elif canon_rows(cols, rows, exact=True)[1] != canon_rows(dcols, drows, exact=True)[1]:
            bad.append(f"{name}: values differ from its oracle")
    con.close()
    return bad
