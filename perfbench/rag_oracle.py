"""Expected outputs of a rag turn, derived without the package.

Nothing here imports ``news_graph_rag_spark``. Each function re-derives
one layer's documented result in plain Python, numpy and DuckDB from
the saved graph's parquet files:

- ``expected_entities``: the gazetteer names a templated question asks
  about (question NER);
- ``link_candidates``: ``lookup_entities`` — AND-combined fuzzy token
  match of each name against every entity name, within an edit budget
  of ``max(1, floor(len * (1 - threshold)))``, scored
  ``1 / (1 + total edits)``, top ``limit`` per name;
- ``fused_scores`` / ``hits_ok``: ``hybrid_top_k_indexed`` — the union
  of the vector candidates and every chunk holding a query token (with
  document frequency within ``max_df``), scored by max-normalised
  cosine and keyword overlap, the greater of the two, top k;
- ``expand``: ``expand_chunk_hits`` as a DuckDB join of the hits with
  the graph's contains, article, published and source tables.
"""

from __future__ import annotations

import math
import os
import re

import numpy as np
import pyarrow as pa

# the characters the reference strips from fulltext input (utils.py)
SPECIAL = r'[-+&|!(){}\[\]\^"~*?:\\\\]'
ENTITY_LABELS = {
    "person": "Person",
    "organization": "Organization",
    "location": "Location",
    "source": "Source",
    "topic": "Topic",
}
TOL = 1e-9  # score agreement; engines may sum cosine terms in another order


def graph_views(con, graph_root: str) -> None:
    """DuckDB views over the committed version of a saved graph store."""
    with open(os.path.join(graph_root, "_CURRENT")) as f:
        version = f.read().strip()
    base = os.path.join(graph_root, version)
    for entry in sorted(os.listdir(base)):
        if entry.endswith(".parquet"):
            con.execute(
                f"CREATE OR REPLACE VIEW {entry[:-8]} AS "
                f"SELECT * FROM read_parquet('{base}/{entry}/*.parquet')"
            )


def canon_rows(rows) -> list[str]:
    """Order-free form of result rows (tuples, Rows or record dicts)."""
    return sorted(repr(tuple(r.values() if isinstance(r, dict) else r)) for r in rows)


def _tokens(text: str) -> list[str]:
    return [t for t in re.split(r"\s+", re.sub(SPECIAL, " ", text).strip(" ").lower()) if t]


def _query_tokens(text: str) -> list[str]:
    return [t for t in re.sub(SPECIAL, " ", text.lower()).split() if t]


def levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def expected_entities(names: tuple[str, ...], gazetteer: dict[str, list[str]]) -> list[str]:
    """The names of a question that the gazetteer labels, in order."""
    known = {t for group in gazetteer.values() for t in group}
    return [n for n in names if n in known]


def link_candidates(
    entities: list[tuple[str, str, str]],
    probes: list[str],
    threshold: float = 0.8,
    limit: int = 10,
) -> list[dict]:
    """Fuzzy candidates of each probe among ``(label, uid, name)``
    entities, as ``{probe, uid, name, label, score, rnk}`` dicts."""
    named = [(label, uid, name, _tokens(name)) for label, uid, name in entities]
    out = []
    for probe in dict.fromkeys(probes):
        ptoks = _tokens(probe)
        scored = []
        for label, uid, name, toks in named:
            total = 0
            for pt in ptoks:
                budget = max(1, math.floor(len(pt) * (1.0 - threshold)))
                dists = [
                    d
                    for d in (levenshtein(pt, t) for t in toks if abs(len(pt) - len(t)) <= budget)
                    if d <= budget
                ]
                if not dists:
                    break
                total += min(dists)
            else:
                if ptoks:
                    scored.append((1.0 / (1.0 + total), total, name, uid, label))
        scored.sort(key=lambda s: (-s[0], s[1], s[2], s[3]))
        for rnk, (score, _, name, uid, label) in enumerate(scored[:limit], 1):
            out.append(
                {"probe": probe, "uid": uid, "name": name, "label": label, "score": score, "rnk": rnk}
            )
    return out


def _sum_products(a: np.ndarray, b: np.ndarray) -> float:
    """Sum of float32 products, added in order in double precision."""
    return float(np.cumsum((a * b).astype(np.float64))[-1]) if len(a) else 0.0


class GraphOracle:
    """The saved graph's entities and chunks, loaded once through DuckDB."""

    def __init__(self, con, max_df: int = 1000):
        self.con = con
        views = {r[0] for r in con.execute("SELECT view_name FROM duckdb_views()").fetchall()}
        self.entities = [
            (label, uid, name)
            for table, label in ENTITY_LABELS.items()
            if table in views
            for uid, name in con.execute(f"SELECT uid, name FROM {table}").fetchall()
        ]
        rows = con.execute(
            "SELECT uid, text, embedding, position, section, category FROM chunk"
        ).fetchall()
        self.chunk = {r[0]: r for r in rows}
        self.words = {r[0]: re.split(r"\s+", re.sub(SPECIAL, " ", r[1]).lower()) for r in rows}
        df: dict[str, int] = {}
        for words in self.words.values():
            for t in {w for w in words if w}:
                df[t] = df.get(t, 0) + 1
        self.common = {t for t, n in df.items() if n > max_df}
        self.vecs = {r[0]: np.asarray(r[2], np.float32) for r in rows if r[2] is not None}

    def fused_scores(self, query: str, query_vector, vector_cands: list[str]) -> dict[str, float]:
        """Fused score of every candidate chunk of ``query``."""
        qtoks = _query_tokens(query)
        qset = set(qtoks)
        cands = set(vector_cands) | {
            u for u, words in self.words.items() if (qset - self.common) & set(words)
        }
        q = np.asarray(query_vector, np.float32)
        nq = math.sqrt(_sum_products(q, q))
        vec, kw = {}, {}
        for u in cands:
            if u in self.vecs:
                e = self.vecs[u]
                ne = math.sqrt(_sum_products(e, e))
                vec[u] = _sum_products(e, q) / (ne * nq) if ne > 0 and nq > 0 else -1.0
            else:
                vec[u] = 0.0
            hits = sum(w in qset for w in self.words[u])
            kw[u] = hits / len(qtoks) if qtoks else 0.0
        vmax = max(vec.values(), default=0.0)
        kmax = max(kw.values(), default=0.0)
        return {
            u: max(vec[u] / vmax if vmax > 0 else 0.0, kw[u] / kmax if kmax > 0 else 0.0)
            for u in cands
        }

    def hits_ok(self, hits: list[tuple], scores: dict[str, float], k: int) -> bool:
        """``hits`` are (uid, text, score, position, section, category)
        rows: a top k of ``scores`` in rank order (near-ties may swap)
        that carry their chunk's own columns."""
        want = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]
        if len(hits) != len(want) or len({h[0] for h in hits}) != len(hits):
            return False
        for h, (_, ws) in zip(hits, want):
            uid, score = h[0], h[2]
            if uid not in scores or abs(score - scores[uid]) > TOL or abs(score - ws) > TOL:
                return False
            c = self.chunk[uid]
            if (h[1], h[3], h[4], h[5]) != (c[1], c[3], c[4], c[5]):
                return False
        return True

    def expand(self, hits: list[tuple]) -> list[str]:
        """Expected ``expand_chunk_hits`` rows, flattened and canonical."""
        cols = ("uid", "text", "score", "position", "section", "category")
        table = pa.table({c: [h[i] for h in hits] for i, c in enumerate(cols)})
        self.con.register("hits", table)
        try:
            rows = self.con.execute(
                """
                SELECT 'Title: ' || a.title || chr(10) || 'Text: ' || h.text,
                       h.score, h.position, h.section, h.category,
                       a.publishing_date, a.url, s.name
                FROM hits h
                JOIN contains c ON c.dst_uid = h.uid
                JOIN article a ON a.uid = c.src_uid
                LEFT JOIN published p ON p.dst_uid = a.uid
                LEFT JOIN source s ON s.uid = p.src_uid
                """
            ).fetchall()
        finally:
            self.con.unregister("hits")
        return canon_rows(rows)
