"""Correctness gate, run after timing: every call's output against an
independent oracle. A call fails if it raised, returned a wrong result, or
(PageRank and CC, which have a convergence target) returned unconverged
after ``max_iter``. Label propagation runs a fixed number of rounds, and
its oracle runs the same rounds.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import defaultdict

import duckdb
import numpy as np
import pyarrow.parquet as pq

from distributed_pagerank_spark import oracle
from distributed_pagerank_spark.operators.dedup import minhash_lsh_pairs

from perfbench import workloads

TEXT_TWINS = {
    "doc_token_counts": ["tokens"],
    "doc_token_counts_bpe": ["bpe_tokens"],
    "doc_lang_id": ["pred_lang"],
    "doc_quality": ["quality"],
    "doc_fingerprint": ["fingerprint"],
    "doc_repetition": ["dup_line_frac", "dup_3gram_frac", "top_2gram_frac"],
}


def _load(path: str | None):
    if path is None or not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _store(path: str | None, value) -> None:
    if path is None:
        return
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)


class Oracles:
    """Oracle outputs for one run's inputs, each computed once and shared by
    every pass (the inputs are fixed per workload and seed).

    With a ``cache_dir``, results that depend only on the docs corpus
    content, which every seed shares, are kept on disk across runs.
    """

    def __init__(self, workload: str, paths: dict[str, str], spark,
                 seed: int, cache_dir: str | None = None):
        self.workload = workload
        self.paths = paths
        self.spark = spark
        self.seed = seed
        self.cache_dir = cache_dir
        self._memo: dict = {}
        self.graph_size: dict[str, int] = {}  # of the last output checked

    def memo(self, key, fn):
        if key not in self._memo:
            self._memo[key] = fn()
        return self._memo[key]

    def _corpus_file(self, name: str) -> str | None:
        """Cache file for ``name`` keyed by the corpus content."""
        if self.cache_dir is None:
            return None

        def digest():
            t = pq.read_table(self.paths["documents"],
                              columns=["doc_id", "text"]).sort_by("doc_id")
            h = hashlib.sha256()
            for d, text in zip(t["doc_id"].to_pylist(), t["text"].to_pylist()):
                h.update(f"{d}\t{text}\n".encode())
            return h.hexdigest()[:16]
        key = self.memo("corpus_digest", digest)
        return os.path.join(self.cache_dir, f"docs-{key}-{name}.json")

    def graph(self, edges: list[tuple[int, int]]) -> dict:
        key = ("graph", hash(frozenset(edges)))

        def compute():
            ranks, iters, _ = oracle.numpy_pagerank(edges, **workloads.PAGERANK)
            return {
                "ranks": ranks, "iterations": iters,
                "components": oracle.brute_components(edges),
                "labels": oracle.brute_label_propagation(
                    edges, workloads.LPA_ROUNDS),
                "triangles": oracle.brute_triangles(edges),
            }
        return self.memo(key, compute)

    def text_columns(self) -> dict[str, dict]:
        """``{column: {doc_id: value}}`` from the contract's DuckDB twins."""
        def cached():
            path = self._corpus_file("text")
            stored = _load(path)
            if stored is None:
                stored = {c: list(v.items()) for c, v in compute().items()}
                _store(path, stored)
            return {c: dict(map(tuple, kv)) for c, kv in stored.items()}

        def compute():
            import __spark_entry__ as entry  # oracle texts, read only

            sql = entry.oracle_sql()
            con = duckdb.connect()
            try:
                con.execute("SET threads = 2")
                con.execute("CREATE VIEW documents AS SELECT * FROM "
                            f"read_parquet('{self.paths['documents']}')")
                out = {}
                for q, cols in TEXT_TWINS.items():
                    df = con.execute(sql[q]).fetchdf()
                    for c in cols:
                        out[c] = dict(zip(df["doc_id"].tolist(), df[c].tolist()))
                return out
            finally:
                con.close()
        return self.memo("text", cached)

    def other_seed_pairs(self) -> set[tuple[int, int]]:
        """Near-dup pairs the program found for the same corpus under another
        seed's row permutation: from an earlier run's cache when one exists,
        else computed here on ``documents_alt``."""
        def compute():
            path = self._corpus_file("pairs")
            stored = _load(path)
            if stored is not None and stored["seed"] != self.seed:
                return {tuple(p) for p in stored["pairs"]}
            alt = self.spark.read.parquet(self.paths["documents_alt"])
            pairs = {(r.id_a, r.id_b) for r in
                     minhash_lsh_pairs(alt, threshold=0.5).collect()}
            _store(path, {"seed": self.seed + workloads.ALT_SEED_OFFSET,
                          "pairs": sorted(pairs)})
            return pairs
        return self.memo("other_seed_pairs", compute)

    def planted_pairs(self) -> set[tuple[int, int]]:
        """Doc pairs whose word 3-shingle Jaccard is ≥ 0.8: pairs MinHash
        LSH (16 bands × 4 rows, threshold 0.5) all but surely reports."""
        def compute():
            t = pq.read_table(self.paths["documents"], columns=["doc_id", "text"])
            by_text = defaultdict(list)
            shingles = {}
            for d, text in zip(t["doc_id"].to_pylist(), t["text"].to_pylist()):
                w = text.split()
                shingles[d] = {tuple(w[i:i + 3]) for i in range(len(w) - 2)}
                by_text[text].append(d)
            out = set()
            for text, ids in by_text.items():
                if not text.endswith(" dup"):
                    continue
                for base in by_text.get(text[:-4], []):
                    for d in ids:
                        a, b = shingles[base], shingles[d]
                        if len(a & b) / len(a | b) >= 0.8:
                            out.add((min(base, d), max(base, d)))
            return out
        return self.memo("planted", compute)

    def transcript_edge_count(self) -> tuple[int, int]:
        """(edges, vertices) ``derive_edges`` must produce, from the rows."""
        def compute():
            t = pq.read_table(self.paths["transcripts"],
                              columns=["conv_id", "turn_idx", "role", "tool"])
            df = t.to_pandas().sort_values(["conv_id", "turn_idx"])
            nxt_role = df.groupby("conv_id")["role"].shift(-1)
            reply = int((df["turn_idx"] > 0).sum())
            tool = int(((df["role"] == "assistant") & df["tool"].notna()
                        & (nxt_role == "tool")).sum())
            return reply + tool, len(df)
        return self.memo("edge_count", compute)


def _edges(df) -> list[tuple[int, int]]:
    return [(r[0], r[1]) for r in df.select("src", "dst").collect()]


def _graph_checks(o: Oracles, edges, rec: dict) -> tuple[bool, str]:
    name, out = rec["name"], rec["result"]
    ref = o.graph(edges)
    if name == "plans.pagerank.pagerank":
        if not out.converged:
            return False, f"unconverged after {out.iterations} iterations"
        if out.iterations != ref["iterations"]:
            return False, f"iterations {out.iterations} != {ref['iterations']}"
        got = {r.id: r.rank for r in out.ranks.collect()}
        if got.keys() != ref["ranks"].keys():
            return False, "vertex set differs"
        ids = list(got)
        ok = np.allclose([got[i] for i in ids], [ref["ranks"][i] for i in ids],
                         rtol=0, atol=1e-6)
        return ok, "" if ok else "ranks differ beyond 1e-6"
    if name == "plans.components.connected_components":
        labels, metrics = out
        if not metrics or not metrics[-1]["converged"]:
            return False, f"unconverged after {len(metrics)} rounds"
        got = {r.id: r.component for r in labels.collect()}
        return got == ref["components"], "components differ"
    if name == "plans.labelprop.label_propagation":
        got = {r.id: r.label for r in out[0].collect()}
        return got == ref["labels"], "labels differ"
    if name == "plans.triangles.triangle_count":
        return out == ref["triangles"], f"{out} != {ref['triangles']} triangles"
    raise KeyError(name)


def check_pass(o: Oracles, records: list[dict], tables: dict) -> dict[str, str]:
    """→ ``{call: problem}`` for every call of the pass that is not correct
    (empty when all are)."""
    bad = {r["name"]: r["error"] for r in records if not r["ok"]}
    done = {r["name"]: r for r in records if r["ok"]}
    check = _check_transcripts if o.workload == "transcripts" else _check_docs
    bad.update(check(o, done, tables))
    return bad


def _check_transcripts(o: Oracles, done: dict, tables: dict) -> dict[str, str]:
    bad = {}
    r = done.get("sources.transcripts.derive_edges")
    if r is None:
        return bad
    edges = _edges(r["result"])
    m, n = o.transcript_edge_count()
    verts = {v for e in edges for v in e}
    o.graph_size = {"graph_edges": len(edges), "graph_vertices": len(verts)}
    if (len(edges), len(verts)) != (m, n) or len(set(edges)) != m:
        bad[r["name"]] = (f"{len(edges)} edges on {len(verts)} vertices, "
                          f"expected {m} on {n}")
    for name in ("plans.pagerank.pagerank",
                 "plans.components.connected_components",
                 "plans.labelprop.label_propagation",
                 "plans.triangles.triangle_count"):
        if name in done:
            ok, why = _graph_checks(o, edges, done[name])
            if not ok:
                bad[name] = why
    return bad


def _check_docs(o: Oracles, done: dict, tables: dict) -> dict[str, str]:
    bad = {}

    def text_problem():
        # the timed call writes to a noop sink, so its output is recomputed
        # here; every pass runs the same plan on the same input, so once
        got = workloads.text_columns(tables["documents"]).toPandas()
        for col, expect in o.text_columns().items():
            vals = dict(zip(got["doc_id"].tolist(), got[col].tolist()))
            if vals.keys() != expect.keys() or any(
                (abs(vals[d] - v) > 1e-6) if isinstance(v, float)
                else vals[d] != v
                for d, v in expect.items()
            ):
                return f"column {col} differs from its DuckDB twin"
        return None

    if "functions.text.columns" in done:
        problem = o.memo("text_problem", text_problem)
        if problem:
            bad["functions.text.columns"] = problem
    r = done.get("operators.dedup.minhash_lsh_pairs")
    if r is None:
        return bad
    rows = r["result"].collect()
    pairs = [(p.id_a, p.id_b) for p in rows]
    o.graph_size = {"pairs": len(pairs)}
    if any(a >= b or not 0.5 <= p.est_jaccard <= 1.0
           for (a, b), p in zip(pairs, rows)):
        bad[r["name"]] = "malformed pair"
    elif set(pairs) != o.other_seed_pairs():
        bad[r["name"]] = "pair set changes with the row permutation"
    elif not o.planted_pairs() <= set(pairs):
        bad[r["name"]] = "a planted near-duplicate pair is missing"
    r = done.get("operators.dedup.near_dup_clusters")
    if r:
        comp = oracle.brute_components(pairs)
        rows = r["result"].collect()
        doc_ids = pq.read_table(o.paths["documents"],
                                columns=["doc_id"])["doc_id"].to_pylist()
        ok = sorted(row.doc_id for row in rows) == sorted(doc_ids) and all(
            row.cluster_id == comp.get(row.doc_id, row.doc_id)
            and row.keep == int(row.doc_id == row.cluster_id)
            for row in rows
        )
        if not ok:
            bad[r["name"]] = "cluster map differs from brute components"
    return bad
