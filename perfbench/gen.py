"""Seeded input generator for the benchmark workloads.

Everything a workload reads is made here from ``--seed`` and written as
parquet under the run's work directory; the engine sees only those files.
The same seed gives the same bytes (``tests/test_gen.py`` pins it).

Text follows the recipe of ``tools/zipf_selectivity.py``: tokens are drawn
Zipf(1.07) over the KStem headword list, shuffled by the seed so that
alphabetic order does not follow frequency. Topic terms are mid-frequency
(Zipf ranks 30-300), so each topic matches a few percent of the corpus.

Relevance is derived from the text, with a rule DuckDB expresses directly
(``QRELS_SQL``): a document is relevant to a topic when it holds at least
two distinct topic terms, graded 2 when the topic terms occur at least
three times in it, else 1.

Every corpus is written as ``PARTS`` parquet files so that a scan has at
least one task per core; a single row group would be one task.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZIPF_S = 1.07
VOCAB_SIZE = 20000
DOC_LEN = (40, 80)          # tokens per document, uniform, mean 60
TOPIC_RANKS = (30, 300)     # Zipf ranks topic terms are drawn from
PARTS = 8                   # parquet files per corpus (>= cores)
EMB_DIMS = 64               # the engine's PQ default (8 subspaces x 8)
EMB_NOISE = 0.02            # per-dimension spread around a cluster centre
SHAPE_SEED = 20261016       # fixes topic term ranks across seeds


@dataclass(frozen=True)
class Shape:
    """Input sizes of one workload. ``clusters``/``every`` place the
    planted embedding clusters so that document ``every * c`` sits in
    cluster ``c``: the engine's id-sampled IVF centroids then land one per
    cluster, which keeps IVF-PQ with exact refinement equal to a brute
    force scan (the twin the store workload is checked against)."""

    docs: int
    topics: int
    rounds: int = 0
    adds: int = 0
    near_dups: int = 0
    removes: int = 0
    replaces: int = 0
    serve_topics: int = 0
    serve_vectors: int = 0
    clusters: int = 0
    every: int = 0


SHAPES = {
    "scan_run": Shape(docs=2000, topics=60),
    "sweep_feedback": Shape(docs=2000, topics=40),
    "store_cdc": Shape(docs=1500, topics=0, rounds=8, adds=100,
                       near_dups=20, removes=30, replaces=30,
                       serve_topics=20, serve_vectors=20,
                       clusters=15, every=100),
}

# Relevance rule over the SQL_TOK ``post`` CTE and a ``topics(qid, term)``
# table; the result is sorted so the written bytes do not depend on
# DuckDB's thread scheduling.
QRELS_SQL = """
hit AS (
  SELECT t.qid, p.docno, count(*) AS n_terms, sum(p.tf) AS tf
  FROM post p JOIN topics t USING (term)
  GROUP BY t.qid, p.docno
)
SELECT qid, docno, CAST(CASE WHEN tf >= 3 THEN 2 ELSE 1 END AS INT) AS rel
FROM hit WHERE n_terms >= 2
ORDER BY qid, docno
"""


class TextGen:
    """Zipf token streams over a seeded permutation of the lexicon."""

    def __init__(self, rng: np.random.Generator):
        from hadoop_ir_spark.functions.kstem import LEXICON

        words = sorted(w for w in LEXICON if w.isalpha() and 3 <= len(w) <= 12)
        self.vocab = np.array(words[:VOCAB_SIZE])
        self.rng = rng
        # by_rank[r] is the word of Zipf rank r (0 = most frequent)
        self.by_rank = self.vocab[rng.permutation(len(self.vocab))]
        w = 1.0 / np.arange(1, len(self.vocab) + 1) ** ZIPF_S
        self.cdf = np.cumsum(w / w.sum())

    def _ranks(self, n: int) -> np.ndarray:
        r = np.searchsorted(self.cdf, self.rng.random(n), side="right")
        return np.minimum(r, len(self.cdf) - 1)

    def docs(self, n: int) -> list[str]:
        lens = self.rng.integers(DOC_LEN[0], DOC_LEN[1] + 1, size=n)
        words = self.by_rank[self._ranks(int(lens.sum()))]
        cuts = np.cumsum(lens)[:-1]
        return [" ".join(d) for d in np.split(words, cuts)]

    def near_dup(self, text: str) -> str:
        """A planted near-duplicate: the text plus one appended token
        (word 3-shingle Jaccard ~0.98, far above the dedup threshold)."""
        return text + " " + self.by_rank[self._ranks(1)[0]]

    def topics(self, n: int, prefix: str = "T") -> list[tuple[str, str]]:
        """``n`` topics of 2-4 terms. The Zipf ranks of the terms are the
        same for every seed (``SHAPE_SEED``); the seed picks the words at
        those ranks. Work per topic then depends on the seed only through
        sampling, which keeps runs with different seeds comparable."""
        lo, hi = TOPIC_RANKS
        shape = np.random.default_rng(SHAPE_SEED)
        rows = []
        for i in range(n):
            k = int(shape.integers(2, 5))
            for r in shape.choice(np.arange(lo, hi), size=k, replace=False):
                rows.append((f"{prefix}{i:03d}", str(self.by_rank[r])))
        return rows


def _write(table: pa.Table, path: str, parts: int = 1) -> None:
    """Write ``table`` as ``parts`` files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, parts + 1).astype(int)
    for i in range(parts):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def _docs_table(docnos, texts) -> pa.Table:
    return pa.table({"docno": pa.array(docnos, pa.int64()),
                     "text": pa.array(texts, pa.string())})


def _topics_table(rows) -> pa.Table:
    return pa.table({"qid": pa.array([q for q, _ in rows], pa.string()),
                     "term": pa.array([t for _, t in rows], pa.string())})


def _emb_array(vecs: np.ndarray) -> pa.Array:
    return pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32()))


def write_qrels(out_dir: str) -> None:
    """Derive ``qrels`` from ``corpus`` and ``topics`` with DuckDB."""
    import duckdb

    from hadoop_ir_spark.catalog import SQL_TOK

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        con.execute(f"CREATE VIEW documents AS SELECT docno AS doc_id, text "
                    f"FROM read_parquet('{out_dir}/corpus/*.parquet')")
        con.execute(f"CREATE VIEW topics AS SELECT * "
                    f"FROM read_parquet('{out_dir}/topics/*.parquet')")
        qrels = con.execute(f"WITH {SQL_TOK}, {QRELS_SQL}").arrow()
    finally:
        con.close()
    _write(qrels, os.path.join(out_dir, "qrels"))


def _unit(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.standard_normal((n, EMB_DIMS))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _store_inputs(rng: np.random.Generator, text: TextGen, s: Shape,
                  out_dir: str) -> None:
    """Base corpus with clustered embeddings, then ``s.rounds`` CDC
    batches. Each batch holds adds (fresh docs plus planted near-duplicates
    of live docs), removes, and replaces (half of them near-duplicates of
    another live doc), and the round's topic and vector query batches.

    ``new/`` rows carry (docno, text, embedding, kind in add|replace);
    ``old/`` rows carry the text being retracted (kind in remove|replace),
    which the dedup store needs to subtract its count logs."""
    centres = _unit(rng, s.clusters)

    def embed(docnos) -> np.ndarray:
        cl = rng.integers(0, s.clusters, size=len(docnos))
        d = np.asarray(docnos)
        own = (d % s.every == 0) & (d < s.every * s.clusters)
        cl[own] = d[own] // s.every
        v = centres[cl] + rng.normal(0.0, EMB_NOISE, (len(docnos), EMB_DIMS))
        return v / np.linalg.norm(v, axis=1, keepdims=True)

    texts = text.docs(s.docs)
    live = dict(enumerate(texts))
    base = _docs_table(list(range(s.docs)), texts)
    base = base.append_column("embedding", _emb_array(embed(range(s.docs))))
    _write(base, os.path.join(out_dir, "corpus"), PARTS)
    next_id = s.docs
    for r in range(s.rounds):
        rd = os.path.join(out_dir, "cdc", f"r{r}")
        ids = np.array(sorted(live))
        picked = rng.choice(ids, size=s.removes + s.replaces, replace=False)
        removed, replaced = picked[:s.removes], picked[s.removes:]
        sources = rng.choice(ids, size=s.near_dups + s.replaces // 2,
                             replace=False)
        add_texts = text.docs(s.adds - s.near_dups) + [
            text.near_dup(live[int(d)]) for d in sources[:s.near_dups]]
        rep_texts = [text.near_dup(live[int(d)])
                     for d in sources[s.near_dups:]]
        rep_texts += text.docs(s.replaces - len(rep_texts))
        add_ids = list(range(next_id, next_id + s.adds))
        next_id += s.adds
        new_ids = add_ids + [int(d) for d in replaced]
        new = _docs_table(new_ids, add_texts + rep_texts)
        new = new.append_column("embedding", _emb_array(embed(new_ids)))
        new = new.append_column(
            "kind", pa.array(["add"] * s.adds + ["replace"] * s.replaces))
        old_ids = [int(d) for d in removed] + [int(d) for d in replaced]
        old = _docs_table(old_ids, [live[d] for d in old_ids])
        old = old.append_column(
            "kind", pa.array(["remove"] * s.removes + ["replace"] * s.replaces))
        _write(new, os.path.join(rd, "new"))
        _write(old, os.path.join(rd, "old"))
        for d in removed:
            del live[int(d)]
        live.update(zip(new_ids, add_texts + rep_texts))
        _write(_topics_table(text.topics(s.serve_topics, prefix=f"R{r}T")),
               os.path.join(rd, "topics"))
        cl = rng.integers(0, s.clusters, size=s.serve_vectors)
        vq = centres[cl] + rng.normal(0.0, EMB_NOISE,
                                      (s.serve_vectors, EMB_DIMS))
        vq /= np.linalg.norm(vq, axis=1, keepdims=True)
        _write(pa.table({"qid": pa.array(range(s.serve_vectors), pa.int64()),
                         "embedding": _emb_array(vq)}),
               os.path.join(rd, "vq"))


def make(workload: str, seed: int, out_dir: str) -> Shape:
    """Write the inputs of ``workload`` for ``seed`` under ``out_dir``."""
    s = SHAPES[workload]
    rng = np.random.default_rng([seed, list(SHAPES).index(workload)])
    text = TextGen(rng)
    os.makedirs(out_dir, exist_ok=True)
    if workload == "store_cdc":
        _store_inputs(rng, text, s, out_dir)
    else:
        _write(_docs_table(list(range(s.docs)), text.docs(s.docs)),
               os.path.join(out_dir, "corpus"), PARTS)
        _write(_topics_table(text.topics(s.topics)),
               os.path.join(out_dir, "topics"))
        write_qrels(out_dir)
    with open(os.path.join(out_dir, "shape.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, **s.__dict__}, f)
    return s
