"""DuckDB twins: every output the benchmark checks, recomputed from the
same generated parquet by a second engine.

The SQL follows the catalog's oracle shapes: ``SQL_TOK`` tokenizes a
``documents(doc_id, text)`` view, and the retrieval models mirror
``sql_run_dirichlet`` (the direct per-(query, doc, term) frame, which the
engine computes algebraically). Numeric constants enter as Python float
reprs cast to DOUBLE, so both engines use the same doubles. Scores are
rounded to 6 decimals on both sides, as in the catalog.
"""

from __future__ import annotations

import duckdb

from hadoop_ir_spark.catalog import SQL_TOK

TOL = 1e-6      # absolute tolerance on rounded scores
EVAL_TOL = 1e-9


def _f(x: float) -> str:
    return f"CAST({float(x)!r} AS DOUBLE)"


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    return con


def view(con, name: str, path: str) -> None:
    con.execute(f"CREATE OR REPLACE VIEW {name} AS "
                f"SELECT * FROM read_parquet('{path}/*.parquet')")


# --- retrieval --------------------------------------------------------------
# All three read documents(doc_id, text) and qtopics(qid, term, qweight)
# and end in ``run(qid, docno, score, rank)``.

def _frame_sql(topics: str) -> str:
    return f"""
{SQL_TOK},
coll AS (SELECT sum(tf) AS coll_len FROM post),
qstats AS (
  SELECT t.qid, t.term, t.qweight, coalesce(s.cf, 0) AS cf
  FROM {topics} t
  LEFT JOIN (SELECT term, sum(tf) AS cf FROM post GROUP BY term) s USING (term)
),
frame AS (
  SELECT q.qid, d.docno, d.doc_len, q.qweight,
         greatest(q.cf, 1)::DOUBLE / (SELECT coll_len FROM coll) AS cp,
         coalesce(p.tf, 0) AS tf
  FROM dlen d
  CROSS JOIN qstats q
  LEFT JOIN post p ON p.docno = d.docno AND p.term = q.term
)"""


def _ranked(scored: str, k: int) -> str:
    return f"""{scored},
ranked AS (
  SELECT qid, docno, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, docno DESC) AS rank
  FROM scored
),
run AS (SELECT qid, docno, score, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= {k})"""


def dirichlet_sql(mu: float, k: int, topics: str = "qtopics") -> str:
    """GSLIS Dirichlet (every doc scores), the sql_run_dirichlet shape."""
    return _ranked(f"""{_frame_sql(topics)},
scored AS (
  SELECT qid, docno,
         round(sum(qweight * ln((tf + {_f(mu)} * cp) / (doc_len + {_f(mu)}))), 6) AS score
  FROM frame GROUP BY qid, docno
)""", k)


def jm_sql(lam: float, k: int) -> str:
    """GSLIS Jelinek-Mercer."""
    return _ranked(f"""{_frame_sql("qtopics")},
scored AS (
  SELECT qid, docno,
         round(sum(qweight * ln({_f(1.0 - lam)} * tf / doc_len + {_f(lam)} * cp)), 6) AS score
  FROM frame GROUP BY qid, docno
)""", k)


def bm25_sql(k1: float, b: float, k: int) -> str:
    """MIREX BM25 (matched terms only), the catalog's bm25_topk oracle."""
    return _ranked(f"""{SQL_TOK},
gstat AS (
  SELECT count(DISTINCT docno) AS n_docs,
         sum(tf)::DOUBLE / count(DISTINCT docno) AS avg_len
  FROM post
),
tstats AS (SELECT term, count(*) AS df FROM post GROUP BY term),
matched AS (
  SELECT t.qid, p.docno, p.tf, s.df, d.doc_len
  FROM post p
  JOIN (SELECT DISTINCT qid, term FROM qtopics) t USING (term)
  JOIN tstats s ON s.term = p.term
  JOIN dlen d ON d.docno = p.docno
),
scored AS (
  SELECT qid, docno,
         round(sum(
           ({_f(k1 + 1.0)} * tf)
           / ({_f(k1)} * ({_f(1.0 - b)} + {_f(b)} * doc_len / (SELECT avg_len FROM gstat)) + tf)
           * ln(((SELECT n_docs FROM gstat) - df + 0.5) / (df + 0.5))
         ), 6) AS score
  FROM matched GROUP BY qid, docno
)""", k)


def run(con, sql: str) -> list[tuple]:
    """Rows (qid, docno, score, rank) of a retrieval CTE chain."""
    return con.execute(f"WITH {sql} SELECT qid, docno, score, rank FROM run "
                       f"ORDER BY qid, rank").fetchall()


def evaluate(con, run_table: str) -> dict[str, tuple[float | None, float, float]]:
    """Per-qid (ap, p_at_10, p_at_20) of ``run_table`` against ``qrels``,
    with ``evaluate_run``'s definitions."""
    rows = con.execute(f"""
WITH rel AS (SELECT DISTINCT qid, docno FROM qrels WHERE rel >= 1),
judged AS (
  SELECT r.qid, r.docno, r.rank,
         CASE WHEN q.docno IS NULL THEN 0 ELSE 1 END AS is_rel
  FROM {run_table} r LEFT JOIN rel q USING (qid, docno)
),
cum AS (
  SELECT *, sum(is_rel) OVER (PARTITION BY qid ORDER BY rank) AS cum_rel
  FROM judged
),
psum AS (SELECT qid, sum(cum_rel / rank) AS psum FROM cum WHERE is_rel = 1 GROUP BY qid),
nrel AS (SELECT qid, count(*) AS denom FROM rel GROUP BY qid),
pk AS (
  SELECT qid,
         coalesce(sum(is_rel) FILTER (WHERE rank <= 10), 0) / 10.0 AS p10,
         coalesce(sum(is_rel) FILTER (WHERE rank <= 20), 0) / 20.0 AS p20
  FROM judged GROUP BY qid
)
SELECT k.qid,
       CASE WHEN coalesce(n.denom, 0) > 0 THEN coalesce(p.psum, 0) / n.denom END,
       k.p10, k.p20
FROM pk k LEFT JOIN psum p USING (qid) LEFT JOIN nrel n USING (qid)
""").fetchall()
    return {q: (ap, p10, p20) for q, ap, p10, p20 in rows}


def summary(per_q: dict) -> tuple[float, float]:
    """(MAP over queries with relevant docs, mean P@10)."""
    aps = [v[0] for v in per_q.values() if v[0] is not None]
    return (sum(aps) / len(aps) if aps else None,
            sum(v[1] for v in per_q.values()) / len(per_q))


def rm3_sql(fbrun: str, fb_docs: list[int], fb_terms: list[int],
            lams: list[float]) -> str:
    """RM1 over the fbDocs x fbTerms grid plus RM3 interpolation, the
    catalog's rm3_sweep oracle over the run table ``fbrun`` and
    ``qtopics``; weights rounded to 6 decimals. Ends in ``rm3``."""
    gd = ", ".join(f"({d})" for d in fb_docs)
    gt = ", ".join(f"({t})" for t in fb_terms)
    gl = ", ".join(f"({_f(x)})" for x in lams)
    return f"""
{SQL_TOK},
gd AS (SELECT fb_docs::INT AS fb_docs FROM (VALUES {gd}) AS g(fb_docs)),
gt AS (SELECT fb_terms::INT AS fb_terms FROM (VALUES {gt}) AS g(fb_terms)),
gl AS (SELECT lam FROM (VALUES {gl}) AS g(lam)),
fbdocs AS (
  SELECT qid, docno, rank,
         exp(score - max(score) OVER (PARTITION BY qid)) AS doc_w
  FROM {fbrun} WHERE rank <= {max(fb_docs)}
),
contrib AS (
  SELECT f.qid, f.rank, p.term, (p.tf::DOUBLE / d.doc_len) * f.doc_w AS c
  FROM fbdocs f
  JOIN post p ON p.docno = f.docno
  JOIN dlen d ON d.docno = f.docno
),
rm1_raw AS (
  SELECT g.fb_docs, c.qid, c.term, round(sum(c.c), 9) AS weight
  FROM contrib c CROSS JOIN gd g
  WHERE c.rank <= g.fb_docs
  GROUP BY g.fb_docs, c.qid, c.term
),
rm1_clean AS (
  SELECT * FROM rm1_raw
  WHERE length(term) >= 3 AND NOT regexp_matches(term, '[0-9]')
),
rm1_clip AS (
  SELECT r.*, g.fb_terms,
         row_number() OVER (PARTITION BY r.fb_docs, g.fb_terms, r.qid
                            ORDER BY r.weight DESC, r.term DESC) AS rnk
  FROM rm1_clean r CROSS JOIN gt g
),
rm1g AS (
  SELECT fb_docs, fb_terms, qid, term,
         weight / sum(weight) OVER (PARTITION BY fb_docs, fb_terms, qid) AS weight
  FROM rm1_clip WHERE rnk <= fb_terms
),
qv AS (
  SELECT qid, term, qweight / sum(qweight) OVER (PARTITION BY qid) AS q_w
  FROM qtopics
),
qvg AS (
  SELECT g.fb_docs, g2.fb_terms, q.qid, q.term, q.q_w
  FROM qv q CROSS JOIN gd g CROSS JOIN gt g2
),
merged AS (
  SELECT coalesce(q.fb_docs, r.fb_docs) AS fb_docs,
         coalesce(q.fb_terms, r.fb_terms) AS fb_terms,
         coalesce(q.qid, r.qid) AS qid,
         coalesce(q.term, r.term) AS term,
         q.q_w, r.weight AS rm1_w
  FROM qvg q FULL OUTER JOIN rm1g r
    ON q.fb_docs = r.fb_docs AND q.fb_terms = r.fb_terms
   AND q.qid = r.qid AND q.term = r.term
),
lamd AS (
  SELECT m.fb_docs, m.fb_terms, g.lam, m.qid, m.term,
         g.lam * coalesce(m.q_w, 0) + (1 - g.lam) * coalesce(m.rm1_w, 0) AS w
  FROM merged m CROSS JOIN gl g
),
rm3 AS (
  SELECT fb_docs, fb_terms, lam, qid, term,
         round(w / sum(w) OVER (PARTITION BY fb_docs, fb_terms, lam, qid), 6) AS weight
  FROM lamd
)"""


# --- store ------------------------------------------------------------------

SHINGLES_SQL = """
SELECT DISTINCT docno, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS s
FROM (
  SELECT docno, t, unnest(generate_series(1, len(t) - 2)) AS i
  FROM (
    SELECT docno,
           list_filter(string_split_regex(lower(text), '[^0-9a-zA-Z]+'),
                       x -> x <> '') AS t
    FROM {src}
  )
)"""


def dedup_dropped(con, new: str, standing: str, tau: float) -> set[int]:
    """Docnos of ``new`` that the from-scratch rule drops: an exact
    (md5) or word-3-shingle Jaccard >= ``tau`` partner among the
    ``standing`` docs, or among the lower-docno ``new`` docs."""
    rows = con.execute(f"""
WITH nsh AS ({SHINGLES_SQL.format(src=new)}),
osh AS ({SHINGLES_SQL.format(src=standing)}),
nsz AS (SELECT docno, count(*) AS n FROM nsh GROUP BY docno),
osz AS (SELECT docno, count(*) AS n FROM osh GROUP BY docno),
no_pairs AS (
  SELECT a.docno AS dn, b.docno AS dold, count(*) AS inter
  FROM nsh a JOIN osh b USING (s) GROUP BY a.docno, b.docno
),
nn_pairs AS (
  SELECT a.docno AS da, b.docno AS db, count(*) AS inter
  FROM nsh a JOIN nsh b ON a.s = b.s AND a.docno < b.docno
  GROUP BY a.docno, b.docno
),
drops AS (
  SELECT p.dn AS docno FROM no_pairs p
  JOIN nsz x ON x.docno = p.dn JOIN osz y ON y.docno = p.dold
  WHERE p.inter / (x.n + y.n - p.inter) >= {_f(tau)}
  UNION
  SELECT p.db FROM nn_pairs p
  JOIN nsz x ON x.docno = p.da JOIN nsz y ON y.docno = p.db
  WHERE p.inter / (x.n + y.n - p.inter) >= {_f(tau)}
  UNION
  SELECT docno FROM {new} WHERE md5(text) IN (SELECT md5(text) FROM {standing})
  UNION
  SELECT docno FROM (
    SELECT docno, min(docno) OVER (PARTITION BY md5(text)) AS m FROM {new}
  ) WHERE docno > m
)
SELECT docno FROM drops""").fetchall()
    return {d for (d,) in rows}


def cosine_topk(con, docs: str, queries: str, k: int) -> list[tuple]:
    """Exact cosine top-k (qid, docno, cosine, rank) by brute force."""
    return con.execute(f"""
WITH s AS (
  SELECT q.qid, d.docno,
         round(list_dot_product(d.embedding::DOUBLE[], q.embedding::DOUBLE[])
               / (sqrt(list_dot_product(d.embedding::DOUBLE[], d.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))),
               6) AS cosine
  FROM {docs} d CROSS JOIN {queries} q
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, docno DESC) AS rank
  FROM s
)
SELECT qid, docno, cosine, rank FROM r WHERE rank <= {k} ORDER BY qid, rank
""").fetchall()


# --- comparison -------------------------------------------------------------

def same_ranking(got: list[tuple], want: list[tuple], tol: float = TOL) -> bool:
    """Two ranked lists of (docno, score) agree: equal length, scores equal
    within ``tol`` position by position, and any document in only one of
    them scores within ``tol`` of the cutoff (a tie at the last rank that
    rounding may break either way)."""
    if len(got) != len(want):
        return False
    if any(abs(a[1] - b[1]) > tol for a, b in zip(got, want)):
        return False
    g, w = dict(got), dict(want)
    for d in g.keys() & w.keys():
        if abs(g[d] - w[d]) > tol:
            return False
    cut = want[-1][1] if want else 0.0
    return all(abs(s - cut) <= tol
               for d, s in list(got) + list(want) if (d in g) != (d in w))


def by_qid(rows) -> dict:
    """(qid, docno, score, rank) rows → {qid: [(docno, score)] by rank}."""
    out: dict = {}
    for qid, docno, score, rank in sorted(rows, key=lambda r: (r[0], r[3])):
        out.setdefault(qid, []).append((docno, score))
    return out


def runs_agree(got_rows, want_rows, tol: float = TOL) -> bool:
    g, w = by_qid(got_rows), by_qid(want_rows)
    return g.keys() == w.keys() and all(same_ranking(g[q], w[q], tol) for q in w)


def evals_agree(got: dict, want: dict, tol: float = EVAL_TOL) -> bool:
    if got.keys() != want.keys():
        return False
    for q, a in got.items():
        for x, y in zip(a, want[q]):
            if (x is None) != (y is None) or (x is not None and abs(x - y) > tol):
                return False
    return True
