"""Retrieval / language-model scoring operators: BM25 top-k, n-gram-LM
perplexity filtering, and PMI collocation mining.

Three more published text-pipeline methods beyond the reference surface
(the reference has no retrieval or LM-scoring stage; these extend the
LLM-pipeline family in SURVEY.md §2-ext alongside DSIR/entropy/BPE in
``operators/selection.py``):

- **BM25** (Robertson & Spärck Jones; the Okapi weighting): rank documents
  for a query by sum over query terms of idf(t) * tf_norm(t, d) with the
  k1/b saturation.  THE baseline sparse retriever — the thing you run to
  mine hard negatives or build a seed set before the dense ANN path
  (operators/similarity.py) exists.
- **LM perplexity filter** (CCNet, Wenzek et al. 2020): fit a unigram LM
  with Laplace smoothing on a small clean reference slice, score every
  document by average per-token negative log-likelihood, band into
  head/middle/tail and keep the low-perplexity bands.  The canonical
  "does this look like the reference corpus" quality gate.
- **PMI collocations** (Church & Hanks 1990): pointwise mutual information
  over adjacent-token bigrams — the collocation mining that informs
  tokenizer merge audits and boilerplate detection.

Float discipline (same contract as selection.py): cross-engine ``ln``
differs in the last ulp, so NO raw double log enters a SUM.  Every log is
quantized once at an INTEGER argument (``qln_micro``) and summed as exact
BIGINT micro-nats:

- BM25's idf (the Lucene/ES variant ``ln(1 + (N-df+0.5)/(df+0.5)) =
  ln((2N+2)/(2df+1))`` — strictly positive, unlike raw Robertson idf
  which goes negative past df > N/2) has half-integer arguments that
  clear to integers by doubling: ``idf_micro = qln_micro(2*N+2) -
  qln_micro(2*df+1)``.  The tf-saturation term is made a ratio of exact
  BIGINTs by scaling through 10*T (k1=6/5, b=3/4 exactly):
  ``tf*(k1+1) / (tf + k1*(1-b) + k1*b*dl/avgdl)`` == ``22*T*tf /
  (10*T*tf + 3*T + 9*dl*N)`` with avgdl = T/N.  One IEEE multiply and one
  divide on exact-integer-valued doubles, then floor-quantized to BIGINT
  micro-nats and summed exactly.
- The LM's per-token nll is ``qln_micro(T+V+1) - qln_micro(c_w+1)`` (all
  integer args; Laplace +1, OOV bucket +1); the per-doc accumulation is a
  BIGINT sum of those, and doubles reappear only in the final projection
  (one division both engines round identically).
- PMI is DEFINED in quantized space: ``pmi_micro = qln_micro(c_ab) +
  2*qln_micro(T) - qln_micro(B) - qln_micro(c_a) - qln_micro(c_b)`` —
  every term an integer-argument qln, so the metric is deterministic
  cross-engine by construction (2*qln_micro(T) is the quantized stand-in
  for qln(T^2); the <=1-micro-nat definition drift vs true PMI is
  irrelevant to ranking and documented here).

CTE-inlining discipline: every multiply-referenced stage (the token
stream, the fitted LM table, per-doc lengths, per-term tf) is staged via
``staging.staged_views`` on the engine side; the DuckDB oracle renders the
same fragments as plain CTEs.  The scoring SQL below each fit is ONE
fragment both sides compile (``*_score_sql``), parameterized only by the
relation names.

Scale notes (100 TB):
- BM25: tf is computed ONLY for query terms (the token explode filters to
  the |Q|-term IN list before the shuffle), df/N/T are tiny scalars riding
  scalar subqueries (no BNLJ), and the top-k is ORDER BY + LIMIT =
  TakeOrdered (per-partition heaps, no global sort).  The integer-exact
  scaled form needs 10*T*tf < 2^63 — fine to ~1e17 corpus tokens; past
  that the production form drops to plain double arithmetic on the
  broadcast idf table (ranking-stable, just not value-oracled).
- LM fit: the model is a vocabulary-sized table (distinct tokens of the
  reference slice — sublinear in corpus), broadcast-joined onto the corpus
  token stream; scoring is one corpus-keyed aggregation.  Exactly the
  DSIR shape: constant-ish model, fit-once / score-everywhere.
- PMI: two grouped counts (unigrams, bigrams) + a join of the
  vocabulary-sized unigram table onto the bigram table (broadcast at any
  realistic vocab); candidate filter ``c_ab >= PMI_MIN_PAIR`` bounds the
  output, top-k via TakeOrdered.
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import contextmanager

from ..functions import dialect as X
from ..sinks import index_table as IT
from .selection import qln_micro

# LM fit slice: the "clean reference corpus" is the deterministic 1-in-7
# doc_id slice (same spirit as DSIR's target predicate but disjoint in
# mechanism, so the two selection signals stay independent).
LM_FIT_PRED = "doc_id % 7 = 0"

# Perplexity bands in micro-nats per token (avg-nll thresholds).  The
# fixture corpus sits ~3.4e6 (ln of an ~30-word vocabulary); the bands
# bracket it so head/middle/tail all populate.  CCNet uses corpus-tercile
# cuts — at scale those come from histogram_quantiles over avg_nll_nats.
LM_HEAD_MICRO = 3_395_000
LM_TAIL_MICRO = 3_420_000

BM25_QUERY = ("query", "window", "dup")  # mixed df: two common, one rare
BM25_K = 10

PMI_MIN_PAIR = 5  # collocation support floor
PMI_TOP_K = 50


def tok_cte(d: str, table: str = "documents") -> str:
    """(doc_id, token) — one row per whitespace token of lower(text)."""
    toks = X.split_tokens(d, "lower(text)")
    return f"SELECT doc_id, {X.explode_tokens(d, toks)} AS token FROM {table}"


# ---------------------------------------------------------------------------
# LM perplexity filter
# ---------------------------------------------------------------------------


def lm_fit_sql(tok: str) -> str:
    """The LM table: token -> count over the reference slice (dialect-free)."""
    return (
        f"SELECT token, COUNT(*) AS c FROM {tok} "
        f"WHERE {LM_FIT_PRED} GROUP BY token"
    )


def _lm_nll_ctes(tok: str, tgt: str) -> str:
    """konst/perdoc/nll CTE-list (no final SELECT) over relations ``tok``
    (doc_id, token) and ``tgt`` (token, c) — dialect-free ANSI."""
    qln_tv1 = qln_micro("CAST(SUM(c) AS BIGINT) + COUNT(*) + 1")
    return f"""
konst AS (SELECT {qln_tv1} AS qln_tv1 FROM {tgt}),
perdoc AS (
  SELECT t.doc_id, COUNT(*) AS n_tok,
         CAST(SUM({qln_micro("coalesce(g.c, 0) + 1")}) AS BIGINT) AS sum_qln_c
  FROM {tok} t LEFT JOIN {tgt} g ON t.token = g.token
  GROUP BY t.doc_id
),
nll AS (
  SELECT doc_id, n_tok,
         n_tok * (SELECT qln_tv1 FROM konst) - sum_qln_c AS nll_micro
  FROM perdoc
)"""


_LM_AVG = X.fround(
    "CAST(nll_micro AS DOUBLE) / (CAST(n_tok AS DOUBLE) * 1.0E6)", 6
)


def _lm_score_ctes(tok: str, tgt: str) -> str:
    """CTE-list + final SELECT (no leading WITH — callers splice it after
    their own CTEs) over relations ``tok`` (doc_id, token) and ``tgt``
    (token, c) — dialect-free ANSI, compiled by both engines."""
    return f"""{_lm_nll_ctes(tok, tgt)}
SELECT doc_id, n_tok, nll_micro,
  {_LM_AVG}
    AS avg_nll_nats,
  CASE WHEN nll_micro < {LM_HEAD_MICRO} * n_tok THEN 'head'
       WHEN nll_micro < {LM_TAIL_MICRO} * n_tok THEN 'middle'
       ELSE 'tail' END AS ppl_band,
  (nll_micro < {LM_TAIL_MICRO} * n_tok) AS keep
FROM nll
"""


def lm_score_sql(tok: str, tgt: str) -> str:
    """Standalone scoring statement over staged relation names."""
    return f"WITH {_lm_score_ctes(tok, tgt)}"


def lm_perplexity_sql(d: str, table: str = "documents") -> str:
    """Oracle form: plain CTEs (DuckDB does not inline-to-re-run)."""
    return (
        f"WITH tok AS ({tok_cte(d, table)}), tgt AS ({lm_fit_sql('tok')}), "
        + _lm_score_ctes("tok", "tgt")
    )


def lm_perplexity_df(spark, table: str = "documents"):
    """Engine side: only the vocab-sized model table is staged (tgt feeds
    the konst scalar AND the join).  ``tok`` rides as a LAZY view — the
    fit statement and the scoring statement each reference it exactly
    once, so staging it would materialize the corpus-scale token stream
    to save zero recomputation; the two explode passes cost one extra
    parquet scan (the fit pass filters to the 1-in-7 slice before the
    explode) and nothing corpus-wide ever hits local disk.  konst rides
    a scalar subquery (1 row, no BNLJ)."""
    from .staging import staged_views

    tok_df = spark.sql(tok_cte(X.SPARK, table))
    with staged_views(spark, tok=tok_df, checkpoint=False) as v1:
        tgt_df = spark.sql(lm_fit_sql(v1.tok))
        with staged_views(spark, tgt=tgt_df) as v2:
            return spark.sql(lm_score_sql(v1.tok, v2.tgt))


# ---------------------------------------------------------------------------
# BM25 top-k
# ---------------------------------------------------------------------------


def _sql_str(t: str) -> str:
    """Quote a term as a SQL string literal, doubling embedded quotes —
    query terms come from user query tables in the production shape, so
    raw interpolation is both a breakage (a term holding ``'`` kills the
    statement) and an injection surface."""
    return "'" + t.replace("'", "''") + "'"


def bm25_tf_sql(tok: str, query: tuple[str, ...] = BM25_QUERY) -> str:
    terms = ", ".join(_sql_str(t) for t in query)
    return (
        f"SELECT doc_id, token, COUNT(*) AS tf FROM {tok} "
        f"WHERE token IN ({terms}) GROUP BY doc_id, token"
    )


def bm25_dl_sql(tok: str) -> str:
    return f"SELECT doc_id, COUNT(*) AS dl FROM {tok} GROUP BY doc_id"


@contextmanager
def _staged_tf_dl(spark, table: str, terms: tuple[str, ...]):
    """Stage the sparse-leg inputs — ``tf`` (doc_id, token, tf; query
    terms only) and ``dl`` (doc_id, dl) — from ONE corpus pass.

    The original staging materialized the full (doc_id, token) exploded
    stream (localCheckpoint of |corpus tokens| rows) and then ran two
    more aggregation jobs over it.  At corpus scale that checkpoint IS
    the cost: the token stream is an order of magnitude wider than the
    documents themselves.  Instead, one aggregation pass over the lazy
    token explode computes, per doc, the doc length AND one conditional
    count per query term (|terms| is query-sized, never corpus-sized) —
    map-side partial aggregation shrinks the shuffle to |docs| narrow
    rows and the only checkpointed frame is that per-doc table.  ``tf``
    and ``dl`` are then pure projections of the staged leaf: ``tf``
    un-pivots the term-count columns via ``stack`` and keeps tf > 0 rows
    (exactly the groups ``bm25_tf_sql`` emits), ``dl`` selects (doc_id,
    dl).  Both are registered un-checkpointed — every downstream
    reference re-reads the in-memory leaf, never the corpus.  Contents
    are identical to the bm25_tf_sql/bm25_dl_sql forms by construction
    (COUNT(*) per (doc, term) == COUNT_IF(token = term) per doc; docs
    with zero tokens appear in neither), so every consumer's result is
    bit-identical."""
    from .staging import staged_views

    terms = tuple(dict.fromkeys(terms))  # stack would duplicate repeats
    if not terms:
        raise ValueError("_staged_tf_dl: empty query term set")
    tf_cols = ", ".join(
        f"COUNT_IF(token = {_sql_str(t)}) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    g_df = spark.sql(
        f"SELECT doc_id, COUNT(*) AS dl, {tf_cols} "
        f"FROM ({tok_cte(X.SPARK, table)}) GROUP BY doc_id"
    )
    with staged_views(spark, g=g_df) as v1:
        stack_args = ", ".join(
            f"{_sql_str(t)}, tf_{i}" for i, t in enumerate(terms)
        )
        tf_df = spark.sql(
            f"SELECT doc_id, token, tf FROM ("
            f"SELECT doc_id, stack({len(terms)}, {stack_args}) AS (token, tf) "
            f"FROM {v1.g}) WHERE tf > 0"
        )
        dl_df = spark.sql(f"SELECT doc_id, dl FROM {v1.g}")
        with staged_views(spark, tf=tf_df, dl=dl_df, checkpoint=False) as v2:
            yield v2


def _bm25_contrib_expr() -> str:
    """THE per-(doc, term) BM25 contribution — one definition shared by the
    single-query, multi-query, and indexed forms so the scoring math cannot
    drift between them.  Expects relations aliased ``tf`` (doc_id, token,
    tf), ``df`` (token, df), ``dl`` (doc_id, dl) and 1-row CTEs ``n``
    (n_docs) / ``t`` (t_tok) in scope; idf in quantized micro-nats
    (half-integer args cleared by doubling), tf saturation as a ratio of
    exact BIGINTs scaled through 10*T (k1=6/5, b=3/4)."""
    idf = (
        f"({qln_micro('2 * (SELECT n_docs FROM n) + 2')}"
        f" - {qln_micro('2 * df.df + 1')})"
    )
    return (
        f"CAST({idf} AS DOUBLE)\n"
        f"      * (22.0E0 * (SELECT t_tok FROM t) * tf.tf)\n"
        f"      / (10.0E0 * (SELECT t_tok FROM t) * tf.tf\n"
        f"         + 3.0E0 * (SELECT t_tok FROM t)\n"
        f"         + 9.0E0 * dl.dl * (SELECT n_docs FROM n))"
    )


def _bm25_score_ctes(
    tf: str,
    dl: str,
    table: str | None = None,
    k: int = BM25_K,
    n_body: str | None = None,
    t_body: str | None = None,
) -> str:
    """CTE-list + final SELECT (no leading WITH) over relations ``tf``
    (doc_id, token, tf) and ``dl`` (doc_id, dl); N comes from ``table``,
    T from ``dl`` — both as scalar subqueries — unless ``n_body``/
    ``t_body`` override them (the indexed path inlines the sidecar stats
    as literals).  Dialect-free ANSI."""
    n_body = n_body or f"SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM {table}"
    t_body = t_body or f"SELECT CAST(SUM(dl) AS BIGINT) AS t_tok FROM {dl}"
    return f"""
n AS ({n_body}),
t AS ({t_body}),
df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM {tf} GROUP BY token),
scored AS (
  SELECT tf.doc_id,
    {_bm25_contrib_expr()} AS contrib_micro
  FROM {tf} tf JOIN df ON tf.token = df.token
  JOIN {dl} dl ON tf.doc_id = dl.doc_id
),
agg AS (
  SELECT doc_id,
    CAST(SUM(CAST(floor(contrib_micro + 0.5) AS BIGINT)) AS BIGINT)
      AS score_micro,
    COUNT(*) AS n_terms
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_terms, score_micro,
  {X.fround("CAST(score_micro AS DOUBLE) / 1.0E6", 6)} AS score_bm25
FROM agg
ORDER BY score_micro DESC, doc_id
LIMIT {k}
"""


def bm25_score_sql(tf: str, dl: str, table: str, k: int = BM25_K) -> str:
    """Standalone scoring statement over staged relation names."""
    return f"WITH {_bm25_score_ctes(tf, dl, table, k)}"


def bm25_topk_sql(d: str, table: str = "documents") -> str:
    """Oracle form: plain CTEs."""
    return (
        f"WITH tok AS ({tok_cte(d, table)}), tfq AS ({bm25_tf_sql('tok')}), "
        f"dlt AS ({bm25_dl_sql('tok')}), "
        + _bm25_score_ctes("tfq", "dlt", table)
    )


def bm25_topk_df(
    spark,
    table: str = "documents",
    query: tuple[str, ...] = BM25_QUERY,
    k: int = BM25_K,
):
    """Engine side: one corpus pass stages the per-doc (dl, term-tf)
    table (``_staged_tf_dl``); tf/dl ride as projections of that leaf.
    Final cut is ORDER BY + LIMIT = TakeOrdered."""
    with _staged_tf_dl(spark, table, query) as v2:
        return spark.sql(bm25_score_sql(v2.tf, v2.dl, table, k))


# ---------------------------------------------------------------------------
# Hybrid retrieval: Reciprocal Rank Fusion (Cormack et al. 2009) of two
# retrieval models with incomparable score scales — BM25 and Jelinek-Mercer
# query-likelihood (lambda = 1/2).  RRF is THE production fusion rule
# precisely because it needs only ranks: rrf(d) = sum over legs of
# 1/(K + rank_leg(d)), K = 60.  Everything stays exact integer:
#
# - QL leg (per candidate doc, per query term): p(t|d) = (tf/dl + ctf/T)/2
#   -> contribution qln_micro(5*tf*T + 5*ctf*dl) - qln_micro(10*dl*T)
#   (integer args; tf=0 rows still contribute the smoothed background mass,
#   so docs missing a term are penalized exactly as the model says).
#   Needs 5*tf*T < 2^63 — the same ~1e17-corpus-token bound as BM25's
#   saturation term, documented there.
# - Fusion: rrf_pico = sum of RRF_SCALE DIV (60 + rank) over the legs the
#   doc appears in (top-HYBRID_LEG_K per leg; absent = no contribution —
#   standard RRF).  Ranks come from ROW_NUMBER over the ALREADY-CUT leg
#   top lists (ORDER BY + LIMIT = TakeOrdered first, so the rank windows
#   run over <= HYBRID_LEG_K rows — bounded, never corpus-wide).
# ---------------------------------------------------------------------------

RRF_K = 60
RRF_SCALE = 10**12
HYBRID_LEG_K = 50
HYBRID_K = 10


def _ql_scores_ctes(tf: str, dl: str) -> str:
    """ctf/cand/qlp CTE-list (no leading WITH): Jelinek-Mercer (1/2)
    query-likelihood in exact BIGINT micro-nats over relations ``tf``
    (doc_id, token, tf — query terms only) and ``dl`` (doc_id, dl); a
    1-row CTE ``t`` (t_tok) must already be in scope.  Query terms absent
    from the corpus have no ctf row and drop out of every doc's sum
    identically in both engines."""
    # join alias is qtf, NOT t: the contribution embeds scalar subqueries
    # on the 1-row CTE `t`, and an alias named t would shadow it
    contrib = (
        f"{qln_micro('5 * COALESCE(qtf.tf, 0) * (SELECT t_tok FROM t) + 5 * ctf.ctf * dl.dl')}"
        f" - {qln_micro('10 * dl.dl * (SELECT t_tok FROM t)')}"
    )
    return f"""
ctf AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS ctf FROM {tf} GROUP BY token),
cand AS (SELECT DISTINCT doc_id FROM {tf}),
qlp AS (
  SELECT c.doc_id, CAST(SUM({contrib}) AS BIGINT) AS ql_micro
  FROM cand c
  JOIN {dl} dl ON dl.doc_id = c.doc_id
  CROSS JOIN ctf
  LEFT JOIN {tf} qtf ON qtf.doc_id = c.doc_id AND qtf.token = ctf.token
  GROUP BY c.doc_id
)"""


def _bm25_leg_ctes(
    tf: str,
    dl: str,
    table: str | None = None,
    leg_k: int = HYBRID_LEG_K,
    n_body: str | None = None,
    t_body: str | None = None,
) -> str:
    """THE single-query BM25 leg (no leading WITH, no trailing comma):
    n/t/df/scored/bm25agg/bm25top/bm25r over relations ``tf`` (doc_id,
    token, tf) and ``dl`` (doc_id, dl) — one definition shared by the
    lexical (BM25+QL) and the dense+sparse fusions so the sparse leg's
    scoring cannot drift between them.  ``bm25r`` exposes (doc_id, rn)
    with rn from ROW_NUMBER over the TakeOrdered top list (<= leg_k
    rows — bounded, never corpus-wide)."""
    n_body = n_body or f"SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM {table}"
    t_body = t_body or f"SELECT CAST(SUM(dl) AS BIGINT) AS t_tok FROM {dl}"
    return f"""
n AS ({n_body}),
t AS ({t_body}),
df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM {tf} GROUP BY token),
scored AS (
  SELECT tf.doc_id,
    {_bm25_contrib_expr()} AS contrib_micro
  FROM {tf} tf JOIN df ON tf.token = df.token
  JOIN {dl} dl ON tf.doc_id = dl.doc_id
),
bm25agg AS (
  SELECT doc_id,
    CAST(SUM(CAST(floor(contrib_micro + 0.5) AS BIGINT)) AS BIGINT)
      AS score_micro
  FROM scored GROUP BY doc_id
),
bm25top AS (
  SELECT doc_id, score_micro FROM bm25agg
  ORDER BY score_micro DESC, doc_id LIMIT {leg_k}
),
bm25r AS (
  SELECT doc_id,
    ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS rn
  FROM bm25top
)"""


def _hybrid_rrf_ctes(
    d: str,
    tf: str,
    dl: str,
    table: str | None = None,
    leg_k: int = HYBRID_LEG_K,
    k: int = HYBRID_K,
    n_body: str | None = None,
    t_body: str | None = None,
) -> str:
    """CTE-list + final SELECT (no leading WITH) fusing the BM25 and QL
    legs over shared ``tf``/``dl`` relations.  Leg ranks ride ROW_NUMBER
    over the TakeOrdered top lists (<= leg_k rows each); the fused cut is
    another TakeOrdered.  ``n_body``/``t_body`` override the N/T scalar
    subqueries (the indexed path inlines the stats sidecar as literals,
    same convention as ``_bm25_score_ctes``)."""
    rrf = X.idiv(d, str(RRF_SCALE), f"{RRF_K} + rn")
    return f"""
{_bm25_leg_ctes(tf, dl, table, leg_k, n_body, t_body).strip()},
{_ql_scores_ctes(tf, dl).lstrip()},
qltop AS (
  SELECT doc_id, ql_micro FROM qlp
  ORDER BY ql_micro DESC, doc_id LIMIT {leg_k}
),
qlr AS (
  SELECT doc_id,
    ROW_NUMBER() OVER (ORDER BY ql_micro DESC, doc_id) AS rn
  FROM qltop
),
legs AS (
  SELECT doc_id, rn, 1 AS is_bm25, 0 AS is_ql FROM bm25r
  UNION ALL
  SELECT doc_id, rn, 0 AS is_bm25, 1 AS is_ql FROM qlr
),
fused AS (
  SELECT doc_id,
    CAST(SUM({rrf}) AS BIGINT) AS rrf_pico,
    CAST(MAX(is_bm25 * rn) AS BIGINT) AS bm25_rank,
    CAST(MAX(is_ql * rn) AS BIGINT) AS ql_rank,
    CAST(COUNT(*) AS BIGINT) AS n_legs
  FROM legs GROUP BY doc_id
)
SELECT doc_id, rrf_pico, bm25_rank, ql_rank, n_legs,
  {X.fround("CAST(rrf_pico AS DOUBLE) / 1.0E12", 9)} AS rrf_score
FROM fused
ORDER BY rrf_pico DESC, doc_id
LIMIT {k}
"""


def hybrid_rrf_sql(
    d: str,
    table: str = "documents",
    query: tuple[str, ...] = BM25_QUERY,
) -> str:
    """Oracle form: plain CTEs."""
    return (
        f"WITH tok AS ({tok_cte(d, table)}), "
        f"tfq AS ({bm25_tf_sql('tok', query)}), "
        f"dlt AS ({bm25_dl_sql('tok')}), "
        + _hybrid_rrf_ctes(d, "tfq", "dlt", table)
    )


def hybrid_rrf_df(
    spark,
    table: str = "documents",
    query: tuple[str, ...] = BM25_QUERY,
):
    """Engine side: one corpus pass stages the per-doc (dl, term-tf)
    table (``_staged_tf_dl``); tf/dl ride as projections of that leaf (tf
    feeds df, the BM25 scorer, ctf, the candidate set and the QL left
    join; dl feeds the T scalar and both scorers).  Both leg cuts are
    TakeOrdered; both rank windows cover <= HYBRID_LEG_K rows."""
    d = X.SPARK
    with _staged_tf_dl(spark, table, query) as v2:
        return spark.sql(
            "WITH " + _hybrid_rrf_ctes(d, v2.tf, v2.dl, table)
        )


# ---------------------------------------------------------------------------
# Multi-query BM25 — the production retrieval shape.  A real retrieval user
# scores a TABLE of queries, not one literal (hard-negative mining for a
# training set runs millions): queries arrive as (query_id, term) rows,
# broadcast onto the postings, and the per-query top-k is a rank window
# over the CANDIDATE aggregation — bounded by |queries| x candidate pool,
# never corpus-wide.  The per-(doc, term) scoring math is
# ``_bm25_contrib_expr`` — the SAME definition the single-query and
# indexed forms compile, so a per-query loop of ``bm25_topk`` and one
# ``bm25_multi`` pass are bit-identical by construction (parity-tested).
# ---------------------------------------------------------------------------

BM25_QUERYSET: dict[int, tuple[str, ...]] = {
    1: BM25_QUERY,  # the single-query literal — the parity anchor
    2: ("hash", "join", "merge"),
    3: ("stream", "batch", "window", "slow"),
}
BM25_MULTI_K = 5


def bm25_queryset_terms(
    queries: dict[int, tuple[str, ...]] = BM25_QUERYSET,
) -> tuple[str, ...]:
    """Deduped union of every query's terms — the tf pre-shuffle IN-list."""
    return tuple(sorted({t for ts in queries.values() for t in ts}))


def bm25_queryset_sql(queries: dict[int, tuple[str, ...]] = BM25_QUERYSET) -> str:
    """(query_id, term) inline table as a UNION ALL of literal SELECTs —
    pure ANSI (both engines constant-fold it; Spark broadcasts the tiny
    side).  In production this relation is the user's query table; the
    plan shape is identical."""
    return " UNION ALL ".join(
        f"SELECT {qid} AS query_id, {_sql_str(t)} AS term"
        for qid, terms in sorted(queries.items())
        for t in terms
    )


def _bm25_multi_ctes(
    tf: str,
    dl: str,
    qt: str,
    table: str | None = None,
    k: int = BM25_MULTI_K,
    n_body: str | None = None,
    t_body: str | None = None,
) -> str:
    """CTE-list + final SELECT (no leading WITH) over relations ``tf``
    (doc_id, token, tf — already filtered to the queryset's term union),
    ``dl`` (doc_id, dl) and ``qt`` (query_id, term).  df is per-TOKEN
    (docs containing it — independent of which queries reference it), so
    scores match the single-query form exactly.  The rank window
    partitions by query_id over the post-aggregation candidate set."""
    n_body = n_body or f"SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM {table}"
    t_body = t_body or f"SELECT CAST(SUM(dl) AS BIGINT) AS t_tok FROM {dl}"
    return f"""
n AS ({n_body}),
t AS ({t_body}),
df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM {tf} GROUP BY token),
scored AS (
  SELECT qt.query_id, tf.doc_id,
    {_bm25_contrib_expr()} AS contrib_micro
  FROM {qt} qt
  JOIN {tf} tf ON tf.token = qt.term
  JOIN df ON tf.token = df.token
  JOIN {dl} dl ON tf.doc_id = dl.doc_id
),
agg AS (
  SELECT query_id, doc_id,
    CAST(SUM(CAST(floor(contrib_micro + 0.5) AS BIGINT)) AS BIGINT)
      AS score_micro,
    COUNT(*) AS n_terms
  FROM scored GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, n_terms, score_micro,
    ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rk
  FROM agg
)
SELECT query_id, doc_id, n_terms, score_micro, rk,
  {X.fround("CAST(score_micro AS DOUBLE) / 1.0E6", 6)} AS score_bm25
FROM ranked WHERE rk <= {k}
ORDER BY query_id, rk
"""


def bm25_multi_sql(
    d: str,
    table: str = "documents",
    queries: dict[int, tuple[str, ...]] = BM25_QUERYSET,
    k: int = BM25_MULTI_K,
) -> str:
    """Oracle form: plain CTEs."""
    return (
        f"WITH tok AS ({tok_cte(d, table)}), "
        f"qt AS ({bm25_queryset_sql(queries)}), "
        f"tfq AS ({bm25_tf_sql('tok', bm25_queryset_terms(queries))}), "
        f"dlt AS ({bm25_dl_sql('tok')}), "
        + _bm25_multi_ctes("tfq", "dlt", "qt", table, k)
    )


def bm25_multi_df(
    spark,
    table: str = "documents",
    queries: dict[int, tuple[str, ...]] = BM25_QUERYSET,
    k: int = BM25_MULTI_K,
):
    """Engine side: one corpus pass stages the per-doc (dl, term-tf)
    table (``_staged_tf_dl``); tf/dl ride as projections of that leaf; qt
    is a constant-folded literal relation the optimizer broadcasts.
    Per-query cut = rank window partitioned by query_id over the
    candidate agg."""
    with _staged_tf_dl(spark, table, bm25_queryset_terms(queries)) as v2:
        return spark.sql(
            f"WITH qt AS ({bm25_queryset_sql(queries)}), "
            + _bm25_multi_ctes(v2.tf, v2.dl, "qt", table, k)
        )


def _bm25_multi_leg_ctes(
    tf: str,
    dl: str,
    qt: str,
    table: str | None = None,
    n_body: str | None = None,
    t_body: str | None = None,
) -> str:
    """THE multi-query BM25 leg (no leading WITH, no trailing comma):
    n/t/df/scored/bm25agg/bm25r with a query_id key threaded through —
    one definition shared by the lexical and the dense+sparse multi
    fusions.  ``bm25r`` exposes (query_id, doc_id, rn) with rn from a
    rank window PARTITIONED BY query_id over the per-query candidate
    aggregation (bounded by candidates per query, never corpus-wide);
    callers cut at their leg_k."""
    n_body = n_body or f"SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM {table}"
    t_body = t_body or f"SELECT CAST(SUM(dl) AS BIGINT) AS t_tok FROM {dl}"
    return f"""
n AS ({n_body}),
t AS ({t_body}),
df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM {tf} GROUP BY token),
scored AS (
  SELECT qt.query_id, tf.doc_id,
    {_bm25_contrib_expr()} AS contrib_micro
  FROM {qt} qt
  JOIN {tf} tf ON tf.token = qt.term
  JOIN df ON tf.token = df.token
  JOIN {dl} dl ON tf.doc_id = dl.doc_id
),
bm25agg AS (
  SELECT query_id, doc_id,
    CAST(SUM(CAST(floor(contrib_micro + 0.5) AS BIGINT)) AS BIGINT)
      AS score_micro
  FROM scored GROUP BY query_id, doc_id
),
bm25r AS (
  SELECT query_id, doc_id,
    ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rn
  FROM bm25agg
)"""


def _hybrid_rrf_multi_ctes(
    d: str,
    tf: str,
    dl: str,
    qt: str,
    table: str | None = None,
    leg_k: int = HYBRID_LEG_K,
    k: int = HYBRID_K,
    n_body: str | None = None,
    t_body: str | None = None,
) -> str:
    """CTE-list + final SELECT (no leading WITH): the multi-query form of
    the RRF fusion — every stage of the single-query version with a
    query_id key threaded through.  Per-query candidates are docs holding
    >= 1 of THAT query's terms; leg cuts ride rank windows PARTITIONED BY
    query_id over the per-query candidate aggregations (bounded by
    candidates per query, never corpus-wide).  ``n_body``/``t_body``
    override the N/T scalar subqueries for the indexed path."""
    rrf = X.idiv(d, str(RRF_SCALE), f"{RRF_K} + rn")
    ql_contrib = (
        f"{qln_micro('5 * COALESCE(qtf.tf, 0) * (SELECT t_tok FROM t) + 5 * ctf.ctf * dl.dl')}"
        f" - {qln_micro('10 * dl.dl * (SELECT t_tok FROM t)')}"
    )
    return f"""
{_bm25_multi_leg_ctes(tf, dl, qt, table, n_body, t_body).strip()},
ctf AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS ctf FROM {tf} GROUP BY token),
candq AS (
  SELECT DISTINCT qt.query_id, tf.doc_id
  FROM {qt} qt JOIN {tf} tf ON tf.token = qt.term
),
qlp AS (
  SELECT cq.query_id, cq.doc_id, CAST(SUM({ql_contrib}) AS BIGINT) AS ql_micro
  FROM candq cq
  JOIN {qt} qt ON qt.query_id = cq.query_id
  JOIN ctf ON ctf.token = qt.term
  JOIN {dl} dl ON dl.doc_id = cq.doc_id
  LEFT JOIN {tf} qtf ON qtf.doc_id = cq.doc_id AND qtf.token = qt.term
  GROUP BY cq.query_id, cq.doc_id
),
qlr AS (
  SELECT query_id, doc_id,
    ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY ql_micro DESC, doc_id) AS rn
  FROM qlp
),
legs AS (
  SELECT query_id, doc_id, rn, 1 AS is_bm25, 0 AS is_ql
  FROM bm25r WHERE rn <= {leg_k}
  UNION ALL
  SELECT query_id, doc_id, rn, 0 AS is_bm25, 1 AS is_ql
  FROM qlr WHERE rn <= {leg_k}
),
fused AS (
  SELECT query_id, doc_id,
    CAST(SUM({rrf}) AS BIGINT) AS rrf_pico,
    CAST(MAX(is_bm25 * rn) AS BIGINT) AS bm25_rank,
    CAST(MAX(is_ql * rn) AS BIGINT) AS ql_rank,
    CAST(COUNT(*) AS BIGINT) AS n_legs
  FROM legs GROUP BY query_id, doc_id
),
ranked AS (
  SELECT fused.*,
    ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY rrf_pico DESC, doc_id) AS rk
  FROM fused
)
SELECT query_id, doc_id, rrf_pico, bm25_rank, ql_rank, n_legs, rk,
  {X.fround("CAST(rrf_pico AS DOUBLE) / 1.0E12", 9)} AS rrf_score
FROM ranked WHERE rk <= {k}
ORDER BY query_id, rk
"""


def hybrid_rrf_multi_sql(
    d: str,
    table: str = "documents",
    queries: dict[int, tuple[str, ...]] = BM25_QUERYSET,
) -> str:
    """Oracle form: plain CTEs."""
    return (
        f"WITH tok AS ({tok_cte(d, table)}), "
        f"qt AS ({bm25_queryset_sql(queries)}), "
        f"tfq AS ({bm25_tf_sql('tok', bm25_queryset_terms(queries))}), "
        f"dlt AS ({bm25_dl_sql('tok')}), "
        + _hybrid_rrf_multi_ctes(d, "tfq", "dlt", "qt", table)
    )


def hybrid_rrf_multi_df(
    spark,
    table: str = "documents",
    queries: dict[int, tuple[str, ...]] = BM25_QUERYSET,
):
    """Engine side: same staging as bm25_multi_df (one corpus pass via
    ``_staged_tf_dl``; tf feeds df/scored/ctf/candq/the QL left join, dl
    feeds T and both scorers); qt is the constant-folded broadcast
    relation.  Every rank window partitions by query_id over per-query
    candidates."""
    d = X.SPARK
    with _staged_tf_dl(spark, table, bm25_queryset_terms(queries)) as v2:
        return spark.sql(
            f"WITH qt AS ({bm25_queryset_sql(queries)}), "
            + _hybrid_rrf_multi_ctes(d, v2.tf, v2.dl, "qt", table)
        )


# ---------------------------------------------------------------------------
# Dense+sparse hybrid retrieval: THE production hybrid (the canonical RRF
# application in the Cormack et al. 2009 framing) — fuse a DENSE embedding
# leg (exact-decimal cosine vs a reference vector, the cosine_topk/
# cosine_multi machinery) with the SPARSE lexical leg (BM25 over the same
# corpus) through the same exact-integer rrf_pico rule as the lexical
# fusion.  The fixtures pair `documents` with `embeddings` by id
# (vec_id == doc_id: embedding of document i), so the fused key is doc_id.
#
# Determinism note: the dense leg's cosine is a float, but both engines
# quantize it to 1e-8 (floor(x*1e8+0.5)/1e8 — the cosine family's standing
# rounding) and ties break on vec_id, so the leg RANKS — the only thing
# the fusion consumes — are bit-stable cross-engine.  rrf_pico itself
# stays exact BIGINT (RRF_SCALE DIV (60 + rank)).
#
# Conventions: the reference vector is the QUERY in dense space, not a
# candidate — the corpus excludes it (cosine_topk's convention; in the
# multi form each query excludes only its own vector).  The text query
# has no document identity, so the sparse leg stays natural.  Standard
# RRF absence rule: a doc missing from a leg's top-leg_k contributes
# nothing from that leg (n_legs says which).
# ---------------------------------------------------------------------------

DENSE_QUERY_VEC = 0  # single-query reference vector (cosine_topk's query)


def _dense_scored_sql(d: str, vec_table: str, query_vec: int) -> str:
    """(vec_id, cosine) of every corpus vector vs the single reference
    vector — dialect-split exact cosine (decimal-exact dot products,
    1e-8 rounding; corpus excludes the reference itself).  Spark side
    broadcasts the 1-row query subquery (BNLJ bounded by 1 — dense
    scoring has no equi key by construction, the cosine_topk whitelist
    rationale)."""
    from .similarity import cosine_duck_cte, dot_spark

    if d == X.DUCK:
        return (
            f"SELECT vec_id, cosine FROM "
            f"({cosine_duck_cte(vec_table, f'vec_id = {query_vec}')}) "
            f"WHERE vec_id <> {query_vec}"
        )
    # the query self-norm hoists onto the 1-row broadcast side (computed
    # once, not once per corpus row); cosine_from_parts IS cosine_spark's
    # assembly, so the 1e-8-quantized values are bit-identical
    from .similarity import cosine_from_parts

    dot = dot_spark("e.embedding", "q.qe")
    na = dot_spark("e.embedding", "e.embedding")
    cos = cosine_from_parts(dot, na, "q._nq")
    return (
        f"SELECT /*+ BROADCAST(q) */ e.vec_id, {cos} AS cosine "
        f"FROM {vec_table} e CROSS JOIN "
        f"(SELECT embedding AS qe, "
        f"{dot_spark('embedding', 'embedding')} AS _nq FROM {vec_table} "
        f"WHERE vec_id = {query_vec}) q "
        f"WHERE e.vec_id <> {query_vec}"
    )


def _dense_sparse_ctes(
    d: str,
    tf: str,
    dl: str,
    dcos: str,
    table: str | None = None,
    leg_k: int = HYBRID_LEG_K,
    k: int = HYBRID_K,
    n_body: str | None = None,
    t_body: str | None = None,
) -> str:
    """CTE-list + final SELECT (no leading WITH) fusing the shared BM25
    leg (``_bm25_leg_ctes`` — the same fragment as the lexical fusion)
    with a dense leg read from relation ``dcos`` (vec_id, cosine).  Leg
    cuts are TakeOrdered; rank windows run over <= leg_k already-cut
    rows.  ``n_body``/``t_body`` override the N/T scalar subqueries for
    the indexed path."""
    rrf = X.idiv(d, str(RRF_SCALE), f"{RRF_K} + rn")
    return f"""
{_bm25_leg_ctes(tf, dl, table, leg_k, n_body, t_body).strip()},
dtop AS (
  SELECT vec_id, cosine FROM {dcos}
  ORDER BY cosine DESC, vec_id LIMIT {leg_k}
),
dr AS (
  SELECT vec_id AS doc_id,
    ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS rn
  FROM dtop
),
legs AS (
  SELECT doc_id, rn, 1 AS is_sparse, 0 AS is_dense FROM bm25r
  UNION ALL
  SELECT doc_id, rn, 0 AS is_sparse, 1 AS is_dense FROM dr
),
fused AS (
  SELECT doc_id,
    CAST(SUM({rrf}) AS BIGINT) AS rrf_pico,
    CAST(MAX(is_sparse * rn) AS BIGINT) AS bm25_rank,
    CAST(MAX(is_dense * rn) AS BIGINT) AS dense_rank,
    CAST(COUNT(*) AS BIGINT) AS n_legs
  FROM legs GROUP BY doc_id
)
SELECT doc_id, rrf_pico, bm25_rank, dense_rank, n_legs,
  {X.fround("CAST(rrf_pico AS DOUBLE) / 1.0E12", 9)} AS rrf_score
FROM fused
ORDER BY rrf_pico DESC, doc_id
LIMIT {k}
"""


def hybrid_dense_sparse_sql(
    d: str,
    table: str = "documents",
    vec_table: str = "embeddings",
    query: tuple[str, ...] = BM25_QUERY,
    query_vec: int = DENSE_QUERY_VEC,
    leg_k: int = HYBRID_LEG_K,
    k: int = HYBRID_K,
) -> str:
    """Oracle form: plain CTEs."""
    return (
        f"WITH tok AS ({tok_cte(d, table)}), "
        f"tfq AS ({bm25_tf_sql('tok', query)}), "
        f"dlt AS ({bm25_dl_sql('tok')}), "
        f"dcos AS ({_dense_scored_sql(d, vec_table, query_vec)}), "
        + _dense_sparse_ctes(d, "tfq", "dlt", "dcos", table, leg_k, k)
    )


def hybrid_dense_sparse_df(
    spark,
    table: str = "documents",
    vec_table: str = "embeddings",
    query: tuple[str, ...] = BM25_QUERY,
    query_vec: int = DENSE_QUERY_VEC,
    leg_k: int = HYBRID_LEG_K,
    k: int = HYBRID_K,
):
    """Engine side: same single-pass tf/dl staging as the lexical fusion
    (``_staged_tf_dl``); the dense CTE is referenced once (dtop), so it
    rides inline — the 1-row query subquery broadcasts, scores project to
    THIN (vec_id, cosine) rows, and the leg cut is ORDER BY + LIMIT =
    TakeOrdered."""
    d = X.SPARK
    with _staged_tf_dl(spark, table, query) as v2:
        return spark.sql(
            f"WITH dcos AS ({_dense_scored_sql(d, vec_table, query_vec)}), "
            + _dense_sparse_ctes(d, v2.tf, v2.dl, "dcos", table, leg_k, k)
        )


def _dense_multi_scored_sql(
    d: str, vec_table: str, query_vec_ids: tuple[int, ...]
) -> str:
    """(query_id, vec_id, cosine) of every corpus vector vs EVERY query
    vector — the multi twin of ``_dense_scored_sql`` (each query excludes
    only its own vector from the corpus)."""
    from .similarity import cosine_multi_duck_cte, cosine_spark

    ids = ", ".join(str(i) for i in query_vec_ids)
    if d == X.DUCK:
        return cosine_multi_duck_cte(
            vec_table, f"vec_id IN ({ids})", "e.vec_id <> q.query_id"
        )
    return (
        f"SELECT /*+ BROADCAST(q) */ q.query_id, e.vec_id, "
        f"{cosine_spark('e.embedding', 'q.qe')} AS cosine "
        f"FROM {vec_table} e CROSS JOIN "
        f"(SELECT vec_id AS query_id, embedding AS qe FROM {vec_table} "
        f"WHERE vec_id IN ({ids})) q "
        f"WHERE e.vec_id <> q.query_id"
    )


def _dense_sparse_multi_ctes(
    d: str,
    tf: str,
    dl: str,
    qt: str,
    drm: str,
    table: str | None = None,
    leg_k: int = HYBRID_LEG_K,
    k: int = HYBRID_K,
    n_body: str | None = None,
    t_body: str | None = None,
) -> str:
    """CTE-list + final SELECT (no leading WITH): the multi-query
    dense+sparse fusion over the shared multi BM25 leg
    (``_bm25_multi_leg_ctes``) and a dense leg read from relation ``drm``
    (query_id, doc_id, rn) — the oracle derives drm from a rank window
    over the full per-query cosine set, the engine stages
    ``per_query_topk``'s partition-local pre-cut (bit-identical ranks
    under the shared (cosine DESC, vec_id) total order)."""
    rrf = X.idiv(d, str(RRF_SCALE), f"{RRF_K} + rn")
    return f"""
{_bm25_multi_leg_ctes(tf, dl, qt, table, n_body, t_body).strip()},
legs AS (
  SELECT query_id, doc_id, rn, 1 AS is_sparse, 0 AS is_dense
  FROM bm25r WHERE rn <= {leg_k}
  UNION ALL
  SELECT query_id, doc_id, rn, 0 AS is_sparse, 1 AS is_dense
  FROM {drm} WHERE rn <= {leg_k}
),
fused AS (
  SELECT query_id, doc_id,
    CAST(SUM({rrf}) AS BIGINT) AS rrf_pico,
    CAST(MAX(is_sparse * rn) AS BIGINT) AS bm25_rank,
    CAST(MAX(is_dense * rn) AS BIGINT) AS dense_rank,
    CAST(COUNT(*) AS BIGINT) AS n_legs
  FROM legs GROUP BY query_id, doc_id
),
ranked AS (
  SELECT fused.*,
    ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY rrf_pico DESC, doc_id) AS rk
  FROM fused
)
SELECT query_id, doc_id, rrf_pico, bm25_rank, dense_rank, n_legs, rk,
  {X.fround("CAST(rrf_pico AS DOUBLE) / 1.0E12", 9)} AS rrf_score
FROM ranked WHERE rk <= {k}
ORDER BY query_id, rk
"""


def hybrid_dense_sparse_multi_sql(
    d: str,
    table: str = "documents",
    vec_table: str = "embeddings",
    queries: dict[int, tuple[str, ...]] = BM25_QUERYSET,
    leg_k: int = HYBRID_LEG_K,
    k: int = HYBRID_K,
) -> str:
    """Oracle form: plain CTEs.  Each query_id's dense vector is the
    embedding of vec_id == query_id (the fixture's doc/vec pairing), so
    the queryset is (terms, vector) pairs keyed by one id."""
    return (
        f"WITH tok AS ({tok_cte(d, table)}), "
        f"qt AS ({bm25_queryset_sql(queries)}), "
        f"tfq AS ({bm25_tf_sql('tok', bm25_queryset_terms(queries))}), "
        f"dlt AS ({bm25_dl_sql('tok')}), "
        f"dcosm AS ({_dense_multi_scored_sql(d, vec_table, tuple(sorted(queries)))}), "
        f"drm AS (SELECT query_id, vec_id AS doc_id, "
        f"ROW_NUMBER() OVER (PARTITION BY query_id "
        f"ORDER BY cosine DESC, vec_id) AS rn FROM dcosm), "
        + _dense_sparse_multi_ctes(d, "tfq", "dlt", "qt", "drm", table, leg_k, k)
    )


def _dense_multi_leg_df(spark, vec_table: str, query_vec_ids, leg_k: int):
    """Engine-side dense leg: broadcast |Q|-row query-vector table onto
    the corpus, thin (query_id, vec_id, cosine) projection, then
    ``per_query_topk``'s partition-local pre-cut — the final rank window
    sees <= |Q| x leg_k x partitions rows, never corpus x |Q| (the
    cosine_multi discipline).  Both self-norms HOIST out of the pair
    space: the corpus norm is computed once per VECTOR (not once per
    (query, vector) pair — a |Q|x saving on the dominant aggregate-HOF
    cost) and the query norm once per query on the broadcast side; the
    assembled expression is the same dot/(SQRT(na)*SQRT(nq)) double
    arithmetic as ``cosine_spark``, so the 1e-8-quantized values are
    bit-identical.  Returns (query_id, doc_id, rn <= leg_k)."""
    from pyspark.sql import functions as F

    from .similarity import cosine_from_parts, dot_spark, per_query_topk

    emb = spark.table(vec_table)
    ids = [int(i) for i in query_vec_ids]
    corpus = emb.select(
        "vec_id",
        "embedding",
        F.expr(dot_spark("embedding", "embedding")).alias("_na"),
    )
    q = emb.filter(F.col("vec_id").isin(ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.expr(dot_spark("embedding", "embedding")).alias("_nq"),
    )
    cos = cosine_from_parts(dot_spark("embedding", "qe"), "_na", "_nq")
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.expr(cos).alias("cosine"))
    )
    return per_query_topk(scored, leg_k).select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.col("rank").alias("rn"),
    )


def hybrid_dense_sparse_multi_df(
    spark,
    table: str = "documents",
    vec_table: str = "embeddings",
    queries: dict[int, tuple[str, ...]] = BM25_QUERYSET,
    leg_k: int = HYBRID_LEG_K,
    k: int = HYBRID_K,
):
    """Engine side: the sparse leg stages tok/tf/dl exactly like the
    lexical multi fusion; the dense leg stages ``per_query_topk``'s
    pre-cut ranks as a view (<= |Q| x leg_k rows) and feeds the SAME
    fusion fragment the oracle runs — leg ranks are bit-identical by the
    shared (cosine DESC, vec_id) / (score DESC, doc_id) total orders."""
    from .staging import staged_views

    d = X.SPARK
    dr = _dense_multi_leg_df(spark, vec_table, sorted(queries), leg_k)
    with _staged_tf_dl(spark, table, bm25_queryset_terms(queries)) as v2:
        with staged_views(spark, drm=dr) as v3:
            return spark.sql(
                f"WITH qt AS ({bm25_queryset_sql(queries)}), "
                + _dense_sparse_multi_ctes(
                    d, v2.tf, v2.dl, "qt", v3.drm, table, leg_k, k
                )
            )


def hybrid_dense_sparse_multi_indexed(
    spark,
    path: str,
    vec_table: str = "embeddings",
    queries: dict[int, tuple[str, ...]] = BM25_QUERYSET,
    leg_k: int = HYBRID_LEG_K,
    k: int = HYBRID_K,
):
    """Dense+sparse hybrid against the PERSISTED inverted index: the
    sparse leg reads |Q| pruned postings buckets + the doclen/stats
    sidecars (no corpus text pass — the hybrid_rrf_multi_indexed shape),
    the dense leg is the same broadcast exact-cosine scan, and the fusion
    fragment is shared — bit-identical to ``hybrid_dense_sparse_multi_df``
    by construction (parity-tested)."""
    from .staging import staged_views

    dr = _dense_multi_leg_df(spark, vec_table, sorted(queries), leg_k)
    post, dl, n_body, t_body = _indexed_inputs(
        spark, path, bm25_queryset_terms(queries)
    )
    with staged_views(spark, tf=post, dl=dl, drm=dr, checkpoint=False) as v:
        return spark.sql(
            f"WITH qt AS ({bm25_queryset_sql(queries)}), "
            + _dense_sparse_multi_ctes(
                X.SPARK,
                v.tf,
                v.dl,
                "qt",
                v.drm,
                leg_k=leg_k,
                k=k,
                n_body=n_body,
                t_body=t_body,
            )
        )


# weighted-RRF leg weights (exact integers — the fusion stays in BIGINT
# picos: each leg contributes w * RRF_SCALE DIV (RRF_K + rank)).  Sparse
# ahead of dense is the common production prior for keyword-ish queries;
# the weights are config, the FRAGMENT is the deliverable.
HYBRID_W_SPARSE = 3
HYBRID_W_DENSE = 2


def _dense_sparse_weighted_ctes(
    d: str,
    tf: str,
    dl: str,
    qt: str,
    drm: str,
    table: str | None = None,
    leg_k: int = HYBRID_LEG_K,
    k: int = HYBRID_K,
    w_sparse: int = HYBRID_W_SPARSE,
    w_dense: int = HYBRID_W_DENSE,
    n_body: str | None = None,
    t_body: str | None = None,
) -> str:
    """CTE-list + final SELECT (no leading WITH): WEIGHTED reciprocal rank
    fusion — the leg-weighted generalization of the multi dense+sparse
    fragment (rrf = sum of w_leg / (K + rank), the form production stacks
    tune when one leg is known stronger for the workload).  Same shared
    BM25 leg, same ``drm`` dense relation contract, exact integers
    throughout: each leg's contribution is w * RRF_SCALE DIV (K + rn)."""
    rrf = X.idiv(d, f"w * {RRF_SCALE}", f"{RRF_K} + rn")
    return f"""
{_bm25_multi_leg_ctes(tf, dl, qt, table, n_body, t_body).strip()},
legs AS (
  SELECT query_id, doc_id, rn, {w_sparse} AS w, 1 AS is_sparse, 0 AS is_dense
  FROM bm25r WHERE rn <= {leg_k}
  UNION ALL
  SELECT query_id, doc_id, rn, {w_dense} AS w, 0 AS is_sparse, 1 AS is_dense
  FROM {drm} WHERE rn <= {leg_k}
),
fused AS (
  SELECT query_id, doc_id,
    CAST(SUM({rrf}) AS BIGINT) AS rrf_pico,
    CAST(MAX(is_sparse * rn) AS BIGINT) AS bm25_rank,
    CAST(MAX(is_dense * rn) AS BIGINT) AS dense_rank,
    CAST(COUNT(*) AS BIGINT) AS n_legs
  FROM legs GROUP BY query_id, doc_id
),
ranked AS (
  SELECT fused.*,
    ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY rrf_pico DESC, doc_id) AS rk
  FROM fused
)
SELECT query_id, doc_id, rrf_pico, bm25_rank, dense_rank, n_legs, rk,
  {X.fround("CAST(rrf_pico AS DOUBLE) / 1.0E12", 9)} AS rrf_score
FROM ranked WHERE rk <= {k}
ORDER BY query_id, rk
"""


def hybrid_weighted_sql(
    d: str,
    table: str = "documents",
    vec_table: str = "embeddings",
    queries: dict[int, tuple[str, ...]] = BM25_QUERYSET,
    leg_k: int = HYBRID_LEG_K,
    k: int = HYBRID_K,
) -> str:
    """Oracle form: plain CTEs (the multi dense+sparse oracle with the
    weighted fusion tail)."""
    return (
        f"WITH tok AS ({tok_cte(d, table)}), "
        f"qt AS ({bm25_queryset_sql(queries)}), "
        f"tfq AS ({bm25_tf_sql('tok', bm25_queryset_terms(queries))}), "
        f"dlt AS ({bm25_dl_sql('tok')}), "
        f"dcosm AS ({_dense_multi_scored_sql(d, vec_table, tuple(sorted(queries)))}), "
        f"drm AS (SELECT query_id, vec_id AS doc_id, "
        f"ROW_NUMBER() OVER (PARTITION BY query_id "
        f"ORDER BY cosine DESC, vec_id) AS rn FROM dcosm), "
        + _dense_sparse_weighted_ctes(
            d, "tfq", "dlt", "qt", "drm", table, leg_k, k
        )
    )


def hybrid_weighted_df(
    spark,
    table: str = "documents",
    vec_table: str = "embeddings",
    queries: dict[int, tuple[str, ...]] = BM25_QUERYSET,
    leg_k: int = HYBRID_LEG_K,
    k: int = HYBRID_K,
):
    """Engine side: identical staging to hybrid_dense_sparse_multi_df,
    the weighted fusion fragment on top."""
    from .staging import staged_views

    d = X.SPARK
    dr = _dense_multi_leg_df(spark, vec_table, sorted(queries), leg_k)
    with _staged_tf_dl(spark, table, bm25_queryset_terms(queries)) as v2:
        with staged_views(spark, drm=dr) as v3:
            return spark.sql(
                f"WITH qt AS ({bm25_queryset_sql(queries)}), "
                + _dense_sparse_weighted_ctes(
                    d, v2.tf, v2.dl, "qt", v3.drm, table, leg_k, k
                )
            )


def hybrid_dense_sparse_ann_indexed(
    spark,
    text_path: str,
    ivf_path: str,
    query_vecs: dict[int, list[float]] | Callable[[], dict[int, list[float]]],
    queries: dict[int, tuple[str, ...]] = BM25_QUERYSET,
    leg_k: int = HYBRID_LEG_K,
    k: int = HYBRID_K,
):
    """The FULLY-indexed hybrid — both legs on standing indexes, nothing
    scans the corpus at query time: the dense leg is IVF-probed ANN ranks
    from the persisted cell-partitioned vector index (ivf_multi_indexed —
    |Q| pruned cell scans), the sparse leg is BM25 over pruned postings
    buckets + sidecar stats, fused through the SAME
    ``_dense_sparse_multi_ctes`` fragment as the exact forms.  The dense
    leg is APPROXIMATE by design (nprobe cells, not the whole corpus) —
    standard RRF semantics absorb that: a doc outside the probed cells
    simply contributes no dense-leg term, exactly like a doc outside a
    leg's top-leg_k.  This is the production query path at 100 TB: per
    query set, |Q| postings buckets + nprobe cell partitions, zero
    corpus passes.

    The four standing-file reads this query needs on the driver before
    any leg runs — the query vectors (``query_vecs`` may be a zero-arg
    callable so the caller's collect joins the pool), the clash probe,
    the centroid sidecar and the text stats/doclen sidecars — are
    mutually independent bounded jobs, so they run CONCURRENTLY from a
    small thread pool (guide §2.6: actions are only sequential because
    driver code calls them sequentially); serialized they cost their sum
    in scheduling round-trips per query."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from .similarity import IVF, _read_centroids, ivf_multi_indexed
    from .staging import staged_views

    # the exact dense legs exclude each query's own vector from the
    # corpus; the ANN leg's ranks come from the standing index, so the
    # same semantics require the index to NOT contain the query vectors.
    # Make that dependency loud with a bounded pushed-down probe (vec_id
    # IN-list + limit 1 — row-group min/max pruned).  qids come from the
    # sparse queryset; the dense/sparse id-set equality is re-checked
    # below once the (possibly lazily collected) query_vecs resolve.
    qids = [int(i) for i in queries]

    def _clash_count() -> int:
        return (
            IVF.read(spark, ivf_path)
            .filter(F.col("vec_id").isin(qids))
            .limit(1)
            .count()
        )

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_qv = pool.submit(query_vecs) if callable(query_vecs) else None
        f_clash = pool.submit(_clash_count)
        f_cent = pool.submit(_read_centroids, spark, ivf_path)
        f_inputs = pool.submit(
            _indexed_inputs, spark, text_path, bm25_queryset_terms(queries)
        )
        qvecs = f_qv.result() if f_qv is not None else query_vecs
        # the id-set contract raises BEFORE any other future is consumed,
        # so a mismatched call surfaces the contract ValueError, never a
        # concurrent read's incidental failure
        if set(qvecs) != set(queries):
            raise ValueError(
                "hybrid_dense_sparse_ann_indexed: query_vecs and queries "
                f"must share one query_id set (got dense {sorted(qvecs)} vs "
                f"sparse {sorted(queries)}) — a mismatch would silently "
                "emit single-leg fusions"
            )
        # likewise the clash contract outranks the other reads' failures
        if f_clash.result() > 0:
            raise ValueError(
                "hybrid_dense_sparse_ann_indexed: the dense index contains "
                "a query vector — build it on the corpus slice excluding "
                "the query ids (the exact forms' self-exclusion "
                "convention), or the query's own doc takes dense rank 1 "
                "for its own query"
            )
        centers = f_cent.result()
        post, dl, n_body, t_body = f_inputs.result()
    dr = ivf_multi_indexed(
        spark, ivf_path, qvecs, k=leg_k, centers=centers
    ).select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.col("rank").alias("rn"),
    )
    with staged_views(spark, tf=post, dl=dl, drm=dr, checkpoint=False) as v:
        return spark.sql(
            f"WITH qt AS ({bm25_queryset_sql(queries)}), "
            + _dense_sparse_multi_ctes(
                X.SPARK,
                v.tf,
                v.dl,
                "qt",
                v.drm,
                leg_k=leg_k,
                k=k,
                n_body=n_body,
                t_body=t_body,
            )
        )


# ---------------------------------------------------------------------------
# PMI collocations
# ---------------------------------------------------------------------------


def pmi_base_sql(d: str, table: str = "documents") -> str:
    """(doc_id, toks array, n) for docs with >= 2 tokens (so the bigram
    position bound n-1 is always >= 1 and in range)."""
    arr = X.split_tokens(d, "lower(text)")
    return (
        f"SELECT doc_id, toks, n FROM "
        f"(SELECT doc_id, {arr} AS toks, {X.arr_size(d, arr)} AS n "
        f"FROM {table}) s WHERE n >= 2"
    )


def pmi_uni_sql(d: str, base: str) -> str:
    return (
        f"SELECT token, COUNT(*) AS c FROM "
        f"(SELECT {X.explode_tokens(d, 'toks')} AS token FROM {base}) u "
        f"GROUP BY token"
    )


def _pmi_score_ctes(
    d: str,
    base: str,
    uni: str,
    min_pair: int = PMI_MIN_PAIR,
    k: int = PMI_TOP_K,
) -> str:
    """CTE-list + final SELECT (no leading WITH) over relations ``base``
    (doc_id, toks, n) and ``uni`` (token, c)."""
    at = "element_at(toks, CAST(i AS INT))" if d == X.SPARK else "toks[i]"
    at1 = (
        "element_at(toks, CAST(i + 1 AS INT))" if d == X.SPARK else "toks[i + 1]"
    )
    pos = X.positions_from(d, f"(SELECT * FROM {base})", "doc_id, toks", "n - 1")
    pmi = (
        f"({qln_micro('c_ab')} + 2 * (SELECT {qln_micro('t_tok')} FROM t)"
        f" - (SELECT {qln_micro('n_bi')} FROM b)"
        f" - {qln_micro('c_a')} - {qln_micro('c_b')})"
    )
    return f"""
t AS (SELECT CAST(SUM(c) AS BIGINT) AS t_tok FROM {uni}),
bi AS (
  SELECT {at} AS w_a, {at1} AS w_b, COUNT(*) AS c_ab
  FROM {pos} p
  GROUP BY 1, 2
),
b AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n_bi FROM bi),
joined AS (
  SELECT bi.w_a, bi.w_b, bi.c_ab, ua.c AS c_a, ub.c AS c_b
  FROM bi JOIN {uni} ua ON bi.w_a = ua.token
  JOIN {uni} ub ON bi.w_b = ub.token
  WHERE bi.c_ab >= {min_pair}
)
SELECT w_a, w_b, c_ab, c_a, c_b, {pmi} AS pmi_micro
FROM joined
ORDER BY pmi_micro DESC, w_a, w_b
LIMIT {k}
"""


def pmi_score_sql(d: str, base: str, uni: str) -> str:
    """Standalone scoring statement over staged relation names."""
    return f"WITH {_pmi_score_ctes(d, base, uni)}"


def pmi_collocations_sql(d: str, table: str = "documents") -> str:
    """Oracle form: plain CTEs."""
    return (
        f"WITH base AS ({pmi_base_sql(d, table)}), "
        f"uni AS ({pmi_uni_sql(d, 'base')}), "
        + _pmi_score_ctes(d, "base", "uni")
    )


def pmi_collocations_df(spark, table: str = "documents"):
    """Engine side: the tokenized base feeds unigram AND bigram counts
    (staged); uni feeds the T scalar AND the two sides of the joined step
    (staged); scalar totals ride scalar subqueries; top-k is TakeOrdered.

    Note the TWO references to ``uni`` in the join are intentional — they
    are different join keys (w_a vs w_b) over the same staged vocabulary
    relation, both broadcast."""
    from .staging import staged_views

    d = X.SPARK
    base_df = spark.sql(pmi_base_sql(d, table))
    with staged_views(spark, base=base_df) as v1:
        uni_df = spark.sql(pmi_uni_sql(d, v1.base))
        with staged_views(spark, uni=uni_df) as v2:
            return spark.sql(pmi_score_sql(d, v1.base, v2.uni))


# ---------------------------------------------------------------------------
# Fit-once / score-everywhere LM model (the DSIR artifact pattern, for the
# streaming curation gate)
# ---------------------------------------------------------------------------


LM_MODEL_MAX_VOCAB = 65_536  # hard bound on rows crossing the driver in
# lm_model_fit — CCNet itself caps its LM vocabulary; a Heaps-law vocab of
# an unbounded reference slice does NOT fit a driver at 100 TB


def lm_model_fit(
    spark, ref_docs, max_vocab: int = LM_MODEL_MAX_VOCAB
) -> tuple[list[tuple[str, int]], int]:
    """Fit the unigram LM on a reference corpus (the CALLER slices —
    unlike ``lm_fit_sql``, no 1-in-7 predicate is applied here): returns
    ``([(token, count)...], qln_tv1_micro)`` as plain Python values, the
    persist-and-broadcast artifact shape.

    The driver crossing is HARD-BOUNDED at ``max_vocab`` rows: the
    distinct-token counts are cut to the top-``max_vocab`` by
    ``(count DESC, token)`` via ORDER BY + LIMIT — TakeOrdered
    (per-partition heaps over the already-aggregated vocabulary relation,
    no global sort), so the collect never exceeds the cap no matter how
    large the reference slice's vocabulary grows (Heaps' law says it DOES
    grow with the slice — a fixed cap, not "vocabulary-sized", is the
    contract that survives 100 TB).  CCNet-faithful: the paper's LM caps
    its vocabulary too.  When the cap binds, the model is the unigram LM
    of the TRUNCATED count table — T = sum of kept counts, V = kept vocab
    size — and every dropped-tail token scores as OOV at the Laplace
    ceiling ``qln(T+V+1) - qln(0+1)``, the bucket that already exists; no
    new math rule.  When the cap does not bind the fit is bit-identical
    to the uncapped form (kept == full vocabulary)."""
    import math

    from pyspark.sql import functions as F

    view = "__lm_fit_docs"
    ref_docs.createOrReplaceTempView(view)
    try:
        rows = (
            spark.sql(
                f"SELECT token, COUNT(*) AS c FROM ({tok_cte(X.SPARK, view)}) t "
                f"GROUP BY token"
            )
            .orderBy(F.desc("c"), "token")
            .limit(max_vocab)
            .collect()
        )
    finally:
        spark.catalog.dropTempView(view)
    if not rows:
        raise ValueError("lm_model_fit: reference corpus has no tokens")
    kept = [(r["token"], int(r["c"])) for r in rows]
    t_tok = sum(c for _, c in kept)
    qln_tv1 = math.floor(math.log(t_tok + len(kept) + 1) * 1e6 + 0.5)
    return kept, qln_tv1


def lm_model_score(docs_df, model: tuple[list[tuple[str, int]], int]):
    """Score documents against a fitted LM: (doc_id, n_tok, nll_micro,
    avg_nll_nats).  The model arrives as plain Python values and is rebuilt
    as a broadcast vocabulary table inside whatever session ``docs_df``
    belongs to (foreachBatch clones sessions — same rule as
    ``dsir_score``).  The per-token nll is the SAME fragment
    ``lm_score_sql`` compiles — qln_micro(T+V+1) - qln_micro(c+1), OOV
    pays the ceiling — so the streaming gate scores bit-identically to the
    batch query when fit on the same slice."""
    from pyspark.sql import functions as F

    rows, qln_tv1 = model
    sess = docs_df.sparkSession
    lm = sess.createDataFrame(rows, "token string, c long")
    view = "__lm_score_docs"
    docs_df.createOrReplaceTempView(view)
    try:
        toks = sess.sql(tok_cte(X.SPARK, view))
    finally:
        sess.catalog.dropTempView(view)
    return (
        toks.join(F.broadcast(lm), "token", "left")
        .withColumn(
            "qln_c1", F.expr(qln_micro("coalesce(c, 0) + 1"))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            (F.count(F.lit(1)) * F.lit(qln_tv1) - F.sum("qln_c1"))
            .cast("long")
            .alias("nll_micro"),
        )
        .withColumn(
            "avg_nll_nats",
            F.expr(
                X.fround(
                    "CAST(nll_micro AS DOUBLE) / (CAST(n_tok AS DOUBLE) * 1.0E6)", 6
                )
            ),
        )
    )


# ---------------------------------------------------------------------------
# Materialized inverted index (the 100 TB sparse-retrieval shape — the
# BM25 twin of similarity.build_ivf_index's cell-partitioned parquet)
# ---------------------------------------------------------------------------

TEXT_INDEX_BUCKETS = 64  # token-hash partition count (raw-token partitionBy
# would mint |vocab| directories; hash buckets keep the layout bounded)

# postings partitioned by token bucket, plus two sidecars partitioned by
# batch alone: doc lengths at ``<path>.doclen`` and one (n_docs, t_tok) row
# per doclen slice at ``<path>.stats`` — all ride the one index-table
# lifecycle
POSTINGS = IT.IndexTable(
    "tbucket", "doc_id", "doc_id bigint, token string, tf bigint, tbucket int"
)
DOCLEN = IT.IndexTable(None, "doc_id", "doc_id bigint, dl bigint")
STATS = IT.IndexTable(None, "n_docs", "n_docs bigint, t_tok bigint")


def _token_bucket(token: str) -> int:
    """Python twin of the engine's bucket rule (md5_int % buckets) — the
    query router must compute the same buckets the writer partitioned by."""
    import hashlib

    return int(hashlib.md5(token.encode()).hexdigest()[:15], 16) % TEXT_INDEX_BUCKETS


def _assert_no_null_text(docs_df, where: str) -> None:
    """Enforce the index contract on an APPEND batch: NULL-text docs would
    land no doclen row, so the append's stats rebuild (N = doclen row
    count) would silently shift N away from build-time's docs-table count
    — changing every idf.  A limit(1) IsNull probe is batch-scale cheap
    here (appends are micro-batches; parquet sources additionally prune
    via row-group null counts).  The BUILD path enforces the same
    contract for free instead — it compares the docs count it already
    takes against the doclen row count it just wrote (one footer-metadata
    read, no second corpus scan)."""
    if docs_df.filter("text IS NULL").limit(1).count() > 0:
        raise _null_text_error(where)


def _null_text_error(where: str) -> ValueError:
    return ValueError(
        f"{where}: NULL-text docs are outside the text-index contract "
        "(they produce no tokens and no doclen row, so the append-time "
        "stats rebuild would drift N) — filter them out before indexing"
    )


def _slice_stats():
    """The (n_docs, t_tok) aggregate columns over doclen rows; COALESCE
    keeps t_tok a real 0 over no rows."""
    from pyspark.sql import functions as F

    return (
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("t_tok"),
    )


def _restat(spark, path: str) -> None:
    """Rewrite every stats slice as the aggregate of its doclen slice —
    the rule every verb that rewrites doclen slices keeps (append,
    compaction, delete; streamed ingest and build write their one slice
    directly).  Slices a delete or a fold emptied vanish from stats with
    them, and an emptied doclen leaves no stats slice at all."""
    dl = DOCLEN.read(spark, f"{path}.doclen")
    STATS.replace(dl.groupBy("batch_id").agg(*_slice_stats()), f"{path}.stats")


def text_index_stats(spark, path: str) -> tuple[int, int]:
    """The index's corpus statistics (N, T): the sum of its stats slices,
    (0, 0) for an emptied index.  One row per slice, so the rows come to
    the driver and sum there (no aggregation stage)."""
    rows = STATS.read(spark, f"{path}.stats").select("n_docs", "t_tok").collect()
    return sum(r[0] for r in rows), sum(r[1] for r in rows)


def _assert_fresh_doc_ids(
    spark,
    new_docs,
    path: str,
    where: str,
    exclude_batch_id: int | None = None,
) -> int | None:
    """Enforce the text index's batch contract on an APPEND/INGEST batch:
    no NULL text (``_assert_no_null_text``), no doc_id repeated inside the
    batch, and no doc_id already in the doclen sidecar (the index table's
    freshness probe).  A re-ingested doc_id would land a SECOND doclen
    row and a second postings row per term, silently inflating N/T and
    double-counting tf in every score — the same silent-N-drift class the
    NULL-text assert closes.

    Returns the batch row count when bounded, else None — a streaming
    caller uses 0 to skip an empty landing without scheduling its own
    emptiness-probe job.  For bounded batches ONE driver collect serves
    every probe: the ids come to the driver anyway for the IN-list
    freshness filter, so the intra-batch duplicate check is a Python set
    test and the NULL-text check a flag scan (saves the distributed
    groupBy+count and IsNull jobs — measured ~0.3-0.4 s each of the
    per-micro-batch assert cost); oversized batches keep the distributed
    probes."""
    from pyspark.sql import functions as F

    head = IT.probe_head(new_docs, "doc_id", F.isnull("text").alias("_tnull"))
    ids = new_docs.select("doc_id")
    if head is None:
        _assert_no_null_text(new_docs, where)
        dup = ids.groupBy("doc_id").count().filter("count > 1").limit(1)
        has_dup = dup.count() > 0
    else:
        if any(r["_tnull"] for r in head):
            raise _null_text_error(where)
        has_dup = len({r["doc_id"] for r in head}) < len(head)
    if has_dup:
        raise ValueError(
            f"{where}: batch repeats a doc_id — duplicate doc_ids are "
            "outside the text-index contract (duplicate doclen/postings "
            "rows would inflate N/T and double-count tf in every score); "
            "dedup the batch before indexing"
        )
    DOCLEN.assert_fresh(
        spark, f"{path}.doclen", ids, head, where, exclude_batch_id
    )
    return None if head is None else len(head)


def build_text_index(spark, docs_df, path: str) -> None:
    """Materialize the inverted index: postings (token, doc_id, tf)
    written partitioned by ``tbucket`` = md5_int(token) % 64, plus two
    sidecars — ``<path>.doclen`` (doc_id, dl) and ``<path>.stats``
    (n_docs, t_tok) — all landed as the ``batch_id=-1`` generation.

    This is the storage shape the online ``bm25_topk`` only approximates:
    once postings are *stored* token-bucketed, a query's term filter is
    partition pruning at the file-listing level — Spark never opens,
    reads, or schedules the other buckets' files — and tf/dl/N/T are all
    precomputed, so query cost is |Q| bucket scans + one small join, with
    no pass over the corpus text at all."""
    from pyspark.sql import functions as F

    view = "__text_index_docs"
    docs_df.createOrReplaceTempView(view)
    try:
        tok_df = spark.sql(tok_cte(X.SPARK, view))
    finally:
        spark.catalog.dropTempView(view)
    # ONE corpus pass: tokenize -> (doc, token) aggregation -> partitioned
    # write.  The overwrite-mode postings write doubles as free staging —
    # dl derives from the WRITTEN postings (dl = SUM(tf) == token count
    # per doc) and t_tok from the written doclen (t_tok = SUM(dl)), so
    # the raw token stream is never materialized (the old form
    # localCheckpointed |corpus tokens| rows to local disk) and never
    # re-derived.  Landed bytes are identical.
    postings = (
        tok_df.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn(
            "tbucket",
            F.expr(f"{X.md5_int(X.SPARK, 'token')} % {TEXT_INDEX_BUCKETS}"),
        )
    )
    POSTINGS.build(postings, path)
    dl = (
        spark.read.parquet(path)
        .groupBy("doc_id")
        .agg(F.sum("tf").cast("long").alias("dl"))
    )
    DOCLEN.build(dl, f"{path}.doclen")
    # n_docs counts the DOCS TABLE (the same N the online form's
    # scalar subquery reads) — a distinct-doc count over the token
    # stream would undercount by every zero-token document and shift
    # the idf of every query term away from bm25_topk's
    n_docs = docs_df.count()
    # NULL-text contract, enforced for free: every non-NULL-text doc
    # lands exactly one doclen row (whitespace split yields >= 1
    # token), so doclen rows != docs count proves NULL-text docs —
    # whose absent dl rows would drift N on the next append's stats
    # rebuild.  One footer-metadata count, no second corpus scan.
    dl_back = DOCLEN.read(spark, f"{path}.doclen")
    n_dl = dl_back.count()
    if n_dl != n_docs:
        # Two causes produce n_dl < n_docs: NULL-text docs (no tokens,
        # no doclen row) and duplicate doc_ids (doclen groups by
        # doc_id, so k copies collapse to one row).  One cheap
        # distinct-count probe tells them apart so the error names
        # the actual defect instead of mis-diagnosing.
        n_distinct = docs_df.select("doc_id").distinct().count()
        if n_distinct != n_docs:
            raise ValueError(
                f"build_text_index: docs table repeats "
                f"{n_docs - n_distinct} doc_id(s) — duplicate doc_ids "
                "are outside the text-index contract (their postings "
                "merge under one doclen row, inflating tf while N "
                "counts every copy); dedup and rebuild"
            )
        raise ValueError(
            f"build_text_index: {n_docs - n_dl} NULL-text docs are "
            "outside the text-index contract (no tokens, no doclen "
            "row — the append-time stats rebuild would drift N); "
            "filter them out and rebuild"
        )
    # n_dl == n_docs here, so the -1 slice's doclen aggregate is exactly
    # the docs-table N the online form reads
    STATS.build(dl_back.agg(*_slice_stats()), f"{path}.stats")


def _indexed_inputs(spark, path: str, terms: tuple[str, ...]):
    """Shared front half of every ``*_indexed`` retrieval form: route the
    term set to its buckets (partition pruning at the file-listing level —
    the PartitionFilters pytest pins this), read only those postings, load
    the doc-length sidecar, and inline the summed stats slices as N/T
    literal bodies.  Returns (post_df, dl_df, n_body, t_body)."""
    from pyspark.sql import functions as F

    buckets = sorted({_token_bucket(t) for t in terms})
    n_docs, t_tok = text_index_stats(spark, path)
    # emptiness-tolerant reads: a compliance delete of every doc removes
    # all postings/doclen partition dirs — the emptied index must stay
    # queryable (zero results), not raise on schema inference
    post = (
        POSTINGS.read(spark, path)
        .filter(F.col("tbucket").isin(buckets))
        .filter(F.col("token").isin(list(terms)))
        .select("doc_id", "token", "tf")
    )
    dl = DOCLEN.read(spark, f"{path}.doclen")
    n_body = f"SELECT CAST({n_docs} AS BIGINT) AS n_docs"
    t_body = f"SELECT CAST({t_tok} AS BIGINT) AS t_tok"
    return post, dl, n_body, t_body


def bm25_topk_indexed(
    spark,
    path: str,
    query: tuple[str, ...] = BM25_QUERY,
    k: int = BM25_K,
):
    """BM25 against a persisted inverted index: route the query terms to
    their buckets (partition pruning — check the scan's PartitionFilters),
    read only those postings, join the doc-length sidecar, inline the
    stats sidecar as literals (no scalar-subquery stages), and run
    the SAME scoring fragment as the online form — results are
    bit-identical to ``bm25_topk`` by construction (parity-tested).

    Caveat shared with every BM25-over-frozen-index system: N/T/df and
    the postings reflect the corpus at build time; ingest appends re-run
    ``build_text_index`` (or the stats drift, exactly like a Lucene
    segment awaiting merge)."""
    from .staging import staged_views

    post, dl, n_body, t_body = _indexed_inputs(spark, path, query)
    with staged_views(spark, tf=post, dl=dl, checkpoint=False) as v:
        return spark.sql(
            "WITH "
            + _bm25_score_ctes(v.tf, v.dl, k=k, n_body=n_body, t_body=t_body)
        )


def bm25_multi_indexed(
    spark,
    path: str,
    queries: dict[int, tuple[str, ...]] = BM25_QUERYSET,
    k: int = BM25_MULTI_K,
):
    """Multi-query BM25 against the persisted inverted index: route the
    UNION of all queries' terms to their buckets (one pruned postings scan
    serves every query — the per-query loop would re-list the same
    buckets |Q| times), then the same multi scoring fragment as the online
    form with the stats sidecar inlined as literals.  Bit-identical
    to ``bm25_multi_df`` by construction (parity-tested)."""
    from .staging import staged_views

    post, dl, n_body, t_body = _indexed_inputs(
        spark, path, bm25_queryset_terms(queries)
    )
    with staged_views(spark, tf=post, dl=dl, checkpoint=False) as v:
        return spark.sql(
            f"WITH qt AS ({bm25_queryset_sql(queries)}), "
            + _bm25_multi_ctes(
                v.tf, v.dl, "qt", k=k, n_body=n_body, t_body=t_body
            )
        )


def hybrid_rrf_topk_indexed(
    spark,
    path: str,
    query: tuple[str, ...] = BM25_QUERY,
    leg_k: int = HYBRID_LEG_K,
    k: int = HYBRID_K,
):
    """Hybrid RRF retrieval against the persisted inverted index — the
    compute-once-then-query production shape (the reference's whole design:
    materialize to tables, query the tables — `ClickHouse建表定稿修改版
    .txt:153-208`).  The online ``hybrid_rrf_df`` re-tokenizes the corpus
    per call; at 100 TB that is the difference between |Q| pruned bucket
    scans and a full corpus pass per query set.

    Every QL-leg collection statistic the fusion needs is already in the
    index: tf from the pruned postings, dl from the doclen sidecar, N/T
    from the stats sidecar (inlined as literals), and ctf = per-term
    SUM(tf) over the pruned postings — identical to the online form's sum
    over query-term tf rows because postings hold tf for EVERY doc holding
    the term.  Same ``_hybrid_rrf_ctes`` fragment, so results are
    bit-identical to ``hybrid_rrf_df`` by construction (parity-tested on
    both batch-built and streamed+compacted indexes)."""
    from .staging import staged_views

    post, dl, n_body, t_body = _indexed_inputs(spark, path, query)
    with staged_views(spark, tf=post, dl=dl, checkpoint=False) as v:
        return spark.sql(
            "WITH "
            + _hybrid_rrf_ctes(
                X.SPARK,
                v.tf,
                v.dl,
                leg_k=leg_k,
                k=k,
                n_body=n_body,
                t_body=t_body,
            )
        )


def hybrid_rrf_multi_indexed(
    spark,
    path: str,
    queries: dict[int, tuple[str, ...]] = BM25_QUERYSET,
    leg_k: int = HYBRID_LEG_K,
    k: int = HYBRID_K,
):
    """Multi-query hybrid RRF against the persisted inverted index — the
    hard-negative-mining shape run the way production runs it: a standing
    index queried per query TABLE, one pruned postings scan serving every
    query's union of terms.  Same ``_hybrid_rrf_multi_ctes`` fragment as
    the online form with the stats sidecar inlined; bit-identical to
    ``hybrid_rrf_multi_df`` by construction (parity-tested)."""
    from .staging import staged_views

    post, dl, n_body, t_body = _indexed_inputs(
        spark, path, bm25_queryset_terms(queries)
    )
    with staged_views(spark, tf=post, dl=dl, checkpoint=False) as v:
        return spark.sql(
            f"WITH qt AS ({bm25_queryset_sql(queries)}), "
            + _hybrid_rrf_multi_ctes(
                X.SPARK,
                v.tf,
                v.dl,
                "qt",
                leg_k=leg_k,
                k=k,
                n_body=n_body,
                t_body=t_body,
            )
        )


def text_index_ingest_batch(bspark, batch_df, batch_id: int, path: str) -> None:
    """One micro-batch's index landing — the REPLAY-IDEMPOTENT streaming
    form of ``text_index_append``: postings land under
    ``tbucket=<b>/batch_id=<n>``, doclen and its stats row under
    ``batch_id=<n>`` (the index table's streamed ingest), so an
    at-least-once replay overwrites exactly its own slices instead of
    double-appending.  Term-routed pruning still holds: ``tbucket`` stays
    the top-level partition.  The stats slice is this batch's doclen
    aggregate, so stats cost O(batch) and a replay or a fresh-checkpoint
    restart that re-owns the slice lands the same row (an empty batch
    returns before landing anything)."""
    from pyspark.sql import functions as F

    from .staging import staged_views

    # one driver collect enforces NULL-text + intra-batch dup + freshness
    # AND reports emptiness (bounded batches) — three contract probes and
    # the caller's would-be emptiness job folded into a single job
    n_batch = _assert_fresh_doc_ids(
        bspark, batch_df, path, "text_index_ingest_batch",
        exclude_batch_id=batch_id,
    )
    if n_batch == 0:
        return  # empty batch: nothing to land, stats unchanged
    view = f"__text_index_batch_{batch_id}"
    batch_df.createOrReplaceTempView(view)
    try:
        tok_df = bspark.sql(tok_cte(X.SPARK, view))
    finally:
        bspark.catalog.dropTempView(view)
    # Stage the POSTINGS (one tokenize + one (doc, token) shuffle), not the
    # raw token stream: doclen is derivable from postings (dl = SUM(tf) ==
    # COUNT(*) of tokens per doc), so staging after the aggregation writes
    # both sidecars from the small aggregated frame instead of re-scanning
    # the full token stream for the doclen pass — one fewer token-stream
    # pass per micro-batch, identical landed bytes.
    postings_base = tok_df.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    with staged_views(bspark, p=postings_base) as v:
        POSTINGS.ingest(bspark.sql(_bucketed_postings_sql(v.p)), batch_id, path)
        dl = bspark.sql(_doclen_sql(v.p))
        DOCLEN.ingest(dl, batch_id, f"{path}.doclen")
        STATS.ingest(dl.agg(*_slice_stats()), batch_id, f"{path}.stats")


# ---------------------------------------------------------------------------
# Corpus-tercile perplexity banding (CCNet's actual cut rule: the paper
# bands by corpus terciles, not fixed thresholds — here derived from the
# histogram-quantile machinery, closing the module-docstring note)
# ---------------------------------------------------------------------------


def _lm_scores_ctes(tok: str, tgt: str) -> str:
    """..., scores CTE-list: per-doc (doc_id, avg_nll_nats).  avg values
    are always finite (ratios of bounded integers), so no hq_finite filter
    is needed and stats covers the corpus exactly."""
    return f"""{_lm_nll_ctes(tok, tgt)},
scores AS (SELECT doc_id, {_LM_AVG} AS avg_nll_nats FROM nll)"""


def lm_stats_sql(scores: str) -> str:
    return (
        f"SELECT MIN(avg_nll_nats) AS mn, MAX(avg_nll_nats) AS mx, "
        f"COUNT(*) AS n FROM {scores}"
    )


def _lm_tercile_cut_ctes(scores: str, stats: str) -> str:
    """hist/cum/cuts CTE-list (no leading WITH, no final SELECT) over
    relations ``scores`` (doc_id, avg_nll_nats) and ``stats`` (mn, mx, n —
    1 row, referenced via scalar subqueries so no 1-row join enters the
    plan).  Reuses the histogram-quantile fragments verbatim: hq_bin_ix
    for binning, hq_sel_fragment for the rank rule.  The cum window is
    global but over <= HQ_BINS rows (same bounded-window class as the
    registered histogram_quantiles)."""
    from . import sketches as SK

    mn, mx = f"(SELECT mn FROM {stats})", f"(SELECT mx FROM {stats})"
    n = f"(SELECT n FROM {stats})"
    bin_ix = SK.hq_bin_ix("e.avg_nll_nats", mn, mx)
    sel1 = SK.hq_sel_fragment("t1", "(1.0E0/3.0E0)", n)
    sel2 = SK.hq_sel_fragment("t2", "(2.0E0/3.0E0)", n)
    return f"""
hist AS (SELECT {bin_ix} AS b, COUNT(*) AS c FROM {scores} e GROUP BY 1),
cum AS (
  SELECT b, SUM(c) OVER (
    ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
),
cuts AS (SELECT {sel1} AS b_t1, {sel2} AS b_t2 FROM cum)"""


def _lm_tercile_vals_select(stats: str) -> str:
    """1-row SELECT of the tercile cut VALUES (t1, t2) from the ``cuts``
    relation — the mid-bin read-off is hq_out_fragment, THE one
    definition."""
    from . import sketches as SK

    mn, mx = f"(SELECT mn FROM {stats})", f"(SELECT mx FROM {stats})"
    return (
        f"SELECT {SK.hq_out_fragment('t1', mn, mx)} AS t1, "
        f"{SK.hq_out_fragment('t2', mn, mx)} AS t2 FROM cuts"
    )


def _lm_tercile_band_sql(scores: str, vals: str) -> str:
    """Final banding over relations ``scores`` and ``vals`` (1 row; scalar
    subqueries — no 1-row join)."""
    t1, t2 = f"(SELECT t1 FROM {vals})", f"(SELECT t2 FROM {vals})"
    return f"""
SELECT s.doc_id, s.avg_nll_nats,
  {t1} AS tercile_low, {t2} AS tercile_high,
  CASE WHEN s.avg_nll_nats <= {t1} THEN 'head'
       WHEN s.avg_nll_nats <= {t2} THEN 'middle'
       ELSE 'tail' END AS ppl_band
FROM {scores} s
"""


def lm_ppl_terciles_sql(d: str, table: str = "documents") -> str:
    """Oracle form: the whole chain flattened into one WITH list."""
    return (
        f"WITH tok AS ({tok_cte(d, table)}), tgt AS ({lm_fit_sql('tok')}), "
        + _lm_scores_ctes("tok", "tgt")
        + f", stats AS ({lm_stats_sql('scores')}), "
        + _lm_tercile_cut_ctes("scores", "stats").lstrip()
        + f", vals AS ({_lm_tercile_vals_select('stats')}) "
        + _lm_tercile_band_sql("scores", "vals")
    )


def lm_ppl_terciles_df(spark, table: str = "documents"):
    """Engine side: scores / stats / vals are each staged (every one is
    multiply referenced — scores by stats+hist+band, stats by the bin/cut
    scalar subqueries, vals by the three band references; un-staged, CTE
    inlining would re-run the whole LM chain per reference).  ``tok`` is
    a LAZY view (one reference per statement — same reasoning as
    ``lm_perplexity_df``: staging it would materialize the corpus-scale
    token stream for zero saved recomputation)."""
    from .staging import staged_views

    tok_df = spark.sql(tok_cte(X.SPARK, table))
    with staged_views(spark, tok=tok_df, checkpoint=False) as v1:
        tgt_df = spark.sql(lm_fit_sql(v1.tok))
        with staged_views(spark, tgt=tgt_df) as v2:
            scores_df = spark.sql(
                f"WITH {_lm_scores_ctes(v1.tok, v2.tgt).lstrip()} "
                f"SELECT doc_id, avg_nll_nats FROM scores"
            )
            with staged_views(spark, scores=scores_df) as v3:
                stats_df = spark.sql(lm_stats_sql(v3.scores))
                with staged_views(spark, stats=stats_df) as v4:
                    vals_df = spark.sql(
                        f"WITH {_lm_tercile_cut_ctes(v3.scores, v4.stats).lstrip()} "
                        f"{_lm_tercile_vals_select(v4.stats)}"
                    )
                    with staged_views(spark, vals=vals_df) as v5:
                        return spark.sql(
                            _lm_tercile_band_sql(v3.scores, v5.vals)
                        )


def text_index_append(spark, path: str, new_docs) -> None:
    """Incremental index maintenance (the ``ivf_index_append`` analogue):
    tokenize ONLY the new docs, append their postings into the same
    token-hash buckets' -1 generation (term-routing partition pruning
    keeps holding without touching old files) and their lengths into the
    doclen sidecar, then rewrite the stats slices FROM the doclen sidecar
    (``_restat``).  Works on a built and on a streamed index alike.

    Stats being a pure function of doclen makes the append
    replay-convergent: a torn or stale stats write is repaired by any
    later append, delete or compaction.  N is the doclen row count, which
    equals total docs ingested for every doc with non-NULL text
    (whitespace split always yields >= 1 token, so every such doc lands
    one dl row) — the same N ``build_text_index`` takes from the docs
    table; NULL-text docs are outside the contract on both paths (they
    produce no tokens anywhere, online form included) — and the contract
    is ENFORCED at build and append time, so N cannot silently drift."""
    from pyspark.sql import functions as F

    from .staging import staged_views

    # one contract collect: NULL-text + dup + freshness (bounded batches)
    _assert_fresh_doc_ids(spark, new_docs, path, "text_index_append")
    view = "__text_index_append_docs"
    new_docs.createOrReplaceTempView(view)
    try:
        tok_df = spark.sql(tok_cte(X.SPARK, view))
    finally:
        spark.catalog.dropTempView(view)
    # Stage the POSTINGS aggregation, not the raw token stream (same
    # one-token-pass discipline as text_index_ingest_batch): dl derives
    # from the staged postings (dl = SUM(tf) == token count per doc), so
    # the batch is tokenized exactly once and the only materialized frame
    # is the aggregated (doc, token, tf) table.  Landed bytes identical.
    postings_base = tok_df.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    with staged_views(spark, p=postings_base) as v:
        POSTINGS.append(spark.sql(_bucketed_postings_sql(v.p)), path)
        DOCLEN.append(spark.sql(_doclen_sql(v.p)), f"{path}.doclen")
    _restat(spark, path)


def _bucketed_postings_sql(postings: str) -> str:
    """(doc_id, token, tf) rows of a batch's staged postings with their
    token bucket — the partition key every postings landing writes."""
    return (
        f"SELECT doc_id, token, tf, "
        f"{X.md5_int(X.SPARK, 'token')} % {TEXT_INDEX_BUCKETS} AS tbucket "
        f"FROM {postings}"
    )


def _doclen_sql(postings: str) -> str:
    """Doc lengths from staged postings (dl = SUM(tf) == token count)."""
    return (
        f"SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl "
        f"FROM {postings} GROUP BY doc_id"
    )


def compact_text_index(
    spark, path: str, upto_batch_id: int = 0
) -> dict[str, int]:
    """Index maintenance: fold each token bucket's -1 generation and its
    ``batch_id`` landings below ``upto_batch_id`` — and the doclen
    sidecar's — into the -1 generation (the index table's ``compact``,
    inheriting the watermark-coupling contract, the fold-manifest crash
    safety and the replay-ownership rule), then rewrite the stats slices
    for the folded doclen.  Postings/doclen rows and term-routed pruning
    are untouched, so every score holds.  The default folds only the
    small files ``text_index_append`` leaves.

    At a 100 TB index this is the Lucene segment-merge analogue: without
    it, every landing adds one ~tiny file per touched bucket and
    query-time file listing degrades linearly with ingest count.

    Returns ``{subdir_name: file_count}`` for every folded directory."""
    counts = {
        **POSTINGS.compact(spark, path, upto_batch_id),
        "doclen": sum(
            DOCLEN.compact(spark, f"{path}.doclen", upto_batch_id).values()
        ),
    }
    _restat(spark, path)
    return counts


compact_streamed_text_index = compact_text_index


def text_index_delete(spark, path: str, doc_ids) -> None:
    """Compliance deletion (right-to-be-forgotten) — the last index
    lifecycle verb next to build/append/ingest/compact: remove every
    trace of ``doc_ids`` from the inverted index.

    - postings and doclen: targeted rewrite of only the (tbucket,
      batch_id) / batch_id slices holding the docs (the index table's
      delete);
    - stats: every slice rewritten from doclen (``_restat``), the
      standing convergence rule (a torn run is repaired by any later
      append/delete/compaction).

    Idempotent and crash-convergent like the core it rides; N/T shrink
    so every post-delete BM25/QL score reflects the smaller corpus —
    exactly what a rebuild on the filtered corpus would produce
    (pytest-pinned bit-parity)."""
    if POSTINGS.delete(spark, path, doc_ids) is None:
        return
    DOCLEN.delete(spark, f"{path}.doclen", doc_ids)
    _restat(spark, path)
