"""Maximal Marginal Relevance (MMR) diversified reranking (round 10).

Carbonell & Goldstein 1998: after a retriever returns its top-K, the
result page should not show K near-copies of the best hit. MMR greedily
selects documents maximizing

    lambda * rel(d)  -  (1 - lambda) * max_{s in S} sim(d, s)

where S is the already-selected set — the standard diversification step
in RAG context assembly (don't feed the model five copies of the same
passage) and search UIs.

Determinism/oracle: rel is the 4-dp-rounded BM25 score (the verified
q_text_bm25 shape), sim is exact-integer token-set Jaccard rounded to
6 dp, and each greedy step ranks on the ROUNDED mmr with doc_id
tie-break — so the whole selection trajectory is cross-engine stable
and the DuckDB oracle replays it as a chain of one-CTE-per-step
argmaxes.

Scale shape: the only corpus-sized work is the BM25 tf groupBy and one
candidate-filtered token pass (the 20-row candidate list broadcasts
into the scan — bounded by LIMIT, like the PRF stage-2 broadcasts).
Everything after is 20-row/190-pair frames: the greedy loop unrolls
lazily over scalar-sized plans, the pagerank pattern at toy size.

Caller contract (the erpipeline.py persist convention): each invocation
eagerly localCheckpoints 7 bounded frames (cands 20 rows, sims <= 380
rows, five 1-row picks — KB-sized total). The blocks are not released
inside the query (the result plan reads them); a long-lived session
invoking this repeatedly should clear them with
``spark.catalog.clearCache()`` / session teardown, as the test and
bench fixtures do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.microunit import rdiv_halfup_duck, rdiv_halfup_expr, units_col
from ..registry import register
from ..tables import table

#: Same fixed query as q_text_bm25 / q_search_hybrid_rrf.
_TERMS = ("hash", "join", "stream")
_K1, _B = 1.2, 0.75

#: element-wise floor-form 1e-8 unit quantization of the per-term
#: BM25 contribution (r13): identical IEEE ops in both engines, so
#: the BIGINT unit is bit-equal and the per-doc SUM is exact and
#: order-independent (raw-double sums are the class that flipped
#: q05 at sf1.0); the string-form division renders the 4-dec score.
_BM25_U8_SUM = (
    "SUM(CAST(FLOOR((LN((s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)"
    f" + 1.0) * tf.tf * ({_K1} + 1.0) / (tf.tf + {_K1} * (1.0 - {_B}"
    f" + {_B} * dl.dl / s.avgdl))) * 1e8 + 0.5) AS BIGINT))"
)
_CAND_K = 20  #: relevance candidates entering the rerank
_SELECT_K = 5  #: diversified picks
_LAM = 0.7  #: relevance weight; 1 - _LAM penalizes redundancy


def _sql_steps() -> str:
    """The greedy unroll: one CTE per selection step, accumulating the
    selected set. Step k ranks remaining candidates on
    FLOOR((lam*rel - (1-lam)*COALESCE(MAX(jac to selected), 0)) * 1e6 + 0.5) / 1e6."""
    parts = []
    for k in range(1, _SELECT_K + 1):
        prev_sel = "\n      UNION ALL ".join(
            f"SELECT doc_id FROM sel{j}" for j in range(1, k)
        )
        not_in = (
            f"WHERE r.doc_id NOT IN ({prev_sel})" if k > 1 else ""
        )
        sim_join = (
            f"LEFT JOIN sims s ON s.a = r.doc_id AND s.b IN ({prev_sel})"
            if k > 1
            else "LEFT JOIN (SELECT NULL AS a, NULL AS b, NULL AS jac) s"
            " ON s.a = r.doc_id"
        )
        parts.append(
            f"""sel{k} AS MATERIALIZED (
  SELECT doc_id, rel, mmr, {k} AS step FROM (
    SELECT r.doc_id, r.rel,
           FLOOR(({_LAM} * r.rel
                 - {round(1 - _LAM, 10)} * COALESCE(MAX(s.jac), 0.0e0)) * 1e6 + 0.5) / 1e6
             AS mmr
    FROM cands r
    {sim_join}
    {not_in}
    GROUP BY r.doc_id, r.rel
  ) ORDER BY mmr DESC, doc_id LIMIT 1
)"""
        )
    return ",\n".join(parts)


_QMMR_ORACLE = f"""
WITH dl AS (
  SELECT doc_id, len(list_filter(string_split(text, ' '), t -> t <> '')) AS dl
  FROM documents
),
stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) * 1.0 / COUNT(*) AS avgdl FROM dl
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  WHERE term IN {_TERMS!r}
  GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term
),
bm25 AS (
  SELECT tf.doc_id,
         {rdiv_halfup_duck(_BM25_U8_SUM, "100000000", 4)} AS rel
  FROM tf
  JOIN dfreq ON tf.term = dfreq.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
  GROUP BY tf.doc_id
),
cands AS MATERIALIZED (
  SELECT doc_id, rel FROM bm25 ORDER BY rel DESC, doc_id LIMIT {_CAND_K}
),
ctok AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, t.term
  FROM documents d
  JOIN cands c ON d.doc_id = c.doc_id,
  LATERAL (SELECT unnest(string_split(d.text, ' ')) AS term) t
  WHERE t.term <> ''
),
csz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM ctok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, CAST(COUNT(*) AS BIGINT) AS i
  FROM ctok a JOIN ctok b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairjac AS (
  SELECT i.da, i.db,
         FLOOR((CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i)) * 1e6 + 0.5) / 1e6 AS jac
  FROM inter i
  JOIN csz sa ON sa.doc_id = i.da
  JOIN csz sb ON sb.doc_id = i.db
),
sims AS MATERIALIZED (
  SELECT da AS a, db AS b, jac FROM pairjac
  UNION ALL
  SELECT db AS a, da AS b, jac FROM pairjac
),
{_sql_steps()}
SELECT CAST(step AS INTEGER) AS step, doc_id, rel, mmr AS mmr_score
FROM ({" UNION ALL ".join(f"SELECT * FROM sel{k}" for k in range(1, _SELECT_K + 1))})
ORDER BY step
"""


@register(
    "q_search_mmr",
    oracle=_QMMR_ORACLE,
    description=(
        f"MMR diversified rerank (lambda={_LAM}): greedy top-{_SELECT_K} "
        f"from the BM25 top-{_CAND_K} for query {' '.join(_TERMS)!r}, "
        "penalizing token-set Jaccard redundancy to already-selected "
        "docs — the RAG context-assembly diversification step; corpus "
        "work is one BM25 pass + one candidate token pass, the greedy "
        "loop unrolls over 20-row frames"
    ),
    tags=("similarity", "retrieval", "mmr", "diversity", "llm-pipeline"),
)
def q_search_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    dl = d.select(
        "doc_id",
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda t: t != "")
        ).alias("dl"),
    )
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl") * F.lit(1.0) / F.count("*")).alias("avgdl"),
    )
    tf = (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
        .filter(F.col("term").isin(*_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + _K1 * (1.0 - _B + _B * F.col("dl") / F.col("avgdl"))
    bm25 = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(
                units_col(idf * F.col("tf") * (_K1 + 1.0) / denom, 8)
            ).alias("rel_u8")
        )
        .select(
            "doc_id", rdiv_halfup_expr("rel_u8", "100000000", 4).alias("rel")
        )
    )
    # Distributed top-k (TakeOrderedAndProject), then 20-row frames only.
    cands = bm25.orderBy(F.desc("rel"), "doc_id").limit(_CAND_K)

    # Candidate token sets: the LIMIT-bounded 20-row list broadcasts
    # into the corpus scan (whitelisted, the PRF stage-2 pattern).
    ctok = (
        d.join(F.broadcast(cands.select("doc_id")), "doc_id")
        .select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    csz = ctok.groupBy("doc_id").agg(F.count("*").cast("long").alias("n"))
    a = ctok.select(F.col("doc_id").alias("da"), "term")
    b = ctok.select(F.col("doc_id").alias("db"), "term")
    inter = (
        a.join(b, "term")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count("*").cast("long").alias("i"))
    )
    pairjac = (
        inter.join(csz.select(F.col("doc_id").alias("da"), F.col("n").alias("na")), "da")
        .join(csz.select(F.col("doc_id").alias("db"), F.col("n").alias("nb")), "db")
        .select(
            "da",
            "db",
            (F.floor((F.col("i").cast("double")
                / (F.col("na") + F.col("nb") - F.col("i"))) * 1e6 + 0.5) / 1e6).alias("jac"),
        )
    )
    sims = pairjac.select(
        F.col("da").alias("a"), F.col("db").alias("b"), "jac"
    ).unionAll(
        pairjac.select(F.col("db").alias("a"), F.col("da").alias("b"), "jac")
    )

    # Truncate lineage BEFORE the unroll: without this every greedy step
    # re-embeds (and re-executes) the corpus-sized BM25 + token-pair
    # pipelines — measured 147 s vs ~8 s at sf0.01. The two checkpointed
    # frames are LIMIT-bounded (20 rows / <= 2*C(20,2) rows), so the
    # retained blocks are KB-sized (the clusters.py eager-checkpoint
    # rationale at toy scale).
    cands = cands.localCheckpoint(eager=True)
    sims = sims.localCheckpoint(eager=True)

    # Greedy unroll over 20-row frames (lazy plan, pagerank pattern).
    lam, mu = F.lit(_LAM), F.lit(round(1 - _LAM, 10))
    selected: DataFrame | None = None
    remaining = cands
    for k in range(1, _SELECT_K + 1):
        if selected is None:
            scored = remaining.select(
                "doc_id",
                "rel",
                (F.floor((lam * F.col("rel") - mu * F.lit(0.0)) * 1e6 + 0.5) / 1e6).alias("mmr"),
            )
        else:
            sel_ids = selected.select(F.col("doc_id").alias("b"))
            maxsim = (
                sims.join(F.broadcast(sel_ids), "b")
                .groupBy("a")
                .agg(F.max("jac").alias("ms"))
            )
            scored = (
                remaining.join(
                    maxsim, remaining.doc_id == maxsim.a, "left"
                )
                .select(
                    "doc_id",
                    "rel",
                    (F.floor((lam * F.col("rel")
                        - mu * F.coalesce(F.col("ms"), F.lit(0.0))) * 1e6 + 0.5) / 1e6).alias("mmr"),
                )
            )
        # Each 1-row pick is eagerly checkpointed: step k's plan embeds
        # step k-1's pick TWICE (selected-union and remaining-anti), so
        # without the cut the lazy tree doubles per step (2^K copies of
        # the base frames — pure analysis/scheduling overhead).
        pick = (
            scored.orderBy(F.desc("mmr"), "doc_id")
            .limit(1)
            .select("doc_id", "rel", "mmr", F.lit(k).alias("step"))
            .localCheckpoint(eager=True)
        )
        selected = pick if selected is None else selected.unionAll(pick)
        remaining = remaining.join(
            pick.select(F.col("doc_id").alias("p")),
            remaining.doc_id == F.col("p"),
            "left_anti",
        )
    return selected.select(
        F.col("step").cast("int").alias("step"),
        "doc_id",
        "rel",
        F.col("mmr").alias("mmr_score"),
    ).orderBy("step")
