"""BPE-style merge training over the corpus — tokenizer learning as SQL.

Byte-pair-encoding training is the canonical LLM-tokenizer build loop:
repeatedly find the globally most frequent adjacent token pair and merge
its occurrences left-to-right. This module runs that loop at WORD level
(phrase mining — same algorithm, coarser units) entirely in DataFrame
ops, no driver collect:

1. pair counts: one ``lead`` window + groupBy — a map-side-combined agg
   whose shuffle is the distinct-pair set, not the corpus;
2. the winning pair is a ONE-ROW DataFrame (deterministic tie-break:
   count desc, then pair lexicographic) broadcast back into the plan —
   the loop never leaves Spark;
3. greedy left-to-right merge semantics (``[a,a,a]`` with pair ``(a,a)``
   must become ``[a_a, a]``, not overlap) via gaps-and-islands: runs of
   consecutive matches keep every EVEN offset within the run — two
   windows, both partitioned by doc, no shuffle beyond the doc key;
4. positions re-numbered, state persisted per round (the same
   iteration-state discipline as BFS in ``operators/graph.py`` — the
   shared subtree would otherwise double per round).

At 100 TB each round is two doc-partitioned window passes plus one
bounded pair-count agg; nothing corpus-sized is ever broadcast or
collected. The DuckDB oracle replays the identical unrolled rounds
(same tie-break, same island arithmetic), so the learned merge table is
exact, not statistical.

Output: one row per merge round — the merged pair, its pre-merge count,
and the corpus token count after the merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.microunit import rdiv_halfup_duck, rdiv_halfup_expr
from ..registry import register
from ..tables import table

ROUNDS = 3


def _sql_round(r: int) -> str:
    prev = f"t{r - 1}"
    return f"""
pc{r} AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (
    SELECT tok AS a,
           LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS b
    FROM {prev}
  ) WHERE b IS NOT NULL GROUP BY a, b
),
top{r} AS (SELECT a, b, cnt FROM pc{r} ORDER BY cnt DESC, a, b LIMIT 1),
m{r} AS (
  SELECT t.doc_id, t.pos, t.tok,
         LEAD(t.tok) OVER (PARTITION BY t.doc_id ORDER BY t.pos) AS nxt,
         tp.a, tp.b, tp.cnt
  FROM {prev} t CROSS JOIN top{r} tp
),
mm{r} AS (
  SELECT *,
         (nxt IS NOT NULL AND tok = a AND nxt = b) AS mtch,
         SUM(CASE WHEN nxt IS NOT NULL AND tok = a AND nxt = b
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS mseq
  FROM m{r}
),
isl{r} AS (SELECT *, CASE WHEN mtch THEN pos - mseq END AS grp FROM mm{r}),
keep{r} AS (
  SELECT *,
         mtch AND ((pos - MIN(pos) OVER (PARTITION BY doc_id, grp)) % 2 = 0)
           AS kept
  FROM isl{r}
),
nk{r} AS (
  SELECT *,
         COALESCE(LAG(kept) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
           AS dropped
  FROM keep{r}
),
t{r} AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) - 1
              AS BIGINT) AS pos,
         CASE WHEN kept THEN a || '_' || b ELSE tok END AS tok
  FROM nk{r} WHERE NOT dropped
),
s{r} AS (
  SELECT {r} AS merge_round, tp.a AS pair_a, tp.b AS pair_b,
         tp.cnt AS pair_count,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM t{r}) AS tokens_after
  FROM top{r} tp
)"""


_BPE_ORACLE = (
    """
WITH t0 AS (
  SELECT doc_id,
         CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS BIGINT)
           AS pos,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),"""
    + ",".join(_sql_round(r) for r in range(1, ROUNDS + 1))
    + "\n"
    + "\nUNION ALL\n".join(f"SELECT * FROM s{r}" for r in range(1, ROUNDS + 1))
    + "\nORDER BY merge_round"
)


@register(
    "q_bpe_phrase_merges",
    oracle=_BPE_ORACLE,
    description=(
        "word-level BPE merge training (3 rounds): most frequent adjacent "
        "pair merged greedily left-to-right via gaps-and-islands; merge "
        "table + corpus token count per round"
    ),
    tags=("text", "bpe", "tokenizer", "llm-pipeline", "iterative"),
)
def q_bpe_phrase_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _word_tokens(spark, sf_dir)
    _, summaries = _merge_rounds(toks, ROUNDS)
    out = summaries[0]
    for s in summaries[1:]:
        out = out.unionAll(s)
    return out.orderBy("merge_round")


def _word_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok"),
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "tok")


def _merge_rounds(
    toks: DataFrame, rounds: int
) -> tuple[DataFrame, list[DataFrame]]:
    """Run ``rounds`` greedy merge rounds; return (final token frame,
    per-round summary frames). The final frame IS the corpus encoded
    with the learned merge table applied in priority order — BPE
    training and encoding share the merge scan by construction."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    wrows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    summaries = []
    persisted = []
    for r in range(1, rounds + 1):
        # One lead-window pass per round, shared between the pair count
        # and the merge scan (computing it twice was a measured ~9%
        # same-JVM penalty at sf0.1).
        tn = toks.withColumn("nxt", F.lead("tok").over(w))
        top = (
            tn.where(F.col("nxt").isNotNull())
            .groupBy(F.col("tok").alias("a"), F.col("nxt").alias("b"))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
        )
        m = tn.crossJoin(F.broadcast(top))
        mtch = (
            F.col("nxt").isNotNull()
            & (F.col("tok") == F.col("a"))
            & (F.col("nxt") == F.col("b"))
        )
        # r13 (guide §2.4): island membership WITHOUT leaving the
        # (doc_id, pos) sort order. The previous form computed the
        # island key grp = pos - running_match_count and took
        # MIN(pos) OVER (doc_id, grp) — a window whose (doc_id, grp)
        # ordering forced a second corpus Sort per round, plus a third
        # to return to (doc_id, pos) for the lag/row_number passes.
        # Because pos is consecutive within a doc (posexplode /
        # renumbered each round), an island is exactly a maximal run of
        # consecutive mtch rows, so its start position is the latest
        # pos at which mtch turned on — a running MAX in the SAME
        # (doc_id, pos) order every other window in the round uses.
        # Pure integer/boolean math: the kept set is provably
        # identical, so the merge output is bit-identical (oracle
        # unchanged; hash-verified at sf0.001/0.01/0.1).
        mm = m.select(
            "*",
            mtch.alias("mtch"),
            F.coalesce(F.lag(mtch).over(w), F.lit(False)).alias("prev_mtch"),
        )
        island_start = F.max(
            F.when(F.col("mtch") & ~F.col("prev_mtch"), F.col("pos"))
        ).over(wrows)
        keep = mm.withColumn(
            "kept",
            F.col("mtch") & ((F.col("pos") - island_start) % 2 == 0),
        )
        nk = keep.withColumn(
            "dropped", F.coalesce(F.lag("kept").over(w), F.lit(False))
        )
        toks = (
            nk.where(~F.col("dropped"))
            .select(
                "doc_id",
                (F.row_number().over(w) - 1).cast("long").alias("pos"),
                F.when(
                    F.col("kept"),
                    F.concat(F.col("a"), F.lit("_"), F.col("b")),
                )
                .otherwise(F.col("tok"))
                .alias("tok"),
            )
            .persist()
        )
        persisted.append(toks)
        n_after = toks.agg(
            F.count(F.lit(1)).cast("long").alias("tokens_after")
        )
        summaries.append(
            top.select(
                F.lit(r).cast("int").alias("merge_round"),
                F.col("a").alias("pair_a"),
                F.col("b").alias("pair_b"),
                F.col("cnt").alias("pair_count"),
            ).crossJoin(F.broadcast(n_after))
        )

    return toks, summaries


# --------------------------------------------------------------------------
# BPE encode (round 12): apply the learned merge table, report the
# tokens-per-doc distribution — the tokenizer-economics half that feeds
# q_curation_token_budget (how many tokens does the corpus REALLY cost
# once the tokenizer's merges are in effect?).
# --------------------------------------------------------------------------

_ENCODE_BUCKET = 16  #: tokens-per-doc histogram granularity


_BPE_ENCODE_ORACLE = (
    """
WITH t0 AS (
  SELECT doc_id,
         CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS BIGINT)
           AS pos,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),"""
    + ",".join(_sql_round(r) for r in range(1, ROUNDS + 1))
    + f""",
before AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n0 FROM t0 GROUP BY doc_id
),
after AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n3,
         CAST(COUNT(*) FILTER (WHERE contains(tok, '_')) AS BIGINT) AS nm
  FROM t{ROUNDS} GROUP BY doc_id
)
SELECT CAST(n3 // {_ENCODE_BUCKET} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT)   AS n_docs,
       CAST(SUM(n3) AS BIGINT)    AS tokens_after,
       CAST(SUM(n0) AS BIGINT)    AS tokens_before,
       CAST(SUM(nm) AS BIGINT)    AS merged_tokens,
       {rdiv_halfup_duck("SUM(n3)", "SUM(n0)", 6)} AS compression
FROM before JOIN after USING (doc_id)
GROUP BY 1
"""
)


@register(
    "q_bpe_encode",
    oracle=_BPE_ENCODE_ORACLE,
    description=(
        f"BPE tokenizer APPLICATION: encode every document with the "
        f"{ROUNDS}-round learned merge table (merges applied in priority "
        f"order — the training scan's final state), then report the "
        f"tokens-per-doc histogram (bucket = count // {_ENCODE_BUCKET}) "
        "with before/after token totals, merged-token counts, and the "
        "per-bucket compression ratio — tokenizer economics feeding "
        "q_curation_token_budget"
    ),
    tags=("text", "bpe", "tokenizer", "llm-pipeline", "encode"),
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding with a merge table == replaying the merges in learned
    priority order, one doc-partitioned gaps-and-islands pass per merge
    (each pass is a per-doc LINEAR scan; the merge pair rides in as a
    one-row broadcast). At 100 TB nothing corpus-sized shuffles beyond
    the doc key, and the output is a bounded histogram. The oracle
    replays the identical unrolled rounds, so the distribution is
    exact."""
    toks0 = _word_tokens(spark, sf_dir)
    encoded, _ = _merge_rounds(toks0, ROUNDS)
    before = toks0.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n0")
    )
    after = encoded.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n3"),
        F.count(F.when(F.col("tok").contains("_"), 1))
        .cast("long")
        .alias("nm"),
    )
    # both sides are corpus-sized per-doc aggregates whose static size
    # estimates are bogus-small — pin the spill-safe sort-merge strategy
    # so the planner never broadcasts a |docs|-row frame (same pinning
    # discipline as the dedup family; caught by the per-query broadcast
    # check in tests/test_oracle.py).
    return (
        before.hint("merge").join(after, "doc_id")
        .groupBy(
            (F.col("n3") / _ENCODE_BUCKET)
            .cast("long")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n3").cast("long").alias("tokens_after"),
            F.sum("n0").cast("long").alias("tokens_before"),
            F.sum("nm").cast("long").alias("merged_tokens"),
        )
        # exact-BIGINT ratio via the string-form half-up division (r12
        # ADVICE: the raw ROUND(x*1.0/y, 6) form is the boundary class
        # the sf0.1/sf1.0 sweeps caught twice) — both engines quantize
        # the identical rational, order-independent at any scale.
        .withColumn(
            "compression",
            rdiv_halfup_expr("tokens_after", "tokens_before", 6),
        )
    )
