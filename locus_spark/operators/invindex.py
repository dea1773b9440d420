"""Inverted text index: posting build, conjunctive (AND) search, and a
persisted token-bucketed layout with directory-level pruning.

The relational posting form is (tok, doc_id, tf) ROWS, not per-token
arrays: stopword posting lists at corpus scale are billions of entries,
and rows keep them partitionable/skew-splittable where a
``collect_list`` array would funnel each token through one task.

Search is pure relational: filter postings to the query terms (predicate
pushdown — on the persisted layout this prunes to |terms| hash-bucket
directories before any I/O), then ONE map-side-combined aggregation on
doc_id checks the AND condition (``count(distinct tok) == |terms|``).
The shuffle carries only postings of the query terms, never the corpus.

Reference scope note: the locus reference (/root/reference/locus) has no
text surface; this is training-data-pipeline/webtext functionality the
build mandate adds beyond reference parity.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from locus_spark.functions.metrics import sql_tokens

#: number of token-hash partitions of the persisted posting layout —
#: a term query reads |terms| directories regardless of corpus size.
POSTING_BUCKETS = 64

#: BM25 free parameters (Robertson et al., TREC-3 defaults).
BM25_K1 = 1.2
BM25_B = 0.75


def build_postings(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(tok, doc_id, tf) posting rows — explode + one hash aggregation
    (map-side combine collapses within-partition repeats before shuffle)."""
    toks = documents.selectExpr("doc_id", f"explode({sql_tokens(text_col)}) AS tok")
    return toks.groupBy("tok", "doc_id").agg(F.count("*").alias("tf"))


def search_and(postings: DataFrame, terms: tuple[str, ...]) -> DataFrame:
    """Documents containing ALL ``terms``: (doc_id, sum_tf).

    ``tok IN terms`` is a pushable predicate (reaches the parquet scan of
    a persisted layout; on the bucketed layout the `_pb` filter added by
    ``search_persisted`` prunes directories).  The grouped AND check is
    one aggregation over query-term postings only."""
    hits = postings.filter(F.col("tok").isin(list(terms)))
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count_distinct(F.col("tok")).alias("_nt"),
            F.sum("tf").alias("sum_tf"),
        )
        .filter(F.col("_nt") == len(terms))
        .select("doc_id", "sum_tf")
    )


def _bucket(col) -> F.Column:
    return F.pmod(F.xxhash64(col), F.lit(POSTING_BUCKETS)).cast("int")


def write_posting_layout(postings: DataFrame, path: str) -> None:
    """Persist postings partitioned by token hash bucket ``_pb`` — the
    build-once sink of the index; queries prune to |terms| directories."""
    (
        postings.withColumn("_pb", _bucket(F.col("tok")))
        .repartition("_pb")
        .write.mode("overwrite")
        .partitionBy("_pb")
        .parquet(path)
    )


def prune_to_term_buckets(
    spark: SparkSession, layout: DataFrame, terms: tuple[str, ...]
) -> DataFrame:
    """Partition-prune a persisted posting layout (parquet partitioned by
    ``_pb``) to the query terms' bucket directories: the `_pb IN` filter
    is directory-level pruning and `tok IN` (added by ``search_and``) a
    pushed row-group predicate inside them — a term query reads |terms|
    of POSTING_BUCKETS directories regardless of corpus size."""
    # bucket ids are a pure hash of the LITERAL terms — computed via a
    # 1-row Spark expression so Spark's xxhash64 (not a Python mirror)
    # decides them; bounded driver work, same contract as the IVF
    # n_probe cluster-id collect (queries._persisted_ivf_layout).
    buckets = {
        int(v)
        for v in spark.range(1)
        .select(*[_bucket(F.lit(t)).alias(f"b{i}") for i, t in enumerate(terms)])
        .first()
    }
    return layout.filter(F.col("_pb").isin(sorted(buckets)))


def search_persisted(
    spark: SparkSession, layout: DataFrame, terms: tuple[str, ...]
) -> DataFrame:
    """Conjunctive search over the persisted bucket-partitioned layout."""
    return search_and(prune_to_term_buckets(spark, layout, terms), terms)


def build_positional_postings(
    documents: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(tok, doc_id, pos) rows with 1-based token positions — the layout
    phrase queries need.  Rows (not per-doc arrays) for the same skew
    reason as ``build_postings``."""
    toks = documents.selectExpr(
        "doc_id", f"posexplode({sql_tokens(text_col)}) AS (pos0, tok)"
    )
    return toks.select("doc_id", "tok", (F.col("pos0") + 1).alias("pos"))


def search_phrase(postings: DataFrame, phrase: tuple[str, ...]) -> DataFrame:
    """(doc_id, n_occ): documents containing the EXACT consecutive token
    sequence ``phrase``, with occurrence counts.

    No m-way positional self-join: each posting of a phrase term emits its
    slot index i (every slot whose term matches — repeated phrase terms
    emit several), keyed by the implied phrase START ``pos - i``; ONE
    map-side-combined aggregation per (doc_id, start) then checks
    ``count(distinct slot) == m``.  The shuffle carries only phrase-term
    postings, and the m-term match costs one aggregation regardless of m."""
    slots = F.array(
        *[F.when(F.col("tok") == F.lit(t), F.lit(i)) for i, t in enumerate(phrase)]
    )
    hits = postings.filter(F.col("tok").isin(list(set(phrase)))).select(
        "doc_id",
        "pos",
        F.explode(F.filter(slots, lambda x: x.isNotNull())).alias("slot"),
    )
    occ = (
        hits.select("doc_id", (F.col("pos") - F.col("slot")).alias("start"), "slot")
        .groupBy("doc_id", "start")
        .agg(F.count_distinct("slot").alias("_ns"))
        .filter(F.col("_ns") == len(phrase))
    )
    return occ.groupBy("doc_id").agg(F.count("*").alias("n_occ"))


def phrase_oracle_sql(phrase: tuple[str, ...]) -> str:
    """DuckDB mirror of ``search_phrase`` over ``documents`` (parallel
    unnest zips token and position lists)."""
    terms_sql = ", ".join(f"'{t}'" for t in sorted(set(phrase)))
    cases = ", ".join(
        f"CASE WHEN tok = '{t}' THEN {i} END" for i, t in enumerate(phrase)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {sql_tokens('text')} AS ts
  FROM documents
), pos AS (
  SELECT doc_id, unnest(ts) AS tok,
         unnest(generate_series(1, len(ts))) AS pos
  FROM toks
), hits AS (
  SELECT doc_id, pos,
         unnest(list_filter([{cases}], x -> x IS NOT NULL)) AS slot
  FROM pos WHERE tok IN ({terms_sql})
), occ AS (
  SELECT doc_id, pos - slot AS start
  FROM hits GROUP BY doc_id, pos - slot
  HAVING count(DISTINCT slot) = {len(phrase)}
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occ FROM occ GROUP BY doc_id
"""


def build_scored_postings(
    documents: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(tok, doc_id, tf, dl) posting rows with the document length
    DENORMALIZED onto every posting — the standard search-engine layout:
    ranked (BM25) queries then never join the corpus-sized doc-length
    table at query time; the only query-time join is against the
    |terms|-row document-frequency side, which broadcasts."""
    toks = documents.selectExpr("doc_id", f"{sql_tokens(text_col)} AS _ts").selectExpr(
        "doc_id", "size(_ts) AS dl", "explode(_ts) AS tok"
    )
    return toks.groupBy("tok", "doc_id", "dl").agg(F.count("*").alias("tf"))


def corpus_stats(documents: DataFrame, text_col: str = "text") -> tuple[int, float]:
    """(n_docs, avgdl): one aggregation producing two scalars — bounded
    driver work, same contract as the IVF n_probe centroid collect."""
    row = (
        documents.selectExpr(f"size({sql_tokens(text_col)}) AS dl")
        .agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl"))
        .first()
    )
    return int(row["n"]), float(row["avgdl"])


def search_bm25(
    postings: DataFrame,
    terms: tuple[str, ...],
    n_docs: int,
    avgdl: float,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-``k`` documents by BM25 (disjunctive: any query term scores).

    Plan shape, sized for a corpus-scale posting table:

    - filter to the query terms first — a pushable ``tok IN`` predicate
      (directory pruning on the persisted bucket layout), so every later
      stage touches query-term postings only, never the corpus;
    - per-term document frequency is a |terms|-row aggregate joined back
      with an explicit ``broadcast`` — no second shuffle of the postings;
    - ``dl`` rides the posting row (``build_scored_postings``), so there
      is NO join against a corpus-sized document table;
    - the per-document term sum is a fixed-order column pivot
      (``max(case tok)`` per term added left-to-right), not a float
      ``sum()`` whose partition-dependent addition order would make the
      score nondeterministic;
    - global top-k is ``ORDER BY .. LIMIT k`` — Spark's
      TakeOrderedAndProject (per-partition heap top-k, driver merge of
      ``#partitions × k`` rows), never a single-reducer window.

    Scores are rounded to 6 decimals BEFORE ranking (ties then broken by
    ascending doc_id) so the ranking is reproducible across engines whose
    ``ln`` differs in the last ulp (measured: Spark vs DuckDB)."""
    hits = postings.filter(F.col("tok").isin(list(terms)))
    dfreq = hits.groupBy("tok").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    norm = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
    )
    scored = hits.join(F.broadcast(dfreq), "tok").select(
        "doc_id", "tok", (idf * norm).alias("s")
    )
    per_term: list[Column] = [
        F.max(F.when(F.col("tok") == F.lit(t), F.col("s"))).alias(f"_s{i}")
        for i, t in enumerate(terms)
    ]
    summed = functools.reduce(
        operator.add,
        [F.coalesce(F.col(f"_s{i}"), F.lit(0.0)) for i in range(len(terms))],
    )
    return (
        scored.groupBy("doc_id")
        .agg(*per_term)
        .select("doc_id", F.round(summed, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_oracle_sql(
    terms: tuple[str, ...],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    """DuckDB SQL computing BM25 with the EXACT expression shape (and
    left-to-right addition order) of ``search_bm25`` so doubles match
    bit-for-bit after the shared 6-decimal rounding."""
    terms_sql = ", ".join(f"'{t}'" for t in terms)
    pivot = " + ".join(
        f"coalesce(max(CASE WHEN tok = '{t}' THEN s END), 0.0)" for t in terms
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {sql_tokens('text')} AS ts
  FROM documents
), posting AS (
  SELECT doc_id, len(ts) AS dl, unnest(ts) AS tok FROM toks
), tf AS (
  SELECT tok, doc_id, dl, count(*) AS tf FROM posting
  WHERE tok IN ({terms_sql})
  GROUP BY tok, doc_id, dl
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         avg(CAST(len({sql_tokens('text')}) AS BIGINT)) AS avgdl
  FROM documents
), dfreq AS (
  SELECT tok, count(*) AS df FROM tf GROUP BY tok
), scored AS (
  -- parameter literals CAST to DOUBLE: DuckDB otherwise parses them as
  -- DECIMAL and computes BIGINT*DECIMAL exactly, diverging by an ulp
  -- from Spark's double arithmetic
  SELECT tf.doc_id, tf.tok,
         ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
         * ((tf.tf * CAST({k1 + 1.0!r} AS DOUBLE)) /
            (tf.tf + CAST({k1!r} AS DOUBLE)
                     * (CAST({1.0 - b!r} AS DOUBLE)
                        + CAST({b!r} AS DOUBLE) * tf.dl / stats.avgdl)))
           AS s
  FROM tf JOIN dfreq USING (tok) CROSS JOIN stats
)
SELECT doc_id, round({pivot}, 6) AS bm25
FROM scored GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC
LIMIT {k}
"""


__all__ = [
    "POSTING_BUCKETS",
    "BM25_K1",
    "BM25_B",
    "build_postings",
    "search_and",
    "write_posting_layout",
    "prune_to_term_buckets",
    "search_persisted",
    "build_positional_postings",
    "search_phrase",
    "phrase_oracle_sql",
    "build_scored_postings",
    "corpus_stats",
    "search_bm25",
    "bm25_oracle_sql",
]
