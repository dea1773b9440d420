"""Text-analysis operators for the training-data pipeline (documents table).

Token counting, quality scoring, marker-based language ID and content
fingerprinting are SQL text: the whitespace tokenizer is
``functions/metrics.sql_tokens``, and the counts, the quality arithmetic
and the language argmax are the ``sql_*``/``SQL_*`` texts below.  Spark runs
them through ``selectExpr`` (parsed JVM-side, one py4j call per
projection), and the DuckDB oracles in :mod:`locus_spark.queries` render
the same texts.  Ratios are divisions of exact integers → bit-identical in
any IEEE engine (oracle parity)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from locus_spark.functions.metrics import SPARK_SQL, Dialect, sql_tokens

#: marker tokens per language for the heuristic classifier — deterministic
#: and dialect-portable (filter + lambda in both engines).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "und", "nicht", "das"),
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "los", "que", "de"),
    "fr": ("le", "la", "les", "et", "est"),
    "ru": ("и", "в", "не", "на", "что"),
}

STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")

#: BPE-style pre-tokenizer shape: alphanumeric runs + individual non-space
#: punctuation — the unit a byte-pair tokenizer would split further.  Simple
#: character classes only, so Java regex (Spark) and RE2 (DuckDB) agree.
SUBTOKEN_RE = "[A-Za-z0-9]+|[^A-Za-z0-9 ]"


def sql_token_stats(dialect: Dialect = SPARK_SQL) -> list[str]:
    """``token_stats``' columns over the token array ``ts`` and ``text``."""
    n, u = f"{dialect.size}(ts)", f"{dialect.size}(array_distinct(ts))"
    subtokens = f"regexp_extract_all(text, '{SUBTOKEN_RE}', 0)"
    return [
        f"CAST({n} AS INT) AS n_tokens",
        f"CAST({u} AS INT) AS n_uniq",
        f"CAST({u} AS DOUBLE) / CAST({n} AS DOUBLE) AS uniq_ratio",
        f"CAST({dialect.size}({subtokens}) AS INT) AS n_subtokens",
    ]


def sql_token_counts(dialect: Dialect = SPARK_SQL) -> list[str]:
    """``n_tokens`` and ``n_stop`` (the :data:`STOPWORDS` among them) of the
    token array ``ts``."""
    return [
        f"CAST({dialect.size}(ts) AS INT) AS n_tokens",
        f"{dialect.count_in('ts', STOPWORDS)} AS n_stop",
    ]


_STOP_RATIO = "CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)"
#: the quality columns over ``n_tokens``, ``n_stop`` and ``n_chars``
SQL_QUALITY = (
    f"{_STOP_RATIO} AS stop_ratio",
    "CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_tok_len",
    f"least(CAST(n_tokens AS DOUBLE) / 100.0e0, 1.0e0) * (1.0e0 - {_STOP_RATIO}) AS quality",
)


def sql_marker_counts(dialect: Dialect = SPARK_SQL) -> list[str]:
    """``_s_<lang>``: each language's marker hits in the token array ``ts``."""
    return [
        f"{dialect.count_in('ts', markers)} AS _s_{lang}"
        for lang, markers in sorted(LANG_MARKERS.items())
    ]


#: the top marker count over the ``_s_<lang>`` columns
SQL_BEST_LANG = f"greatest({', '.join(f'_s_{lang}' for lang in sorted(LANG_MARKERS))})"
#: the language whose count is ``_best``, lexicographically first on ties
SQL_PRED_LANG = (
    "CASE "
    + " ".join(f"WHEN _s_{lang} = _best THEN '{lang}'" for lang in sorted(LANG_MARKERS))
    + " END"
)


def doc_fingerprint(documents: DataFrame) -> DataFrame:
    """Content fingerprint per document: (doc_id, fp, n_chars)."""
    return documents.select("doc_id", F.md5("text").alias("fp"), "n_chars")


def token_stats(documents: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_uniq, uniq_ratio, n_subtokens) — whitespace
    tokenization plus the BPE-ish regex subtoken count."""
    toks = documents.selectExpr("doc_id", "text", f"{sql_tokens('text')} AS ts")
    return toks.selectExpr("doc_id", *sql_token_stats())


def quality_score(documents: DataFrame, keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, *keep_cols, n_tokens, stop_ratio, mean_tok_len, quality) —
    simple length/stopword quality heuristic; every term a ratio of exact
    ints.  ``keep_cols`` are carried through unchanged so downstream stages
    (per-language selection, mix rebalance) don't need a join back to the
    source — one narrow projection instead of a self-join."""
    keep = ("doc_id", *keep_cols)
    return (
        documents.selectExpr(*keep, "n_chars", f"{sql_tokens('text')} AS ts")
        .selectExpr(*keep, "n_chars", *sql_token_counts())
        .selectExpr(*keep, "n_tokens", *SQL_QUALITY)
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """Marker-based language ID: count marker-token hits per language, argmax
    with lexicographic tie-break.  Returns (doc_id, lang, pred_lang, n_hits)."""
    return (
        documents.selectExpr("doc_id", "lang", f"{sql_tokens('text')} AS ts")
        .selectExpr("doc_id", "lang", *sql_marker_counts())
        .selectExpr("*", f"{SQL_BEST_LANG} AS _best")
        .selectExpr(
            "doc_id", "lang", f"{SQL_PRED_LANG} AS pred_lang", "CAST(_best AS BIGINT) AS n_hits"
        )
    )


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition signals over word bigrams:
    ``(doc_id, n_bigrams, n_uniq_bigrams, dup_bigram_ratio, top_bigram_n,
    top_bigram_ratio)``.  Boilerplate/spam pages repeat short phrases;
    ``dup_bigram_ratio`` (fraction of bigram OCCURRENCES that are repeats)
    and ``top_bigram_ratio`` (share of the single most frequent bigram) are
    the standard filter inputs.

    Plan shape: bigram explode → (doc, bigram) count → per-doc agg.  Two
    hash-partial aggregations on (doc_id, bigram) then doc_id — map-side
    combine on both, embarrassingly parallel, no window/sort.  Documents
    with fewer than 2 tokens carry no bigram and emit no row (mirrored by
    the oracle)."""
    toks = documents.selectExpr("doc_id", f"{sql_tokens('text')} AS ts").where(
        "size(ts) >= 2"
    )
    bigram = (
        "transform(sequence(1, size(ts) - 1), "
        "i -> element_at(ts, CAST(i AS INT)) || ' ' "
        "|| element_at(ts, CAST(i + 1 AS INT)))"
    )
    bi = toks.select("doc_id", F.explode(F.expr(bigram)).alias("bigram"))
    per = bi.groupBy("doc_id", "bigram").agg(F.count("*").alias("n"))
    return (
        per.groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_bigrams"),
            F.count("*").alias("n_uniq_bigrams"),
            F.max("n").alias("top_bigram_n"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_uniq_bigrams",
            (
                F.lit(1.0)
                - F.col("n_uniq_bigrams").cast("double")
                / F.col("n_bigrams").cast("double")
            ).alias("dup_bigram_ratio"),
            "top_bigram_n",
            (
                F.col("top_bigram_n").cast("double")
                / F.col("n_bigrams").cast("double")
            ).alias("top_bigram_ratio"),
        )
    )


#: default quantile probes for the length-distribution rollup
QUANTILE_PS = (0.25, 0.5, 0.9, 0.99)


def len_quantiles(documents: DataFrame, ps: tuple[float, ...] = QUANTILE_PS) -> DataFrame:
    """EXACT per-language quantiles of ``n_chars`` via the value histogram:
    one row per language with ``n_docs`` and a ``pXX`` column per probe
    (discrete quantile: smallest value whose cumulative count reaches
    ``ceil(p * n)``).

    This is the distributed-exact-quantile shape for integer-valued
    columns: ``groupBy(lang, n_chars)`` first (map-side combine collapses
    100 TB of rows into |langs| x |distinct lengths| cells — thousands),
    then the cumulative window runs over the TINY histogram, never the
    data.  Contrast with sort-based quantiles, which serialize each
    language's full data through one reducer, or approx_percentile, which
    gives up exactness for no reason once values are discrete."""
    from pyspark.sql import Window

    counts = documents.groupBy("lang", "n_chars").agg(F.count("*").alias("cnt"))
    cum = counts.select(
        "lang",
        "n_chars",
        F.sum("cnt").over(Window.partitionBy("lang").orderBy("n_chars")).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("lang")).alias("n"),
    )
    exprs = []
    for p in ps:
        name = f"p{int(round(p * 100)):02d}"
        exprs.append(
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.lit(p) * F.col("n")), F.col("n_chars")
                )
            ).alias(name)
        )
    return cum.groupBy("lang").agg(F.max("n").alias("n_docs"), *exprs)


def remove_boilerplate_passages(
    documents: DataFrame, passage_tokens: int = 8, min_doc_freq: int = 3
) -> DataFrame:
    """Corpus-level boilerplate removal (the passage/paragraph-dedup step of
    a web-corpus pipeline, CCNet-style): segment every document into fixed
    ``passage_tokens``-token passages, count each distinct passage's
    document frequency across the corpus, drop passages appearing in >=
    ``min_doc_freq`` distinct documents, and reassemble the surviving
    passages in their original order.

    Returns (doc_id, clean_text, n_passages, n_removed).  ``clean_text`` is
    the empty string when every passage was boilerplate.

    Scale shape: one explode (linear), one distinct + map-side-combined
    count keyed on the passage text (the df table is corpus-wide but only
    as large as the distinct-passage set), one shuffle join back, and one
    per-document re-aggregation — no windows, no driver-side state.  The
    (doc, position) key makes reassembly exact under any partitioning.
    """
    # token-less documents are excluded (mirrors the SQL oracle, where the
    # empty position range drops the group) — disclosed, matches the
    # media_features empty-payload convention
    toks = documents.selectExpr("doc_id", f"{sql_tokens('text')} AS ts").where(
        "size(ts) >= 1"
    )
    passages = toks.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("ts"), F.lit(passage_tokens))
        ).alias("i"),
        "ts",
    ).select(
        "doc_id",
        "i",
        F.array_join(F.slice("ts", F.col("i"), passage_tokens), " ").alias("pass_"),
    )
    doc_freq = (
        passages.select("doc_id", "pass_")
        .distinct()
        .groupBy("pass_")
        .agg(F.count("*").alias("_df"))
    )
    flagged = passages.join(doc_freq, "pass_").withColumn(
        "_boiler", F.col("_df") >= F.lit(min_doc_freq)
    )
    kept = F.filter(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("i"), F.col("_boiler"), F.col("pass_"))
            )
        ),
        lambda s: ~s["_boiler"],
    )
    return flagged.groupBy("doc_id").agg(
        F.concat_ws(
            " ", F.transform(kept, lambda s: s["pass_"])
        ).alias("clean_text"),
        F.count("*").alias("n_passages"),
        F.sum(F.col("_boiler").cast("long")).alias("n_removed"),
    )


#: collocation extraction defaults: a bigram must appear this often to rank
PMI_MIN_COUNT = 5


def corpus_token_totals(documents: DataFrame) -> tuple[int, int]:
    """(total unigrams, total bigrams) — one aggregation, two scalars
    (bounded driver work, the corpus_stats contract)."""
    row = (
        documents.selectExpr(f"size({sql_tokens('text')}) AS nt")
        .agg(
            F.sum("nt").alias("nu"),
            F.sum(F.greatest(F.col("nt") - 1, F.lit(0))).alias("nb"),
        )
        .first()
    )
    return int(row["nu"]), int(row["nb"])


def _bigrams(col: str = "text"):
    """1-based adjacent-pair strings; Spark's sequence(2, n) DESCENDS when
    n < 2, so short docs are guarded to an empty array explicitly."""
    ts = F.expr(sql_tokens(col))
    pairs = F.transform(
        F.sequence(F.lit(2), F.size(ts)),
        lambda i: F.concat(
            F.element_at(ts, i - F.lit(1)), F.lit(" "), F.element_at(ts, i)
        ),
    )
    return F.when(F.size(ts) >= 2, pairs).otherwise(
        F.array().cast("array<string>")
    )


def pmi_collocations(
    documents: DataFrame,
    n_unigrams: int,
    n_bigrams: int,
    min_count: int = PMI_MIN_COUNT,
    k: int = 20,
) -> DataFrame:
    """Top-``k`` collocations by pointwise mutual information:
    ``PMI(a,b) = ln( p(ab) / (p(a) p(b)) )`` over adjacent token pairs.

    Plan shape at corpus scale: bigrams are built INSIDE each document row
    (an array transform — no positional self-join), unigram and bigram
    counts are two map-side-combined aggregations, and the two probability
    joins key the ``min_count``-filtered bigram table by its left/right
    token against the unigram table — the filter bounds the joined side
    long before the shuffle.  Top-k is TakeOrderedAndProject.  The PMI is
    ranked at 6-decimal rounding (ties by bigram text) for cross-engine
    ``ln`` reproducibility, same contract as BM25."""
    uni = (
        documents.selectExpr(f"explode({sql_tokens('text')}) AS tok")
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    bi = (
        documents.select(F.explode(_bigrams()).alias("bg"))
        .groupBy("bg")
        .agg(F.count("*").alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
        .withColumn("tok_a", F.split("bg", " ")[0])
        .withColumn("tok_b", F.split("bg", " ")[1])
    )
    nu, nb = float(n_unigrams), float(n_bigrams)
    joined = (
        bi.join(uni.select(F.col("tok").alias("tok_a"), F.col("c").alias("c_a")), "tok_a")
        .join(uni.select(F.col("tok").alias("tok_b"), F.col("c").alias("c_b")), "tok_b")
    )
    pmi = F.log(
        (F.col("c_ab") / F.lit(nb))
        / ((F.col("c_a") / F.lit(nu)) * (F.col("c_b") / F.lit(nu)))
    )
    return (
        joined.select("bg", "c_ab", F.round(pmi, 6).alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("bg"))
        .limit(k)
    )


def pmi_oracle_sql(min_count: int = PMI_MIN_COUNT, k: int = 20) -> str:
    """DuckDB mirror of ``pmi_collocations`` with identical expression
    shapes (counts divided by DOUBLE totals; shared 6-decimal rounding)."""
    return f"""
WITH toks AS (
  SELECT {sql_tokens('text')} AS ts
  FROM documents
), nu AS (
  SELECT CAST(sum(len(ts)) AS DOUBLE) AS n,
         CAST(sum(greatest(len(ts) - 1, 0)) AS DOUBLE) AS nbi
  FROM toks
), uni AS (
  SELECT unnest(ts) AS tok FROM toks
), uc AS (
  SELECT tok, count(*) AS c FROM uni GROUP BY tok
), bi AS (
  SELECT unnest(list_transform(generate_series(2, len(ts)),
                               i -> ts[i-1] || ' ' || ts[i])) AS bg
  FROM toks
), bc AS (
  SELECT bg, count(*) AS c_ab,
         string_split(bg, ' ')[1] AS tok_a,
         string_split(bg, ' ')[2] AS tok_b
  FROM bi GROUP BY bg
  HAVING count(*) >= {min_count}
)
SELECT bc.bg, bc.c_ab,
       round(ln((bc.c_ab / nu.nbi)
                / ((ua.c / nu.n) * (ub.c / nu.n))), 6) AS pmi
FROM bc
JOIN uc ua ON ua.tok = bc.tok_a
JOIN uc ub ON ub.tok = bc.tok_b
CROSS JOIN nu
ORDER BY pmi DESC, bg ASC
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# bigram language-model quality scoring (CCNet-style perplexity filter)
# ---------------------------------------------------------------------------

#: reference-corpus rule for the driver query: every 5th document trains
#: the model (the stand-in for "train KenLM on Wikipedia" — CCNet,
#: Wenzek et al. LREC'20); ALL documents are scored against it.
LM_REF_MOD = 5


def bigram_lm_scores(
    documents: DataFrame,
    ref: DataFrame,
    k: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document mean bigram log-likelihood under an add-``k``-smoothed
    bigram model trained on ``ref`` — the CCNet-style LM quality signal
    (higher = more reference-like; perplexity is ``exp(-lm_score)``, left
    to the caller because cross-engine ``exp`` is not bit-reproducible).

    Model: ``P(w | u) = (c(u,w) + k) / (c(u·) + k·V)`` with ``V`` =
    distinct reference tokens + 1 (the OOV bucket); unseen bigrams and
    unseen left-contexts fall through the same formula via count 0.

    Scale shape: bigrams are built inside each document row (array
    transform — no positional self-join, same machinery as PMI); the
    model is two count tables over the REFERENCE corpus only (map-side
    combinable aggs); scoring is two left equi-joins of the corpus bigram
    stream against those tables keyed by bigram / left token, then one
    per-doc hash aggregation.  The model tables are vocabulary-sized, not
    corpus-sized — at production scale they broadcast (a pruned KenLM is
    exactly this shape), so the corpus-side stream never shuffles for the
    lookup; the only corpus-keyed shuffle is the final per-doc agg.

    Returns (doc_id, n_bigrams, lm_score) for documents with >= 1 bigram;
    ``lm_score`` is rounded to 6 decimals (sums of ~60 bounded doubles —
    reorder drift ~1e-13, far inside the rounding quantum; same contract
    as PageRank's contribution sums)."""
    ref_bg = ref.select(F.explode(_bigrams(text_col)).alias("bg"))
    cb = ref_bg.groupBy("bg").agg(F.count("*").alias("_cb"))
    cu = (
        ref_bg.select(F.split("bg", " ")[0].alias("_u"))
        .groupBy("_u")
        .agg(F.count("*").alias("_cu"))
    )
    vocab = (
        ref.selectExpr(f"explode({sql_tokens(text_col)}) AS t")
        .agg(F.countDistinct("t"))
        .first()[0]
        + 1
    )
    doc_bg = documents.select(
        F.col(id_col), F.explode(_bigrams(text_col)).alias("bg")
    ).withColumn("_u", F.split("bg", " ")[0])
    logp = F.log(
        (F.coalesce("_cb", F.lit(0)) + F.lit(float(k)))
        / (F.coalesce("_cu", F.lit(0)) + F.lit(float(k) * vocab))
    )
    return (
        doc_bg.join(cb, "bg", "left")
        .join(cu, "_u", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.sum(logp) / F.count("*"), 6).alias("lm_score"),
        )
    )


def bigram_lm_oracle_sql(ref_mod: int = LM_REF_MOD, k: float = 1.0) -> str:
    """DuckDB mirror of ``bigram_lm_scores`` with the driver query's
    every-``ref_mod``-th-doc reference rule and identical double
    arithmetic (coalesced BIGINT counts + DOUBLE literals, ln, one
    6-decimal rounding)."""
    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, {sql_tokens('text')} AS ts
  FROM documents
), refbg AS MATERIALIZED (
  SELECT unnest(list_transform(generate_series(2, len(ts)),
                               i -> ts[i-1] || ' ' || ts[i])) AS bg
  FROM toks WHERE doc_id % {ref_mod} = 0
), vocab AS (
  SELECT CAST(count(DISTINCT t) + 1 AS DOUBLE) AS v
  FROM (SELECT unnest(ts) AS t FROM toks WHERE doc_id % {ref_mod} = 0)
), cb AS (
  SELECT bg, count(*) AS cb FROM refbg GROUP BY bg
), cu AS (
  SELECT string_split(bg, ' ')[1] AS u, count(*) AS cu FROM refbg GROUP BY u
), docbg AS (
  SELECT doc_id, unnest(list_transform(generate_series(2, len(ts)),
                                       i -> ts[i-1] || ' ' || ts[i])) AS bg
  FROM toks
)
SELECT docbg.doc_id AS doc_id, count(*) AS n_bigrams,
       round(sum(ln((coalesce(cb.cb, 0) + CAST({float(k)!r} AS DOUBLE))
                    / (coalesce(cu.cu, 0) + CAST({float(k)!r} AS DOUBLE) * vocab.v)))
             / count(*), 6) AS lm_score
FROM docbg
LEFT JOIN cb ON cb.bg = docbg.bg
LEFT JOIN cu ON cu.u = string_split(docbg.bg, ' ')[1]
CROSS JOIN vocab
GROUP BY docbg.doc_id
"""
