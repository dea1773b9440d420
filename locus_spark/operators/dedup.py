"""Deduplication operators for the training-data pipeline.

Not present in the reference (it has no text processing); these are the
standard large-scale dedup family expressed Spark-first:

* exact          — content fingerprint (md5) groupBy; one shuffle on the
                   fingerprint, map-side combine does the heavy lifting;
* MinHash + LSH  — shingle → per-band minhash (md5 order statistics, no
                   custom hash needed: min over an md5-keyed permutation IS a
                   minhash) → band-bucket self-join → exact Jaccard verify.
                   All set algebra happens on (doc, shingle) rows — joins and
                   groupBys, no UDFs;
* SimHash        — 64-bit fingerprint as a pure relational plan (distinct
                   tokens → md5 halves → 64 per-bit vote aggregates), fully
                   whole-stage-codegen'd; near-dup = fingerprints at small
                   Hamming distance, found by banding into 4 × 16-bit keys.

Every hash kernel — SimHash's votes, fingerprint, band key and Hamming
distance, MinHash's permutations and band keys — is written once, as SQL
text (the ``sql_*`` functions below).  Spark parses that text
(``selectExpr`` / ``F.expr``: one py4j call per expression instead of one
per Column node), and the DuckDB oracles in :mod:`locus_spark.queries`
render the same text.  The tokenizer is ``functions/metrics.sql_tokens``,
and the steps spelled per engine (unnesting the distinct tokens, parsing an
md5 half) are ``functions/metrics.py``'s ``SPARK_SQL`` and ``DUCKDB``
dialects.
(``spark.sql`` with DataFrame arguments would parse a whole step at once,
but it registers each argument as a temp view and drops the view
afterwards, and dropping a temp view uncaches every cached frame with the
same plan.)

Tokenization contract (shared with the DuckDB oracles): split on single
spaces, drop empty tokens, 1-indexed element access.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from locus_spark.functions.metrics import SPARK_SQL, sql_tokens

SHINGLE = 3


def sql_simhash_vote(j: int) -> str:
    """SimHash's vote on bit j over token-hash rows (hi, lo): +1 for each
    token whose hash has bit j set, -1 for each other token (hi holds bits
    32..63, lo bits 0..31)."""
    return f"sum(CASE WHEN (({'hi' if j >= 32 else 'lo'} >> {j % 32}) & 1) = 1 THEN 1 ELSE -1 END)"


def sql_simhash_fp() -> str:
    """The 64-bit fingerprint aggregate: bit j is set where its vote is
    positive.  The terms hold disjoint bits, so the sum cannot overflow; bit
    63 is the sign bit."""
    return "\n  + ".join(
        f"CASE WHEN {sql_simhash_vote(j)} > 0"
        f" THEN CAST({1 << j if j < 63 else -(1 << 63)} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for j in range(64)
    )


def sql_band_key(fp: str, b: str) -> str:
    """Band ``b`` (0..3) of the fingerprint ``fp``: its b-th 16-bit slice."""
    return f"({fp} >> (16 * {b})) & 65535"


def sql_hamming(a: str, b: str) -> str:
    """Hamming distance of two 64-bit fingerprints.  ``(a | b) - (a & b)``
    equals ``a XOR b`` bit for bit and cannot overflow, because the bits of
    ``a & b`` are a subset of those of ``a | b``; DuckDB reads ``^`` as
    power, so XOR has no common spelling."""
    return f"bit_count(({a} | {b}) - ({a} & {b}))"


def sql_minhash_perm(p: int) -> str:
    """Permutation p's minhash of a doc's ``shingle`` rows: the permutation
    orders shingles by ``md5('p|' || shingle)``, so its min is a minhash."""
    return f"min(md5('{p}|' || shingle))"


def sql_minhash_band_key(b: int, rows_per_band: int) -> str:
    """Band b's key over the minhash columns ``_m{p}``: its
    ``rows_per_band`` minhashes, concatenated."""
    return " || ".join(f"_m{b * rows_per_band + i}" for i in range(rows_per_band))


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Content-hash dedup: one row per distinct text with the keeper id
    (smallest doc_id) and the duplicate count.
    Returns (fp, keep_id, n_docs)."""
    return (
        documents.select(F.md5("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_docs"))
    )


def _doc_shingles(documents: DataFrame, shingle: int = SHINGLE) -> DataFrame:
    """Distinct (doc_id, shingle) rows: word n-grams over space-split tokens
    (1-indexed element_at, matching the oracle's 1-indexed lists)."""
    toks = documents.selectExpr("doc_id", f"{sql_tokens('text')} AS ts").where(
        f"size(ts) >= {shingle}"
    )
    # the length guard above is load-bearing: sequence(1, size - k) with
    # size - k < 1 generates a DESCENDING sequence in Spark (default step
    # -1), so a too-short document would index element_at out of bounds
    joined = " || ' ' || ".join(
        f"element_at(ts, CAST(i + {j} AS INT))" for j in range(shingle)
    )
    sh = toks.select(
        "doc_id",
        F.explode(
            F.expr(f"transform(sequence(1, size(ts) - {shingle - 1}), i -> {joined})")
        ).alias("shingle"),
    )
    return sh.distinct()


def _text_reps(documents: DataFrame) -> DataFrame:
    """One representative per distinct text: (_fp, doc_id, text), with _fp
    the text's md5 and doc_id the smallest id carrying that text."""
    return (
        documents.selectExpr("md5(text) AS _fp", "doc_id", "text")
        .groupBy("_fp")
        .agg(F.expr("min(doc_id) AS doc_id"), F.expr("min_by(text, doc_id) AS text"))
    )


def _expand_rep_pairs(
    members: DataFrame,
    reps: DataFrame,
    rep_pairs: DataFrame,
    value: str,
    within: str,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Member pairs (id_a, id_b, <value>), id_a < id_b, from the pairs
    ``rep_pairs`` (id_a, id_b, <value>) between group representatives.

    ``members`` (_fp, doc_id) puts every doc in its group and ``reps``
    (_fp, doc_id) names each group's representative.  Every member-of-A ×
    member-of-B pair has the same content as its representatives, hence the
    same value; every two members of one group are exact duplicates and get
    the SQL text ``within``.  With ``shingled`` given, only the groups whose
    representative has a row there pair within: a text too short to shingle
    has no band, so it is never a candidate."""
    cross = (
        rep_pairs.join(reps.selectExpr("doc_id AS id_a", "_fp AS _fp_a"), "id_a")
        .join(reps.selectExpr("doc_id AS id_b", "_fp AS _fp_b"), "id_b")
        .join(members.selectExpr("_fp AS _fp_a", "doc_id AS _da"), "_fp_a")
        .join(members.selectExpr("_fp AS _fp_b", "doc_id AS _db"), "_fp_b")
        .selectExpr("least(_da, _db) AS id_a", "greatest(_da, _db) AS id_b", value)
    )
    within_pairs = (
        members.selectExpr("_fp", "doc_id AS id_a")
        .join(members.selectExpr("_fp", "doc_id AS id_b"), "_fp")
        .where("id_a < id_b")
    )
    if shingled is not None:
        kept = reps.join(shingled.select("doc_id").distinct(), "doc_id").select("_fp")
        within_pairs = within_pairs.join(kept, "_fp", "left_semi")
    return cross.unionByName(
        within_pairs.selectExpr("id_a", "id_b", f"{within} AS {value}")
    )


def band_signatures(
    sh: DataFrame, bands: int = 4, rows_per_band: int = 2
) -> DataFrame:
    """(doc_id, b, mh) band keys from (doc_id, shingle) rows — the shared
    MinHash kernel of :func:`minhash_lsh_pairs` and the incremental probe.

    All ``bands * rows_per_band`` minhashes in ONE groupBy over the shingle
    rows: one map-side-combinable MIN aggregate per permutation
    (:func:`sql_minhash_perm`).  (Replicating every shingle row n_perms
    times through a join with ``range(n_perms)`` before aggregating does the
    same md5 work over an n_perms× larger pre-aggregation stream.)  Band keys
    are then a tiny per-doc ``stack`` of the aggregated row."""
    keys = ", ".join(
        f"{b}, {sql_minhash_band_key(b, rows_per_band)}" for b in range(bands)
    )
    return sh.groupBy("doc_id").agg(
        *[F.expr(f"{sql_minhash_perm(p)} AS _m{p}") for p in range(bands * rows_per_band)]
    ).selectExpr("doc_id", f"stack({bands}, {keys}) AS (b, mh)")


def minhash_lsh_pairs(
    documents: DataFrame,
    bands: int = 4,
    rows_per_band: int = 2,
    shingle: int = SHINGLE,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Near-duplicate candidate pairs by banded MinHash LSH, verified with
    exact shingle-set Jaccard.  Returns (id_a, id_b, jaccard), id_a < id_b.

    Classic (b, r) banding: ``bands * rows_per_band`` independent minhash
    permutations; a band's key is the concatenation of its ``r`` minhashes,
    so a pair becomes a candidate with probability ``1-(1-j^r)^b`` — the
    S-curve with midpoint ``(1/b)^(1/r)`` (0.5 at the 4x2 default).  r=1
    degenerates to "any single minhash collides", which at web scale admits
    a quadratic tail of low-jaccard candidate pairs and makes the exact
    verify join the job's bottleneck; r>=2 suppresses that tail.

    Scale shape: shingling explodes ~L rows/doc; per-permutation minhash is a
    map-side-combinable groupBy; the bucket self-join only pairs docs sharing
    a whole band key, and the Jaccard verify joins only candidate pairs'
    shingle sets.

    Exact duplicates are grouped FIRST and only one representative per
    distinct text is banded: identical texts share every band key, so banding
    them all makes the bucket self-join quadratic within each duplicate
    cluster (the r1 skew hazard).  Representative pairs are expanded back
    through the groups afterwards, and within-group pairs get jaccard 1.0
    directly — output is identical to banding everything, minus the O(dups²)
    band-join blowup.
    """
    members = documents.selectExpr("md5(text) AS _fp", "doc_id").cache()
    reps = _text_reps(documents)
    sh = _doc_shingles(reps.select("doc_id", "text"), shingle).cache()
    # the self-join below would otherwise recompute the whole
    # shingle→hash→minhash subtree once per side
    band_df = band_signatures(sh, bands, rows_per_band).cache()
    a, c = band_df.alias("a"), band_df.alias("c")
    cand = (
        a.join(
            c,
            (F.col("a.b") == F.col("c.b"))
            & (F.col("a.mh") == F.col("c.mh"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("c.doc_id").alias("id_b"))
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        cand.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    rep_pairs = (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "na"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "nb"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
    )
    # within-group pairs are exact dups (jaccard 1.0 == n/(n+n-n) exactly)
    out = _expand_rep_pairs(
        members, reps, rep_pairs, "jaccard", "CAST(1 AS DOUBLE)", shingled=sh
    )
    if min_jaccard > 0.0:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out


def ngram_jaccard_pairs(
    documents: DataFrame,
    shingle: int = SHINGLE,
    min_jaccard: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """EXACT n-gram-Jaccard near-dup pairs via a PREFIX-FILTERED inverted
    shingle index — the deterministic sibling of MinHash banding.  Returns
    every pair with ``jaccard ≥ min_jaccard`` as (id_a, id_b, jaccard),
    id_a < id_b.

    Scale shape (AllPairs-style prefix filtering, Bayardo et al. WWW'07):
    under a global shingle order (document frequency asc, shingle asc), only
    each doc's first ``n - ⌈t·n⌉ + 1`` shingles are INDEXED; candidates are
    (full shingle set) ⋈ (prefix index) matches.  Complete for J ≥ t: a
    qualifying pair shares ``I ≥ ⌈t·n_b⌉`` shingles, and at most
    ``⌈t·n_b⌉ - 1`` of them can sit outside b's prefix, so at least one
    common shingle is indexed for b and a's full set probes it.  Rare-first
    ordering makes the indexed entries exactly the low-df shingles, so a
    boilerplate shingle in d docs no longer contributes O(d²) candidate
    pairs unless it genuinely is among a doc's rarest.

    Exact duplicates are pre-grouped (one representative per distinct text is
    shingled/indexed — the same rep/expand scheme as MinHash), so a d-doc
    identical cluster costs O(d) not O(d²); within-group pairs come out with
    jaccard exactly 1.0 (always ≥ t) provided the text shingles at all.

    ``max_df`` is an OPTIONAL extra valve dropping indexed entries above a
    document-frequency cap; it trades completeness for candidate volume on
    pathological boilerplate corpora (within-group exact-dup pairs are still
    always returned).  Default None = exact.

    Everything is joins/groupBys/windows with map-side combine; no UDFs."""
    members = documents.selectExpr("md5(text) AS _fp", "doc_id").cache()
    reps = _text_reps(documents)
    sh = _doc_shingles(reps.select("doc_id", "text"), shingle).cache()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    from pyspark.sql import Window

    wnd = Window.partitionBy("doc_id").orderBy(F.col("_df").asc(), F.col("shingle").asc())
    prefix_len = (
        F.col("n_sh") - F.ceil(F.lit(min_jaccard) * F.col("n_sh")) + F.lit(1)
    )
    idx = (
        sh.join(dfreq, "shingle")
        .join(sizes, "doc_id")
        .withColumn("_rn", F.row_number().over(wnd))
        .filter(F.col("_rn") <= prefix_len)
    )
    if max_df is not None:
        idx = idx.filter(F.col("_df") <= max_df)
    idx = idx.select("doc_id", "shingle")
    cand = (
        sh.select(F.col("doc_id").alias("_d1"), "shingle")
        .join(idx.select(F.col("doc_id").alias("_d2"), "shingle"), "shingle")
        .filter(F.col("_d1") != F.col("_d2"))
        .select(
            F.least("_d1", "_d2").alias("id_a"),
            F.greatest("_d1", "_d2").alias("id_b"),
        )
        .distinct()
    )
    # AllPairs SIZE filter (Bayardo et al. §3): jaccard ≤ min(n)/(na+nb-min(n))
    # (intersection can't exceed the smaller set), so any candidate whose size
    # ratio already caps it under t is dropped BEFORE the expensive joins that
    # attach the full shingle-set arrays.  The bound is computed with the same
    # double division as the final jaccard, and correctly-rounded division is
    # monotone in the true value, so no qualifying pair is ever excluded.
    # ``sizes`` is one row per rep doc — broadcast both sides of the join.
    cand = (
        cand.join(
            F.broadcast(sizes.select(F.col("doc_id").alias("id_a"),
                                     F.col("n_sh").alias("na"))), "id_a")
        .join(
            F.broadcast(sizes.select(F.col("doc_id").alias("id_b"),
                                     F.col("n_sh").alias("nb"))), "id_b")
        .filter(
            F.least("na", "nb")
            / (F.col("na") + F.col("nb") - F.least("na", "nb")).cast("double")
            >= F.lit(min_jaccard)
        )
        .select("id_a", "id_b")
    )
    # intersection sizes via per-doc shingle SETS + array_intersect: one row
    # per candidate pair (each carrying two ~n_sh-element arrays), instead of
    # re-exploding every candidate by its full shingle set and re-joining on
    # (id_b, shingle) — that expand was |cand|·n_sh join rows (27M at sf0.1,
    # the dominant stage) for the same counts
    sets_ = sh.groupBy("doc_id").agg(
        F.collect_set("shingle").alias("_set"), F.count("*").alias("n_sh")
    )
    rep_pairs = (
        cand.join(
            sets_.select(
                F.col("doc_id").alias("id_a"),
                F.col("_set").alias("_sa"),
                F.col("n_sh").alias("na"),
            ),
            "id_a",
        )
        .join(
            sets_.select(
                F.col("doc_id").alias("id_b"),
                F.col("_set").alias("_sb"),
                F.col("n_sh").alias("nb"),
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_sa", "_sb")).alias("n_inter"),
            "na",
            "nb",
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )
    # within-group pairs are exact dups: jaccard exactly 1.0 ≥ any t
    return _expand_rep_pairs(
        members, reps, rep_pairs, "jaccard", "CAST(1 AS DOUBLE)", shingled=sh
    )


# --------------------------------------------------------------------------
# SimHash — a pure relational plan (whole-stage codegen, no Python at all):
# distinct tokens explode → md5 split into two 32-bit halves (JVM) → 64
# per-bit vote aggregates (map-side combinable) → fingerprint assembly.
# Integer-exact end to end; the DuckDB oracle renders the same kernels.
# --------------------------------------------------------------------------


def simhash_fingerprints(documents: DataFrame) -> DataFrame:
    """(doc_id, fp): 64-bit SimHash (:func:`sql_simhash_fp`) over the doc's
    *distinct* space-split tokens.  Docs with no tokens get fp = 0.

    Scale shape: one explode (~tokens rows/doc), one groupBy(doc_id) with 64
    integer sums — partial aggregation does the heavy lifting; no row
    blowup beyond the token explode and no Python workers."""
    fps = (
        documents.selectExpr("doc_id", f"{SPARK_SQL.tokens('text')} AS tok")
        .selectExpr("doc_id", *SPARK_SQL.token_hash())
        .groupBy("doc_id")
        .agg(F.expr(f"{sql_simhash_fp()} AS fp"))
    )
    return (
        documents.select("doc_id")
        .join(fps, "doc_id", "left")
        .selectExpr("doc_id", "coalesce(fp, CAST(0 AS BIGINT)) AS fp")
    )


def _simhash_groups(documents: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(members, reps) of the identical-fingerprint groups: members is
    (_fp, doc_id) for every doc, cached; reps is (_fp, doc_id) with each
    group's smallest doc id."""
    members = simhash_fingerprints(documents).selectExpr("fp AS _fp", "doc_id").cache()
    return members, members.groupBy("_fp").agg(F.min("doc_id").alias("doc_id"))


def _simhash_rep_pairs(reps: DataFrame, max_hamming: int) -> DataFrame:
    """Near-dup pairs between fingerprint REPRESENTATIVES ``reps`` (_fp,
    doc_id): band self-join + exact popcount Hamming verify.
    Returns (id_a, id_b, hamming), id_a < id_b."""
    banded = reps.selectExpr("doc_id", "_fp", "explode(sequence(0, 3)) AS b").selectExpr(
        "doc_id", "_fp", "b", f"{sql_band_key('_fp', 'b')} AS key"
    )
    h = sql_hamming("a._fp", "c._fp")
    return (
        banded.alias("a")
        .join(banded.alias("c"), F.expr("a.b = c.b AND a.key = c.key AND a.doc_id < c.doc_id"))
        .where(f"{h} <= {max_hamming}")
        .selectExpr("a.doc_id AS id_a", "c.doc_id AS id_b", f"{h} AS hamming")
        .distinct()
    )


def simhash_clusters(documents: DataFrame, max_hamming: int = 3) -> DataFrame:
    """(doc_id, cluster_id) for every document: connected components of the
    SimHash near-dup graph, cluster_id = smallest doc id in the component.

    Scale shape: the PAIR list is inherently O(d²) for a d-identical cluster
    (every member-pair is a row), so clustering via the expanded pairs would
    re-create the quadratic blowup the rep-grouping avoids.  Components are
    therefore computed on the REPRESENTATIVE graph only (one node per
    distinct fingerprint) and members inherit their rep's component through
    one join.  The component min over reps IS the component min over members:
    each rep is already its fp group's min doc_id."""
    from locus_spark.operators.components import connected_components

    members, reps = _simhash_groups(documents)
    comp = connected_components(_simhash_rep_pairs(reps, max_hamming))
    return (
        members.join(reps.withColumnRenamed("doc_id", "_rep"), "_fp")
        .join(comp.withColumnRenamed("node", "_rep"), "_rep", "left")
        .selectExpr("doc_id", "coalesce(component, _rep) AS cluster_id")
    )


def simhash_near_dups(documents: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash banding: fingerprints split into 4 16-bit
    bands; pairs sharing a band are verified with exact popcount Hamming
    distance.  Returns (id_a, id_b, hamming).

    Docs with IDENTICAL fingerprints are grouped FIRST and only one
    representative per distinct ``fp`` enters the band self-join — identical
    fingerprints share all 4 band keys, so banding every member makes a
    d-duplicate cluster emit d² candidate rows per band (the same quadratic
    hazard MinHash fixed in round 1 by banding text representatives).  The
    representative pairs are expanded back through the fp groups afterwards,
    and within-group pairs are emitted with Hamming 0 directly (equal fps
    always share every band, so they are always candidates) — the output is
    identical to banding everything, minus the O(dups²) band-join blowup."""
    members, reps = _simhash_groups(documents)
    return _expand_rep_pairs(
        members, reps, _simhash_rep_pairs(reps, max_hamming), "hamming", "CAST(0 AS INT)"
    )


def incremental_exact_dedup(
    corpus: DataFrame, batch: DataFrame, broadcast_batch: bool = True
) -> DataFrame:
    """Cross-snapshot dedup: keep the new-batch documents whose content is
    not already in the corpus (nor earlier in the batch itself).

    The recurring web-crawl shape: a new snapshot (``batch``) lands next to
    an existing multi-snapshot corpus orders of magnitude larger, and only
    genuinely new content should enter the training mix.  Returns one row
    per kept distinct batch text: ``(doc_id, fp, n_batch_dups)`` where
    ``doc_id`` is the smallest id carrying that text in the batch and
    ``n_batch_dups`` counts its within-batch copies.

    Scale shape (100 TB corpus, ~1% snapshot):

    * The corpus side is ONLY ever a column-pruned scan of ``text``
      projected to a 32-hex md5 — never shuffled, never broadcast: the
      membership probe broadcasts the much smaller BATCH fingerprint set
      and streams the corpus map-side through a ``left_semi`` that emits
      at most |batch| distinct fingerprints (the already-seen set).
    * The batch then drops the already-seen set with an anti-join against
      that tiny result.  Within-batch dedup is one map-side-combined
      groupBy on the fingerprint.
    * ``broadcast_batch=False`` falls back to a plain shuffle ``left_semi``
      on ``fp`` for snapshot sizes beyond broadcast reach (both sides hash
      16-byte keys; still no text ever rides a shuffle).
    """
    batch_fp = batch.select(F.md5("text").alias("fp"), "doc_id")
    kept = batch_fp.groupBy("fp").agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n_batch_dups")
    )
    batch_keys = kept.select("fp")
    if broadcast_batch:
        batch_keys = F.broadcast(batch_keys)
    seen = (
        corpus.select(F.md5("text").alias("fp"))
        .join(batch_keys, "fp", "left_semi")
        .distinct()
    )
    if broadcast_batch:
        # |seen| <= |batch fingerprints|, which the probe above already
        # judged broadcastable — so the drop is map-side too, and the whole
        # operator shuffles nothing but the batch's own groupBy
        seen = F.broadcast(seen)
    return kept.join(seen, "fp", "left_anti").select(
        "doc_id", "fp", "n_batch_dups"
    )


#: token width of the repeated-span probe.  Real pipelines (Lee et al.,
#: "Deduplicating Training Data Makes Language Models Better", ACL'22) use
#: 50-token spans over BPE ids; the synthetic fixture's documents are tens
#: of tokens from a small vocabulary, so 8 keeps the cross-document match
#: rate in the regime a 50-gram has against web text.
SPAN_W = 8


def span_dup_stats(documents: DataFrame, w: int = SPAN_W) -> DataFrame:
    """Repeated-substring statistics: for each document, how much of it is
    covered by ``w``-token spans that also appear in ANOTHER document.

    The distributed stand-in for suffix-array substring dedup (Lee et al.
    ACL'22): a suffix array does not shard, so the standard Spark answer is
    fixed-width span fingerprinting — every ``w``-token window is hashed,
    windows seen in >= 2 distinct documents are "duplicated", and each
    document reports ``(doc_id, n_spans, n_dup_spans, dup_frac)`` over its
    window positions.  Downstream policy (drop the doc, or cut the spans)
    filters on ``dup_frac``; documents shorter than ``w`` tokens carry no
    span and are absent (mirrored by the oracle).

    Scale shape: raw span rows are immediately reduced to per-(doc, span)
    counts (one map-side-combined shuffle keyed on the pair), span document
    frequencies aggregate those counts (second combine on the span hash,
    carrying one row per distinct (doc, span), never raw positions), and the
    flag rides back on an equi-join of those two aggregated frames — no
    all-pairs stage, nothing keyed by document alone until the final
    per-doc rollup.  Span text never leaves the first projection: joins and
    aggregations carry the 32-hex md5 only.
    """
    toks = documents.selectExpr("doc_id", f"{sql_tokens('text')} AS ts").where(
        f"size(ts) >= {w}"
    )
    joined = " || ' ' || ".join(
        f"element_at(ts, CAST(i + {j} AS INT))" for j in range(w)
    )
    spans = toks.select(
        "doc_id",
        F.explode(
            F.expr(f"transform(sequence(1, size(ts) - {w - 1}), i -> md5({joined}))")
        ).alias("sp"),
    )
    per_doc_span = spans.groupBy("doc_id", "sp").agg(F.count("*").alias("_c"))
    span_docs = per_doc_span.groupBy("sp").agg(F.count("*").alias("_nd"))
    return (
        per_doc_span.join(span_docs, "sp")
        .groupBy("doc_id")
        .agg(
            F.sum("_c").alias("n_spans"),
            F.sum(F.when(F.col("_nd") > 1, F.col("_c")).otherwise(F.lit(0))).alias(
                "n_dup_spans"
            ),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            (F.col("n_dup_spans") / F.col("n_spans").cast("double")).alias(
                "dup_frac"
            ),
        )
    )


def incremental_minhash_dedup(
    corpus_bands: DataFrame,
    corpus: DataFrame,
    batch: DataFrame,
    bands: int = 4,
    rows_per_band: int = 2,
    shingle: int = SHINGLE,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Near-duplicate probe of a new snapshot against a PERSISTED corpus
    MinHash index: batch documents whose text has exact Jaccard >=
    ``min_jaccard`` with some corpus document, without recomputing a single
    corpus signature.

    ``corpus_bands`` is the build-once layout — ``band_signatures`` over one
    representative per distinct corpus text (identical texts share every
    band key, so banding them all would make the candidate join quadratic
    within each duplicate cluster; one representative carries the cluster).
    ``corpus`` supplies representative texts for the verify step by id.
    Returns ``(doc_id, match_id, jaccard)``: every batch document (members
    of duplicate batch texts included) with its best corpus match — highest
    Jaccard, smallest corpus id among equals.

    Scale shape (100 TB corpus, ~1% snapshot):

    * corpus signatures are computed ONCE at index build; per snapshot the
      corpus-side work is two map-side streams — the band layout probed
      against the broadcast batch band keys, and the corpus text scan
      semi-joined to the (tiny) candidate representative ids for verify.
      Nothing corpus-sized is ever shuffled or broadcast.
    * batch-side shingling/banding is snapshot-sized; the verify join
      streams candidate corpus shingles against broadcast batch shingles.
    * the candidate volume knob is the (b, r) S-curve, same as
      :func:`minhash_lsh_pairs` (midpoint ``(1/b)^(1/r)``).
    """
    b_members = batch.select(F.md5("text").alias("_fp"), "doc_id")
    bsh = _doc_shingles(
        _text_reps(batch).selectExpr("_fp AS doc_id", "text"), shingle
    ).cache()  # keyed by the batch text fingerprint, reused by band + verify
    bb = band_signatures(bsh, bands, rows_per_band).select(
        F.col("doc_id").alias("_fp"), "b", "mh"
    )
    # candidate (batch text, corpus rep) pairs: stream the persisted corpus
    # band layout against the broadcast batch band keys
    cand = (
        corpus_bands.join(F.broadcast(bb), ["b", "mh"])
        .select(F.col("doc_id").alias("_crep"), "_fp")
        .distinct()
    )
    # verify shingles for candidate corpus reps only — a semi-join point
    # lookup into the corpus text, never a full-corpus shingle job
    crep_docs = corpus.join(
        F.broadcast(cand.select(F.col("_crep").alias("doc_id")).distinct()),
        "doc_id",
        "left_semi",
    )
    csh = _doc_shingles(crep_docs, shingle).select(
        F.col("doc_id").alias("_crep"), "shingle"
    )
    inter = (
        csh.join(F.broadcast(cand), "_crep")
        .join(
            F.broadcast(bsh.select(F.col("doc_id").alias("_fp"), "shingle")),
            ["_fp", "shingle"],
        )
        .groupBy("_fp", "_crep")
        .agg(F.count("*").alias("_ni"))
    )
    b_sizes = bsh.groupBy("doc_id").agg(F.count("*").alias("_nb")).select(
        F.col("doc_id").alias("_fp"), "_nb"
    )
    c_sizes = csh.groupBy("_crep").agg(F.count("*").alias("_nc"))
    verified = (
        inter.join(F.broadcast(b_sizes), "_fp")
        .join(F.broadcast(c_sizes), "_crep")
        .select(
            "_fp",
            "_crep",
            (
                F.col("_ni")
                / (F.col("_nb") + F.col("_nc") - F.col("_ni")).cast("double")
            ).alias("_j"),
        )
        .filter(F.col("_j") >= F.lit(min_jaccard))
    )
    # best match per batch text: highest jaccard, smallest corpus id among
    # equals — one max-of-struct agg (~id is strictly order-reversing over
    # the whole long range, unlike -id at Long.MIN_VALUE)
    best = verified.groupBy("_fp").agg(
        F.max(
            F.struct(
                F.col("_j").alias("j"), F.bitwise_not("_crep").alias("t")
            )
        ).alias("_s")
    ).select(
        "_fp",
        F.bitwise_not(F.col("_s.t")).alias("match_id"),
        F.col("_s.j").alias("jaccard"),
    )
    return b_members.join(F.broadcast(best), "_fp").select(
        "doc_id", "match_id", "jaccard"
    )
