#!/usr/bin/env python
"""Two-cluster-size scaling evidence for the TEXT/pipeline surface — the
same N vs 4N protocol as tools/bench_scaling.py (per driver instruction:
two parallelism levels stand in for two cluster sizes), applied to the two
LLM-data-pipeline shapes the spatial flagship doesn't exercise:

- ``minhash_rows_per_s``  — MinHash-LSH near-dup candidate generation +
  exact Jaccard verify (operators/dedup.minhash_lsh_pairs): the
  explode-heavy shuffle/agg shape of corpus dedup;
- ``pagerank_rows_per_s`` — 3 damped power-iteration rounds over the
  derived link graph (operators/graph): the iterative join+agg round
  shape with per-round lineage truncation.

Protocol (lessons inherited from jobs/run.py + bench_query_replay.py):
the corpus is GENERATED ONCE to parquet and both levels read the same
bytes; shuffle partitions are DATA-sized and identical at both levels
(the levels must run one physical plan); each level is taskset-pinned to
exactly its core count; each op runs a small warm pass first (codegen
JIT) and then ``--reps`` timed executions, min kept.  Throughput is
corpus docs per second of op wall; efficiency = tput_4N / (factor *
tput_N).

Usage:
    python tools/bench_text_scaling.py --docs 2000000 --low 2 --high 8
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import subprocess
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

DATA_ROOT = "/tmp/locus_text_scaling"
VOCAB_N = 600
DOC_TOKENS = 30
PR_ROUNDS = 3
#: incremental-minhash probe: batch = every INC_MODth doc, corpus = the rest.
#: Env-overridable (INC_MOD=80 etc.) to vary the corpus:batch ratio at a
#: FIXED batch size — the probe's broadcast work is batch-sized (driver-
#: bound, core-count-invariant) while its distributed work is corpus-sized,
#: so efficiency is a function of this ratio (production is ~100:1).
INC_MOD = int(os.environ.get("INC_MOD", "20"))
OPS = (
    "minhash_rows_per_s",
    "pagerank_rows_per_s",
    "cc_rows_per_s",
    "incminhash_rows_per_s",
)


def corpus_path(docs: int) -> pathlib.Path:
    return pathlib.Path(DATA_ROOT) / f"docs_{docs}"


def build_corpus(spark, docs: int):
    """Deterministic synthetic corpus: even/odd doc pairs share all but one
    of DOC_TOKENS vocab tokens, so ~docs/2 true near-dup pairs exist and
    the LSH verify join has real work.  Pure Column exprs (xxhash64 +
    array literal) — no Python in the generator."""
    from pyspark.sql import functions as F

    vocab = F.array(*[F.lit(f"w{i:03d}") for i in range(VOCAB_N)])
    base = (F.col("id") - F.col("id") % 2).alias("base")
    df = spark.range(docs).select(F.col("id").alias("doc_id"), base)

    def tok(i):
        core = F.element_at(
            vocab, (F.pmod(F.xxhash64(F.lit(i), F.col("base")), F.lit(VOCAB_N)) + 1).cast("int")
        )
        if i == 7:  # odd docs diverge in one position -> near-dup, not exact
            alt = F.element_at(
                vocab,
                (F.pmod(F.xxhash64(F.lit(999), F.col("doc_id")), F.lit(VOCAB_N)) + 1).cast("int"),
            )
            return F.when(F.col("doc_id") % 2 == 1, alt).otherwise(core)
        return core

    return df.select(
        "doc_id",
        F.concat_ws(" ", *[tok(i) for i in range(DOC_TOKENS)]).alias("text"),
    )


def child(docs: int, cores: int, reps: int, parts: int, pr_nodes: int, ops: tuple[str, ...]) -> None:
    from pyspark.sql import functions as F

    from locus_spark.operators.dedup import minhash_lsh_pairs
    from locus_spark.operators.graph import (
        derive_links,
        pagerank,
        prepare_edges_bucketed,
    )
    from locus_spark.session import get_spark

    spark = get_spark(
        app_name=f"text_scaling_{docs}_{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=parts,
        extra_conf={"spark.sql.files.maxPartitionBytes": "32m"},
    )
    docs_df = (
        spark.read.parquet(str(corpus_path(docs)))
        if ("minhash" in ops or "incminhash" in ops)
        else None
    )

    def run_minhash(frame):
        return minhash_lsh_pairs(frame).count()

    # incremental MinHash probe (VERDICT r4 item 8): corpus FIXED — its
    # band index is a persisted parquet layout built once, untimed (the
    # same build/query split as the spatial replay) — and the timed work
    # is the per-snapshot probe: batch banding + broadcast-probe of the
    # corpus band layout + exact-Jaccard verify of the candidates.  The
    # production recurring-crawl shape: nothing corpus-sized shuffles.
    inc_bands = inc_corpus = inc_batch = None
    if "incminhash" in ops:
        from locus_spark.operators.dedup import incremental_minhash_dedup

        inc_bands = spark.read.parquet(f"{DATA_ROOT}/incmh_bands_{docs}_m{INC_MOD}")
        inc_corpus = docs_df.filter(F.col("doc_id") % INC_MOD != 0)
        inc_batch = docs_df.filter(F.col("doc_id") % INC_MOD == 0)

    def run_incminhash(frame):
        from locus_spark.operators.dedup import incremental_minhash_dedup

        return incremental_minhash_dedup(inc_bands, inc_corpus, inc_batch).count()

    # PageRank needs only ids — its load is sized independently of the
    # text corpus (pr_nodes) so per-round real work dominates the
    # per-round fixed job cost at the low level too.  The weighted edge
    # frame is bucketed by src ONCE (untimed, the same build/query split
    # as the spatial flagship replay): every timed round then shuffles
    # only the |V|-row rank frame — the production iterate-over-static-
    # graph shape (operators/graph.prepare_edges_bucketed).
    pr_edges = pr_df = None
    if "pagerank" in ops:
        pr_df = spark.range(pr_nodes)
        pr_edges = prepare_edges_bucketed(
            spark,
            derive_links(pr_df, pr_nodes, id_col="id"),
            table=f"pr_edges_{pr_nodes}_{cores}",
            path=f"{DATA_ROOT}/pr_edges_{pr_nodes}_{cores}",
            buckets=parts,
        )

    def run_pagerank(frame):
        nodes = frame.select(F.col("id").alias("v"))
        # the loop materializes each round eagerly; count() drains the tail
        return pagerank(
            nodes, pr_edges, pr_nodes, iterations=PR_ROUNDS,
            edges_are_weighted=True,
        ).count()

    # connected components: star contraction over the derived pseudo link
    # graph at pr_nodes scale — the un-bucketable iterative shape (the
    # edge set itself is REWRITTEN every round, so unlike PageRank there
    # is no static side to pre-bucket; what scales is the per-round
    # min-agg + join + distinct pipeline).
    cc_df = None
    if "cc" in ops:
        from locus_spark.operators.components import connected_components

        cc_df = spark.range(pr_nodes)

    def run_cc(frame):
        from locus_spark.operators.components import connected_components

        pairs = derive_links(frame, pr_nodes, id_col="id").select(
            F.col("src").alias("id_a"), F.col("dst").alias("id_b")
        )
        return connected_components(pairs).count()

    if "minhash" in ops:
        warm = docs_df.limit(20_000).cache()
        warm.count()
        run_minhash(warm)
        warm.unpersist()
    if "incminhash" in ops:
        from locus_spark.operators.dedup import incremental_minhash_dedup

        incremental_minhash_dedup(
            inc_bands, inc_corpus, inc_batch.limit(5_000)
        ).count()
    if "pagerank" in ops:
        wn = spark.range(20_000)
        pagerank(wn.select(F.col("id").alias("v")),
                 derive_links(wn, 20_000, id_col="id"), 20_000,
                 iterations=PR_ROUNDS).count()
    if "cc" in ops:
        run_cc(spark.range(20_000))

    out: dict[str, float] = {"job": "text_scaling", "cores": cores, "docs": docs}
    for name, fn, frame, load in (
        ("minhash", run_minhash, docs_df, docs),
        ("pagerank", run_pagerank, pr_df, pr_nodes),
        ("cc", run_cc, cc_df, pr_nodes),
        # throughput denominator = BATCH docs (the per-snapshot work unit)
        ("incminhash", run_incminhash, None, docs // INC_MOD),
    ):
        if name not in ops:
            continue
        walls = []
        for _ in range(reps):
            t0 = time.monotonic()
            fn(frame)
            walls.append(time.monotonic() - t0)
        out[f"{name}_rows_per_s"] = round(load / min(walls), 1)
        out[f"{name}_wall_s"] = round(min(walls), 2)
    print(json.dumps(out))
    spark.stop()


def run_level(docs: int, cores: int, reps: int, parts: int,
              pr_nodes: int, ops: str) -> dict:
    cmd = [
        "taskset", "-c", f"0-{cores - 1}",
        sys.executable, str(REPO / "tools" / "bench_text_scaling.py"),
        "--child", str(cores), "--docs", str(docs),
        "--reps", str(reps), "--parts", str(parts),
        "--pr-nodes", str(pr_nodes), "--ops", ops,
    ]
    proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"child failed at cores={cores}")
    report = None
    for line in proc.stdout.splitlines():
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and obj.get("job") == "text_scaling":
            report = obj
    if report is None:
        raise RuntimeError(f"no report in child output:\n{proc.stdout[-2000:]}")
    return report


def ensure_corpus(docs: int, cores: int) -> None:
    path = corpus_path(docs)
    if (path / "_SUCCESS").exists():
        return
    from locus_spark.session import get_spark

    spark = get_spark(
        app_name=f"text_scaling_prep_{docs}",
        master=f"local[{cores}]",
        shuffle_partitions=64,
    )
    build_corpus(spark, docs).repartition(64).write.mode("overwrite").parquet(str(path))
    spark.stop()


def ensure_bands(docs: int, cores: int) -> None:
    """Build-once corpus MinHash band index for the incminhash op —
    UNTIMED (the build/query split: per-snapshot probes never recompute a
    corpus signature; same layout recipe as queries._persisted_corpus_bands)."""
    path = pathlib.Path(DATA_ROOT) / f"incmh_bands_{docs}_m{INC_MOD}"
    if (path / "_SUCCESS").exists():
        return
    from pyspark.sql import functions as F

    from locus_spark.operators.dedup import _doc_shingles, _text_reps, band_signatures
    from locus_spark.session import get_spark

    spark = get_spark(
        app_name=f"text_scaling_bands_{docs}",
        master=f"local[{cores}]",
        shuffle_partitions=64,
    )
    corpus = spark.read.parquet(str(corpus_path(docs))).filter(
        F.col("doc_id") % INC_MOD != 0
    )
    bands = band_signatures(_doc_shingles(_text_reps(corpus).select("doc_id", "text")))
    bands.repartition(64).write.mode("overwrite").parquet(str(path))
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=2_000_000)
    ap.add_argument("--low", type=int, default=2)
    ap.add_argument("--high", type=int, default=8)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--pr-nodes", type=int, default=8_000_000,
                    help="PageRank node count (independent of --docs: the "
                         "graph op needs only ids and must be sized so "
                         "per-round work dominates fixed job cost)")
    ap.add_argument("--ops", default="minhash,pagerank")
    ap.add_argument("--parts", type=int, default=64,
                    help="shuffle partitions — data-sized, identical at "
                         "both levels so they execute one physical plan")
    ap.add_argument("--child", type=int, default=None, help=argparse.SUPPRESS)
    ap.add_argument("--marker", default="textscaling")
    ap.add_argument("--no-bench-md", action="store_true",
                    help="print JSON only; do not splice BENCH.md")
    args = ap.parse_args()

    ops = tuple(o.strip() for o in args.ops.split(",") if o.strip())
    metrics = [f"{o}_rows_per_s" for o in ops]
    if args.child is not None:
        child(args.docs, args.child, args.reps, args.parts,
              args.pr_nodes, ops)
        return

    if "minhash" in ops or "incminhash" in ops:
        ensure_corpus(args.docs, args.high)
    if "incminhash" in ops:
        ensure_bands(args.docs, args.high)
    factor = args.high / args.low
    lo = run_level(args.docs, args.low, args.reps, args.parts,
                   args.pr_nodes, args.ops)
    hi = run_level(args.docs, args.high, args.reps, args.parts,
                   args.pr_nodes, args.ops)
    eff = {m: round(hi[m] / (factor * lo[m]), 3) for m in metrics}
    report = {
        "metric": "text_pipeline_scaling",
        "docs": args.docs,
        "pr_nodes": args.pr_nodes,
        "low_cores": args.low,
        "high_cores": args.high,
        "throughput_low": {m: lo[m] for m in metrics},
        "throughput_high": {m: hi[m] for m in metrics},
        "wall_low": {m: lo[m.replace("_rows_per_s", "_wall_s")] for m in metrics},
        "wall_high": {m: hi[m.replace("_rows_per_s", "_wall_s")] for m in metrics},
        "efficiency": eff,
        "reps_per_level": args.reps,
    }
    print(json.dumps(report))
    if args.no_bench_md:
        return

    lines = [
        "Text/pipeline-surface scaling — the same N vs 4N protocol applied",
        "to the two non-spatial shapes the flagship job doesn't exercise:",
        "MinHash-LSH near-dup pairs (explode-heavy dedup shuffle/agg) and",
        f"{PR_ROUNDS}-round PageRank over the derived link graph (iterative",
        "join+agg rounds with lineage-truncated state).  One shared parquet",
        f"corpus ({args.docs:,} synthetic docs, {DOC_TOKENS} tokens each,",
        f"even/odd near-dup pairs; PageRank over {args.pr_nodes:,} nodes x",
        "3 derived links), identical data-sized shuffle partitions",
        f"({args.parts}) at both levels, taskset-pinned, warm pass then",
        f"min-of-{args.reps} timed reps per op.",
        "",
        f"| op | docs/s @ local[{args.low}] | docs/s @ local[{args.high}] |"
        f" efficiency (tput_4N / {factor:g}·tput_N) |",
        "|---|---|---|---|",
    ]
    for m in metrics:
        lines.append(f"| {m} | {lo[m]:,.0f} | {hi[m]:,.0f} | **{eff[m]:.3f}** |")
    lines += [
        "",
        "Reproduce: `python tools/bench_text_scaling.py"
        f" --docs {args.docs} --pr-nodes {args.pr_nodes}"
        f" --low {args.low} --high {args.high}"
        f" --reps {args.reps} --parts {args.parts}`",
    ]
    block = "\n".join(lines)
    bench_md = REPO / "BENCH.md"
    begin, end = f"<!-- {args.marker}:begin -->", f"<!-- {args.marker}:end -->"
    text = bench_md.read_text()
    if begin in text:
        head, rest = text.split(begin, 1)
        _, tail = rest.split(end, 1)
        text = head + begin + "\n" + block + "\n" + end + tail
    else:
        anchor = "<!-- probescaling:end -->"
        if anchor not in text:
            anchor = "<!-- scaling:end -->"
        head, tail = text.split(anchor, 1)
        text = head + anchor + "\n\n" + begin + "\n" + block + "\n" + end + tail
    bench_md.write_text(text)
    print(f"BENCH.md block '{args.marker}' updated", file=sys.stderr)


if __name__ == "__main__":
    main()
