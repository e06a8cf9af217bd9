"""Traced layer suite: one call into each layer's public function, named
with a Spark job group, plus in-process probes of the numpy kernels.

Every traced run executes the same suite on its workload's seeded corpus,
so each per-layer metric exists for every workload.  ``README.md`` maps
each metric to the end-to-end metric and workload it should move.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import pandas as pd
import pyarrow.parquet as pq

import oracle as orc
from spark_trace import BUILD_GROUP

SPARK_LAYERS = [
    "tokenize",
    "index_build.prelude",
    "index_build.chunks",
    "index_build.tail",
    "query_indexed.bm25",
    "query_indexed.ql",
    "merge",
]
STAGES = ["chunks", "docmeta", "postings", "term_stats", "corpus_stats"]
CODEC_SAMPLE_RUNS = 2000
PROBE_MIN_S = 0.3


def engine_batch(qs) -> list[tuple[str, list[str]]]:
    """What the engine receives: query ids and their text, tokenized by the
    engine's own query tokenizer."""
    from simplir_spark.functions.tokenize import tokenize_query

    return [(q.qid, tokenize_query(q.text)) for q in qs]


def _repeat(fn) -> float:
    """Best seconds per call of ``fn`` over at least PROBE_MIN_S of calls."""
    best = float("inf")
    spent = 0.0
    while spent < PROBE_MIN_S:
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = min(best, dt)
        spent += dt
    return best


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def build_metrics(index_dir: str) -> dict:
    """Stage walls, sizes and chunks skew from the build's own manifests."""
    out = {}
    lineage = os.path.join(index_dir, "_lineage")
    for st in STAGES:
        with open(os.path.join(lineage, f"{st}.json")) as f:
            m = json.load(f)
        out[f"index_build.stage.{st}_s"] = float(m["wall_sec"])
        if st == "chunks":
            rows = list(m["metrics"]["partitions"].values())
            out["index_build.partition_skew"] = max(rows) / (sum(rows) / len(rows))
    for st in ("chunks", "postings", "docmeta"):
        out[f"index_build.{st}_bytes"] = dir_bytes(os.path.join(index_dir, st))
    out["index_build.files"] = sum(len(fs) for _, _, fs in os.walk(index_dir))
    return out


def read_runs(index_dir: str) -> pd.DataFrame:
    cols = ["term", "start_did", "end_did", "n", "max_tf", "deltas", "tfs", "dls"]
    runs = pq.read_table(os.path.join(index_dir, "postings"), columns=cols).to_pandas()
    stats = pq.read_table(os.path.join(index_dir, "term_stats"), columns=["term", "df", "cf"])
    runs = runs.merge(stats.to_pandas(), on="term")
    return runs.sort_values(["term", "start_did"], kind="stable").reset_index(drop=True)


def codec_probes(runs: pd.DataFrame) -> dict:
    from simplir_spark.functions import codec

    step = max(1, len(runs) // CODEC_SAMPLE_RUNS)
    sample = runs.iloc[::step]
    rows = list(zip(sample["start_did"], sample["n"], sample["deltas"], sample["tfs"], sample["dls"]))
    n_post = int(sample["n"].sum())
    decoded = [codec.decode_run(int(s), int(n), d, t, l) for s, n, d, t, l in rows]

    def dec():
        for s, n, d, t, l in rows:
            codec.decode_run(int(s), int(n), d, t, l)

    def enc():
        for dids, tfs, dls in decoded:
            codec.encode_run(dids, tfs, dls)

    return {
        "codec.decode_postings_per_s": n_post / _repeat(dec),
        "codec.encode_postings_per_s": n_post / _repeat(enc),
    }


def daat_probes(runs: pd.DataFrame, batch: list, doc_count: int, token_count: int) -> dict:
    """The block-max DAAT scorers called in-process, one query at a time,
    on runs read with pyarrow."""
    from simplir_spark.operators.query_indexed import score_query_runs, score_query_runs_ql

    by_term = {t: g for t, g in runs.groupby("term", sort=False)}
    per_query = []
    for _, terms in batch:
        parts = [by_term[t] for t in sorted(set(terms)) if t in by_term]
        if parts:
            r = pd.concat(parts, ignore_index=True)
            cf = dict(zip(r["term"], r["cf"]))
            qtf = {t: float(terms.count(t)) for t in set(terms)}
            bg = {t: cf.get(t, 0) / token_count for t in qtf}
            per_query.append((r, qtf, bg))
    n_post = sum(int(r["n"].sum()) for r, _, _ in per_query)
    avg_dl = token_count / doc_count
    counts = [0, 0]

    def bm25():
        counts[:] = [0, 0]
        for r, _, _ in per_query:
            c: list = []
            score_query_runs(r, doc_count, avg_dl, 10, decode_counter=c)
            counts[0] += c[0]
            counts[1] += c[1]

    def ql():
        for r, qtf, bg in per_query:
            score_query_runs_ql(r, qtf, bg, orc.MU, 10, 0, doc_count)

    out = {
        "query_indexed.daat_bm25_postings_per_s": n_post / _repeat(bm25),
        "query_indexed.daat_ql_postings_per_s": n_post / _repeat(ql),
    }
    out["query_indexed.runs_decoded_frac"] = counts[0] / max(counts[1], 1)
    return out


def short_runs_frac(index_dir: str, run_size: int) -> float:
    """Share of posting runs that are short (< run_size postings) without
    being their term's last run: zero for a fresh build, raised by merges
    that append each source's partial tail run."""
    t = pq.read_table(os.path.join(index_dir, "postings"), columns=["term", "start_did", "n"])
    df = t.to_pandas().sort_values(["term", "start_did"], kind="stable")
    last = df["term"].ne(df["term"].shift(-1))
    return float(((df["n"] < run_size) & ~last).sum()) / max(len(df), 1)


def run_suite(ctx, tracer) -> tuple[dict, dict]:
    """Run every layer once; returns (metrics, counts of merged-index query
    results by oracle verdict)."""
    from simplir_spark.functions.tokenize import with_tokens
    from simplir_spark.operators import index_build as ib
    from simplir_spark.operators.index_build import build_index, open_index
    from simplir_spark.operators.merge import merge_indexes
    from simplir_spark.operators.query_indexed import bm25_indexed, ql_dirichlet_indexed

    spark, m = ctx.spark, {}
    corpus_df = ctx.corpus_df

    t0 = time.perf_counter()
    with tracer.job_group("tokenize"):
        with_tokens(corpus_df).write.format("noop").mode("overwrite").save()
    m["tokenize.noop_s"] = time.perf_counter() - t0
    m["tokenize.tokens_per_s"] = ctx.oracle.token_count / m["tokenize.noop_s"]

    t0 = time.perf_counter()
    with tracer.job_group("index_build.prelude"):
        slim = corpus_df.select("doc_key")
        n = slim.count()
        shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
        n_parts = max(shuffle_p, min(ib.MAX_AUTO_PARTITIONS, -(-n // ib.DOCS_PER_BUCKET_DEFAULT)))
        cuts = ib.sample_boundaries(slim, "doc_key", n_parts, n=n)
        ib.bucket_offsets(slim, "doc_key", cuts)
    m["index_build.prelude_s"] = time.perf_counter() - t0

    index_dir = str(ctx.work / "suite_index")
    with tracer.job_group(BUILD_GROUP):
        build_index(spark, corpus_df, index_dir)
    m.update(build_metrics(index_dir))
    idx = open_index(spark, index_dir)
    ctx.log("suite: tokenize, prelude and build done")

    qs = ctx.queries(ctx.batch_size, stream=0)
    batch = engine_batch(qs)
    for model, fn, key in (
        ("bm25", bm25_indexed, "query_indexed.bm25_batch_qps"),
        ("ql", ql_dirichlet_indexed, "query_indexed.ql_batch_qps"),
    ):
        t0 = time.perf_counter()
        with tracer.job_group(f"query_indexed.{model}"):
            rows = fn(spark, idx, batch, k=ctx.k).collect()
        m[key] = len(batch) / (time.perf_counter() - t0)
        ctx.record(ctx.check_batch(rows, qs, model, ctx.oracle))

    t0 = time.perf_counter()
    rows = bm25_indexed(spark, idx, batch, k=ctx.k, grouping="shard").collect()
    m["query_indexed.bm25_shard_grouped_qps"] = len(batch) / (time.perf_counter() - t0)
    ctx.record(ctx.check_batch(rows, qs, "bm25", ctx.oracle))

    empty = []
    for i in range(3):
        t0 = time.perf_counter()
        rows = bm25_indexed(spark, idx, [("empty", [ctx.vocab.absent[i]])], k=ctx.k).collect()
        empty.append(time.perf_counter() - t0)
        ctx.record(not rows)
    m["query_indexed.empty_query_ms"] = 1e3 * statistics.median(empty)

    ctx.log("suite: queries done")
    runs = read_runs(index_dir)
    m.update(codec_probes(runs))
    m.update(daat_probes(runs, batch, idx.doc_count, idx.token_count))

    # ingest: a delta of new commits of existing paths, merged into the base
    delta, delta_df = ctx.delta()
    delta_dir = str(ctx.work / "suite_delta")
    build_index(spark, delta_df, delta_dir)
    merged_dir = str(ctx.work / "suite_merged")
    t0 = time.perf_counter()
    with tracer.job_group("merge"):
        merge_indexes(spark, [index_dir, delta_dir], merged_dir)
    m["merge.merge_indexes_s"] = time.perf_counter() - t0
    m["merge.short_runs_frac"] = short_runs_frac(merged_dir, ib.RUN_SIZE_DEFAULT)

    ctx.log("suite: ingest and merge done")
    # merged-index results against the oracle over base + delta
    merged = open_index(spark, merged_dir)
    both = orc.Oracle(ctx.vocab, [ctx.corpus, delta])
    verdicts = {"": 0, "ties": 0, "wrong": 0}
    rows = bm25_indexed(spark, merged, batch, k=ctx.k).collect()
    for v in ctx.verdicts(rows, qs, "bm25", both):
        verdicts[v] += 1
    total = sum(verdicts.values())
    m["merge.tie_order_mismatch_frac"] = verdicts["ties"] / total
    m["merge.wrong_result_frac"] = verdicts["wrong"] / total
    return m, verdicts
