"""Indexed top-k retrieval (EP2: SimpleIndex.score, SURVEY.md §3) with
block-max pruning, generic over the retrieval model.

As in the reference, the index does not depend on the model: BM25 and
Dirichlet query likelihood are plug-ins over ONE scoring loop
(``RetrievalModel``, SimpleIndex.hs:159-165).  A model supplies

  * ``contrib(t, tf, dl)`` — a term's per-posting score contribution;
  * ``bound(t, max_tf)``   — an upper bound of that contribution;
  * ``unseen(rest)``       — the best final score of a doc not yet seen
    when the remaining terms can add at most ``rest``;
  * ``finalize(acc, dl)``  — accumulated contributions -> final scores;
  * ``required``           — terms a doc must contain to score above
    -inf (QL's cf=0 terms); pruning is off while any exist.

Plan shape (``_indexed_topk``, shared by every model and grouping):
  postings table — parquet scan with ``term IN (query terms)`` pushed down
  (the Spark analog of the reference's term->offset index lookup,
  TermIndex.hs:26-34) → broadcast join with the (query_id, term) table
  (``grouping="query_shard"`` only) → each run routed to every did-range
  shard it overlaps → ``applyInPandas`` DAAT scorer per group → per-query
  window rank → doc_key resolution against docmeta.

The scorer (``daat_topk``) is document-at-a-time over decoded runs
(collectPostings' k-way union, Posting2/Collect.hs:53-82, vectorized)
with an exact block-max skip rule in the spirit of Block-Max WAND
[Ding & Suel 2011] and the reference's lazily-thresholded top-k fold
(TopK.hs:36-70):

  * terms processed in descending score upper bound;
  * a run is decoded only if (a) an unseen doc could still reach the
    current kth score via the remaining terms' upper bounds, or (b) the
    run's did range contains a *live* candidate (current score + remaining
    potential >= threshold).

Skipping is score-preserving for the returned top-k: any doc in the final
top-k is live at every step (its partial score + remaining potential
bounds its final score from above), so all its runs are decoded.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from simplir_spark.cacheutil import CacheRegistry
from simplir_spark.functions import codec
from simplir_spark.functions.scoring import B_DEFAULT, K1_DEFAULT
from simplir_spark.operators.index_build import IndexHandle
from simplir_spark.operators.query import merge_query_entries, queries_df

# Minimum did-span per shard.  A posting run covers up to 2^14 postings
# whose did range routinely spans tens of thousands of dids, so shards
# narrower than that duplicate EVERY run into many shards (explode of the
# [start_did, end_did] overlap): at 5k docs the old default of 2 x
# parallelism shards gave span 79 and shipped/decoded each run up to 63
# times.  Floor the span at 2^16 dids — r6 interleaved A/B at 5k docs
# measured shard-grouped BM25 3.7x faster and query-shard BM25/QL 1.3-1.4x
# (BENCH/shard_span.json); at >= 4M docs every term of the old formula is
# unchanged, so cluster-scale sharding is unaffected.  Shard count never
# affects results (per-shard top-k + global window rank is exact at any
# sharding).
_MIN_SHARD_SPAN = 1 << 16
# Maximum did-span per shard: the scorer's dense accumulators are O(span).
_MAX_SHARD_SPAN = 1 << 22


def _pick_n_shards(par: int, n_queries: int, doc_count: int, grouping: str) -> int:
    """Default did-shard count: enough shards to use the cluster, never so
    many that spans drop under ``_MIN_SHARD_SPAN`` (run-duplication wall),
    always enough to keep spans dense-accumulator-sized (<= 2^22)."""
    per_q = (2 * par) if grouping == "shard" else (2 * par) // max(1, n_queries)
    hi = -(-max(1, doc_count) // _MIN_SHARD_SPAN)
    lo = -(-doc_count // _MAX_SHARD_SPAN)
    return max(1, min(max(1, per_q), hi), lo)


def route_runs_to_shards(
    spark: SparkSession,
    runs: DataFrame,
    n_groups: int,
    doc_count: int,
    grouping: str = "query_shard",
    n_shards: int | None = None,
) -> tuple[DataFrame, int]:
    """(runs with a ``shard`` column, shard span): each run row is routed
    to every did-range shard its [start_did, end_did] overlaps
    (``F.sequence`` + explode, <= 2 shards per run in practice).  A doc's
    postings then all live in exactly one shard, so per-shard results
    union exactly.  ``n_shards`` defaults to ``_pick_n_shards`` and is
    raised, if needed, to keep every span <= ``_MAX_SHARD_SPAN``."""
    if n_shards is None:
        par = spark.sparkContext.defaultParallelism
        n_shards = _pick_n_shards(par, n_groups, doc_count, grouping)
    n_shards = max(n_shards, -(-doc_count // _MAX_SHARD_SPAN))
    span = max(1, -(-max(1, doc_count) // n_shards))  # ceil
    shard = F.explode(
        F.sequence(
            (F.col("start_did") / span).cast("long"),
            (F.col("end_did") / span).cast("long"),
        )
    )
    return runs.withColumn("shard", shard), span


class BM25Model:
    """Okapi BM25 (BM25.hs:48-59): idf * tf(k1+1) / (tf + k1(1-b+b dl/avgdl)).
    ``df`` maps each scored term to its document frequency."""

    required: tuple = ()

    def __init__(self, df: dict, doc_count: int, avg_doc_len: float,
                 k1: float = K1_DEFAULT, b: float = B_DEFAULT):
        self.idf = {
            t: float(np.log(1.0 + (doc_count - int(d) + 0.5) / (int(d) + 0.5)))
            for t, d in df.items()
        }
        self.avg_doc_len, self.k1, self.b = avg_doc_len, k1, b

    def contrib(self, t, tf: np.ndarray, dl: np.ndarray) -> np.ndarray:
        k1, b = self.k1, self.b
        denom = tf + k1 * (1.0 - b + b * dl.astype(np.float64) / self.avg_doc_len)
        return self.idf[t] * tf * (k1 + 1.0) / denom

    def bound(self, t, max_tf: float) -> float:
        # tf = max_tf, dl -> 0 maximizes the kernel
        k1 = self.k1
        return self.idf[t] * max_tf * (k1 + 1.0) / (max_tf + k1 * (1.0 - self.b))

    def unseen(self, rest: float) -> float:
        return rest

    def finalize(self, acc: np.ndarray, dl: np.ndarray) -> np.ndarray:
        return acc


class DirichletQLModel:
    """Dirichlet-smoothed query likelihood via the dense decomposition

        score(d) = C0 + corr(d) - Q * ln(dl_d + mu)
        C0       = sum_t qtf_t * ln(mu * bg_t)           (per query)
        corr(d)  = sum_{t present in d} qtf_t * (ln(tf + mu*bg_t) - ln(mu*bg_t))
        Q        = sum_t qtf_t

    — mathematically the per-term sum of ln((tf + mu*bg)/(dl + mu))
    (QueryLikelihood.hs:58-62).  Every corr contribution is STRICTLY
    POSITIVE for tf >= 1, so a seen doc's partial score is a lower bound
    of its final score and the block-max rule applies.  An unseen doc's
    best case is C0 + rest - Q*ln(mu) (dl >= 0).

    Terms with cf = 0 (bg = 0) have probability 0: every matched doc
    lacking them scores -inf; docs containing them fall back to
    ln(tf/(dl+mu)).  They are ``required``, which turns pruning off — the
    -inf finals break the partial-score lower bound.  C0, Q and the
    required set cover ALL query terms, including those without runs in
    the scored shard, so ``term_w``/``term_bg`` must hold every term.
    """

    def __init__(self, term_w: dict, term_bg: dict, mu: float):
        self.w, self.mu = term_w, mu
        self.bg = {t: term_bg.get(t, 0.0) for t in term_w}
        self.base = {t: math.log(mu * bg) if bg > 0 else 0.0 for t, bg in self.bg.items()}
        self.c0 = self.q_total = 0.0
        for t in sorted(term_w):
            self.q_total += term_w[t]
            if self.bg[t] > 0:
                self.c0 += term_w[t] * self.base[t]
        self.required = [t for t in sorted(term_w) if self.bg[t] <= 0]
        self.unseen_norm = self.q_total * math.log(mu)

    def contrib(self, t, tf: np.ndarray, dl: np.ndarray) -> np.ndarray:
        w, bg = self.w[t], self.bg[t]
        if bg > 0:
            return w * (np.log(tf + self.mu * bg) - self.base[t])
        return w * np.log(tf)

    def bound(self, t, max_tf: float) -> float:
        w, bg = self.w[t], self.bg[t]
        if bg > 0:
            return w * (math.log(max_tf + self.mu * bg) - self.base[t])
        # unused when pruning is off, but keep it a finite bound
        return w * max(math.log(max(max_tf, 1.0)), 0.0)

    def unseen(self, rest: float) -> float:
        return self.c0 + rest - self.unseen_norm

    def finalize(self, acc: np.ndarray, dl: np.ndarray) -> np.ndarray:
        return self.c0 + acc - self.q_total * np.log(dl + self.mu)


_NO_HITS = (np.zeros(0, dtype=np.int64), np.zeros(0))


def daat_topk(
    runs: pd.DataFrame,
    model,
    k: int,
    did_lo: int | None,
    did_hi: int | None,
    decode_counter: list | None = None,
    decode_cache: dict | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Score one query's posting runs; returns (top dids, top scores),
    ties broken by ascending did.

    ``runs`` columns: term, start_did, end_did, n, max_tf, deltas, tfs,
    dls.  Only dids in [did_lo, did_hi) are scored — the shard contract:
    every run overlapping the range must be present, postings outside it
    are dropped after decode.  A None bound defaults to the runs' own did
    range.  Scores accumulate in dense arrays over the range, O(postings)
    per term.

    ``decode_counter`` receives [decoded_runs, total_runs].
    ``decode_cache`` (a dict keyed (term, start_did) -> decoded arrays)
    memoizes run decodes ACROSS calls — the shard-grouped plan passes
    one cache for all queries in a shard so a shared run decodes once.
    """
    if len(runs) == 0:
        return _NO_HITS
    if did_lo is None:
        did_lo = int(runs["start_did"].min())
    if did_hi is None:
        did_hi = int(runs["end_did"].max()) + 1

    terms = runs["term"].to_numpy()
    ub = {t: model.bound(t, float(runs.loc[terms == t, "max_tf"].max())) for t in pd.unique(terms)}
    order = sorted(ub, key=lambda t: -ub[t])
    rest_after = {}  # ub of t + all later terms
    tail = 0.0
    for t in reversed(order):
        tail += ub[t]
        rest_after[t] = tail

    span = did_hi - did_lo
    acc = np.zeros(span)
    dl = np.zeros(span, dtype=np.int64)
    seen = np.zeros(span, dtype=bool)
    required = set(model.required)
    hits = np.zeros(span, dtype=np.int32) if required else None
    seen_count = decoded = 0
    for t in order:
        rest = rest_after[t]
        trun = runs[terms == t].sort_values("start_did")
        decode = np.ones(len(trun), dtype=bool)
        if not required and seen_count >= k:
            ix = np.nonzero(seen)[0]
            cand = model.finalize(acc[ix], dl[ix])
            theta = float(np.partition(cand, -k)[-k])
            # Skip a run's unseen docs only when the unseen bound is
            # STRICTLY below theta: with b=0 the BM25 bound (dl->0) is
            # exact at tf==max_tf, so a doc scoring exactly theta is
            # attainable and the did tie-break could place it in the
            # top-k.
            if theta > model.unseen(rest):
                # only runs overlapping live candidates matter
                live = (ix + did_lo)[cand + rest >= theta]
                lo = np.searchsorted(live, trun["start_did"].to_numpy(dtype=np.int64), side="left")
                hi = np.searchsorted(live, trun["end_did"].to_numpy(dtype=np.int64), side="right")
                decode = hi > lo

        for row, dec in zip(trun.itertuples(index=False), decode):
            if not dec:
                continue
            decoded += 1
            ckey = (t, int(row.start_did))
            got = decode_cache.get(ckey) if decode_cache is not None else None
            if got is None:
                got = codec.decode_run(row.start_did, row.n, row.deltas, row.tfs, row.dls)
                if decode_cache is not None:
                    decode_cache[ckey] = got
            dids, tfs, dls = got
            m = (dids >= did_lo) & (dids < did_hi)
            if not m.any():
                continue
            # dids are unique within a term (runs have disjoint ranges)
            off = dids[m] - did_lo
            acc[off] += model.contrib(t, tfs[m].astype(np.float64), dls[m])
            dl[off] = dls[m]
            if t in required:
                hits[off] += 1
            seen_count += int(np.count_nonzero(~seen[off]))
            seen[off] = True

    if decode_counter is not None:
        decode_counter[:] = [decoded, len(runs)]
    ix = np.nonzero(seen)[0]
    if len(ix) == 0:
        return _NO_HITS
    scores = model.finalize(acc[ix], dl[ix])
    if required:
        scores = np.where(hits[ix] == len(required), scores, float("-inf"))
    dids_out = ix + did_lo
    sel = np.lexsort((dids_out, -scores))[:k]
    return dids_out[sel], scores[sel]


def score_query_runs(
    runs: pd.DataFrame,
    doc_count: int,
    avg_doc_len: float,
    k: int,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    decode_counter: list | None = None,
    did_lo: int | None = None,
    did_hi: int | None = None,
    decode_cache: dict | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """BM25 ``daat_topk``; ``runs`` also carries each term's ``df``."""
    model = BM25Model(dict(zip(runs["term"], runs["df"])), doc_count, avg_doc_len, k1, b)
    return daat_topk(runs, model, k, did_lo, did_hi, decode_counter, decode_cache)


def score_query_runs_ql(
    runs: pd.DataFrame,
    term_w: dict,
    term_bg: dict,
    mu: float,
    k: int,
    did_lo: int,
    did_hi: int,
    decode_counter: list | None = None,
    decode_cache: dict | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Dirichlet-QL ``daat_topk`` (see ``DirichletQLModel``)."""
    model = DirichletQLModel(term_w, term_bg, mu)
    return daat_topk(runs, model, k, did_lo, did_hi, decode_counter, decode_cache)


def _indexed_topk(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[str, list[str]]],
    model,
    k: int,
    n_shards: int | None,
    grouping: str,
) -> DataFrame:
    """Top-k of every query against the index in one job.

    ``model(terms, stats)`` builds a query's scorer on the Spark driver
    from its (qtf-preserving) term list and ``stats`` = {term: (df, cf)}
    of the query terms present in the index.  The scorer sees ALL of the
    query's terms in every shard, also those without runs there (QL's
    C0, Q and cf=0 rule need them).  If no query term is indexed, the
    stats lookup is the only Spark job."""
    queries = merge_query_entries(queries)
    if grouping not in ("query_shard", "shard"):
        raise ValueError(f"unknown grouping {grouping!r}")
    q_terms = sorted({t for _, terms in queries for t in terms})
    stats = {
        r["term"]: (int(r["df"]), int(r["cf"]))
        for r in index.term_stats.filter(F.col("term").isin(q_terms)).collect()
    }
    if not stats:
        return _empty_result(spark, index)
    models = {qid: model(terms, stats) for qid, terms in queries}

    post = index.postings.filter(F.col("term").isin(q_terms))  # parquet pushdown
    keys = ["shard"]
    if grouping == "query_shard":
        post = post.join(F.broadcast(queries_df(spark, queries)), "term")
        keys = ["query_id", "shard"]
    routed, span = route_runs_to_shards(
        spark, post, len(queries), index.doc_count, grouping, n_shards
    )
    matched = routed.select(
        *keys, "term", "start_did", "end_did", "n", "max_tf", "deltas", "tfs", "dls"
    )
    q_lists = {qid: sorted(set(terms)) for qid, terms in queries}

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        lo = int(pdf["shard"].iloc[0]) * span
        if "query_id" in pdf.columns:  # one query's runs
            groups, cache = [(pdf["query_id"].iloc[0], pdf)], None
        else:
            # every query scored against one shared decode cache, so each
            # matched run ships and decodes ONCE whatever the query count
            groups = ((q, pdf[pdf["term"].isin(ts)]) for q, ts in sorted(q_lists.items()))
            cache = {}
        out_qid, out_did, out_score = [], [], []
        for qid, runs in groups:
            if len(runs) == 0:
                continue
            dids, scores = daat_topk(runs, models[qid], k, lo, lo + span, decode_cache=cache)
            out_qid += [qid] * len(dids)
            out_did.append(dids)
            out_score.append(scores)
        return pd.DataFrame(
            {
                "query_id": pd.Series(out_qid, dtype=object),
                "did": np.concatenate(out_did) if out_did else np.zeros(0, dtype=np.int64),
                "score": np.concatenate(out_score) if out_score else np.zeros(0),
            }
        )

    local_topk = matched.groupBy(*keys).applyInPandas(
        score_group, "query_id string, did long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("did"))
    topk = (
        local_topk.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "did", F.col("rank").cast("int").alias("rank"), "score")
    )
    return _resolve_doc_keys(spark, index, topk, len(queries) * k)


_live_topk_caches = CacheRegistry(retain=4)


def _empty_result(spark: SparkSession, index: IndexHandle) -> DataFrame:
    key_type = index.docmeta.schema["doc_key"].dataType.simpleString()
    return spark.createDataFrame(
        [], f"query_id string, doc_key {key_type}, rank int, score double"
    )

# max dids to embed as an In-literal for docmeta row-group pruning; above
# this the literal's plan cost outweighs the pruning win (measured wall for
# Catalyst literals in BENCH/bucket_udf_route.json informed the same cap)
_RESOLVE_ISIN_MAX = 32768
# max top-k rows (queries x k) to force-broadcast into the docmeta join;
# above it the planner decides from the cached top-k's real size
_RESOLVE_BROADCAST_MAX = 1 << 20


def _resolve_doc_keys(
    spark: SparkSession, index: IndexHandle, topk: DataFrame, max_rows: int
) -> DataFrame:
    """doc_key resolution for a (query_id, did, rank, score) top-k of at
    most ``max_rows`` rows.

    The top-k is persisted and ONLY the distinct dids are collected —
    they become an ``isin`` literal so the docmeta scan keeps parquet
    min/max row-group pruning on the did-contiguous partitions.  The
    returned plan joins docmeta against the REAL top-k DataFrame, so
    lineage/AQE stay intact — no createDataFrame round-trip of the
    scores through the driver.  The top-k side is force-broadcast only
    while ``max_rows`` <= ``_RESOLVE_BROADCAST_MAX``.

    Cache lifecycle: a lock-guarded bounded registry (``CacheRegistry``)
    retains the most recent persisted top-ks and evicts older ones, so
    repeated indexed queries hold a bounded set of tiny cached blocks
    instead of accumulating for the session's lifetime, and a handful of
    concurrent queries cannot unpersist each other's in-flight cache.
    A result re-collected after falling out of the window recomputes —
    correct, just unpersisted.
    """
    topk = topk.persist()
    _live_topk_caches.register(topk)
    # ONE bounded job for the common case: collect distinct dids only up
    # to the In-literal cap (+1 sentinel).  Never collect an unbounded
    # did list — 10k queries x k=1000 would put 10^7 dids in an
    # In-literal, and Catalyst chokes well below that (the same
    # plan-size wall the index build's bucket routing hit at ~32k
    # literals).  Only the over-cap case pays a second aggregate.
    sample = topk.select("did").distinct().limit(_RESOLVE_ISIN_MAX + 1).collect()
    if not sample:
        return _empty_result(spark, index)
    meta = index.docmeta.select("did", "doc_key")
    if len(sample) <= _RESOLVE_ISIN_MAX:
        meta = meta.filter(F.col("did").isin(sorted(r["did"] for r in sample)))
    else:
        # did-range filter keeps parquet min/max row-group pruning on the
        # did-contiguous partitions
        bounds = topk.agg(F.min("did").alias("lo"), F.max("did").alias("hi")).first()
        meta = meta.filter(
            (F.col("did") >= bounds["lo"]) & (F.col("did") <= bounds["hi"])
        )
    # a FORCED broadcast of a huge top-k (10k queries x k=1000 = 10^7
    # rows) risks driver/executor OOM (ADVICE r5): past the row cap the
    # planner picks the join from the cached top-k's real size
    if max_rows <= _RESOLVE_BROADCAST_MAX:
        topk = F.broadcast(topk)
    return meta.join(topk, "did").select("query_id", "doc_key", "rank", "score")


def bm25_indexed(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[str, list[str]]],
    k: int = 10,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    n_shards: int | None = None,
    grouping: str = "query_shard",
) -> DataFrame:
    """BM25 top-k of all queries against the index in one job.

    ``grouping`` picks the scoring-group shape:
      * ``"query_shard"`` (default): one group per (query, did-shard) —
        maximal per-group pruning depth, but a run whose term appears in
        q queries ships q times through the shuffle;
      * ``"shard"``: one group per did-shard, ALL queries scored inside
        it with a shared decode cache — each matched run crosses the wire
        and decodes exactly ONCE regardless of query count.  The right
        shape for large query batches over overlapping vocabulary (term
        grids, query logs), where per-query duplication dominates.

    Returns (query_id, doc_key, rank, score).  Rank ties break by did,
    which by construction equals doc_key order (dense ids are assigned in
    doc_key order — index_build).

    Scoring parallelism is (queries × did-range shards), not just queries
    (``route_runs_to_shards``): a doc's complete score lives in exactly
    one shard, so per-shard top-k then a global window rank is exact (the
    distributed form of collectPostings' doc-at-a-time union,
    Posting2/Collect.hs:53-82).
    """
    doc_count, avg_doc_len = index.doc_count, index.avg_doc_len

    def model(terms, stats):
        df = {t: stats[t][0] for t in set(terms) if t in stats}
        return BM25Model(df, doc_count, avg_doc_len, k1, b)

    return _indexed_topk(spark, index, queries, model, k, n_shards, grouping)


def ql_dirichlet_indexed(
    spark: SparkSession,
    index: IndexHandle,
    queries: list[tuple[str, list[str]]],
    k: int = 10,
    mu: float = 1000.0,
    n_shards: int | None = None,
    grouping: str = "query_shard",
) -> DataFrame:
    """Dirichlet-smoothed query likelihood over the inverted index
    (``DirichletQLModel``), same plan, groupings and output as
    ``bm25_indexed``.  Block-max pruning is off for queries with a cf=0
    term, whose matched docs all score -inf (ties by doc_key)."""
    token_count = index.token_count

    def model(terms, stats):
        term_w = {t: float(terms.count(t)) for t in set(terms)}
        term_bg = {
            t: (stats.get(t, (0, 0))[1] / token_count if token_count else 0.0)
            for t in term_w
        }
        return DirichletQLModel(term_w, term_bg, mu)

    return _indexed_topk(spark, index, queries, model, k, n_shards, grouping)
