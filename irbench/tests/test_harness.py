"""Tests of the benchmark harness itself: generator determinism, tokenizer
stability of the generated vocabulary, and agreement of the numpy oracle
with the repository's pure-Python oracle (``tests/oracle.py``).

    python3 -m pytest irbench/tests -q
"""

from __future__ import annotations

import importlib.util
import json
import math
import sys
from collections import Counter
from pathlib import Path

import numpy as np
import pytest

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]

import gen  # noqa: E402
import oracle  # noqa: E402
import spark_trace  # noqa: E402
from simplir_spark.functions.tokenize import normalize_token, tokenize_query, tokenize_text  # noqa: E402

_spec = importlib.util.spec_from_file_location("repo_oracle", ROOT / "tests" / "oracle.py")
repo_oracle = importlib.util.module_from_spec(_spec)
sys.modules["repo_oracle"] = repo_oracle  # dataclasses look their module up
_spec.loader.exec_module(repo_oracle)


@pytest.fixture(scope="module")
def small():
    vocab = gen.make_vocab(7)
    base = gen.make_corpus(7, 300, vocab)
    delta = gen.make_corpus(7, 40, vocab, stream=2, base=base)
    return vocab, base, delta


def test_generator_is_deterministic_per_seed(small):
    vocab, base, delta = small
    v2 = gen.make_vocab(7)
    b2 = gen.make_corpus(7, 300, v2)
    d2 = gen.make_corpus(7, 40, v2, stream=2, base=b2)
    assert v2.words.tolist() == vocab.words.tolist()
    for a, b in ((base, b2), (delta, d2)):
        assert a.content == b.content and a.doc_keys == b.doc_keys
        assert np.array_equal(a.term_ids, b.term_ids) and np.array_equal(a.tfs, b.tfs)
    q1 = [(q.text, q.terms) for q in gen.make_queries(7, 50, vocab)]
    q2 = [(q.text, q.terms) for q in gen.make_queries(7, 50, v2)]
    assert q1 == q2
    other = gen.make_corpus(8, 300, gen.make_vocab(8))
    assert other.content != base.content


def test_vocabulary_is_tokenizer_stable(small):
    vocab, base, _ = small
    for forms in (vocab.words, vocab.capitalized, vocab.upper):
        assert all(normalize_token(f) == w for f, w in zip(forms.tolist(), vocab.words.tolist()))
    assert all(normalize_token(w) == w for w in vocab.absent)
    assert not set(vocab.absent) & set(vocab.words.tolist())


def test_ground_truth_counts_match_the_tokenizer(small):
    vocab, base, delta = small
    for c in (base, delta):
        for i in range(c.n):
            terms, alnum = tokenize_text(c.content[i])
            s, e = c.doc_ptr[i], c.doc_ptr[i + 1]
            want = {vocab.words[t]: int(f) for t, f in zip(c.term_ids[s:e], c.tfs[s:e])}
            assert Counter(terms) == want
            assert alnum == c.alnum_lens[i]
    for q in gen.make_queries(7, 200, vocab):
        assert tokenize_query(q.text) == q.terms


def test_delta_keys_interleave_with_base(small):
    _, base, delta = small
    keys = sorted([(k, 0) for k in base.doc_keys] + [(k, 1) for k in delta.doc_keys])
    src = [s for _, s in keys]
    # delta keys are new commits of existing paths: not all after the base
    assert src.index(1) < len(base.doc_keys)
    assert len(set(base.doc_keys) | set(delta.doc_keys)) == base.n + delta.n


def _repo_index(corpora):
    docs = [(k, t) for c in corpora for k, t in zip(c.doc_keys, c.content)]
    return repo_oracle.build_oracle_index(docs)


@pytest.mark.parametrize("with_delta", [False, True])
def test_oracle_agrees_with_repo_oracle(small, with_delta):
    vocab, base, delta = small
    corpora = [base, delta] if with_delta else [base]
    mine = oracle.Oracle(vocab, corpora)
    ref = _repo_index(corpora)
    assert (mine.n, mine.token_count) == (ref.doc_count, ref.token_count)
    for q in gen.make_queries(7, 60, vocab):
        got = mine.bm25_topk(q.terms, 10)
        want = [(key, score) for _, key, score in repo_oracle.bm25_topk(ref, q.terms, 10)]
        assert [k for k, _ in got] == [k for k, _ in want]
        assert all(oracle.same_scores(a, b) for (_, a), (_, b) in zip(got, want))

        ql = sorted(repo_oracle.ql_dirichlet_score_all(ref, q.terms), key=lambda s: (-s[0], s[1]))
        want_ql = [(key, score) for score, key in ql[:10]]
        got_ql = mine.ql_topk(q.terms, 10)
        assert [k for k, _ in got_ql] == [k for k, _ in want_ql]
        assert all(oracle.same_scores(a, b) for (_, a), (_, b) in zip(got_ql, want_ql))


def test_compare_classifies_tie_order():
    want = [("a", 2.0), ("b", 1.0), ("c", 1.0)]
    assert oracle.compare(want, want) == ""
    assert oracle.compare([("a", 2.0), ("c", 1.0), ("b", 1.0)], want) == "ties"
    assert oracle.compare([("a", 2.0), ("c", 1.0), ("d", 1.0)], want) == "ties"
    assert oracle.compare([("b", 2.0), ("a", 1.0), ("c", 1.0)], want) == "wrong"
    assert oracle.compare([("a", 2.0), ("b", 1.0)], want) == "wrong"
    assert oracle.compare([("a", -math.inf)], [("a", -math.inf)]) == ""


def test_event_log_reduction_splits_build_by_output(tmp_path):
    def job(jid, group, exe, t, stages):
        props = {"spark.jobGroup.id": group, "spark.sql.execution.id": exe}
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
                "Stage IDs": stages, "Properties": {k: v for k, v in props.items() if v}}

    def insert(exe, path):
        plan = {"simpleString": f"Execute InsertIntoHadoopFsRelationCommand file:{path}, false, Parquet"}
        return {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
                "executionId": int(exe), "sparkPlanInfo": plan}

    def task(stage, run_ms, py_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": 10**9},
                "Task Info": {"Accumulables": [{"Name": "time to run Python workers", "Update": str(py_ms)}]}}

    events = [
        job(0, "index_build", None, 100, [0]), task(0, 5, 0),  # in-build prelude
        insert("1", "/x/idx/chunks"), job(1, "index_build", "1", 200, [1]),
        task(1, 300, 200), task(1, 100, 100),
        insert("2", "/x/idx/postings"), job(2, None, "2", 300, [2]), task(2, 50, 0),
        job(3, "merge", None, 900, [3]), task(3, 10, 0),
        job(4, None, None, 950, [4]), task(4, 10, 0),  # after the build window
    ]
    log = tmp_path / "events"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    windows = {"index_build": (50, 400), "merge": (850, 920)}
    out = spark_trace.reduce_event_log(str(log), ["index_build.chunks", "index_build.tail", "merge"], windows)
    assert out["index_build.chunks"]["jobs"] == 1
    assert out["index_build.chunks"]["tasks"] == 2
    assert out["index_build.chunks"]["py_worker_s"] == pytest.approx(0.3)
    assert out["index_build.chunks"]["task_skew"] == pytest.approx(1.5)
    assert out["index_build.tail"]["jobs"] == 1
    assert out["index_build.tail"]["executor_run_s"] == pytest.approx(0.05)
    assert out["merge"]["jobs"] == 1
