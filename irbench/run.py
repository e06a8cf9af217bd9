#!/usr/bin/env python3
"""simplir_spark benchmark: index build and indexed BM25/QL batch retrieval
on a seeded source-code corpus, checked against an independent oracle.

    python3 irbench/run.py --workload build --seed 1 --seconds 25 --trace 0

Run from the repository root.  ``--trace 0`` measures the workload and
prints every end-to-end metric; ``--trace 1`` repeats the workload with a
Spark event log, runs the layer suite (``layers.py``) and prints the
per-layer metrics instead.  The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  See README.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent

K = 10
N_BUILD = 8_000  # files in the build workload's corpus
N_INDEX = 8_000  # files in the index the interactive client queries
BATCH = 64  # queries per batch call of the layer suite
INTERACTIVE_QUERIES = 512  # seeded query stream of the interactive client
WARMUP_QUERIES = 5
DELTA_FRAC = 0.1  # ingest delta size relative to the base corpus
DRIVER_MEM = "2g"  # below physical RAM; the session default is 16g
WARMUP_BUILDS = 2
CHECK_TERMS = 300  # sampled terms whose df/cf a build check compares
CHECK_DOCS = 200  # sampled docmeta rows whose sha256 a build check compares

WORKLOADS = ("build", "query_interactive")


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, i = [root], 0
    while i < len(out):
        out.extend(children.get(out[i], []))
        i += 1
    return out[1:]


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def memory_mb() -> float:
    """Resident memory of this process, the JVM and the Python workers.
    Proportional set sizes are summed, so pages that forked Python workers
    share with their daemon count once."""
    me = os.getpid()
    return sum(_pss_kb(p) for p in [me, *_descendants(me)]) / 1024.0


def cpu_seconds() -> float:
    """User plus system CPU time of this process tree, reaped children
    included."""
    tick = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    total = 0
    for p in [me, *_descendants(me)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def steal_seconds() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class Bench:
    """One run: seeded inputs, a Spark session, the op log and checks."""

    def __init__(self, seed: int, work: Path, trace: bool):
        self.seed = seed
        self.k = K
        self.batch_size = BATCH
        self.work = work
        self.trace = trace
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.peak_mem_mb = 0.0
        self.truth: dict[str, list[str]] = {}
        self.t0 = time.perf_counter()

    def log(self, msg: str) -> None:
        """Progress on stderr, stamped with seconds since the run started."""
        print(f"irbench {time.perf_counter() - self.t0:7.1f}s {msg}", file=sys.stderr, flush=True)

    # -- inputs -----------------------------------------------------------
    def make_inputs(self, n_files: int) -> None:
        import pyarrow.parquet as pq

        import gen
        import oracle

        self.vocab = gen.make_vocab(self.seed)
        self.corpus = gen.make_corpus(self.seed, n_files, self.vocab)
        self.corpus_path = str(self.work / "corpus.parquet")
        pq.write_table(self.corpus.table(), self.corpus_path)
        self.input_bytes = sum(len(c.encode()) for c in self.corpus.content)
        self.oracle = oracle.Oracle(self.vocab, [self.corpus])
        self.log(f"generated {n_files} files, {self.input_bytes} bytes")

    def queries(self, n: int, stream: int) -> list:
        """Seeded query list; remembers each query's ground-truth terms."""
        import gen

        qs = gen.make_queries(self.seed, n, self.vocab, stream=100 + stream)
        for q in qs:
            q.qid = f"s{stream}{q.qid}"
            self.truth[q.qid] = q.terms
        return qs

    def delta(self):
        """A seeded ingest batch of new commits of existing paths."""
        import pyarrow.parquet as pq

        import gen
        from simplir_spark.sources.corpus import load_corpus

        d = gen.make_corpus(self.seed, int(self.corpus.n * DELTA_FRAC), self.vocab,
                            stream=2, base=self.corpus)
        path = str(self.work / "delta.parquet")
        pq.write_table(d.table(), path)
        return d, load_corpus(self.spark, path)

    # -- spark ------------------------------------------------------------
    def start_spark(self) -> None:
        cores = len(os.sched_getaffinity(0))
        tmp = self.work / "tmp"
        tmp.mkdir()
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "local")
        os.environ["TMPDIR"] = str(tmp)
        conf = {
            "spark.local.dir": str(self.work / "local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            # The whole heap is committed and touched at start, so the JVM's
            # share of memory_mb() does not move with when the heap grows.
            # C1 only: in a run this short the C2 compiler never pays off,
            # and its threads' CPU falls off over the first ~25 queries,
            # which made per-op CPU drift by 2-3x within a run.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
                f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            (self.work / "events").mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(self.work / "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from simplir_spark import get_spark
        from simplir_spark.sources.corpus import load_corpus

        self.spark = get_spark("irbench", cores=cores, shuffle_partitions=cores, extra_conf=conf)
        self.corpus_df = load_corpus(self.spark, self.corpus_path)
        self.log(f"spark local[{cores}] started")

    def stop_spark(self) -> None:
        """Stop the session, then the JVM and every Python worker, and wait
        for all of them to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        procs = _descendants(os.getpid())
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            jvm.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        deadline = time.time() + 20
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in procs):
            time.sleep(0.1)
        for p in procs:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- checks -----------------------------------------------------------
    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    def check_build(self, index_dir: str) -> bool:
        """corpus_stats counts, df/cf of sampled terms, and docmeta rows
        (dense ids in doc_key order, doc_len, sha256 of sampled rows)."""
        import numpy as np
        import pyarrow.parquet as pq

        o, c = self.oracle, self.corpus
        with open(os.path.join(index_dir, "corpus_stats.json")) as f:
            cs = json.load(f)
        if (cs["doc_count"], cs["token_count"]) != (o.n, o.token_count):
            return False
        if cs.get("token_count_alnum") != int(c.alnum_lens.sum()):
            return False
        ts = pq.read_table(os.path.join(index_dir, "term_stats"), columns=["term", "df", "cf"])
        stats = dict(zip(ts["term"].to_pylist(), zip(ts["df"].to_pylist(), ts["cf"].to_pylist())))
        if len(stats) != int((o.df > 0).sum()):
            return False
        rng = np.random.default_rng([self.seed, 7])
        for t in rng.choice(len(self.vocab.words), CHECK_TERMS, replace=False).tolist():
            want = (int(o.df[t]), int(o.cf[t])) if o.df[t] else None
            if stats.get(self.vocab.words[t]) != want:
                return False
        dm = pq.read_table(os.path.join(index_dir, "docmeta"),
                           columns=["did", "doc_key", "doc_len", "sha256"]).sort_by("did")
        keys = dm["doc_key"].to_pylist()
        order = np.argsort(o.doc_keys, kind="stable")
        if dm["did"].to_pylist() != list(range(o.n)) or keys != o.doc_keys[order].tolist():
            return False
        if not np.array_equal(dm["doc_len"].to_numpy(), o.dl[order]):
            return False
        sha = dm["sha256"].to_pylist()
        for i in rng.choice(o.n, min(CHECK_DOCS, o.n), replace=False).tolist():
            content = c.content[int(order[i])]
            if sha[i] != hashlib.sha256(content.encode()).hexdigest():
                return False
        return True

    def verdicts(self, rows, qs, model: str, oracle) -> list[str]:
        """Per query: '' (matches the oracle), 'ties' or 'wrong'."""
        import oracle as orc

        got: dict[str, list] = {}
        for r in rows:
            got.setdefault(r["query_id"], []).append((r["rank"], r["doc_key"], r["score"]))
        out = []
        for q in qs:
            res = [(key, score) for _, key, score in sorted(got.get(q.qid, []))]
            terms = self.truth[q.qid]
            want = oracle.bm25_topk(terms, K) if model == "bm25" else oracle.ql_topk(terms, K)
            out.append(orc.compare(res, want))
        return out

    def check_batch(self, rows, qs, model: str, oracle) -> bool:
        return all(v == "" for v in self.verdicts(rows, qs, model, oracle))


# -- workloads --------------------------------------------------------------
# Each returns an op callable: op(i) runs the timed operation i and returns
# (items done, a check to run after the clock stops).  Set-up, including
# the untimed warm-up ops, happens before it is returned.


def setup_build(b: Bench):
    from layers import dir_bytes
    from simplir_spark.operators.index_build import build_index

    b.make_inputs(N_BUILD)
    b.start_spark()

    def op(i: int):
        out = str(b.work / f"build{i}")
        build_index(b.spark, b.corpus_df, out)

        def check():
            ok = b.check_build(out)
            b.index_bytes = dir_bytes(out)
            shutil.rmtree(out)
            return ok

        return N_BUILD, check

    for i in range(WARMUP_BUILDS):  # first-call planning, JIT, worker start
        b.record(op(-1 - i)[1]())
    b.log("warm-up builds done")
    return op


def setup_query_interactive(b: Bench):
    from layers import dir_bytes, engine_batch
    from simplir_spark.operators.index_build import build_index, open_index
    from simplir_spark.operators.query_indexed import bm25_indexed

    b.make_inputs(N_INDEX)
    b.start_spark()
    index_dir = str(b.work / "index")
    build_index(b.spark, b.corpus_df, index_dir)
    b.record(b.check_build(index_dir))
    b.index_bytes = dir_bytes(index_dir)
    idx = open_index(b.spark, index_dir)
    b.log("index built")
    stream = b.queries(INTERACTIVE_QUERIES, stream=1)

    def op(i: int):
        q = stream[i % len(stream)]
        rows = bm25_indexed(b.spark, idx, engine_batch([q]), k=K).collect()
        return 1, lambda: b.check_batch(rows, [q], "bm25", b.oracle)

    for i in range(WARMUP_QUERIES):
        b.record(op(-1 - i)[1]())
    b.log("warm-up queries done")
    return op


SETUP = {"build": setup_build, "query_interactive": setup_query_interactive}


def measure(b: Bench, op, seconds: float, tracer=None) -> tuple[list[float], list[float], int]:
    """Run ops back to back until ``seconds`` of op wall time have passed.
    Returns each op's wall seconds and CPU seconds, and the items done."""
    walls: list[float] = []
    cpus: list[float] = []
    items = 0
    i = 0
    while sum(walls) < seconds:
        t0, c0, s0 = time.perf_counter(), cpu_seconds(), steal_seconds()
        try:
            if tracer is None:
                n, check = op(i)
            else:
                with tracer.job_group("workload"):
                    n, check = op(i)
        except Exception:  # a call that raises is a failed op, not a crash
            traceback.print_exc()
            n, check = 0, lambda: False
        walls.append(time.perf_counter() - t0)
        cpus.append(cpu_seconds() - c0)
        steal = steal_seconds() - s0
        items += n
        try:
            ok = check()
        except Exception:  # e.g. an index file the op should have written
            traceback.print_exc()
            ok = False
        b.record(ok)
        b.peak_mem_mb = max(b.peak_mem_mb, memory_mb())
        b.log(f"op {i}: {walls[-1]:.2f}s wall, {cpus[-1]:.2f}s cpu, {steal:.2f}s steal")
        i += 1
    return walls, cpus, items


def spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def run(args, work: Path) -> dict:
    c_start = cpu_seconds()
    b = Bench(args.seed, work, bool(args.trace))
    wrong_merged = 0
    try:
        op = SETUP[args.workload](b)
        setup_s = cpu_seconds() - c_start
        b.log(f"set-up done, {setup_s:.1f}s cpu")
        if not args.trace:
            _, cpus, items = measure(b, op, args.seconds)
            metrics = {
                "setup_s": setup_s,
                "op_cpu_ms": 1e3 * statistics.median(cpus),
                "items_per_cpu_s": items / sum(cpus),
                "index_bytes_per_input_byte": b.index_bytes / b.input_bytes,
                "peak_rss_mb": b.peak_mem_mb,
                "ops_ok_frac": (b.attempted - b.failed) / b.attempted,
            }
        else:
            import layers
            from spark_trace import COUNTERS, Tracer, reduce_event_log

            tracer = Tracer(b.spark)
            walls, cpus, _ = measure(b, op, args.seconds, tracer)
            metrics, merged = layers.run_suite(b, tracer)
            b.stop_spark()
            (log,) = glob.glob(str(work / "events" / "*"))
            for layer, rec in reduce_event_log(log, layers.SPARK_LAYERS, tracer.windows).items():
                for key in COUNTERS:
                    metrics[f"{layer}.spark.{key}"] = rec[key]
            metrics["trace.op_p50_ms"] = 1e3 * statistics.median(walls)
            metrics["trace.op_cpu_ms"] = 1e3 * statistics.median(cpus)
            # merged-index tie order is a known defect, reported as the
            # merge.tie_order_mismatch_frac metric; any other mismatch
            # there is a wrong result
            wrong_merged = merged["wrong"]
            print(f"merged-index query results by oracle verdict: {merged}")
    finally:
        b.stop_spark()
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec()[kind]}
    if set(units) != set(metrics):
        raise RuntimeError(f"metrics differ from BENCHMARK.json {kind}: "
                           f"{sorted(set(units) ^ set(metrics))}")
    return {
        "correct": b.failed == 0 and wrong_merged == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "simplir_spark" / "__init__.py").is_file():
        print(f"irbench: no simplir_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".irbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for name, m in result["metrics"].items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} attempted={result['attempted']} failed={result['failed']} "
          f"correct={result['correct']}")
    if any(not math.isfinite(m["value"]) for m in result["metrics"].values()):
        print("irbench: non-finite metric", file=sys.stderr)
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
