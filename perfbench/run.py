#!/usr/bin/env python3
"""spark-infidex benchmark: the `build` and `query` workloads.

    python3 perfbench/run.py --workload build|query --seed N --seconds S --trace 0|1

Run from the repository root. Each run starts one local Spark session, builds
an index over a seeded corpus (perfbench/corpus.py), sends a seeded,
Zipf-popular query log to the stage-1 executor and then (on `query`, and in
traced runs) to the rerank executor, each in a single-caller closed loop for
`--seconds` seconds, and checks the answers. The last line of standard output
is one JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics with `--trace 0`, the per-layer metrics with `--trace 1`).
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from corpus import QUERY_CLASSES

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
K = 10
HEAP = "4g"

# corpus size per workload, and whether its answers are checked against the
# kernel oracle (README: why these sizes). The rerank loop runs where its
# answers are used: on `query` (the oracle check) and in every traced run.
WORKLOADS = {
    "build": {"n_docs": 3_000, "oracle": False},
    "query": {"n_docs": 1_500, "oracle": True},
}
# build-side per-layer names
CHAIN_STEPS = ("tokenize", "term_df_stop", "postings", "join_doc_stats_prefixes", "variants")
AUX_JOBS = (
    "word_family", "prefixes", "doc_meta", "doc_store_write", "prefix_lists", "input_agg",
    "doc_stats", "checkpoints", "variants_dict", "term_dict", "slim_doc_meta",
)
BYTES_TABLES = {
    "postings": "postings", "prefix_postings": "prefix_postings", "prefixes": "prefixes",
    "wm_words": "wm_words", "doc_store": "doc_store.arrow", "champions": "champions",
    "variants": "variants", "word_variants": "word_variants",
}
E2E_UNITS = {
    "setup_s": "s",
    "build_s": "s",
    "index_bytes_per_text_byte": "ratio",
    "stage1_warm_ms": "ms",
}


def log(*a) -> None:
    print("[perfbench]", *a, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ setup


def start_spark(cpus: int):
    from infidex_spark.session import get_spark

    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    return get_spark(
        app_name="perfbench",
        cpus=cpus,
        driver_memory=HEAP,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def write_corpus(corpus, n_files: int) -> str:
    """The generated webtext table as parquet files, the shape a crawl
    arrives in; written before the timed set-up starts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(WORK, "corpus")
    os.makedirs(path)
    tbl = pa.Table.from_pandas(corpus.pandas(), preserve_index=False)
    step = -(-tbl.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            tbl.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"),
            coerce_timestamps="us",
        )
    return path


def load_corpus(spark, path: str):
    """The corpus read by Spark and persisted."""
    df = spark.read.parquet(path).persist()
    df.count()
    return df


def job_counts(spark, before: set[int]) -> dict[str, int]:
    """Spark jobs, executed stages and tasks since `before` (job ids)."""
    st = spark.sparkContext.statusTracker()
    jobs = sorted(set(st.getJobIdsForGroup(None)) - before)
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran = [s for s in (st.getStageInfo(i) for i in stages) if s is not None and s.numCompletedTasks > 0]
    return {
        "build.spark_jobs": len(jobs),
        "build.spark_stages": len(ran),
        "build.spark_tasks": sum(s.numCompletedTasks for s in ran),
    }


def build(spark, docs, out_dir: str):
    """One production build_index with default options."""
    from infidex_spark.build.indexer import build_index

    before = set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
    t0 = time.perf_counter()
    manifest = build_index(spark, docs.select("doc_id", "doc_key", "text"), out_dir)
    wall = time.perf_counter() - t0
    return manifest, wall, job_counts(spark, before)


def build_layers(manifest: dict, counts: dict) -> dict[str, float]:
    steps = manifest.get("step_secs", {})
    aux = manifest.get("aux_step_secs", {})
    tb = manifest.get("table_bytes", {})
    out = {f"build.chain.{s}_s": float(steps.get(s, 0.0)) for s in CHAIN_STEPS}
    out.update({f"build.aux.{j}_s": float(aux.get(j, 0.0)) for j in AUX_JOBS})
    out.update(counts)
    out.update({f"build.bytes.{n}": int(tb.get(t, 0)) for n, t in BYTES_TABLES.items()})
    return out


# ------------------------------------------------------------------ checks


def check_build(idx_dir: str, corpus, seed: int) -> list[str]:
    """Sampled words' df and decoded doc-id lists against the generator's
    own sets, and doc_stats' doc keys against the input's."""
    import numpy as np
    import pyarrow.dataset as ds

    from infidex_spark.build.codec import decode_postings

    rng = np.random.default_rng([seed, 0xB1])
    long_words = sorted(w for w in corpus.word_docs if len(w) >= 4)
    by_df = sorted(long_words, key=lambda w: -len(corpus.word_docs[w]))
    sample = set(by_df[:40]) | set(rng.choice(long_words, 260, replace=False).tolist())
    tbl = ds.dataset(os.path.join(idx_dir, "postings"), partitioning="hive").to_table(
        columns=["term", "df", "n_docs", "payload", "weights"],
        filter=ds.field("term").isin(sorted(sample)),
    )
    errors: list[str] = []
    got: dict[str, int] = {}
    for term, df, n, pay, w in zip(*(tbl[c].to_pylist() for c in tbl.column_names)):
        got[term] = got.get(term, 0) + 1
        ids, _ = decode_postings(pay, w, n)
        want = corpus.word_docs[term]
        if df != want.size or not np.array_equal(ids, want):
            errors.append(f"postings of {term!r}: df {df}, {ids.size} ids; want {want.size}")
    for term in sample:
        if got.get(term) != 1:
            errors.append(f"postings of {term!r}: {got.get(term, 0)} rows")
    keys = ds.dataset(os.path.join(idx_dir, "doc_stats")).to_table(columns=["doc_key"])
    if not np.array_equal(np.sort(keys["doc_key"].to_numpy()), np.sort(corpus.doc_keys)):
        errors.append("doc_stats doc keys differ from the input's")
    return errors


def check_response(res: list, first) -> str | None:
    if len(res) > K:
        return f"{len(res)} results > k"
    scores = [r[1] for r in res]
    if any(b > a for a, b in zip(scores, scores[1:])):
        return "scores increase"
    if first is not None and res != first:
        return "repeat differs from first evaluation"
    return None


def compare(got: list, want: list, with_tie: bool) -> str | None:
    """Doc keys in order, scores within rel 1e-5, tiebreakers exactly."""
    if [r[0] for r in got] != [r[0] for r in want]:
        return f"keys {[r[0] for r in got]} != {[r[0] for r in want]}"
    for g, w in zip(got, want):
        if abs(g[1] - w[1]) > 1e-5 * max(abs(w[1]), 1e-12):
            return f"score {g[1]} != {w[1]}"
        if with_tie and g[2] != w[2]:
            return f"tiebreak {g[2]} != {w[2]}"
    return None


# ------------------------------------------------------------ query loop


class Loop:
    """Single-caller closed loops over the query log: each executor answers
    the log from its start for --seconds, one executor after the other.
    Each query is sent when the previous one has returned; each loop runs
    whole rounds, at least one."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.first: dict[str, dict[str, list]] = {"stage1": {}, "rerank": {}}
        self.samples: list[tuple[str, str, bool, float, int]] = []  # kind, class, cold, ms, qid
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def ask(self, kind: str, ex, cls: str, q: str) -> None:
        first = self.first[kind]
        cold = q not in first
        self.attempted += 1
        tr = self.tracer
        try:
            if tr is not None:
                tr.query_id = len(self.samples)
                t0 = time.perf_counter()
                res = tr.span(f"query.{kind}", ex.search, q, K)
            else:
                t0 = time.perf_counter()
                res = ex.search(q, K)
            ms = (time.perf_counter() - t0) * 1e3
        except Exception as e:  # counted as failed, reported, and the loop goes on
            self.failed += 1
            self.errors.append(f"{kind} {q!r}: {type(e).__name__}: {e}")
            log(traceback.format_exc())
            return
        self.samples.append((kind, cls, cold, ms, tr.query_id if tr else -1))
        bad = check_response(res, first.get(q))
        if bad:
            self.errors.append(f"{kind} {q!r}: {bad}")
        if cold:
            first[q] = res

    def run(self, kind: str, ex, qlog, seconds: float) -> int:
        # The calling thread moves to the next CPU each round. Left where the
        # scheduler puts it, a run's loop stays on one CPU, and on a shared
        # host the CPUs can differ in speed by up to a third at a time (other
        # tenants on their cores): each run would measure whichever it got.
        cpus = sorted(os.sched_getaffinity(0))
        t_end = time.perf_counter() + seconds
        rounds = 0
        try:
            while rounds == 0 or time.perf_counter() < t_end:
                os.sched_setaffinity(0, {cpus[rounds % len(cpus)]})
                for cls, q in qlog.round():
                    self.ask(kind, ex, cls, q)
                rounds += 1
        finally:
            os.sched_setaffinity(0, cpus)
        return rounds

    def latencies(self, kind: str, cold: bool, cls: str | None = None) -> list[float]:
        return [
            ms for k, c, cd, ms, _ in self.samples
            if k == kind and cd == cold and (cls is None or c == cls)
        ]


def class_mean(loop: Loop, kind: str, cold: bool) -> float:
    """Geometric mean over the query classes of each class's median
    latency. Every class weighs the same, whatever its number of samples in
    a run, and a change of x% in one class moves the figure by about x/9%:
    the classes' latencies differ by up to four orders of magnitude, and a
    median pooled over them lands wherever the run's class mix puts it."""
    logs = [math.log(statistics.median(loop.latencies(kind, cold, c))) for c in QUERY_CLASSES]
    return math.exp(statistics.fmean(logs))


# ------------------------------------------------------------- tracing

# per-layer query metrics: name -> (spans, figure, tags). The figure is "ms"
# or "us" (self time per query), "calls", or a counter the span records; the
# tags say whether it is reported for cold and warm queries. A layer that
# repeated queries never reach (their answer or features are cached) is
# reported cold only.
BOTH, COLD = ("cold", "warm"), ("cold",)
STAGE1_LAYERS = {
    "kernel.normalize_tokenize_us": (("kernel.normalize", "kernel.tokenize"), "us", BOTH),
    "query.reader.fetch_terms_ms": (("query.reader.fetch_terms",), "ms", BOTH),
    "query.reader.fetch_terms.terms": (("query.reader.fetch_terms",), "terms", BOTH),
    "query.reader.fetch_terms.postings": (("query.reader.fetch_terms",), "postings", BOTH),
    "query.reader.fetch_variant_terms_ms": (("query.reader.fetch_variant_terms",), "ms", COLD),
    "query.reader.fetch_variant_terms.calls": (("query.reader.fetch_variant_terms",), "calls", COLD),
    "query.reader.doc_lengths_ms": (("query.reader.doc_lengths",), "ms", BOTH),
    "query.wand_ms": (("query.wand",), "ms", BOTH),
    "query.executor.self_ms": (("query.stage1",), "ms", BOTH),
}
RERANK_LAYERS = {
    "query.rerank.stage1_ms": (("query.rerank.stage1",), "ms", BOTH),
    "query.rerank.fetch_terms_ms": (("query.reader.fetch_terms",), "ms", COLD),
    "query.reader.ids_for_keys_ms": (("query.reader.ids_for_keys",), "ms", BOTH),
    "query.reader.wm_word_docs_ms": (("query.reader.wm_word_docs",), "ms", COLD),
    "query.reader.doc_texts_ms": (("query.reader.doc_texts",), "ms", COLD),
    "query.coverage.compute_ms": (("query.coverage.compute",), "ms", COLD),
    "query.coverage.items": (("query.coverage.compute",), "items", COLD),
    "query.rerank.self_ms": (("query.rerank",), "ms", BOTH),
}
LAYER_UNITS = {"ms": "ms", "us": "us", "calls": "count", "terms": "count", "postings": "count", "items": "count"}


def instrument(tracer, r1, r2, rr) -> None:
    """Wrap the public methods the executors call, on the objects handed to
    them, plus the kernel's normalize/tokenize and the WAND entry point."""
    import infidex_spark.query.executor as qe
    import infidex_spark.query.rerank as qr
    import infidex_spark.query.wand as qw

    def fetch_counts(args, out):
        return {"terms": len(args[0]), "postings": sum(tp.n_docs for tp in out.values())}

    for r in (r1, r2):
        tracer.wrap(r, "fetch_terms", "query.reader.fetch_terms", count=fetch_counts)
        for m in ("fetch_variant_terms", "doc_lengths", "ids_for_keys", "wm_word_docs", "doc_texts"):
            tracer.wrap(r, m, f"query.reader.{m}")
    tracer.wrap(rr.stage1, "search", "query.rerank.stage1")
    tracer.wrap(rr.batch, "compute", "query.coverage.compute", count=lambda a, o: {"items": len(a[2])})
    tracer.wrap(qw, "wand_topk", "query.wand")
    for mod in (qe, qr):
        tracer.wrap(mod, "normalize", "kernel.normalize")
    tracer.wrap(qe, "search_tokens", "kernel.tokenize")


def layer_metrics(loop: Loop, tracer) -> tuple[dict, dict]:
    """Per-layer query metrics (mean per query, cold and warm apart) and
    the trace's account of each query's wall time."""
    out: dict[str, tuple[float, str]] = {}
    figures = {
        "stage1": tracer.per_query(),
        "rerank": tracer.per_query(frozenset({"query.rerank.stage1"})),
    }
    for kind, layers in (("stage1", STAGE1_LAYERS), ("rerank", RERANK_LAYERS)):
        for cold in (True, False):
            qids = [q for k, _c, cd, _ms, q in loop.samples if k == kind and cd == cold]
            tag = "cold" if cold else "warm"
            for metric, (spans, fig, tags) in layers.items():
                if tag not in tags:
                    continue
                total = 0.0
                for q in qids:
                    for sp in spans:
                        r = figures[kind][q].get(sp)
                        if r is None:
                            continue
                        if fig in ("ms", "us"):
                            total += r[0] / (1e6 if fig == "ms" else 1e3)
                        elif fig == "calls":
                            total += r[1]
                        else:
                            total += r[2][fig]
                out[f"{metric}_{tag}"] = (total / len(qids), LAYER_UNITS[fig])
            # the end-to-end figure, traced: minus the untraced one, the
            # tracing overhead
            out[f"query.traced.{kind}_{tag}_ms"] = (class_mean(loop, kind, cold), "ms")
    for c in QUERY_CLASSES:
        for kind in ("stage1", "rerank"):
            for cold in (True, False):
                out[f"query.class.{c}.{kind}_{'cold' if cold else 'warm'}_p50_ms"] = (
                    statistics.median(loop.latencies(kind, cold, c)), "ms")
    # the spans of a query account for its root span; the rest of its wall
    # time is the wrapper's own cost
    roots = {s[1]: s[4] - s[3] for s in tracer.spans if s[2] < 0}
    wall = sum(ms for *_x, ms, _q in loop.samples) * 1e6
    traced = sum(roots[q] for *_x, q in loop.samples)
    out["query.trace.accounted_share"] = (traced / wall, "ratio")
    account = {
        "queries": len(loop.samples),
        "wall_ms": wall / 1e6,
        "root_spans_ms": traced / 1e6,
        "per_query": [
            {"kind": k, "class": c, "cold": cd, "wall_ms": ms,
             "self_ms": {n: r[0] / 1e6 for n, r in figures[k][q].items()}}
            for k, c, cd, ms, q in loop.samples
        ],
    }
    return out, account


# ------------------------------------------------------------------- main


def host_state() -> dict:
    from bench import host_mem_canary

    return {"host_mem_canary": host_mem_canary(), "loadavg": list(os.getloadavg())}


def stop_spark(spark) -> None:
    """Stop the session and the JVM it started, and wait for the JVM."""
    gw = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


ORACLE_PARTS = 2  # oracle processes beside the one-thread rerank loop


def start_oracle(corpus, queries) -> list[subprocess.Popen]:
    """Start perfbench/oracle.py on the corpus and the checked queries, in
    ORACLE_PARTS processes that each answer every ORACLE_PARTS-th query; the
    caller waits for them, or kills them and waits."""
    path = os.path.join(WORK, "oracle.pickle")
    with open(path, "wb") as f:
        pickle.dump((corpus.rows(), queries, K), f)
    script = os.path.join(HERE, "oracle.py")
    return [
        subprocess.Popen([sys.executable, script, path, str(p), str(ORACLE_PARTS)], stdout=subprocess.PIPE)
        for p in range(ORACLE_PARTS)
    ]


def oracle_answers(procs: list[subprocess.Popen], n: int) -> list:
    """The parts' answers, back in query order."""
    answers: list = [None] * n
    for p, proc in enumerate(procs):
        out, _ = proc.communicate()
        if proc.returncode != 0:
            raise RuntimeError(f"kernel oracle part {p} exited with {proc.returncode}")
        answers[p::len(procs)] = pickle.loads(out)
    return answers


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from corpus import QueryLog, make_corpus
    from spans import Tracer

    from infidex_spark.query.executor import IndexReader, QueryExecutor
    from infidex_spark.query.rerank import RerankExecutor

    cfg = WORKLOADS[workload]
    state = {"start": host_state()} if trace else {}
    corpus = make_corpus(seed, cfg["n_docs"])
    errors: list[str] = []
    cpus = len(os.sched_getaffinity(0))
    corpus_path = write_corpus(corpus, cpus)
    # query checks: the log's first fresh draws, one query of every class,
    # which both loops answer first
    checked = QueryLog(corpus, seed).round()[: len(QUERY_CLASSES)]

    t0 = time.perf_counter()
    spark = start_spark(cpus)
    try:
        spark_s = time.perf_counter() - t0
        docs = load_corpus(spark, corpus_path)
        load_s = time.perf_counter() - t0
        idx = os.path.join(WORK, "index")
        manifest, build_s, counts = build(spark, docs, idx)
        docs.unpersist()
    finally:
        # the loops read the index without Spark: no JVM runs beside them
        stop_spark(spark)
    t1 = time.perf_counter()
    r1, r2 = IndexReader(idx), IndexReader(idx)
    ex1, rr = QueryExecutor(r1), RerankExecutor(r2)
    open_s = time.perf_counter() - t1
    log(f"spark {spark_s:.1f}s, load {load_s - spark_s:.1f}s, build {build_s:.1f}s, open {open_s:.1f}s")
    # build: Spark start plus the corpus loaded; query: that, plus the
    # index build and the readers opened
    setup_s = load_s if workload == "build" else load_s + build_s + open_s
    errors += check_build(idx, corpus, seed)

    tracer = Tracer() if trace else None
    if tracer is not None:
        instrument(tracer, r1, r2, rr)
    loop = Loop(tracer)
    rounds = {"stage1": loop.run("stage1", ex1, QueryLog(corpus, seed), seconds)}
    # the kernel oracle runs beside the rerank loop, which feeds no
    # end-to-end metric, and never beside the build or the stage-1 loop
    oracle = start_oracle(corpus, [q for _, q in checked]) if cfg["oracle"] else []
    try:
        if cfg["oracle"] or trace:
            rounds["rerank"] = loop.run("rerank", rr, QueryLog(corpus, seed), seconds)
        if oracle:
            t2 = time.perf_counter()
            answers = oracle_answers(oracle, len(checked))
            log(f"waited {time.perf_counter() - t2:.1f}s for the kernel oracle")
    finally:
        for proc in oracle:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    log("stage-1 warm medians, ms: " + ", ".join(
        f"{c} {statistics.median(loop.latencies('stage1', False, c)):.4f}" for c in QUERY_CLASSES))
    log(f"rounds {rounds}; samples " + ", ".join(
        f"{k} {'cold' if c else 'warm'} {len(loop.latencies(k, c))}"
        for k in rounds for c in (True, False)))

    if oracle:
        for (cls, q), (want1, want2) in zip(checked, answers):
            for kind, want, tie in (("stage1", want1, False), ("rerank", want2, True)):
                got = loop.first[kind].get(q)
                bad = compare(got, want, tie) if got is not None else "no answer"
                if bad:
                    errors.append(f"{kind} {q!r} vs kernel: {bad}")
    if trace:
        state["end"] = host_state()
    errors += loop.errors

    if trace:
        metrics, account = layer_metrics(loop, tracer)
        metrics["session.get_spark_s"] = (spark_s, "s")
        for name, v in build_layers(manifest, counts).items():
            unit = "s" if name.endswith("_s") else ("bytes" if ".bytes." in name else "count")
            metrics[name] = (v, unit)
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"trace-{workload}-{seed}.json"), "w") as f:
            json.dump({
                "workload": workload, "seed": seed, "host": state,
                "short_precompute": manifest.get("pattern_scores_fmt") is not None,
                "manifest": {k: manifest.get(k) for k in (
                    "total_docs", "step_secs", "aux_step_secs", "aux_step_starts",
                    "table_bytes", "index_bytes_total", "build_wall_sec")},
                "account": account,
                "spans": tracer.spans,  # [name, query, parent, start_ns, end_ns, counts]
            }, f)
    else:
        values = {
            "setup_s": setup_s,
            "build_s": build_s,
            "index_bytes_per_text_byte": manifest["index_bytes_total"] / corpus.text_bytes,
            "stage1_warm_ms": class_mean(loop, "stage1", False),
        }
        metrics = {k: (v, E2E_UNITS[k]) for k, v in values.items()}
    for e in errors[:20]:
        log("CHECK FAILED:", e)
    return {
        "correct": not errors,
        "attempted": 1 + loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # the Spark JVM inherits fd 1: keep the real stdout for the result line
    # and send everything else to stderr
    result_fd = os.dup(1)
    os.dup2(2, 1)
    sys.path[:0] = [ROOT, HERE]
    import infidex_spark  # noqa: F401  (fails outside a full checkout)

    shutil.rmtree(WORK, ignore_errors=True)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    log(f"run took {time.perf_counter() - T_START:.1f}s")
    os.write(result_fd, (json.dumps(result) + "\n").encode())


if __name__ == "__main__":
    main()
