"""Benchmark of the duplicate-resolution engine, one workload per process.

    python3 perfbench/run.py --workload mirrors --seed 1 --seconds 5 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones; BENCHMARK.json names
both sets and README.md describes them.

Workloads (both a from-scratch ``run_pipeline`` per op)
  mirrors   short pages dominated by exact and near copies, a viral page past
            the block cap and a hot url template.
  longform  long unique pages with under 2% copies.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import gen  # this directory is first on sys.path when run as a script
import procstat

HEAP = "2g"            # SPARK_GRAFT_DRIVER_MEM for every run (see README.md)
# Spark task slots: each running task drives a Python worker process beside
# its JVM thread, so half the cores keep the busy threads near the core count
SLOTS = max(1, len(os.sched_getaffinity(0)) // 2)
SETUPS = 3            # input reads per run; setup_s counts their median
MIN_TIMED_OPS = 2     # timed ops every run makes; peak RSS is read after these
QUERIES = [
    "minhash_lsh_near_dup",
    "connected_components_docs",
    "fingerprint_overlap_near_dup",
    "decontaminate_documents",
    "embedding_ann_ivf2",
    "embedding_cosine_near_dup",
    "semantic_dedup_embeddings",
]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- process and session lifetime ----------------------------------------------


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the run's work directory, and let the workers import the program."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    root = os.getcwd()
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_GRAFT_CPUS"] = str(SLOTS)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # the launcher JVM and the driver JVM: no /tmp/hsperfdata, temp files here
    for var in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):
        os.environ[var] = " ".join(
            p for p in (os.environ.get(var), f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData") if p
        )


def start_spark(work: str):
    from dedupe_archived_files_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, the JVM and every process under it; wait for each.
    The tree is listed first: once the JVM exits, the PySpark daemon and its
    workers are re-parented and no longer show under this process."""
    from pyspark import SparkContext

    started = [p for p in procstat.tree_pids() if p != os.getpid()]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while True:
        rest = [p for p in started if procstat.alive(p)]
        if not rest:
            return
        if time.time() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


# -- timing loop -----------------------------------------------------------------


class Ops:
    """Runs one workload's op: the cold op, then timed ops until ``seconds``
    have passed (at least MIN_TIMED_OPS). Counts attempts and failures;
    samples tree CPU at the timed ops' edges."""

    def __init__(self, w, seconds: float, rss: procstat.PeakRss):
        self.w = w
        self.seconds = seconds
        self.rss = rss
        self.attempted = 0
        self.failed = 0
        self.cold_s = 0.0  # wall time of the cold op, failed or not
        self.timed: list[float] = []
        self.outputs: list = []
        self.cpu_s = 0.0

    def _one(self):
        self.attempted += 1
        try:
            self.w.prepare()
            t = time.perf_counter()
            out = self.w.op()
            dt = time.perf_counter() - t
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            self.failed += 1
            traceback.print_exc()
            return None
        self.outputs.append(out)
        return dt

    def run(self) -> None:
        t = time.perf_counter()
        self._one()
        self.cold_s = time.perf_counter() - t
        cpu0 = procstat.tree_cpu_s()
        t0 = time.perf_counter()
        n = 0
        while n < MIN_TIMED_OPS or time.perf_counter() - t0 < self.seconds:
            n += 1
            dt = self._one()
            if dt is not None:
                self.timed.append(dt)
            if n == MIN_TIMED_OPS:
                self.rss.freeze()
        self.cpu_s = (procstat.tree_cpu_s() - cpu0) / max(1, len(self.timed))


# -- workloads -------------------------------------------------------------------


class Snapshot:
    """A from-scratch ``run_pipeline`` over one crawl snapshot per op."""

    def __init__(self, name: str, seed: int, work: str):
        self.name = name
        self.corpus = getattr(gen, f"{name}_corpus")(seed)
        self.path = os.path.join(work, f"{name}.parquet")
        c = self.corpus
        gen.write_pages(self.path, c.url, c.ts, c.html)

    def setup(self, spark) -> float:
        """Read and count the input SETUPS times; returns the median time."""
        from dedupe_archived_files_spark.config import PipelineConfig
        from dedupe_archived_files_spark.sources.pages import read_pages

        self.spark = spark
        self.cfg = PipelineConfig()
        times = []
        for _ in range(SETUPS):
            t = time.perf_counter()
            self.pages = read_pages(spark, self.path)
            self.pages.count()
            times.append(time.perf_counter() - t)
        return statistics.median(times)

    def prepare(self) -> None:
        """Untimed: drop the previous op's cached frames."""
        self.spark.catalog.clearCache()

    def op(self):
        from dedupe_archived_files_spark.plans.pipeline import run_pipeline

        r = run_pipeline(self.pages, self.cfg)
        rows = frozenset(tuple(x) for x in r.clusters.collect())
        return rows, r

    def snapshot(self):
        c = self.corpus
        return c.url, c.html, c.family


class Recrawl:
    """Input for ``run_pipeline_checkpointed`` on a committed store: the
    unchanged pages plus one version of the re-crawled urls. Measured in the
    traced run only (see README.md)."""

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.r = gen.recrawl_corpus(seed)
        self.work = work
        self.root = os.path.join(work, "store")
        os.makedirs(work, exist_ok=True)
        base, changed = self.r.base, set(self.r.changed)
        keep = [i for i in range(len(base)) if i not in changed]
        # url, ts, html, family of the pages no op re-crawls
        self.rest = [[col[i] for i in keep] for col in (base.url, base.ts, base.html, base.family)]
        self.rest_path = os.path.join(work, "recrawl_rest.parquet")
        gen.write_pages(self.rest_path, *self.rest[:3])
        self.version = -1
        self.next_version()

    def _version_path(self) -> str:
        return os.path.join(self.work, f"recrawl_v{self.version}.parquet")

    def next_version(self) -> None:
        """Write the next version's re-crawled rows (version 0: the base)."""
        self.version += 1
        urls, ts, html, _ = gen.recrawl_version(self.r, self.version)
        gen.write_pages(self._version_path(), urls, ts, html)

    def pages(self):
        from dedupe_archived_files_spark.sources.pages import read_pages

        return read_pages(self.spark, self.rest_path).unionByName(
            read_pages(self.spark, self._version_path())
        )

    def snapshot(self):
        urls, _, html, fam = gen.recrawl_version(self.r, self.version)
        return self.rest[0] + urls, self.rest[2] + html, self.rest[3] + fam


WORKLOADS = ("mirrors", "longform")


def check_output(rows, edges, urls, html, family) -> tuple[list[str], float]:
    """Independent checks of one clustering; returns problems and pair F1."""
    from checks import check_clusters, pair_f1

    problems = check_clusters(rows, edges, urls, html)
    f1 = pair_f1({u: c for u, c, _ in rows}, urls, family, html)
    if f1 < 0.99:
        problems.append(f"pair F1 {f1:.4f} < 0.99")
    return problems, f1


def edges_of(r) -> list:
    return [tuple(x) for x in r.edges.select("url_a", "url_b").collect()]


def timed_run(w, seconds: float, rss: procstat.PeakRss) -> tuple[Ops, list[str], float]:
    ops = Ops(w, seconds, rss)
    ops.run()
    if not ops.outputs:
        return ops, ["no op succeeded"], 0.0
    rows, r = ops.outputs[-1]
    problems, f1 = check_output(rows, edges_of(r), *w.snapshot())
    if any(o[0] != rows for o in ops.outputs):
        problems.append("run_pipeline gave different clusters on identical input")
    return ops, problems, f1


# -- the traced run --------------------------------------------------------------


def traced_run(w, spark, seed: int, work: str, session_s: float) -> tuple[dict, list[str], int]:
    """Per-layer metrics; returns them, the problems found and the ops run.

    ``incremental`` and ``lineage`` are measured first, on the seeded
    re-crawl corpus: a commit by ``run_pipeline_checkpointed``, then the
    diff and the MERGE a re-crawl op starts with; the commit also warms the
    code the pipeline layers share. The pipeline layers are then measured
    on this workload's snapshot by ``composed_pipeline``, whose overhead is
    its time less that of the plain ``run_pipeline`` op before it (which
    runs under a job group only), and ``queries`` on the seeded documents
    and embeddings tables, so every traced run reports every layer."""
    from dedupe_archived_files_spark.operators.extract import extract_with_signature
    from dedupe_archived_files_spark.operators.incremental import last_writer_wins, new_or_changed
    from dedupe_archived_files_spark.plans.lineage import CheckpointStore
    from dedupe_archived_files_spark.plans.pipeline import run_pipeline, run_pipeline_checkpointed

    import spans

    cfg = w.cfg
    tr = spans.Tracer(spark)
    problems: list[str] = []
    m: dict = {"session.start_s": session_s}

    rc = Recrawl(spark, seed, os.path.join(work, "recrawl"))
    with tr.span("recrawl.commit") as commit:
        rows = [tuple(x) for x in run_pipeline_checkpointed(rc.pages(), rc.root, cfg).collect()]
    m["recrawl.commit_s"] = commit["s"]
    m["recrawl.commit_jobs"] = commit["jobs"]
    m["recrawl.commit_stages"] = commit["stages"]
    store = CheckpointStore(spark, rc.root)
    edges = [tuple(x) for x in store.read_stage("edges").select("url_a", "url_b").collect()]
    problems += [f"re-crawl commit: {p}" for p in check_output(rows, edges, *rc.snapshot())[0]]
    spark.catalog.clearCache()
    # the first two calls a re-crawl op makes (run_pipeline_checkpointed):
    # the diff against the committed stage, then the MERGE into it
    rc.next_version()
    with tr.span("incremental") as s:
        committed = store.read_stage("pages_text", require_sig_space=True)
        todo = last_writer_wins(new_or_changed(rc.pages(), committed), ["url"], "warc_ts")
        s["rows"] = todo.count()
    m["incremental.diff_s"] = s["s"]
    m["incremental.changed_rows"] = s["rows"]
    before = spans.files_under(rc.root)
    with tr.span("lineage.upsert") as s:
        store.upsert_stage(
            "pages_text", extract_with_signature(todo, cfg),
            merge_keys=["url"], bucket_key="url", n_buckets=cfg.store_buckets,
        )
    m["lineage.upsert_s"] = s["s"]
    m["lineage.buckets_rewritten"], m["lineage.bytes_written_mib"] = spans.store_writes(
        before, spans.files_under(rc.root), rc.root
    )
    spark.catalog.clearCache()

    w.prepare()
    with tr.span("run_pipeline") as plain:
        r = run_pipeline(w.pages, cfg)
        want = [tuple(x) for x in r.clusters.collect()]
    problems += check_output(want, edges_of(r), *w.snapshot())[0]
    w.prepare()
    t = time.perf_counter()
    got = spans.composed_pipeline(tr, w.pages, cfg)
    m["trace.overhead_s"] = time.perf_counter() - t - plain["s"]
    w.prepare()
    if frozenset(got) != frozenset(want):
        problems.append("composed layers give other clusters than run_pipeline")
    last = {s["name"]: s for s in tr.spans}
    for layer, keys in (
        ("extract", ("s", "rows", "jobs")),
        ("blocking", ("s", "candidates", "redundant_pairs", "oversized", "jobs")),
        ("scoring", ("s", "edges")),
        ("dedupe", ("s", "star_edges")),
        ("clustering", ("s", "edges_in", "clusters")),
    ):
        for k in keys:
            m[f"{layer}.{k}"] = last[layer][k]
    m["scoring.yield"] = m["scoring.edges"] / max(1, m["blocking.candidates"])
    m["pipeline.jobs"] = plain["jobs"]
    m["pipeline.stages"] = plain["stages"]

    problems += traced_queries(spark, seed, work, tr, m)
    out = os.path.join(os.getcwd(), ".perfbench_work", "traces")
    os.makedirs(out, exist_ok=True)
    tr.dump(os.path.join(out, f"{w.name}-seed{seed}.json"))
    return m, problems, 2 + 2 + len(QUERIES)


def traced_queries(spark, seed: int, work: str, tr, m: dict) -> list[str]:
    import duckdb

    import __spark_entry__ as entry
    from checks import ann_recall_at_k, check_against_oracle, semantic_pairs_check
    from dedupe_archived_files_spark import queries as Q

    qdir = os.path.join(work, "querysuite")
    os.makedirs(qdir, exist_ok=True)
    gen.write_querysuite(seed, qdir)
    fns = entry.queries()
    oracles = entry.oracle_sql()
    answers = {}
    for name in QUERIES:
        spark.catalog.clearCache()
        with tr.span(f"queries.{name}") as s:
            answers[name] = fns[name](spark, qdir).toPandas()
        m[f"queries.{name}.s"] = s["s"]
        m[f"queries.{name}.jobs"] = s["jobs"]
    problems = []
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{qdir}/{t}.parquet')")
    for name in QUERIES:
        if oracles.get(name):
            problems += check_against_oracle(name, answers[name], con, oracles[name])
    con.close()
    emb = os.path.join(qdir, "embeddings.parquet")
    recall = ann_recall_at_k(answers["embedding_ann_ivf2"], emb, Q.N_QUERIES, Q.TOP_K)
    if recall < 0.9:
        problems.append(f"embedding_ann_ivf2 recall@5 {recall:.3f} < 0.9")
    p, sem_recall = semantic_pairs_check(answers["semantic_dedup_embeddings"], emb, Q.COSINE_TAU)
    problems += p
    if sem_recall < 0.5:
        problems.append(f"semantic_dedup_embeddings recall {sem_recall:.3f} < 0.5")
    m["queries.ann_recall_at_5"] = recall
    m["queries.semantic_recall"] = sem_recall
    return problems


# -- main --------------------------------------------------------------------------


def declared_units(trace: int) -> dict:
    """name -> unit of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(os.getcwd(), "dedupe_archived_files_spark")):
        log("run from the repository root: the dedupe_archived_files_spark package is not here")
        return 2

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)
    spark = None
    rss = procstat.PeakRss().start()
    try:
        w = Snapshot(args.workload, args.seed, work)
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        read_s = w.setup(spark)
        log(f"session {session_s:.2f}s, input read {read_s:.2f}s")
        if args.trace:
            metrics, problems, attempted = traced_run(w, spark, args.seed, work, session_s)
            failed = 0
        else:
            ops, problems, f1 = timed_run(w, args.seconds, rss)
            attempted, failed = ops.attempted, ops.failed
            # set-up lasts until the cold op ends: it pays code generation,
            # JIT and Python worker start, and is one sample per process
            setup_s = session_s + read_s + ops.cold_s
            metrics = {
                "setup_s": setup_s,
                "op_s_p50": statistics.median(ops.timed),
                "cpu_s_per_op": ops.cpu_s,
                "peak_rss_mib": rss.peak_mib,
                "pair_f1": f1,
            }
            log(f"setup {setup_s:.2f}s; cold op {ops.cold_s:.2f}s; timed ops: "
                + ", ".join(f"{t:.2f}" for t in ops.timed))
        for p in problems:
            log(f"CHECK FAILED: {p}")
    finally:
        rss.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    units = declared_units(args.trace)
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
