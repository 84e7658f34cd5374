"""Benchmark of the engine's KG build path, end to end and layer by layer.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_build --seed 1 --seconds 15 --trace 0

One process, one closed-loop client: it generates the workload's inputs from
--seed (perfbench/inputs.py), starts a local[nproc] SparkSession, runs one
cold build, then warm builds: at least WARM_BUILDS, and more while --seconds
have not yet passed since the first warm build started. Each build is the
production path of jobs/run_pipeline.py (plans.pipeline.run_pipeline with its
default config, then plans.catalog.write_triples_table) plus a re-read of the
committed table, whose rows are checked against the expected
(subj, pred, obj, support) set. The driver JVM runs C1-only (JIT_OPTS).

--trace 0 prints the end-to-end metrics of BENCHMARK.json; their times are
wall times with the host's CPU steal taken out (Clock). --trace 1 runs a
cold and a warm untraced build and one traced build, then
operators.curate.curate_corpus over the seeded curate corpus (traced) and
the seeded query mix (operators.kg_query.match_pattern / reach_pairs) over
the table the builds committed (a warm-up pass, then a traced pass), all
checked against expected outputs, and prints the per-layer metrics
(perfbench/spans.py). The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
import types

import spans

WARM_BUILDS = 3
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TRIPLE_COLS = ["subj", "pred", "obj", "support"]


def _identity(batches):
    yield from batches


# ------------------------------------------------------------ process tree ----


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def peak_rss_kb() -> int:
    """Summed peak RSS (VmHWM) of this process and all its descendants
    (driver JVM, Python daemon and workers), read once from /proc. The
    kernel keeps each process's high-water mark, so nothing samples /proc
    while a unit runs: a sampling thread reading the JVM's /proc entries
    every 0.25 s slowed the builds it measured by ~20%."""
    total = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
                        break
        except (OSError, ValueError):
            pass
    return total


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) CPU ticks of this machine from /proc/stat. Steal is time
    a CPU had work to run but the hypervisor ran another guest on it."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7]


class Clock:
    """Times one unit. `wall` is its wall time; `steal` the share of the
    machine's runnable CPU time that the hypervisor stole meanwhile; and
    `seconds` = wall × (1 - steal), the wall time with the steal taken out.
    A CPU stolen for a share f of the time the unit needs it does its work
    in 1 / (1 - f) of the time, whether one CPU or all of them are busy
    (an idle CPU accrues no steal). On a host without steal, seconds = wall."""

    def __enter__(self):
        self._t0, self._k0 = time.perf_counter(), cpu_ticks()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t0
        busy, steal = (b - a for a, b in zip(self._k0, cpu_ticks()))
        self.steal = steal / (busy + steal) if busy + steal else 0.0
        self.seconds = self.wall * (1.0 - self.steal)


# ----------------------------------------------------------------- session ----


# Every build compiles ~120 new whole-stage-codegen classes (their source
# never repeats, so Spark's codegen cache misses). With the default tiered JIT
# the C2 compiler threads then spend more CPU than the engine's own tasks
# re-optimising them, and how far C2 has got decides each build's time: warm
# builds drifted from 10.3 to 6.6 s within one process, and their median
# ranged from 6.5 to 9.7 s between processes. C1 alone compiles each new
# class quickly and is done. C1-only would default to a 48 MB code cache,
# which these classes fill; the sweeper then flushes and recompiles
# mid-build, so the cache keeps the tiered default's 240 MB. README, "Noise".
JIT_OPTS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"


def start_session(work: str, cores: int):
    from nary_relation_extraction_decomposed_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    spark = build_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_confs={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JIT_OPTS}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # first action + a Python worker on every core
    spark.range(cores * 256, numPartitions=cores).mapInPandas(
        _identity, "id long"
    ).count()
    return spark


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the gateway JVM and wait until every process this
    run started (JVM, Python daemon, workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=timeout)
        except Exception:
            proc.kill()
            proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while (left := _descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while _descendants(os.getpid()) and time.monotonic() < deadline + 10:
        time.sleep(0.1)


# ------------------------------------------------------------------- build ----


class Build:
    """One build = the jobs/run_pipeline.py default path over the
    workload's files, then a re-read of the committed triple table."""

    def __init__(self, spark, inp: dict, out_dir: str):
        from nary_relation_extraction_decomposed_spark.plans.pipeline import PipelineConfig

        self.spark = spark
        self.inp = inp
        self.out = os.path.join(out_dir, "triples")
        # jobs/run_pipeline.py without flags: canonicalize, fused doc pass,
        # enriched graph, extraction metrics collected
        self.config = PipelineConfig(collect_metrics=True)

    def run(self, tracer=None) -> tuple[Clock, list, dict]:
        """-> (Clock, sorted re-read rows, extraction metrics)."""
        from nary_relation_extraction_decomposed_spark.plans.catalog import write_triples_table
        from nary_relation_extraction_decomposed_spark.plans.pipeline import run_pipeline

        span = tracer.span if tracer else _no_span
        d = self.inp["dir"]
        read = self.spark.read.parquet
        with Clock() as clock, span("job"):
            result = run_pipeline(
                read(os.path.join(d, "pages.parquet")),
                read(os.path.join(d, "gazetteer.parquet")),
                read(os.path.join(d, "pred_rules.parquet")),
                self.config,
            )
            if tracer:
                with span("trace.counters") as sp:
                    combined = tracer.outputs["graph.doc_kg_combined"]
                    sp.counters["mentions_out"] = combined.filter("kind = 1").count()
            with span("catalog.write_triples_table") as sp:
                write_triples_table(result.triples, self.out)
            if tracer:
                sp.counters.update(_dir_stats(self.out))
            with span("catalog.read_triples") as sp:
                got = self.spark.read.parquet(self.out).select(*TRIPLE_COLS).toPandas()
                sp.counters["rows_out"] = len(got)
        rows = sorted(got.itertuples(index=False, name=None))
        metrics = {k: v.value for k, v in (result.metrics or {}).items()}
        self.spark.catalog.clearCache()
        return clock, rows, metrics


@contextlib.contextmanager
def _no_span(name):
    yield types.SimpleNamespace(counters={})


def _dir_stats(path: str) -> dict:
    files = nbytes = 0
    for base, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                nbytes += os.path.getsize(os.path.join(base, n))
    return {"files": files, "bytes_written": nbytes}


class Curate:
    """operators.curate.curate_corpus over the seeded documents, as
    jobs/run_curate.py calls it, ending with the curated doc ids on the
    driver."""

    def __init__(self, spark, inp: dict):
        import inputs

        self.spark = spark
        self.path = os.path.join(inp["dir"], "docs.parquet")
        self.cfg = inputs.CURATE

    def run(self, tracer=None) -> tuple[float, dict]:
        """-> (seconds, {"sampled": sorted ids} plus, when traced, the
        quality / exact / neardup stage counts)."""
        from nary_relation_extraction_decomposed_spark.operators.curate import curate_corpus

        span = tracer.span if tracer else _no_span
        t0 = time.perf_counter()
        with span("curate"):
            stages = curate_corpus(
                self.spark.read.parquet(self.path),
                min_quality=self.cfg["min_quality"],
                rates=self.cfg["rates"],
                default_rate=1.0,
                salt=self.cfg["salt"],
            )
            ids = sorted(r[0] for r in stages["sampled"].select("doc_id").collect())
            out = {"sampled": ids}
            if tracer:
                with span("curate.counters") as sp:
                    sp.counters["quality_rows"] = stages["quality"].count()
                out.update(quality=sp.counters["quality_rows"],
                           exact=tracer.rows("curate.exact"),
                           neardup=tracer.rows("curate.neardup"))
        seconds = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        return seconds, out


class Queries:
    """The seeded query mix over the committed triple table, read once per
    pass the way jobs/run_query.py reads it; every answer is collected to
    the driver."""

    def __init__(self, spark, table: str, queries: list[dict]):
        self.spark = spark
        self.table = table
        self.queries = queries
        self.triples = None

    def read(self) -> None:
        self.triples = self.spark.read.parquet(self.table)

    @staticmethod
    def span_name(q: dict) -> str:
        if q["kind"] == "reach":
            return "kg_query.reach_pairs"
        return f"kg_query.match_pattern.{q['kind']}"

    def run_one(self, q: dict, tracer=None) -> tuple[float, list]:
        from nary_relation_extraction_decomposed_spark.operators.kg_query import (
            match_pattern,
            reach_pairs,
        )
        from inputs import sorted_rows

        span = tracer.span if tracer else _no_span
        t0 = time.perf_counter()
        with span(self.span_name(q)) as sp:
            if q["kind"] == "reach":
                out = reach_pairs(self.triples, q["pred"], q["max_hops"], sources=q["sources"])
            else:
                out = match_pattern(
                    self.triples, [tuple(t) for t in q["pattern"]],
                    reorder=q.get("reorder", False),
                    optional=[tuple(t) for t in q.get("optional", [])],
                )
            rows = out.collect()
        seconds = time.perf_counter() - t0
        sp.counters["rows_out"] = len(rows)
        if q["kind"] == "reach":
            sp.counters["rounds"] = max((r[2] for r in rows), default=0)
        return seconds, sorted_rows(rows)


# ------------------------------------------------------------------ traced ----


def build_targets(tracer):
    """(module, attribute, span name or wrapper) of every layer the traced
    build wraps. The ER connected-components call gets its own wrapper,
    split in two spans."""
    from nary_relation_extraction_decomposed_spark.operators import er, graph, textprep
    from nary_relation_extraction_decomposed_spark.operators import triples as T

    return [
        (textprep, "filter_pages", "textprep.filter_pages"),
        (textprep, "resolve_text", "textprep.resolve_text"),
        (textprep, "dedup_latest_text", "textprep.dedup_latest_text"),
        (graph, "doc_kg_combined", "graph.doc_kg_combined"),
        (T, "subrels_from_evidence", "triples.subrels_from_evidence"),
        (er, "canonical_map", "er.canonical_map"),
        (er, "minhash_signatures", "er.minhash_signatures"),
        (er, "lsh_candidate_pairs", "er.lsh_candidate_pairs"),
        (T, "rejoin_triples", "triples.rejoin_triples"),
        (er, "connected_components",
         _split_first(tracer, er.connected_components, "er.verify_pairs",
                      "er.connected_components")),
    ]


def curate_targets(tracer):
    """The same for curate_corpus: the attributes are the names
    operators/curate.py imported. Its first _widen_if_narrow call widens the
    docs scan; its second widens the exact-dedup survivors, so that span
    covers the quality gate and the exact dedup. The near-dup anti-join
    output is materialised before sampling gets its own span."""
    from nary_relation_extraction_decomposed_spark.operators import curate as C

    widen = C._widen_if_narrow
    names = iter(("curate.input", "curate.exact"))

    def traced_widen(df, *args, **kwargs):
        with tracer.span(next(names)) as sp:
            return tracer.materialise(widen(df, *args, **kwargs), sp)

    return [
        (C, "_widen_if_narrow", traced_widen),
        (C, "minhash_signatures_wide", "dedup.minhash_signatures_wide"),
        (C, "minhash_pairs_from_sigs", "dedup.minhash_pairs_from_sigs"),
        (C, "connected_components",
         _split_first(tracer, C.connected_components, "curate.verify_pairs",
                      "curate.connected_components")),
        (C, "sample_stratified",
         _split_first(tracer, C.sample_stratified, "curate.neardup",
                      "sampling.sample_stratified")),
    ]


def _split_first(tracer, fn, input_span: str, span: str):
    """A wrapper of fn(df, ...) that first materialises its lazy input df
    under input_span, then fn's output under span. canonical_map and
    curate_corpus fuse verification into the joins they hand to
    connected_components, and curate_corpus hands its near-dup anti-join to
    sample_stratified: this gives each of those steps a span of its own."""

    def traced(df, *args, **kwargs):
        with tracer.span(input_span) as sp:
            df = tracer.materialise(df, sp)
        with tracer.span(span) as sp:
            return tracer.materialise(fn(df, *args, **kwargs), sp)

    traced.__wrapped__ = fn
    return traced


def build_metrics(tracer, n_pages: int, extract: dict, seconds: float) -> dict:
    """Per-layer metrics of one traced build: every span's self_s and
    counters, the derived ratios and the session totals."""
    m = tracer.totals()

    def ratio(a, b):
        return m[a] / m[b] if m[b] else 0.0

    m["textprep.filter_pages.drop_frac"] = 1.0 - m["textprep.filter_pages.rows_out"] / n_pages
    m["textprep.resolve_text.empty_text_frac"] = (
        extract["empty_text"] / extract["docs_in"] if extract.get("docs_in") else 0.0)
    m["textprep.dedup_latest_text.keep_frac"] = ratio(
        "textprep.dedup_latest_text.rows_out", "textprep.resolve_text.rows_out")
    m["graph.doc_kg_combined.mentions_out"] = m["trace.counters.mentions_out"]
    m["er.verify_yield"] = ratio("er.verify_pairs.rows_out", "er.lsh_candidate_pairs.rows_out")
    for k in ("jobs", "tasks", "task_failures", "spill_mb", "gc_s"):
        m[f"spark.{k}"] = sum(sp.counters[k] for sp in tracer.spans)
    m["trace.job_s"] = seconds
    m["trace.unattributed_s"] = m["job.self_s"]
    m["trace.counters_s"] = m["trace.counters.self_s"]
    return m


def curate_metrics(tracer, seconds: float) -> dict:
    m = tracer.totals()
    m["curate.quality_gate.rows_out"] = m["curate.counters.quality_rows"]
    m["curate.verify_yield"] = (
        m["curate.verify_pairs.rows_out"] / m["dedup.minhash_pairs_from_sigs.rows_out"]
        if m["dedup.minhash_pairs_from_sigs.rows_out"] else 0.0)
    m["curate.trace_s"] = seconds
    m["curate.unattributed_s"] = m["curate.self_s"]
    return m


def query_metrics(tracer, seconds: float) -> dict:
    m = tracer.totals()
    ms = [sp.dur * 1000.0 for sp in tracer.spans if sp.name.startswith("kg_query.")]
    m["kg_query.query_p50_ms"], m["kg_query.query_p90_ms"] = (
        statistics.quantiles(ms, n=10)[i] for i in (4, 8))
    m["kg_query.trace_s"] = seconds
    m["kg_query.unattributed_s"] = m["queries.self_s"]
    return m


def run_traced(spark, fn, targets, run_id: str, tracers: list):
    """fn(tracer) with the targets patched; -> fn's result and the tracer,
    whose spans carry the status-store counters of their jobs."""
    tracer = spans.Tracer(spark, run_id)
    tracers.append(tracer)
    with spans.patched(tracer, targets(tracer)):
        result = fn(tracer)
    tracer.release()
    tracer.attach_status()
    return result, tracer


# -------------------------------------------------------------------- main ----


def parse_args(argv, workloads):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Client:
    """The closed-loop client: runs one unit at a time and counts it as
    attempted, and as failed when it raises or its output differs from the
    expected one. Nothing is dropped or retried."""

    def __init__(self):
        self.attempted = self.failed = 0

    def attempt(self, fn, expected, what: str):
        self.attempted += 1
        try:
            seconds, got, *rest = fn()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        if got != expected:
            self.failed += 1
            print(f"perfbench: WRONG OUTPUT from {what}", file=sys.stderr)
        return (seconds, *rest)


def traced_run(spark, client: Client, build: Build, inp: dict, run_id: str, tracers: list) -> dict:
    """The --trace 1 part after the cold build: per-layer metrics of the
    build, curate and query layers."""
    expected = sorted(tuple(r) for r in inp["expected"])
    warm = client.attempt(build.run, expected, "warm build")
    traced = client.attempt(lambda: _traced_build(spark, build, run_id, tracers),
                            expected, "traced build")
    if warm is None or traced is None:
        raise RuntimeError("no successful measured build")
    values = traced[1]
    values["trace.overhead_frac"] = values["trace.job_s"] / warm[0].wall - 1.0
    values["wall.job_s"] = warm[0].wall

    # one curate pass, traced: the run budget holds no untraced one
    curate = Curate(spark, inp)
    traced = client.attempt(lambda: _traced_curate(spark, curate, run_id, tracers),
                            inp["curate_expected"], "traced curate")
    if traced is None:
        raise RuntimeError("the traced curate pass failed")
    values.update(traced[1])

    # a warm-up pass, then the traced pass: its spans only time the calls
    # and add no Spark action, so its per-query times are the latencies
    queries = Queries(spark, build.out, inp["queries"])
    queries.read()
    for q in queries.queries:
        client.attempt(lambda: queries.run_one(q), q["answer"], f"query {q['kind']}")
    traced = client.attempt(lambda: _traced_queries(spark, queries, run_id, tracers),
                            [q["answer"] for q in queries.queries], "traced queries")
    if traced is None:
        raise RuntimeError("the traced query pass failed")
    values.update(traced[1])
    return values


def _traced_build(spark, build: Build, run_id: str, tracers: list):
    (clock, rows, extract), tracer = run_traced(
        spark, build.run, build_targets, f"{run_id}-build", tracers)
    return clock, rows, build_metrics(tracer, build.inp["n_pages"], extract, clock.wall)


def _traced_curate(spark, curate: Curate, run_id: str, tracers: list):
    (seconds, out), tracer = run_traced(
        spark, curate.run, curate_targets, f"{run_id}-curate", tracers)
    return seconds, out, curate_metrics(tracer, seconds)


def _traced_queries(spark, queries: Queries, run_id: str, tracers: list):
    def run_all(tracer):
        t0 = time.perf_counter()
        with tracer.span("queries"):
            queries.read()
            answers = [queries.run_one(q, tracer)[1] for q in queries.queries]
        return time.perf_counter() - t0, answers

    (seconds, answers), tracer = run_traced(
        spark, run_all, lambda tracer: [], f"{run_id}-queries", tracers)
    return seconds, answers, query_metrics(tracer, seconds)


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    args = parse_args(argv, [w["name"] for w in spec["workloads"]])
    sys.path.insert(1, ROOT)
    try:
        import fixtures.corpus  # noqa: F401
        import nary_relation_extraction_decomposed_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine sources not found under {ROOT}: {e}", file=sys.stderr)
        return 2
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    trace_dir = os.path.join(ROOT, ".bench_work", "traces")
    for d in ("tmp", "local", "out"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(trace_dir, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")

    import inputs

    inp = inputs.materialise(args.workload, args.seed, os.path.join(ROOT, ".bench_cache"))
    expected = sorted(tuple(r) for r in inp["expected"])
    print(f"perfbench: {args.workload} seed={args.seed} pages={inp['n_pages']} "
          f"expected_triples={len(expected)} docs={inp['n_docs']} "
          f"queries={len(inp['queries'])} inputs_sha256={inp['sha256'][:16]}",
          file=sys.stderr)
    cores = len(os.sched_getaffinity(0))

    client = Client()
    spark = None
    try:
        with Clock() as run_clock:
            with Clock() as setup:
                spark = start_session(work, cores)
            build = Build(spark, inp, os.path.join(work, "out"))
            jvm = spark.sparkContext._jvm
            codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

            compile0 = codegen.compileTime()
            first = client.attempt(build.run, expected, "cold build")
            compile_s = (codegen.compileTime() - compile0) / 1e9
            if first is None:
                raise RuntimeError("the cold build failed")
            if args.trace:
                tracers = []
                values = traced_run(spark, client, build, inp,
                                    f"{args.workload}-s{args.seed}-{os.getpid()}", tracers)
                values["spark.codegen_compile_s"] = compile_s
                values["wall.setup_s"] = setup.wall
                values["first_job_s"] = first[0].seconds
                values["wall.first_job_s"] = first[0].wall
                spans.dump(tracers, os.path.join(
                    trace_dir, f"{args.workload}-s{args.seed}-{os.getpid()}.jsonl"))
            else:
                warm = []
                deadline = time.perf_counter() + args.seconds
                while len(warm) < WARM_BUILDS or time.perf_counter() < deadline:
                    r = client.attempt(build.run, expected, "warm build")
                    if r is None:
                        break
                    warm.append(r[0])
                if len(warm) < WARM_BUILDS:
                    raise RuntimeError("a warm build failed")
                job_s = statistics.median(c.seconds for c in warm)
                values = {
                    "setup_s": setup.seconds,
                    "job_s": job_s,
                    "docs_per_s": inp["n_pages"] / job_s,
                    "peak_rss_mb": peak_rss_kb() / 1024.0,
                }
                print("perfbench: (wall s, steal share) setup="
                      f"{(round(setup.wall, 3), round(setup.steal, 3))} "
                      f"cold={(round(first[0].wall, 3), round(first[0].steal, 3))} "
                      f"warm={[(round(c.wall, 3), round(c.steal, 3)) for c in warm]}",
                      file=sys.stderr)
        if args.trace:
            values["host.steal_frac"] = run_clock.steal
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not computed: {missing}")
    print(json.dumps({
        "correct": client.failed == 0,
        "attempted": client.attempted,
        "failed": client.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
