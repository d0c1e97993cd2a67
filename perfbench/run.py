"""Benchmark of the entity-resolution engine: resolve calls and streaming
assignment on a seeded webgen corpus, on one local[nproc] Spark session.

    python3 perfbench/run.py --workload resolve_small --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced run with ``--trace 1``). The line before it is the
run's context (cores, load average, a pure-compute probe). See README.md
for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import proctree  # noqa: E402
from corpus import SPARK_SCHEMA, build_inputs  # noqa: E402
from spans import HYGIENE_OPS, Tracer, median_of, stream_batch_spans  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("resolve_small", "assign_stream")
# Pinned well below the RAM of a small host; the session default is 48g.
DRIVER_MEMORY = "2g"
TIMED_BATCHES = 3  # streaming micro-batches measured after one warm-up batch
RESOLVE_SPANS = (
    "normalize",
    "blocking",
    "scoring",
    "connected_components",
    "hygiene",
    "finalize",
)
SPAN_METRICS = (
    "wall_s",
    "jobs",
    "tasks",
    "executor_cpu_s",
    "shuffle_write_mb",
    "spill_mb",
    "rows_out",
    "python_udf_s",
)
STREAM_METRICS = {  # per-layer name -> key of the per-batch span
    "streaming.trigger_s": "wall_s",
    "streaming.add_batch_s": "add_batch_s",
    "streaming.overhead_s": "overhead_s",
    "streaming.jobs_per_batch": "jobs",
    "streaming.source_reads_per_row": "source_reads_per_row",
    "streaming.executor_cpu_s": "executor_cpu_s",
    "streaming.shuffle_write_mb": "shuffle_write_mb",
}
END_TO_END_UNITS = {
    "docs_per_s": "docs/s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
    "pair_f1": "ratio",
    "assign_accuracy": "ratio",
}
LAYER_UNITS = {  # per-layer metrics, by the last part of their name
    "wall_s": "s",
    "self_s": "s",
    "executor_cpu_s": "s",
    "python_udf_s": "s",
    "cpu_s_per_kdoc": "s",
    "trigger_s": "s",
    "add_batch_s": "s",
    "overhead_s": "s",
    "jobs": "count",
    "tasks": "count",
    "rows_out": "count",
    "jobs_total": "count",
    "jobs_per_batch": "count",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "pairs_per_doc": "pairs/doc",
    "exact_share": "ratio",
    "bytes_per_doc": "B/doc",
    "source_reads_per_row": "ratio",
}
RESOLVED_KEY = ["doc_id", "cluster", "canonical_text", "cluster_size"]


def unit_of(metric: str) -> str:
    return END_TO_END_UNITS.get(metric) or LAYER_UNITS[metric.rsplit(".", 1)[-1]]


def _launch_env(work: str, trace: bool) -> int:
    """One local[nproc] process whose JVM and Python workers import the
    package from this checkout and keep every scratch file inside it. A
    traced run keeps more jobs and stages in Spark's status store, so none
    of the traced call's is evicted before it is read."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed, pre-touched heap, as a deployed driver runs, so resident
    # memory does not depend on when the heap happened to grow; compiler
    # threads stay alive so proctree can leave JIT time out of the CPU.
    jvm = (
        f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
        f"-XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}"
    )
    retain = (
        "--conf spark.ui.retainedJobs=20000 --conf spark.ui.retainedStages=20000 "
        "--conf spark.sql.ui.retainedExecutions=20000 "
        if trace
        else ""
    )
    os.environ.update(
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=f"{retain}--driver-java-options {shlex.quote(jvm)} pyspark-shell",
    )
    sys.path.insert(0, ROOT)
    return cpus


def _probe_s() -> float:
    """Pure-Python compute probe: what one core of the host delivers now."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return time.perf_counter() - t0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Bench:
    """The operations every workload is built from, on one session and one
    set of seeded inputs. Each call gets fresh directories under ``work``."""

    def __init__(self, spark, inputs, work: str):
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.n_dirs = 0

    def fresh_dir(self, kind: str) -> str:
        self.n_dirs += 1
        return os.path.join(self.work, f"{kind}-{self.n_dirs}")

    def resolve(self):
        """One checkpoint-mode resolve of the base corpus, consumed into
        pandas. Returns (output, wall, checkpoint dir)."""
        from gpu_entity_resolver_spark.plans.resolve import resolve_documents

        ckpt = self.fresh_dir("ckpt")
        docs = self.spark.read.parquet(self.inputs.base_dir)
        t0 = time.perf_counter()
        out = resolve_documents(self.spark, docs, checkpoint_dir=ckpt).toPandas()
        return out, time.perf_counter() - t0, ckpt

    def resolve_problems(self, out) -> list[str]:
        return checks.check_resolved(out, self.inputs.base)

    def setup(self) -> None:
        """Resolve the base corpus once: the warm-up, and the canonical
        table the stream assigns against."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        out, _, ckpt = self.resolve()
        shutil.rmtree(ckpt)
        problems = self.resolve_problems(out)
        if problems:
            raise RuntimeError(f"base resolve failed its checks: {problems}")
        self.base_out = out
        self.base_hash = checks.row_hash(out, RESOLVED_KEY)
        self.canon_dir = os.path.join(self.work, "canon")
        os.makedirs(self.canon_dir)
        canon = out[["cluster", "canonical_text"]].drop_duplicates("cluster")
        pq.write_table(
            pa.Table.from_pandas(canon, preserve_index=False),
            os.path.join(self.canon_dir, "part-0.parquet"),
        )

    def _stream(self, root: str, files: list[str]):
        """Drop ``files`` into the watched directory and run the assignment
        sink until it has consumed them, one file per trigger. Returns the
        query wall and the progress of the batches that read data."""
        from gpu_entity_resolver_spark.streaming.incremental import incremental_assign_sink

        src = os.path.join(root, "src")
        os.makedirs(src, exist_ok=True)
        for f in files:
            shutil.copy(f, src)
        stream = (
            self.spark.readStream.schema(SPARK_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        t0 = time.perf_counter()
        query = incremental_assign_sink(
            self.spark,
            stream,
            self.spark.read.parquet(self.canon_dir),
            os.path.join(root, "out"),
            os.path.join(root, "state"),
        )
        query.awaitTermination()
        wall = time.perf_counter() - t0
        if query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {query.exception()}")
        return wall, [p for p in query.recentProgress if p["numInputRows"] > 0]

    def stream_warm(self) -> str:
        """A new stream that has consumed the warm-up batch file."""
        root = self.fresh_dir("stream")
        self._stream(root, self.inputs.batch_files[:1])
        return root

    def stream_timed(self, root: str):
        """Feed the timed batch files to the stream; returns (query wall,
        batch progress, every row the sink has written)."""
        wall, progress = self._stream(root, self.inputs.batch_files[1:])
        out = self.spark.read.parquet(os.path.join(root, "out")).toPandas()
        return wall, progress, out

    def assign_problems(self, out) -> list[list[str]]:
        """Problems per batch file, the warm-up file first."""
        return checks.check_assigned(out, self.inputs.batch_doc_ids)


def timed_resolve(bench: Bench, seconds: float) -> dict:
    ops, failed = [], 0
    t0 = time.perf_counter()
    while not ops and failed < 3 or time.perf_counter() - t0 < seconds:
        try:
            with proctree.PeakMemory() as mem:
                out, wall, ckpt = bench.resolve()
        except Exception:
            traceback.print_exc()
            failed += 1
            continue
        shutil.rmtree(ckpt)
        problems = bench.resolve_problems(out)
        if checks.row_hash(out, RESOLVED_KEY) != bench.base_hash:
            problems.append("resolve output differs from the warm-up's on the same input")
        if problems:
            print("\n".join(problems), file=sys.stderr)
            failed += 1
            continue
        ops.append(dict(wall=wall, mem=mem.peak_mb, docs=len(out), out=out))
    if not ops:
        raise RuntimeError("no resolve call succeeded")
    out = ops[-1]["out"]
    entity = out["doc_id"].map(bench.inputs.truth.set_index("doc_id")["entity_id"])
    docs = sum(o["docs"] for o in ops)
    return dict(
        attempted=len(ops) + failed,
        failed=failed,
        docs_per_s=docs / sum(o["wall"] for o in ops),
        op_p50_s=statistics.median(o["wall"] for o in ops),
        peak_rss_mb=max(o["mem"] for o in ops),
        pair_f1=checks.pair_f1(out["cluster"], entity),
        assign_accuracy=checks.doc_accuracy(out["cluster"], entity),
    )


def timed_stream(bench: Bench, root: str) -> dict:
    with proctree.PeakMemory() as mem:
        wall, progress, out = bench.stream_timed(root)
    timed = bench.assign_problems(out)[1:]
    for p in sum(timed, []):
        print(p, file=sys.stderr)
    docs = sum(len(ids) for ids in bench.inputs.batch_doc_ids[1:])
    entity = bench.inputs.truth[["doc_id", "entity_id"]]
    clusters = pd.concat([bench.base_out[["doc_id", "cluster"]], out[["doc_id", "cluster"]]])
    clusters = clusters.merge(entity, on="doc_id")
    return dict(
        attempted=len(timed),
        failed=sum(1 for p in timed if p),
        docs_per_s=docs / wall,
        op_p50_s=statistics.median(p["durationMs"]["triggerExecution"] / 1000 for p in progress),
        peak_rss_mb=mem.peak_mb,
        pair_f1=checks.pair_f1(clusters["cluster"], clusters["entity_id"]),
        assign_accuracy=checks.assign_accuracy(out, bench.inputs.truth, bench.base_out),
    )


def traced(bench: Bench, run_id: str, spans_path: str) -> dict:
    """One traced resolve call, whose row set must equal that of the
    untraced set-up call on the same input, then the timed stream batches
    with their progress reports and Spark metrics. The traced call is a
    process's second resolve, as the timed call of ``resolve_small`` is, so
    tracing overhead is this wall minus that workload's ``op_p50_s``. The
    stream is traced passively (nothing in it is wrapped), so it runs
    exactly as in a timed run."""
    from sparkstats import StatusStore

    stats = StatusStore(bench.spark)
    tracer = Tracer(bench.spark, run_id)

    after = stats.last_execution_id()
    cpu0 = proctree.cpu_seconds()
    with tracer.patched(), tracer.span("resolve"):
        out, wall, ckpt = bench.resolve()
    resolve_cpu = proctree.cpu_seconds() - cpu0
    checkpoint_bytes = _dir_bytes(ckpt)
    shutil.rmtree(ckpt)
    tracer.add_spark_metrics(stats, after)
    problems = [bench.resolve_problems(out)]
    if checks.row_hash(out, RESOLVED_KEY) != bench.base_hash:
        problems[0].append("traced resolve output differs from the untraced one")

    root = bench.stream_warm()
    cpu0 = proctree.cpu_seconds()
    with tracer.span("streaming") as streaming:
        _, progress, assigned = bench.stream_timed(root)
    stream_cpu = proctree.cpu_seconds() - cpu0
    batch_rows = assigned.groupby("batch_id").size().to_dict()
    batches = stream_batch_spans(tracer, streaming["id"], progress, stats, batch_rows)
    problems += bench.assign_problems(assigned)[1:]
    tracer.write(spans_path)
    for p in sum(problems, []):
        print(p, file=sys.stderr)

    spans = tracer.by_name()
    docs = len(bench.inputs.base)
    m = {f"{s}.{k}": spans[s][k] for s in RESOLVE_SPANS for k in SPAN_METRICS}
    for op in HYGIENE_OPS:
        m[f"hygiene.{op}.wall_s"] = spans[f"hygiene.{op}"]["wall_s"]
        m[f"hygiene.{op}.jobs"] = spans[f"hygiene.{op}"]["jobs"]
    m["hygiene.self_s"] = spans["hygiene"]["self_s"]
    m["blocking.pairs_per_doc"] = spans["blocking"]["rows_out"] / docs
    m["scoring.exact_share"] = spans["scoring"]["rows_out"] / spans["blocking"]["rows_out"]
    m["resolve.jobs_total"] = spans["resolve"]["jobs"]
    m["checkpoint.bytes_per_doc"] = checkpoint_bytes / docs
    m.update({name: median_of(batches, key) for name, key in STREAM_METRICS.items()})
    m["resolve.wall_s"] = wall
    m["resolve.cpu_s_per_kdoc"] = resolve_cpu / (docs / 1000)
    timed_docs = sum(len(ids) for ids in bench.inputs.batch_doc_ids[1:])
    m["streaming.cpu_s_per_kdoc"] = stream_cpu / (timed_docs / 1000)
    return dict(attempted=len(problems), failed=sum(1 for p in problems if p), metrics=m)


def _stop(spark) -> None:
    """Stop Spark, end the JVM and reap every process the run started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 15
    while time.time() < deadline:
        rest = [p for p in proctree.tree_pids() if p != os.getpid()]
        if not rest:
            return
        if time.time() > deadline - 5:
            for pid in rest:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)


def main() -> int:
    t_start = time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "gpu_entity_resolver_spark", "__init__.py")):
        print(f"no gpu_entity_resolver_spark package under {ROOT}", file=sys.stderr)
        return 2
    # A terminated run still stops Spark and removes its scratch directory.
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(WORK, run_id)
    cpus = _launch_env(work, bool(args.trace))
    context = dict(
        workload=args.workload,
        seed=args.seed,
        nproc=cpus,
        loadavg=os.getloadavg(),
        probe_s=_probe_s(),
        driver_memory=DRIVER_MEMORY,
    )

    from gpu_entity_resolver_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=cpus)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        context["session_s"] = time.perf_counter() - t_start
        inputs = build_inputs(spark, work, args.seed, 1 + TIMED_BATCHES)
        context["inputs_s"] = time.perf_counter() - t_start - context["session_s"]
        bench = Bench(spark, inputs, work)
        bench.setup()
        if args.trace:
            context["setup_s"] = time.perf_counter() - t_start
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            spans_path = os.path.join(WORK, "traces", f"{run_id}.jsonl")
            result = traced(bench, run_id, spans_path)
            context["spans"] = os.path.relpath(spans_path, ROOT)
        else:
            root = bench.stream_warm() if args.workload == "assign_stream" else None
            context["setup_s"] = time.perf_counter() - t_start
            if root is None:
                metrics = timed_resolve(bench, args.seconds)
            else:
                metrics = timed_stream(bench, root)
            metrics["setup_s"] = context["setup_s"]
            result = dict(
                attempted=metrics.pop("attempted"), failed=metrics.pop("failed"), metrics=metrics
            )
        context["loadavg_end"] = os.getloadavg()
    finally:
        try:
            _stop(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"context": context}))
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {
                    k: {"value": float(v), "unit": unit_of(k)}
                    for k, v in result["metrics"].items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
