"""Spans around the engine's layers, recorded from outside the package.

``Tracer.patched()`` wraps, for the duration of one traced call:

- ``CheckpointManager.stage``: one span per resolve stage, named after the
  module layer it runs (``normalize`` ... ``finalize``);
- the hygiene operators (and ``canonical_map`` when hygiene calls it): one
  child span each under ``hygiene``.

Each span runs its Spark jobs under its own job group, so Spark's job,
stage and SQL metrics can be summed per span afterwards. A hygiene
operator's lazy result is forced once inside its span (a ``noop`` write) so
that its work is charged to it; work the stage defers past its children
shows as the stage's self time. Spans stay in memory until ``write``.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict

STAGE_SPANS = {
    "01_normalized": "normalize",
    "02_pairs": "blocking",
    "03_scored": "scoring",
    "04_clusters": "connected_components",
    "04b_hygiene": "hygiene",
    "05_resolved": "finalize",
}
HYGIENE_OPS = (
    "attach_singletons",
    "canonical_map",
    "merge_similar_clusters",
    "consolidate_identical_entities",
    "split_clusters_by",
)


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, group: str | None, description: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description", description)

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "group": f"perfbench-{self.run_id}-{len(self.spans)}",
        }
        self.spans.append(rec)
        outer = self._stack[-1] if self._stack else None
        self._stack.append(rec)
        self._set_group(rec["group"], name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(outer and outer["group"], outer and outer["name"])

    @contextlib.contextmanager
    def untraced(self):
        """Bookkeeping jobs (row counts) go to a group no span owns."""
        outer = self._stack[-1] if self._stack else None
        self._set_group(f"perfbench-{self.run_id}-bookkeeping", None)
        try:
            yield
        finally:
            self._set_group(outer and outer["group"], outer and outer["name"])

    def _current(self) -> str | None:
        return self._stack[-1]["name"] if self._stack else None

    @contextlib.contextmanager
    def patched(self):
        from gpu_entity_resolver_spark.operators import hygiene
        from gpu_entity_resolver_spark.plans import resolve
        from gpu_entity_resolver_spark.sources.checkpoint import CheckpointManager

        stage = CheckpointManager.stage
        tracer = self

        def traced_stage(mgr, name, build):
            # Checkpoint mode: the stage returns its committed table, so its
            # work is already done inside the span.
            with tracer.span(STAGE_SPANS.get(name, name)) as rec:
                df = stage(mgr, name, build)
            with tracer.untraced():
                rec["rows_out"] = df.count()
            return df

        def traced_op(name, fn):
            def call(*args, **kwargs):
                if tracer._current() != "hygiene":
                    return fn(*args, **kwargs)
                with tracer.span(f"hygiene.{name}"):
                    out = fn(*args, **kwargs)
                    _force(out)
                return out

            return call

        saved = [(CheckpointManager, "stage", stage)]
        saved += [
            (mod, op, getattr(mod, op))
            for op in HYGIENE_OPS
            for mod in (hygiene, resolve)
            if hasattr(mod, op)
        ]
        try:
            CheckpointManager.stage = traced_stage
            for mod, op, fn in saved[1:]:
                setattr(mod, op, traced_op(op, fn))
            yield self
        finally:
            for mod, op, fn in saved:
                setattr(mod, op, fn)

    def add_spark_metrics(self, stats, after_execution: int) -> None:
        """Per span, inclusive of its children: jobs, tasks, executor CPU,
        shuffle write, spill and Python UDF time; plus wall and self time."""
        children = defaultdict(list)
        for rec in self.spans:
            if rec["parent"] is not None:
                children[rec["parent"]].append(rec["id"])
            rec["own_jobs"] = stats.job_ids(rec["group"])
        owner = {j: rec["id"] for rec in self.spans for j in rec["own_jobs"]}
        own_python = defaultdict(float)
        for jobs, seconds in stats.python_udf_s_by_execution(after_execution):
            span = owner.get(min(jobs)) if jobs else None
            if span is not None:
                own_python[span] += seconds

        def subtree(i):
            yield i
            for c in children[i]:
                yield from subtree(c)

        for rec in self.spans:
            ids = list(subtree(rec["id"]))
            jobs = sorted({j for i in ids for j in self.spans[i]["own_jobs"]})
            rec["wall_s"] = rec["end"] - rec["start"]
            rec["self_s"] = rec["wall_s"] - sum(
                self.spans[c]["end"] - self.spans[c]["start"] for c in children[rec["id"]]
            )
            rec["jobs"] = len(jobs)
            rec.update(stats.stage_totals(jobs))
            rec["python_udf_s"] = sum(own_python[i] for i in ids)

    def by_name(self) -> dict[str, dict]:
        return {rec["name"]: rec for rec in self.spans}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, default=str) + "\n")


def stream_batch_spans(
    tracer: Tracer, parent: int, progress: list, stats, batch_rows: dict
) -> list[dict]:
    """Spans and Spark metrics of a finished streaming query's micro-batches,
    as children of span ``parent``.

    Timing comes from the query's progress reports (``durationMs``); the
    jobs of batch N are those of the query's run-id group whose description
    ends in ``batch = N``. ``batch_rows`` maps batch id -> source rows in
    the batch's file, the base of the re-read ratio."""
    by_batch = defaultdict(list)
    for run_id in {str(p["runId"]) for p in progress}:
        for job in stats.job_ids(run_id):
            desc = (stats.job_description(job) or "").rstrip()
            if "batch = " in desc:
                by_batch[int(desc.rsplit("batch = ", 1)[1])].append(job)
    out = []
    for p in progress:
        d = p["durationMs"]
        start = _epoch(p["timestamp"])
        trigger = d.get("triggerExecution", 0) / 1000
        add = d.get("addBatch", 0) / 1000
        before_add = sum(
            d.get(k, 0) for k in ("latestOffset", "walCommit", "getBatch", "queryPlanning")
        ) / 1000
        batch = {
            "id": len(tracer.spans),
            "name": "streaming.batch",
            "parent": parent,
            "run_id": tracer.run_id,
            "batch_id": p["batchId"],
            "start": start,
            "end": start + trigger,
            "wall_s": trigger,
            "add_batch_s": add,
            "overhead_s": trigger - add,
            "jobs": len(by_batch[p["batchId"]]),
            "source_reads_per_row": p["numInputRows"] / batch_rows[p["batchId"]],
            **stats.stage_totals(by_batch[p["batchId"]]),
        }
        tracer.spans.append(batch)
        tracer.spans.append(
            {
                "id": len(tracer.spans),
                "name": "streaming.add_batch",
                "parent": batch["id"],
                "run_id": tracer.run_id,
                "start": start + before_add,
                "end": start + before_add + add,
                "wall_s": add,
            }
        )
        out.append(batch)
    return out


def _epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def median_of(recs: list[dict], key: str) -> float:
    return statistics.median(r[key] for r in recs)
