"""Per-layer metrics of the traced pass.

Every metric is reported for every workload; a layer a workload does not
exercise reads 0 there, which is the "stays flat" prediction made visible.
Each metric is computed per round of the workload (one warm ``run_daily``
call; one pass over the query battery; the stream with its measured erases
plus one serve) and reported as the median over rounds, so it does not grow
with the number of rounds a run fits into its seconds.
"""

from __future__ import annotations

import statistics

from spans import fold_event_log, uncovered_s

# name -> unit; the order is the order of BENCHMARK.json's per_layer list
UNITS = {
    "sources.csv_rows_read": "count",
    "sources.scans_per_row": "ratio",
    "sinks.rows_written": "count",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.write_s": "s",
    "kpis.shuffle_bytes": "bytes",
    "kpis.exec_s": "s",
    "operators.dedup_s": "s",
    "operators.text_s": "s",
    "operators.similarity_s": "s",
    "operators.retrieval_s": "s",
    "operators.multimodal_s": "s",
    "operators.kpis_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.tasks": "count",
    "exec.task_skew": "ratio",
    "exec.jobs": "count",
    "exec.stages": "count",
    "python.bytes_sent": "bytes",
    "plans.eager_jobs": "count",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.jobs_per_batch": "jobs/batch",
    "snapshots.commits": "count",
    "snapshots.commits_per_batch": "commits/batch",
    "snapshots.bytes_written": "bytes",
    "snapshots.data_dirs": "count",
    "snapshots.commits_per_erased_doc": "commits/doc",
    "snapshots.bytes_rewritten_per_erased_doc": "bytes/doc",
    "driver.uncovered_s": "s",
}


def _round_metrics(spans, stats, jobs, idx: list[int], res) -> dict[str, float]:
    m = dict.fromkeys(UNITS, 0.0)

    def tot(attr, which=idx):
        return sum(getattr(stats[i], attr) for i in which)

    m["exec.cpu_s"] = tot("cpu_s")
    m["exec.gc_s"] = tot("gc_s")
    m["exec.shuffle_write_bytes"] = tot("shuffle_write_bytes")
    m["exec.spill_bytes"] = tot("spill_bytes")
    m["exec.tasks"] = tot("tasks")
    m["exec.jobs"] = tot("jobs")
    m["exec.stages"] = tot("stages")
    m["exec.task_skew"] = max((stats[i].task_skew for i in idx), default=0.0)
    m["python.bytes_sent"] = tot("python_bytes_sent")
    top = [i for i in idx if spans[i].parent is None or spans[i].parent not in idx]
    m["driver.uncovered_s"] = sum(uncovered_s(spans[i], jobs) for i in top)

    daily = [i for i in idx if spans[i].name.startswith("daily.")]
    if daily:
        rows_in = sum(spans[i].attrs["input_rows"] for i in daily)
        m["sources.csv_rows_read"] = tot("records_read", daily)
        m["sources.scans_per_row"] = m["sources.csv_rows_read"] / rows_in
        m["sinks.rows_written"] = tot("records_written", daily)
        m["sinks.bytes_written"] = tot("bytes_written", daily)
        m["sinks.files_written"] = sum(spans[i].attrs["files_written"] for i in daily)
        m["sinks.write_s"] = tot("output_run_s", daily)
        m["kpis.shuffle_bytes"] = tot("shuffle_write_bytes", daily)
        m["kpis.exec_s"] = tot("run_s", daily) - m["sinks.write_s"]

    for i in idx:
        mod = spans[i].attrs.get("module")
        if mod:
            m[f"operators.{mod}_s"] += spans[i].wall_s
            if spans[i].name.startswith("plan:"):
                m["plans.eager_jobs"] += stats[i].jobs

    batches = [i for i in idx if spans[i].name == "stream.batch"]
    if batches:
        stream_jobs = tot("jobs", [i for i in idx if spans[i].name.startswith("stream")])
        m["streaming.batches"] = len(batches)
        m["streaming.batch_s"] = statistics.median(spans[i].wall_s for i in batches)
        m["streaming.jobs_per_batch"] = stream_jobs / len(batches)
        s = res.facts["stream"]
        m["snapshots.commits"] = s["commits"]
        m["snapshots.commits_per_batch"] = s["commits"] / len(batches)
        m["snapshots.bytes_written"] = s["bytes_written"]
        m["snapshots.data_dirs"] = s["data_dirs"]
        erased = sum(e["docs"] for e in res.facts["erase"])
        m["snapshots.commits_per_erased_doc"] = sum(e["commits"] for e in res.facts["erase"]) / erased
        m["snapshots.bytes_rewritten_per_erased_doc"] = sum(e["bytes_written"] for e in res.facts["erase"]) / erased
    return m


def per_layer(res, tracer, log_dir: str) -> dict[str, tuple[float, str]]:
    spans = tracer.spans
    stats, jobs = fold_event_log(log_dir, spans)
    per_round = [_round_metrics(spans, stats, jobs, idx, res) for idx in res.rounds]
    return {k: (statistics.median(r[k] for r in per_round) if per_round else 0.0, u)
            for k, u in UNITS.items()}
