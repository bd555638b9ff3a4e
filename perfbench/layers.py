"""Per-layer metrics of a traced run.

Build layers follow ``IndexBuild.run``'s returned ``stage_walls``: the
benchmark records when it called ``run``, and each stage's window starts
where the previous one ended. Serving layers come from each claim batch's
window, split by the physical operators its stages ran:

- kernel: the ``FlatMapCoGroupsInPandas`` stage (batch kernel, decode
  included);
- gather: the stages that scan segments (``InMemoryTableScan`` when cached,
  ``Scan parquet`` when not) and ship slices into the kernel's shuffle;
- claim tokenize, plan and decode are timed from outside (``claim_terms``
  materialized alone, the ``topk``/``query_wand`` call before its action,
  ``decode_slice`` alone over one batch's gathered slices).

Each build metric comes from the run's build; each serving metric is the
median over its batches.
"""

from __future__ import annotations

import os
import statistics

import eventlog

#: name -> (unit, better); the order is the order of the result line
PER_LAYER = {
    "tokenize.wall_s": ("s", "lower"),
    "tokenize.cpu_s": ("s", "lower"),
    "tokenize.shuffle_write_bytes": ("bytes", "lower"),
    "tokenize.spill_bytes": ("bytes", "lower"),
    "tokenize.postings_out": ("count", "lower"),
    "stats.wall_s": ("s", "lower"),
    "encode.wall_s": ("s", "lower"),
    "encode.cpu_s": ("s", "lower"),
    "encode.shuffle_read_bytes": ("bytes", "lower"),
    "encode.spill_bytes": ("bytes", "lower"),
    "encode.segment_bytes": ("bytes", "lower"),
    "encode.bucket_skew": ("ratio", "lower"),
    "build.gc_s": ("s", "lower"),
    "build.core_util": ("ratio", "higher"),
    "claim_tokenize.wall_s": ("s", "lower"),
    "plan.wall_s": ("s", "lower"),
    "scan.input_bytes": ("bytes", "lower"),
    "gather.wall_s": ("s", "lower"),
    "gather.shuffle_bytes": ("bytes", "lower"),
    "gather.fetch_wait_s": ("s", "lower"),
    "decode.postings_per_s": ("postings/s", "higher"),
    "kernel.wall_s": ("s", "lower"),
    "kernel.cpu_s": ("s", "lower"),
    "kernel.candidate_postings": ("count", "lower"),
    "kernel.dense_claims": ("count", "higher"),
    "kernel.cursor_claims": ("count", "lower"),
    "serve.kernel_gather_share": ("ratio", "lower"),
    "serve.gc_s": ("s", "lower"),
    "serve.core_util": ("ratio", "higher"),
    "host.steal_s": ("s", "lower"),
    "trace.op_p50_s": ("s", "lower"),
}

_STATS_STAGES = ("term_stats", "boundaries", "corpus_stats")


def build_layers(stages, tasks, op: dict, cores: int) -> dict:
    walls = op["props"]["stage_walls"]
    t0, t1 = op["t0"] * 1e3, op["t1"] * 1e3
    e_tok = t0 + walls["tokenize_postings"] * 1e3
    e_stats = e_tok + sum(walls.get(s, 0.0) for s in _STATS_STAGES) * 1e3
    tok = eventlog.totals(eventlog.in_window(tasks, t0, e_tok))
    enc = eventlog.totals(eventlog.in_window(tasks, e_stats, t1 + 1))
    everything = eventlog.totals(eventlog.in_window(tasks, t0, t1 + 1))
    return {
        "tokenize.wall_s": walls["tokenize_postings"],
        "tokenize.cpu_s": tok["cpu_s"],
        "tokenize.shuffle_write_bytes": tok["shuffle_write_bytes"],
        "tokenize.spill_bytes": tok["spill_bytes"],
        "tokenize.postings_out": tok["records_written"],
        "stats.wall_s": sum(walls.get(s, 0.0) for s in _STATS_STAGES),
        "encode.wall_s": walls["encode_commit"],
        "encode.cpu_s": enc["cpu_s"],
        "encode.shuffle_read_bytes": enc["shuffle_read_bytes"],
        "encode.spill_bytes": enc["spill_bytes"],
        "encode.segment_bytes": float(op["segment_bytes"]),
        "encode.bucket_skew": op["bucket_skew"],
        "build.gc_s": everything["gc_s"],
        "build.core_util": everything["run_s"] / (op["wall"] * cores),
    }


def serve_layers(stages, tasks, op: dict, cores: int) -> dict:
    window = eventlog.in_window(tasks, op["t0"] * 1e3, op["t1"] * 1e3 + 1)
    kernel = eventlog.stages_with(stages, window, "FlatMapCoGroupsInPandas")
    kernel_ids = {s.stage_id for s in kernel}
    k = eventlog.totals([t for t in window if t.stage_id in kernel_ids])
    gather = [
        s for scope in ("InMemoryTableScan", "Scan parquet")
        for s in eventlog.stages_with(stages, window, scope)
        if s.stage_id not in kernel_ids
    ]
    everything = eventlog.totals(window)
    kernel_s = sum(s.wall_s for s in kernel)
    gather_s = sum(s.wall_s for s in gather)
    return {
        "claim_tokenize.wall_s": op["claim_tokenize_s"],
        "plan.wall_s": op["plan_s"],
        "scan.input_bytes": everything["input_bytes"],
        "gather.wall_s": gather_s,
        "gather.shuffle_bytes": k["shuffle_read_bytes"],
        "gather.fetch_wait_s": k["fetch_wait_s"],
        "kernel.wall_s": kernel_s,
        "kernel.cpu_s": k["cpu_s"],
        "kernel.candidate_postings": float(op["candidate_postings"]),
        "kernel.dense_claims": float(op["dense_claims"]),
        "kernel.cursor_claims": float(op["cursor_claims"]),
        "serve.kernel_gather_share": (kernel_s + gather_s) / op["wall"],
        "serve.gc_s": everything["gc_s"],
        "serve.core_util": everything["run_s"] / (op["wall"] * cores),
    }


def per_layer(run, steal_s: float) -> dict:
    """Every PER_LAYER metric for a finished traced run (session stopped,
    so the event log is complete)."""
    logs = [os.path.join(run.event_dir, f) for f in os.listdir(run.event_dir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {run.event_dir}, found {len(logs)}")
    stages, tasks = eventlog.read_event_log(logs[0])
    builds = [o for o in run.ops if o["kind"] == "build" and o["ok"]]
    batches = [o for o in run.ops if o["kind"] == "batch" and o["ok"]]
    rows = [build_layers(stages, tasks, b, run.cores) for b in builds]
    rows += [serve_layers(stages, tasks, o, run.cores) for o in batches]
    vals = {
        "decode.postings_per_s": statistics.median(run.decode_rates) if run.decode_rates else 0.0,
        "host.steal_s": steal_s,
        "trace.op_p50_s": statistics.median(o["wall"] for o in batches),
    }
    for name in PER_LAYER:
        if name not in vals:
            vals[name] = float(statistics.median(r[name] for r in rows if name in r))
    return {name: {"value": vals[name], "unit": PER_LAYER[name][0]} for name in PER_LAYER}
