"""Per-layer metrics of a traced run, computed after the Spark session
stops (the event log is complete then). Every workload emits every
metric; a layer the workload does not run reads 0.

Layer names follow the package's modules. Build-stage wall times come
from the build manifests (``seconds`` per unit, summed over chunks —
the chunk pipelines overlap, so stage walls add up to more than the
build wall); task time, task counts, shuffle and output bytes come from
the event log, each SQL execution attributed to a stage by the index
subdirectory it writes.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

from tracing import EventLog, Tracer, op_sum_ms, task_totals

SLOTS = 4

# index subdirectory written -> build layer
BUILD_DIRS = {
    "segments": "index_build.tokenize",
    "doclen": "segments.doclen",
    "postings": "index_build.pack",
    "docs": "segments.docstore",
    "lexicon": "segments.lexicon",
    "postings_compact": "segments.compact",
}
# manifest unit prefix -> build layer (wall seconds)
BUILD_UNITS = {
    "stage0_convmap": "segments.convmap",
    "stage1_chunk_": "index_build.tokenize",
    "stage2_chunk_": "segments.doclen",
    "stage3_chunk_": "index_build.pack",
    "stage4_chunk_": "segments.docstore",
    "stage3_postings": "segments.lexicon",
    "stage5_compact": "segments.compact",
}

PER_LAYER: list[tuple[str, str]] = [
    ("session.start_s", "s"),
    ("setup.build_s", "s"),
    # build (ingest: median over timed builds; other workloads: the set-up build)
    ("segments.convmap.wall_s", "s"),
    ("index_build.tokenize.wall_s", "s"),
    ("index_build.tokenize.task_s", "s"),
    ("index_build.tokenize.tasks", "count"),
    ("segments.doclen.wall_s", "s"),
    ("segments.doclen.task_s", "s"),
    ("index_build.pack.wall_s", "s"),
    ("index_build.pack.task_s", "s"),
    ("index_build.pack.shuffle_bytes", "bytes"),
    ("segments.docstore.wall_s", "s"),
    ("segments.docstore.task_s", "s"),
    ("segments.docstore.bytes_written", "bytes"),
    ("segments.lexicon.wall_s", "s"),
    ("segments.lexicon.task_s", "s"),
    ("segments.compact.wall_s", "s"),
    ("segments.compact.task_s", "s"),
    ("segments.compact.bytes_rewritten", "bytes"),
    ("build.wall_s", "s"),
    ("build.task_s", "s"),
    ("build.jvm_cpu_s", "s"),
    ("build.python_cpu_s", "s"),
    ("build.tasks", "count"),
    ("build.slot_busy_frac", "frac"),
    ("build.unattributed_task_s", "s"),
    # query batch (median per batch)
    ("engine.batch.parse_normalize_s", "s"),
    ("engine.batch.lexicon_s", "s"),
    ("engine.batch.plan_s", "s"),
    ("engine.batch.kernel_collect_s", "s"),
    ("engine.batch.merge_s", "s"),
    ("engine.batch.id_resolution_s", "s"),
    ("engine.batch.assemble_s", "s"),
    ("wand.batch.tasks", "count"),
    ("wand.batch.task_s", "s"),
    ("wand.batch.task_max_s", "s"),
    ("wand.batch.python_cpu_s", "s"),
    ("wand.batch.shuffle_bytes", "bytes"),
    ("spark.jobs_per_batch", "count"),
    # interactive queries on a warm handle (mean per query)
    ("query.warm_p50_ms", "ms"),
    ("query_parser.parse_ms", "ms"),
    ("normalize.query_ms", "ms"),
    ("engine.lexicon_ms", "ms"),
    ("engine.block_fetch_ms", "ms"),
    ("engine.block_cache.hit_rate", "frac"),
    ("engine.block_cache.evictions", "count"),
    ("engine.block_cache.bytes", "bytes"),
    ("wand.kernel_ms", "ms"),
    ("codec.decode_ms", "ms"),
    ("wand.blocks_decoded_frac", "frac"),
    ("engine.id_resolution_ms", "ms"),
    ("spark.jobs_per_query", "count"),
    ("engine.path.driver_wand", "count"),
    ("engine.path.driver_kernel", "count"),
    ("engine.path.distributed", "count"),
    # first query on a fresh or reloaded handle (mean per cold query)
    ("engine.cold.lexicon_load_ms", "ms"),
    ("engine.cold.preload_ms", "ms"),
    ("engine.cold.convmap_load_ms", "ms"),
    # update cycles (median per cycle)
    ("incremental.add_documents_s", "s"),
    ("incremental.delete_documents_s", "s"),
    ("incremental.refresh_postings_s", "s"),
    ("engine.reload_s", "s"),
    ("incremental.refresh.write_amp", "ratio"),
    # the traced run's own operation median: against op_p50_ms of an
    # untraced run of the same seed it gives the tracing overhead
    ("trace.op_p50_ms", "ms"),
    ("trace.spans", "count"),
]


def _median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def _manifest_walls(index_dir: str) -> dict[str, float]:
    walls: dict[str, float] = {}
    for path in glob.glob(os.path.join(index_dir, "_manifests", "*.json")):
        unit = os.path.basename(path)[:-5]
        with open(path) as f:
            info = json.load(f)
        if unit == "build":
            walls["build"] = info["seconds_total"]
            continue
        for prefix, layer in BUILD_UNITS.items():
            if unit.startswith(prefix):
                walls[layer] = walls.get(layer, 0.0) + float(info.get("seconds", 0.0))
                break
    return walls


def build_layers(op, log: EventLog) -> dict[str, float]:
    index_dir = os.path.realpath(op.info["index_dir"])
    walls = _manifest_walls(index_dir)
    jobs = log.jobs_between(op.t0, op.t1)
    by_layer: dict[str, list] = {}
    for job in jobs:
        out = log.output_dir(job)
        layer = None
        if out is not None and os.path.realpath(out).startswith(index_dir + os.sep):
            top = os.path.relpath(os.path.realpath(out), index_dir).split(os.sep)[0]
            layer = BUILD_DIRS.get(top)
        by_layer.setdefault(layer, []).append(job)
    total = task_totals(jobs)
    m = {
        "build.wall_s": walls.get("build", op.seconds),
        "build.task_s": total["task_s"],
        "build.jvm_cpu_s": total["jvm_cpu_s"],
        "build.python_cpu_s": op.info.get("py_cpu_s", 0.0),
        "build.tasks": total["tasks"],
        "build.slot_busy_frac": total["task_s"] / (op.seconds * SLOTS),
    }
    attributed = 0.0
    for layer in set(BUILD_DIRS.values()) | set(BUILD_UNITS.values()):
        t = task_totals(by_layer.get(layer, []))
        attributed += t["task_s"]
        m[f"{layer}.wall_s"] = walls.get(layer, 0.0)
        m[f"{layer}.task_s"] = t["task_s"]
        m[f"{layer}.tasks"] = t["tasks"]
        m[f"{layer}.shuffle_bytes"] = t["shuffle_bytes"]
        m[f"{layer}.bytes_written"] = t["bytes_written"]
    m["segments.compact.bytes_rewritten"] = m["segments.compact.bytes_written"]
    m["build.unattributed_task_s"] = total["task_s"] - attributed
    return m


def per_layer(ctx, tracer: Tracer, log: EventLog, session_start_s: float) -> dict[str, float]:
    out = {name: 0.0 for name, _ in PER_LAYER}
    out["session.start_s"] = session_start_s
    out["setup.build_s"] = _median([o.seconds for o in ctx.ok_ops("setup_build")])

    builds = ctx.ok_ops("build") or ctx.ok_ops("setup_build")
    per_build = [build_layers(op, log) for op in builds]
    for name, _ in PER_LAYER:
        vals = [b[name] for b in per_build if name in b]
        if vals:
            out[name] = _median(vals)

    batches = ctx.ok_ops("batch", cold=False)
    if batches:
        def tim(*labels):
            return _median([sum(o.info["timings"].get(l, 0.0) for l in labels) for o in batches])

        out["engine.batch.parse_normalize_s"] = tim("parse_normalize", "tokens")
        out["engine.batch.lexicon_s"] = tim("lexicon")
        out["engine.batch.plan_s"] = tim("plan")
        out["engine.batch.kernel_collect_s"] = tim("kernel_and_collect")
        out["engine.batch.merge_s"] = tim("driver_merge", "distributed_merge")
        out["engine.batch.id_resolution_s"] = tim("id_resolution")
        out["engine.batch.assemble_s"] = tim("assemble")
        per_batch = [(o, log.jobs_in_group(f"op{o.op_id}")) for o in batches]
        totals = [task_totals(jobs) for _, jobs in per_batch]
        for key in ("tasks", "task_s", "task_max_s", "shuffle_bytes"):
            out[f"wand.batch.{key}"] = _median([t[key] for t in totals])
        out["wand.batch.python_cpu_s"] = _median([o.info.get("py_cpu_s", 0.0) for o in batches])
        out["spark.jobs_per_batch"] = _median([len(jobs) for _, jobs in per_batch])

    queries = [o for o in ctx.ops if o.kind == "query" and o.ok]
    warm = [o.op_id for o in queries if not o.cold]
    cold = [o.op_id for o in queries if o.cold]
    timed = {o.op_id for o in queries}
    if warm:
        out["query.warm_p50_ms"] = 1000.0 * _median([o.seconds for o in queries if not o.cold])
        for metric, span in (
            ("query_parser.parse_ms", "query_parser.parse"),
            ("normalize.query_ms", "normalize.query_terms"),
            ("engine.lexicon_ms", "engine.lexicon"),
            ("engine.block_fetch_ms", "engine.block_fetch"),
            ("wand.kernel_ms", "wand.kernel"),
            ("codec.decode_ms", "codec.decode"),
            ("engine.id_resolution_ms", "engine.id_resolution"),
        ):
            out[metric] = op_sum_ms(tracer, span, warm)
        fetches = [
            s for op, spans in tracer.by_op("engine.block_fetch").items() if op in timed for s in spans
        ]
        warm_set = set(warm)
        lookups = sum(s.attrs["lookups"] for s in fetches if s.op in warm_set)
        hits = sum(s.attrs["hits"] for s in fetches if s.op in warm_set)
        out["engine.block_cache.hit_rate"] = hits / lookups if lookups else 0.0
        out["engine.block_cache.evictions"] = sum(s.attrs.get("evictions", 0) for s in fetches)
        out["engine.block_cache.bytes"] = max((s.attrs.get("bytes", 0) for s in fetches), default=0)
        prunes = [o.info["prune"] for o in queries if o.info.get("prune")]
        total = sum(p["blocks_total"] for p in prunes)
        out["wand.blocks_decoded_frac"] = (
            sum(p["blocks_decoded"] for p in prunes) / total if total else 0.0
        )
        out["spark.jobs_per_query"] = statistics.mean(
            len(log.jobs_in_group(f"op{i}")) for i in warm
        )
    for path in ("driver_wand", "driver_kernel", "distributed"):
        out[f"engine.path.{path}"] = len(timed & set(tracer.by_op(f"engine.path.{path}")))
    for metric, span in (
        ("engine.cold.lexicon_load_ms", "engine.lexicon"),
        ("engine.cold.preload_ms", "engine.preload"),
        ("engine.cold.convmap_load_ms", "engine.id_resolution"),
    ):
        got = tracer.by_op(span)
        total_s = sum(
            s.end - s.start for op in cold for s in got.get(op, []) if s.attrs.get("cold")
        )
        out[metric] = 1000.0 * total_s / len(cold) if cold else 0.0

    cycles = ctx.ok_ops("cycle")
    if cycles:
        for metric, span in (
            ("incremental.add_documents_s", "incremental.add_documents"),
            ("incremental.delete_documents_s", "incremental.delete_documents"),
            ("incremental.refresh_postings_s", "incremental.refresh_postings"),
            ("engine.reload_s", "engine.reload"),
        ):
            out[metric] = _median([op_sum_ms(tracer, span, [o.op_id]) / 1000.0 for o in cycles])
        amps = []
        for o in cycles:
            sp = tracer.by_op("incremental.refresh_postings")[o.op_id][0]
            jobs = [
                j for j in log.jobs_in_group(f"op{o.op_id}")
                if sp.start * 1000.0 <= j.submitted_ms <= sp.end * 1000.0
            ]
            amps.append(task_totals(jobs)["bytes_written"] / o.info["added_text_bytes"])
        out["incremental.refresh.write_amp"] = _median(amps)

    out["trace.op_p50_ms"] = ctx.e2e.get("op_p50_ms", 0.0)
    out["trace.spans"] = len(tracer.spans)
    return out
