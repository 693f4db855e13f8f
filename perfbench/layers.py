"""Per-layer metrics of a traced run, from its spans, its Spark event
log and the kernel replay.  Names and the end-to-end metric each
should move are listed in README.md."""

from __future__ import annotations

import statistics

AGG_SPANS = ("plans.agg.build_sketch", "plans.agg.sketch_by_key", "streaming.accumulate.merge_batch_into")


def _subtree(spans: list[dict], root_id: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), [root_id]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(kids.get(sid, []))
    return out


def stages_under(spans: list[dict], stages: list[dict], root_id: int) -> list[dict]:
    ids = _subtree(spans, root_id)
    return [st for st in stages if st["span"] in ids]


def median0(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _dur(st: dict) -> float:
    return max(0.0, st["end"] - st["start"])


def spark_per_op(spans: list[dict], log: dict, cores: int) -> dict[str, float]:
    """Per-op medians of job/stage/task counts and task time; the op
    turn count is the ``turns`` attr of each op span."""
    stages = list(log["stages"].values())
    jobs = list(log["jobs"].values())
    rows = []
    for op in (s for s in spans if s["name"] == "op"):
        ids = _subtree(spans, op["id"])
        sts = [st for st in stages if st["span"] in ids]
        run = sum(sum(st["run_s"]) for st in sts)
        wall = op["end"] - op["start"]
        rows.append(
            {
                "spark.jobs_per_op": sum(1 for j in jobs if j["span"] in ids),
                "spark.stages_per_op": len(sts),
                "spark.tasks_per_op": sum(st["tasks"] for st in sts),
                "spark.task_run_s": run,
                "spark.task_cpu_s": sum(st["cpu_s"] for st in sts),
                "spark.gc_s": sum(st["gc_s"] for st in sts),
                "spark.scheduler_delay_s": sum(st["sched_delay_s"] for st in sts),
                "spark.idle_core_s": cores * wall - run,
                "sources.scan_rows": sum(st["input_rows"] for st in sts),
                # bytes the scan stages hand to the library's Python
                # kernels: what column pruning controls
                "sources.scan_bytes_per_turn": sum(st["python_in_bytes"] for st in sts if st["input_rows"] > 0)
                / op["attrs"]["turns"],
            }
        )
    return {k: median0([r[k] for r in rows]) for k in (rows[0] if rows else {})}


def agg_per_call(spans: list[dict], log: dict) -> tuple[dict[str, float], dict[str, float]]:
    """Per-call medians over every plans.agg / merge_batch_into call of
    the run (set-up calls included: screen_probe's only build is its
    prebuilt filter)."""
    stages = list(log["stages"].values())
    rows = []
    for call in (s for s in spans if s["name"] in AGG_SPANS):
        sts = stages_under(spans, stages, call["id"])
        scan = [st for st in sts if st["input_rows"] > 0]
        scan_s = sum(_dur(st) for st in scan)
        rows.append(
            {
                "agg.partial_stage_s": scan_s,
                "agg.merge_stage_s": max(0.0, call["end"] - call["start"] - scan_s),
                "agg.tasks": sum(st["tasks"] for st in sts),
                "agg.task_skew": max([_skew(st["run_s"]) for st in sts] or [1.0]),
                "agg.shuffle_write_bytes": sum(st["shuffle_write_bytes"] for st in sts),
                "agg.shuffle_read_bytes": sum(st["shuffle_read_bytes"] for st in sts),
                "agg.driver_result_bytes": sum(st["result_bytes"] for st in sts),
                "_spill_bytes": sum(st["spill_bytes"] for st in sts),
                "_shuffled_rows": sum(st["shuffle_write_rows"] for st in sts),
                "_input_rows": sum(st["input_rows"] for st in scan),
                "_salt_s": sum(_dur(st) for st in _salt_stages(sts)) if call["attrs"].get("salted") else None,
            }
        )
    keys = [k for k in (rows[0] if rows else {}) if not k.startswith("_")]
    out = {k: median0([r[k] for r in rows]) for k in keys}
    extras = {}
    shuffled = sum(r["_shuffled_rows"] for r in rows)
    scanned = sum(r["_input_rows"] for r in rows)
    if shuffled and scanned:
        extras["agg.grouped_rows_ratio"] = shuffled / scanned
    extras["agg.spill_bytes"] = median0([r["_spill_bytes"] for r in rows])
    salt = [r["_salt_s"] for r in rows if r["_salt_s"] is not None]
    if salt:
        extras["agg.salt_merge_s"] = median0(salt)
    return out, extras


def _skew(run_s: list[float]) -> float:
    """max / median task run time within one stage."""
    med = median0(run_s)
    return max(run_s) / med if med > 0 else 1.0


def _salt_stages(sts: list[dict]) -> list[dict]:
    """Shuffle-reading stages of a salted call except the last: the
    extra groupBy(keys, salt) merge before the final per-key merge."""
    shuffled = sorted((st for st in sts if st["shuffle_read_bytes"] > 0), key=lambda st: st["stage"])
    return shuffled[:-1]


def span_medians(spans: list[dict], name: str) -> float:
    return median0([s["end"] - s["start"] for s in spans if s["name"] == name])
