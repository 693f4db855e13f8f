"""Benchmark of the sketch library: four closed-loop, single-client
workloads on ``local[nproc]``.

    python3 perfbench/run.py --workload bloom_build --seed 1 --seconds 8 --trace 0

Run from the root of a source tree.  It writes its inputs, Spark
scratch space and results under ``.bench_work/`` there.  With
``--trace 0`` it prints every end-to-end metric; with ``--trace 1`` it
first repeats the untraced measurement, then restarts Spark with the
event log on, records spans around every public call, replays the
kernel layers in one process and prints the per-layer metrics and the
tracing overhead.  The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.

See perfbench/README.md for the metrics and the workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"

N_TURNS = 4096  # ~500 conversations, ~3.8 MB of text
PARTS = 8  # input files = scan partitions
BATCH_TURNS = 128  # incremental_ingest micro-batch size: 32 batches
PREPARE_REPS = 3  # input-open repetitions; setup_s takes their median
MIN_OPS = 2  # ops measured even past --seconds
DRIVER_MEMORY = "2g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(msg, flush=True)


def warn(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Run:
    """State of one run: session, tracer, inputs, scratch directory."""

    def __init__(self, args, manifest, input_root: Path, run_dir: Path):
        self.args = args
        self.manifest = manifest
        self.input_root = input_root
        self.run_dir = run_dir
        self.cores = os.cpu_count() or 1
        self.spark = None
        self.tracer = None

    def start_session(self, traced: bool) -> float:
        from btl_bloomfilter_spark.session import get_spark

        conf = {
            "spark.ui.enabled": "false",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": str(self.run_dir / "spark-local"),
            # no /tmp/hsperfdata_<user> file: all writes stay in the tree
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.run_dir / 'tmp'} -XX:-UsePerfData",
            # one scan partition per input file, whatever the file sizes
            "spark.sql.files.openCostInBytes": str(128 << 20),
            "spark.eventLog.enabled": str(traced).lower(),
        }
        if traced:
            evdir = self.run_dir / "eventlog"
            evdir.mkdir(parents=True, exist_ok=True)
            conf["spark.eventLog.dir"] = evdir.as_uri()
            conf["spark.eventLog.compress"] = "false"
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=f"local[{self.cores}]", shuffle_partitions=2 * self.cores, extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.catalog.clearCache()
            self.spark.stop()
            self.spark = None


def measure_phase(run: Run, wl_cls, traced: bool, rss) -> dict:
    """Start Spark, set up the workload, run ops for --seconds; returns
    the phase result (times, gates, set-up, per-op memory peaks)."""
    from spans import Tracer

    session_s = run.start_session(traced)
    run.tracer = Tracer(traced, run.spark.sparkContext if traced else None)
    if traced:
        t1 = time.time()
        run.tracer.add("session.get_spark", t1 - session_s, t1, None)
    wl = wl_cls(run)
    prep = []
    for r in range(PREPARE_REPS):
        t0 = time.perf_counter()
        with run.tracer.span("setup.prepare", rep=r):
            wl.prepare()
        prep.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    with run.tracer.span("setup.prebuild"):
        wl.prebuild()
    prebuild_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    with run.tracer.span("setup.reference"):
        wl.reference()
    ref_s = time.perf_counter() - t0

    failures: dict[str, int] = {}

    def one(i: int) -> tuple[float, int, bool]:
        rss.window()
        t0 = time.perf_counter()
        try:
            with run.tracer.span("op", i=i, turns=wl.op_turns(i)):
                out = wl.op(i)
            dt = time.perf_counter() - t0
            peak = rss.window()  # before the gates' own allocations
            bad = wl.check(i, out)
        except Exception:  # an op that raises is a failed op; keep measuring
            dt = time.perf_counter() - t0
            peak = rss.window()
            traceback.print_exc(file=sys.stderr)
            bad = ["raised"]
        for b in bad:
            failures[b] = failures.get(b, 0) + 1
        return dt, peak, not bad

    # warm-up: the first op, the cold one a user pays, counted in setup_s
    warm_s, _, warm_ok = one(0)
    times, ok, turns, op_peaks = [], [], 0, []
    max_ops = wl.max_ops()
    t_end = time.perf_counter() + run.args.seconds
    i = 1
    while (time.perf_counter() < t_end or len(times) < MIN_OPS) and (max_ops is None or i <= max_ops):
        dt, peak, good = one(i)
        op_peaks.append(peak)
        times.append(dt)
        ok.append(good)
        turns += wl.op_turns(i)
        i += 1
    with run.tracer.span("finish"):
        try:
            bad = wl.finish()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            bad = ["finish_raised"]
    for b in bad:
        failures[b] = failures.get(b, 0) + 1
    return {
        "wl": wl,
        "session_s": session_s,
        "prepare_s": prep,
        "reference_s": ref_s,
        "prebuild_s": prebuild_s,
        "warmup_s": warm_s,
        "setup_s": session_s + statistics.median(prep) + prebuild_s + warm_s,
        "times": times,
        "op_peaks": op_peaks,
        "ok": ok,
        "turns": turns,
        "failures": failures,
        "run_failed": bool(bad) or not warm_ok,
    }


def e2e_metrics(ph: dict) -> dict:
    import measure

    times = ph["times"]
    return {
        "setup_s": (ph["setup_s"], "s"),
        "turns_per_s": (ph["turns"] / sum(times), "turns/s"),
        "op_ms_p50": (1e3 * measure.median(times), "ms"),
        "peak_rss_mb": (measure.median(ph["op_peaks"]) / 2**20, "MiB"),
    }


def report_phase(label: str, ph: dict) -> None:
    import measure

    times = ph["times"]
    log(f"[{label}] ops={len(times)} failed={ph['ok'].count(False)} turns={ph['turns']}")
    for k, (v, unit) in e2e_metrics(ph).items():
        log(f"[{label}] {k} = {v:.6g} {unit}")
    t = measure.tail(times)
    if t is None:
        log(f"[{label}] op_ms_tail = n/a ({len(times)} ops; needs > {measure.MIN_BEYOND})")
    else:
        log(f"[{label}] op_ms_tail = {1e3 * t[1]:.6g} ms (p{t[0]:.1f} of {len(times)} ops)")
    attempted = len(times) + 1
    failed = ph["ok"].count(False) + int(ph["run_failed"])
    log(f"[{label}] error_rate = {failed / attempted:.6g} ({failed}/{attempted} ops incl. warm-up and end gates)")
    log(
        f"[{label}] setup: session {ph['session_s']:.3f} s + prepare median "
        f"{statistics.median(ph['prepare_s']):.3f} s of {[round(x, 3) for x in ph['prepare_s']]} "
        f"+ prebuild {ph['prebuild_s']:.3f} s + warm-up op {ph['warmup_s']:.3f} s; gate references {ph['reference_s']:.3f} s (not in setup_s)"
    )
    parts = " + ".join(f"{k} {v / 2**20:.0f}" for k, v in sorted(ph["peak_parts"].items()))
    log(f"[{label}] memory: whole-run peak {ph['peak_rss'] / 2**20:.1f} MiB = {parts}")
    if ph["failures"]:
        log(f"[{label}] failed gates: {ph['failures']}")
    if ph["wl"].stats:
        log(f"[{label}] gate stats: " + json.dumps({k: round(v, 6) for k, v in ph["wl"].stats.items()}))


def traced_layers(run: Run, ph: dict, untraced: dict) -> tuple[dict, dict, list]:
    import layers
    import replay
    from spans import attach_spark_spans, read_event_logs

    wl = ph["wl"]
    evlog = read_event_logs(run.run_dir / "eventlog")
    attach_spark_spans(run.tracer, evlog)
    spans = run.tracer.with_self_times()
    per = {"session.start_s": untraced["session_s"]}
    per.update(layers.spark_per_op(spans, evlog, run.cores))
    agg, extras = layers.agg_per_call(spans, evlog)
    per.update(agg)
    t0 = time.perf_counter()
    rp = replay.replay(wl.replay_inputs(), wl.probe_inputs())
    replay_s = time.perf_counter() - t0
    for k in (
        "hashing.windows", "hashing.busy_s", "hashing.windows_per_s",
        "bloom.insert_busy_s", "bloom.bits_set", "bloom.fill", "bloom.blob_bytes",
        "bloom.slice_s", "bloom.merge_slice_s", "bloom.serialize_s", "bloom.deserialize_s",
        "bloom.probe_busy_s", "bloom.probe_hit_ratio",
        "hll.update_busy_s", "kll.update_busy_s", "tdigest.update_busy_s", "cms.update_busy_s",
        "hll.blob_bytes", "kll.blob_bytes", "tdigest.blob_bytes", "cms.blob_bytes",
    ):
        per[k] = rp[k]
    ut, tt = e2e_metrics(untraced), e2e_metrics(ph)
    per["trace.overhead_ratio"] = ut["turns_per_s"][0] / tt["turns_per_s"][0] - 1.0
    # layer metrics defined only on some workloads: reported, not gated
    probe_spans = [s for s in spans if s["name"] == "functions.probe.with_probe_columns"]
    if probe_spans:
        extras["probe.prepare_s"] = layers.median0([s["end"] - s["start"] for s in probe_spans])
        extras["probe.broadcast_bytes"] = len(wl.probed_sketch().serialize())
        extras["probe.worker_deserialize_s"] = rp["probe.deserialize_s"] * run.cores
    if any(s["name"] == "streaming.accumulate.merge_batch_into" for s in spans):
        extras["accumulate.merge_ms_p50"] = 1e3 * layers.span_medians(spans, "streaming.accumulate.merge_batch_into")
        probe_ms = [
            sum(c["end"] - c["start"] for c in spans if c["parent"] == op["id"] and c["name"] != "streaming.accumulate.merge_batch_into")
            for op in spans
            if op["name"] == "op"
        ]
        extras["accumulate.probe_ms_p50"] = 1e3 * layers.median0(probe_ms)
        extras["accumulate.state_bytes"] = wl.stats.get("state_bytes", 0)
        extras["accumulate.state_load_s"] = layers.span_medians(spans, "streaming.accumulate.load_running")
        merges = [s for s in spans if s["name"] == "streaming.accumulate.merge_batch_into"]
        stages = list(evlog["stages"].values())
        per_merge = [layers.stages_under(spans, stages, m["id"]) for m in merges]
        extras["accumulate.partials_per_batch"] = layers.median0(
            [sum(st["tasks"] for st in sts if st["input_rows"] > 0) for sts in per_merge]
        )
        extras["accumulate.collect_bytes"] = layers.median0([sum(st["result_bytes"] for st in sts) for sts in per_merge])
    per_op_extra = ("spark.gc_s", "spark.scheduler_delay_s")  # often exactly 0 at this size
    for k in per_op_extra:
        extras[k] = per.pop(k)
    for k in ("fpr_observed", "fpr_bound", "hll_rel_err", "kll_rank_err", "tdigest_q99_rel_err", "cms_overestimate_max", "topk_err_bound"):
        if k in wl.stats:
            name = {"fpr_observed": "bloom.fpr_observed", "fpr_bound": "bloom.fpr_bound"}.get(k, k.replace("_", ".", 1))
            extras[name] = wl.stats[k]
    for k in ("bloom.slice_bytes", "hll.merge_s", "kll.merge_s", "tdigest.merge_s", "cms.merge_s"):
        extras[k] = rp[k]
    extras["replay_s"] = replay_s
    return per, extras, spans


def span_summary(spans: list[dict]) -> list[str]:
    """One line per span name (Spark ids folded): count, total and self
    seconds; every span with its id, parent id and self time is in the
    result file."""
    agg: dict[str, list[float]] = {}
    for s in spans:
        name = ".".join(w for w in s["name"].split(".") if not w.isdigit())
        a = agg.setdefault(name, [0, 0.0, 0.0])
        a[0] += 1
        a[1] += s["end"] - s["start"]
        a[2] += s["self_s"]
    return [f"[span] {k} count={c} total_s={t:.4f} self_s={st:.4f}" for k, (c, t, st) in agg.items()]


def shutdown(run: Run) -> None:
    """Stop Spark, the JVM gateway and every process they started, and
    wait until each has ended."""
    import measure

    kids = measure.descendants(os.getpid())
    run.stop_session()
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close() if proc.stdin else None
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    left = measure.wait_gone(kids + measure.descendants(os.getpid()), 30)
    for p in left:
        try:
            os.kill(p, 9)
        except OSError:
            pass
    measure.wait_gone(left, 10)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and its workers (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # the program under test is the source tree this script sits in,
    # never an installed copy
    if not (ROOT / "btl_bloomfilter_spark" / "__init__.py").is_file():
        warn(f"no btl_bloomfilter_spark package under {ROOT}")
        return 2
    sys.path.insert(0, str(ROOT))
    import gen
    import measure
    import workloads as W

    if args.workload not in W.WORKLOADS:
        warn(f"unknown workload {args.workload!r}; choose from {sorted(W.WORKLOADS)}")
        return 2
    run_dir = WORK / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    # every temporary file of this process, the JVM and the workers
    # stays inside the run directory
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    tempfile.tempdir = str(run_dir / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")

    competing = measure.competing_processes()
    if competing:
        warn(f"other java/pytest processes are running; timings will be disturbed: {competing}")
    t0 = time.perf_counter()
    manifest = gen.materialize(WORK / "inputs", args.seed, N_TURNS, PARTS, BATCH_TURNS)
    gen_s = time.perf_counter() - t0
    import pyarrow
    import pyspark

    env = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "loadavg": list(os.getloadavg()),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "competing": competing,
        "input_digest": manifest["digest"],
        "input_turns": manifest["turns"],
        "input_reused": manifest["reused"],
        "input_gen_s": gen_s,
    }
    log("env " + json.dumps(env))

    run = Run(args, manifest, gen.input_dir(WORK / "inputs", manifest), run_dir)
    wl_cls = W.WORKLOADS[args.workload]
    result: dict = {"env": env}
    try:
        with measure.RssSampler() as rss:
            untraced = measure_phase(run, wl_cls, False, rss)
        untraced.update(peak_rss=rss.peak, peak_parts=rss.peak_parts)
        report_phase("untraced", untraced)
        phases = [untraced]
        if args.trace:
            # a fresh JVM, so both phases start equally cold
            shutdown(run)
            with measure.RssSampler() as rss:
                traced = measure_phase(run, wl_cls, True, rss)
            traced.update(peak_rss=rss.peak, peak_parts=rss.peak_parts)
            report_phase("traced", traced)
            phases.append(traced)
            per, extras, spans = traced_layers(run, traced, untraced)
            for k, v in per.items():
                log(f"[layer] {k} = {v:.6g}")
            for k, v in extras.items():
                log(f"[layer-extra] {k} = {v:.6g}")
            for line in span_summary(spans):
                log(line)
            result.update(per_layer=per, extras=extras, spans=spans)
    finally:
        shutdown(run)
    attempted = sum(len(p["times"]) + 1 for p in phases)
    failed = sum(p["ok"].count(False) + int(p["run_failed"]) for p in phases)
    if args.trace:
        units = {m["name"]: m["unit"] for m in json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]}
        if set(units) != set(per):
            raise RuntimeError(f"per-layer metrics differ from BENCHMARK.json: {sorted(set(units) ^ set(per))}")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in per.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e_metrics(untraced).items()}
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    result["result"] = out
    result["phases"] = [
        {k: v for k, v in p.items() if k not in ("wl",)} | {"stats": p["wl"].stats} for p in phases
    ]
    res_dir = WORK / "results"
    res_dir.mkdir(parents=True, exist_ok=True)
    (res_dir / f"{run_dir.name}.json").write_text(json.dumps(result, default=str))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
