"""The four closed-loop workloads.

Each workload has
- ``prepare()``: open the inputs; repeated and timed by the runner;
- ``prebuild()``: build the sketch the ops read, if any; timed once;
- ``reference()``: driver-local expected results for the gates (pyarrow
  + the library's single-process kernels), untimed;
- ``op(i)``: one call into the library's public entry point plus the
  action that forces it; timed;
- ``check(i, out)``: the correctness gates of that op, untimed; returns
  the names of the gates that failed;
- ``finish()``: gates over the whole run, untimed.

Sketch factories are ``functools.partial`` objects over library
classes so executors unpickle them by reference from the shipped
package (this module is not importable on executors).
"""

from __future__ import annotations

import math
from functools import partial
from operator import methodcaller
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from btl_bloomfilter_spark.functions.hashing import arrow_utf8_buffers, hash_ngrams_from_buffers
from btl_bloomfilter_spark.functions.probe import with_probe_columns
from btl_bloomfilter_spark.operators.bloom import BloomFilter
from btl_bloomfilter_spark.operators.counting import CountMinSketch
from btl_bloomfilter_spark.operators.hll import HyperLogLog
from btl_bloomfilter_spark.operators.kll import KLL
from btl_bloomfilter_spark.operators.tdigest import TDigest
from btl_bloomfilter_spark.operators.topk import mg_topk
from btl_bloomfilter_spark.plans.agg import build_sketch, sketch_by_key
from btl_bloomfilter_spark.streaming.accumulate import load_running, merge_batch_into

import gen

BLOOM_M, BLOOM_H, BLOOM_K = 1 << 26, 3, 12
make_bloom = partial(BloomFilter, BLOOM_M, BLOOM_H, BLOOM_K)
HLL_P = 12
make_hll = partial(HyperLogLog, HLL_P)
KLL_K = 200
KLL_EPS = 2.2 / KLL_K + 0.005  # the KLL rank-error bound the library's own tests assert
make_kll = partial(KLL, KLL_K, seed=7)
QS = [0.1, 0.5, 0.9, 0.99]
TDIGEST_DELTA = 200.0
TDIGEST_EPS = 0.005  # rank error allowed at q = 0.99
make_tdigest = partial(TDigest, TDIGEST_DELTA)
CMS_EPS, CMS_DELTA = 0.001, 0.01
make_cms = partial(CountMinSketch.from_error, CMS_EPS, CMS_DELTA)
TOPK = 16
SALT = 4
REPLAY_BATCHES = 16  # incremental_ingest batches the traced run replays
SPARK_SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def fpr_bound(n_inserted: int, m: int, h: int, n_probes: int) -> tuple[float, float]:
    """(theoretical FPR (1-(1-1/m)^(n h))^h, that bound plus 4-sigma
    binomial slack over n_probes independent probes)."""
    p = (1.0 - (1.0 - 1.0 / m) ** (n_inserted * h)) ** h
    return p, p + 4.0 * math.sqrt(p * (1.0 - p) / max(1, n_probes)) + 1e-12


def rank_interval(sorted_vals: np.ndarray, v: float) -> tuple[float, float]:
    """[fraction < v, fraction <= v] of an exact sorted sample."""
    n = sorted_vals.size
    lo = np.searchsorted(sorted_vals, v, side="left") / n
    hi = np.searchsorted(sorted_vals, v, side="right") / n
    return float(lo), float(hi)


def rank_error(sorted_vals: np.ndarray, v: float, q: float, neighbours: bool = False) -> float:
    """Distance from q to the exact rank interval of v.  KLL returns data
    values, so its answer is checked alone.  With ``neighbours`` (for
    t-digest, which interpolates between data values) v may also take
    the rank of the data value on either side of it."""
    i = int(np.searchsorted(sorted_vals, v))
    cands = [v]
    if neighbours:
        cands += [float(sorted_vals[j]) for j in (i - 1, i) if 0 <= j < sorted_vals.size]
    best = 1.0
    for c in cands:
        lo, hi = rank_interval(sorted_vals, c)
        best = min(best, 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi)))
    return best


def distinct_windows(texts: list[pa.Array]) -> int:
    """Number of distinct BLOOM_K-byte windows over the texts (distinct
    64-bit window hashes; a collision is vanishingly rare at this size)."""
    seeds = make_bloom()._seeds
    hashes = []
    for arr in texts:
        buf, off, _ = arrow_utf8_buffers(arr)
        h, _ = hash_ngrams_from_buffers(buf, off, BLOOM_K, 1, seeds=seeds)
        hashes.append(h[:, 0])
    return int(np.unique(np.concatenate(hashes)).size) if hashes else 0


def local_bloom(texts: list[pa.Array]) -> BloomFilter:
    bf = make_bloom()
    for arr in texts:
        bf.update_arrow(arr)
    return bf


class Workload:
    name = ""

    def __init__(self, run):
        self.run = run  # runner context: spark, tracer, inputs, work dir
        self.spark = run.spark
        self.tr = run.tracer
        self.root: Path = run.input_root
        self.turns = run.manifest["turns"]
        self.stats: dict[str, float] = {}  # gate-side numbers for the report

    def read(self, path: Path):
        with self.tr.span("sources.read_parquet", path=path.name):
            return self.spark.read.schema(SPARK_SCHEMA).parquet(str(path))

    def local_table(self, sub: str, columns: list[str]) -> pa.Table:
        return pq.read_table(self.root / sub, columns=columns)

    def prepare(self) -> None: ...

    def prebuild(self) -> None: ...

    def reference(self) -> None: ...

    def op(self, i: int): ...

    def op_turns(self, i: int) -> int:
        return self.turns

    def check(self, i: int, out) -> list[str]:
        return []

    def finish(self) -> list[str]:
        return []

    def max_ops(self) -> int | None:
        return None

    def probed_sketch(self):
        return None

    def replay_inputs(self) -> list[Path]:
        """Parquet files this workload's sketches are built from, for the replay."""
        return sorted((self.root / "corpus").glob("*.parquet"))

    def probe_inputs(self) -> list[Path]:
        """Parquet files the replay probes against the replay's filter."""
        return self.replay_inputs()


class BloomBuild(Workload):
    name = "bloom_build"

    def prepare(self):
        self.df = self.read(self.root / "corpus")

    def reference(self):
        text = self.local_table("corpus", ["text"]).column("text")
        self.ref = local_bloom(text.chunks)
        self.stats["fill"] = self.ref.pop() / BLOOM_M

    def op(self, i):
        with self.tr.span("plans.agg.build_sketch", sketch="BloomFilter"):
            return build_sketch(self.df, "text", make_bloom)

    def check(self, i, bf):
        bad = []
        if not np.array_equal(bf.bits, self.ref.bits):
            bad.append("bloom_bits_equal_local_build")
        if (bf.n_entry, bf.t_entry) != (self.ref.n_entry, self.turns):
            bad.append("bloom_counts")
        return bad


class ScreenProbe(Workload):
    name = "screen_probe"

    def prepare(self):
        self.corpus = self.read(self.root / "corpus")
        self.q = self.corpus.unionByName(self.read(self.root / "negatives"))

    def prebuild(self):
        with self.tr.span("plans.agg.build_sketch", sketch="BloomFilter"):
            self.bf = build_sketch(self.corpus, "text", make_bloom)

    def reference(self):
        text = self.local_table("corpus", ["text"]).column("text")
        ref = local_bloom(text.chunks)
        self.setup_ok = np.array_equal(ref.bits, self.bf.bits)
        pos = np.concatenate([self.bf.seen_fraction_arrow(a) for a in text.chunks])
        neg_text = self.local_table("negatives", ["text"]).column("text")
        neg = np.concatenate([self.bf.seen_fraction_arrow(a) for a in neg_text.chunks])
        self.n_neg = neg.size
        self.exp_min_pos = float(pos.min())
        self.exp_neg_sum = float(neg.sum())
        # n = distinct inserted windows: a repeated window sets no new bits
        n_distinct = distinct_windows(text.chunks)
        self.fpr_p, self.fpr_gate = fpr_bound(n_distinct, BLOOM_M, BLOOM_H, self.n_neg)
        self.stats.update(fpr_bound=self.fpr_p, fpr_gate=self.fpr_gate, fpr_local=float(neg.mean()))

    def op_turns(self, i):
        return 2 * self.turns

    def op(self, i):
        with self.tr.span("functions.probe.with_probe_columns"):
            probed = with_probe_columns(self.q, self.bf, "text", frac_col="f", keep=["conv_id"])
        neg = F.col("conv_id").startswith("zzng-")
        with self.tr.span("action.aggregate"):
            return probed.agg(
                F.min(F.when(~neg, F.col("f"))).alias("min_pos"),
                F.sum(F.when(neg, F.col("f"))).alias("neg_sum"),
                F.count(F.lit(1)).alias("rows"),
            ).collect()[0]

    def check(self, i, row):
        bad = []
        if not self.setup_ok:
            bad.append("prebuilt_bits_equal_local_build")
        if row["min_pos"] != 1.0 or self.exp_min_pos != 1.0:
            bad.append("no_false_negatives")
        if row["rows"] != self.turns + self.n_neg:
            bad.append("row_count")
        if abs(row["neg_sum"] - self.exp_neg_sum) > 1e-6 * max(1.0, self.exp_neg_sum):
            bad.append("probe_equals_local_probe")
        fpr = row["neg_sum"] / self.n_neg
        self.stats["fpr_observed"] = fpr
        if fpr > self.fpr_gate:
            bad.append("fpr_within_bound")
        return bad

    def probed_sketch(self):
        return self.bf

    def probe_inputs(self):
        return super().replay_inputs() + sorted((self.root / "negatives").glob("*.parquet"))


class GroupedSketches(Workload):
    name = "grouped_sketches"

    def prepare(self):
        df = self.read(self.root / "corpus")
        self.df = df.withColumn("prefix", F.substring("conv_id", 1, 4)).withColumn(
            "n_tok", F.size(F.split("text", " ")).cast("double")
        )

    def reference(self):
        t = self.local_table("corpus", ["conv_id", "role", "text", "tool"])
        roles = t.column("role").to_numpy(zero_copy_only=False)
        convs = t.column("conv_id").to_numpy(zero_copy_only=False)
        prefixes = np.array([c[:4] for c in convs], dtype=object)
        n_tok = pc.add(pc.count_substring(t.column("text"), " "), 1).to_numpy().astype(np.float64)
        self.exact_role = {r: len(set(convs[roles == r])) for r in set(roles)}
        self.exact_prefix = {p: len(set(convs[prefixes == p])) for p in set(prefixes)}
        self.tok_by_role = {r: np.sort(n_tok[roles == r]) for r in set(roles)}
        self.tok_sorted = np.sort(n_tok)
        tools = [x for x in t.column("tool").to_pylist() if x is not None]
        self.tool_counts: dict[str, int] = {}
        for x in tools:
            self.tool_counts[x] = self.tool_counts.get(x, 0) + 1
        self.n_tools = len(tools)
        self.hll_tol = 3 * 1.04 / math.sqrt(1 << HLL_P)

    def op(self, i):
        df = self.df
        out = {}
        with self.tr.span("plans.agg.sketch_by_key", sketch="HyperLogLog", key="role"):
            out["hll_role"] = sketch_by_key(df, ["role"], "conv_id", make_hll, HyperLogLog.estimate).collect()
        with self.tr.span("plans.agg.sketch_by_key", sketch="HyperLogLog", key="prefix", salted=True):
            out["hll_prefix"] = sketch_by_key(
                df, ["prefix"], "conv_id", make_hll, HyperLogLog.estimate, salt_partitions=SALT
            ).collect()
        with self.tr.span("plans.agg.sketch_by_key", sketch="KLL", key="role"):
            out["kll_role"] = sketch_by_key(
                df, ["role"], "n_tok", make_kll, methodcaller("quantiles", QS), out_type="array<double>"
            ).collect()
        with self.tr.span("plans.agg.build_sketch", sketch="TDigest"):
            out["tdigest"] = build_sketch(df, "n_tok", make_tdigest).quantile(0.99)
        with self.tr.span("plans.agg.build_sketch", sketch="CountMinSketch"):
            out["cms"] = build_sketch(df.where(F.col("tool").isNotNull()), "tool", make_cms)
        with self.tr.span("operators.topk.mg_topk"):
            out["topk"] = mg_topk(df, "tool", TOPK)
        return out

    def check(self, i, out):
        bad = []
        errs = []
        for rows, exact, key in ((out["hll_role"], self.exact_role, "role"), (out["hll_prefix"], self.exact_prefix, "prefix")):
            got = {r[key]: r["estimate"] for r in rows}
            if set(got) != set(exact):
                bad.append(f"hll_{key}_keys")
                continue
            errs += [abs(got[k] - exact[k]) / exact[k] for k in exact]
        self.stats["hll_rel_err"] = max(errs) if errs else float("nan")
        if not errs or max(errs) > self.hll_tol:
            bad.append("hll_within_3x1.04/sqrt(m)")
        kerr = [
            rank_error(self.tok_by_role[r["role"]], v, q)
            for r in out["kll_role"]
            for v, q in zip(r["estimate"], QS)
        ]
        self.stats["kll_rank_err"] = max(kerr) if kerr else float("nan")
        if len(out["kll_role"]) != len(self.tok_by_role) or max(kerr) > KLL_EPS:
            bad.append("kll_rank_within_bound")
        terr = rank_error(self.tok_sorted, out["tdigest"], 0.99, neighbours=True)
        exact99 = float(np.quantile(self.tok_sorted, 0.99))
        self.stats["tdigest_q99_rel_err"] = abs(out["tdigest"] - exact99) / exact99
        if terr > TDIGEST_EPS:
            bad.append("tdigest_rank_within_bound")
        cms = out["cms"]
        names = list(self.tool_counts)
        over = cms.estimate_batch(names) - np.array([self.tool_counts[n] for n in names], dtype=np.float64)
        self.stats["cms_overestimate_max"] = float(over.max())
        if over.min() < 0 or over.max() > CMS_EPS * cms.n_entry or cms.n_entry != self.n_tools:
            bad.append("cms_overestimate_within_eps_n")
        mg = out["topk"]
        self.stats["topk_err_bound"] = float(mg.err_bound)
        for name, true in self.tool_counts.items():
            est = mg.estimate(name)
            if not (est <= true <= est + mg.err_bound) or (true > mg.err_bound and name not in mg.counts):
                bad.append("topk_within_n/(k+1)")
                break
        return bad


class IncrementalIngest(Workload):
    name = "incremental_ingest"

    def prepare(self):
        self.state = self.run.run_dir / "ingest.state"
        self.state.unlink(missing_ok=True)
        self.paths = gen.batch_paths(self.root, self.run.manifest["n_batches"])
        self.running = make_bloom()  # empty before the first batch

    def reference(self):
        self.batch_text = [pq.read_table(p, columns=["text"]).column("text") for p in self.paths]
        self.ref = make_bloom()
        self.consumed = 0

    def op_turns(self, i):
        return self.run.manifest["batch_turns"]

    def max_ops(self):
        return len(self.paths) - 1

    def op(self, i):
        batch = self.read(self.paths[i])  # a micro-batch arrives
        with self.tr.span("functions.probe.with_probe_columns"):
            probed = with_probe_columns(batch, self.running, "text", frac_col="f", keep=[])
        with self.tr.span("action.aggregate"):
            row = probed.agg(F.sum("f").alias("s"), F.count(F.lit(1)).alias("n")).collect()[0]
        with self.tr.span("streaming.accumulate.merge_batch_into"):
            self.running = merge_batch_into(self.state, batch, "text", make_bloom, batch_id=i)
        return row

    def check(self, i, row):
        bad = []
        text = self.batch_text[i]
        exp = float(sum(self.ref.seen_fraction_arrow(a).sum() for a in text.chunks))
        if row["n"] != len(text) or abs(row["s"] - exp) > 1e-6 * max(1.0, exp):
            bad.append("probe_equals_local_probe")
        for a in text.chunks:
            self.ref.update_arrow(a)
        self.consumed = i + 1
        if not np.array_equal(self.running.bits, self.ref.bits):
            bad.append("running_bits_equal_local")
        return bad

    def finish(self):
        with self.tr.span("streaming.accumulate.load_running"):
            final = load_running(self.state)
        oneshot = local_bloom([c for t in self.batch_text[: self.consumed] for c in t.chunks])
        self.stats["state_bytes"] = self.state.stat().st_size
        if not np.array_equal(final.bits, oneshot.bits):
            return ["running_filter_equals_one_shot_build"]
        return []

    def probed_sketch(self):
        return self.running

    def replay_inputs(self):
        # a fixed set of batches, however many the timed ops got through,
        # so the replayed totals do not depend on the speed of the run
        return self.paths[:REPLAY_BATCHES]


WORKLOADS = {w.name: w for w in (BloomBuild, ScreenProbe, GroupedSketches, IncrementalIngest)}
