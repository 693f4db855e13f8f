"""Single-process replay of the kernel layers that run inside Python
workers, where the driver cannot wrap them.

The replay reads the same parquet files a workload's ops read, in
Arrow batches of the size Spark hands to ``mapInArrow``
(``spark.sql.execution.arrow.maxRecordsPerBatch``), builds one partial
per file as a Spark task would for one partition, and times the
library's public kernel functions.  Every kernel layer is replayed on
every workload's input, so a kernel's cost can be compared across
inputs; which workload's end-to-end numbers a kernel should move is
in README.md.  Each pass runs ``reps`` times and every time is the
median over the passes.
"""

from __future__ import annotations

import statistics
import time
from pathlib import Path

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from btl_bloomfilter_spark.functions.hashing import arrow_utf8_buffers, hash_ngrams_from_buffers
from btl_bloomfilter_spark.operators.base import Sketch
from btl_bloomfilter_spark.operators.bloom import BloomFilter

import workloads as W

ARROW_BATCH = 10_000
N_SLICES = 16  # plans.agg's slice count on local[4]: max(16, min(256, 2 * cores))


class _Clock:
    def __init__(self):
        self.t: dict[str, float] = {}

    def add(self, key: str, t0: float) -> None:
        self.t[key] = self.t.get(key, 0.0) + time.perf_counter() - t0


def _files(paths: list[Path]) -> list[list]:
    cols = ["conv_id", "text", "tool"]
    return [list(pq.ParquetFile(p).iter_batches(batch_size=ARROW_BATCH, columns=cols)) for p in paths]


def _one_pass(files: list[list], probe_files: list[list]) -> tuple[dict[str, float], dict[str, float]]:
    clk = _Clock()
    counts: dict[str, float] = {}
    seeds = W.make_bloom()._seeds

    # hashing: the rolling n-gram kernel alone
    windows = 0
    t0 = time.perf_counter()
    for batches in files:
        for rb in batches:
            buf, off, _ = arrow_utf8_buffers(rb.column(1))
            _, rows = hash_ngrams_from_buffers(buf, off, W.BLOOM_K, 1, seeds=seeds)
            windows += rows.size
    clk.add("hashing.busy_s", t0)
    counts["hashing.windows"] = windows

    # bloom build side: one partial per file, sliced, merged per slice
    partials, blobs = [], []
    for batches in files:
        bf = W.make_bloom()
        t0 = time.perf_counter()
        for rb in batches:
            bf.update_arrow(rb.column(1))
        clk.add("bloom.insert_busy_s", t0)
        t0 = time.perf_counter()
        partials.append(bf.state_slices(N_SLICES))
        clk.add("bloom.slice_s", t0)
        t0 = time.perf_counter()
        blobs.append(bf.serialize())
        clk.add("bloom.serialize_s", t0)
    t0 = time.perf_counter()
    for b in blobs:
        Sketch.deserialize(b)
    clk.add("bloom.deserialize_s", t0)
    params = W.make_bloom().params()
    t0 = time.perf_counter()
    merged = [
        BloomFilter.merge_slice_blobs(params, s, N_SLICES, [p[s] for p in partials]) for s in range(N_SLICES)
    ]
    clk.add("bloom.merge_slice_s", t0)
    full = BloomFilter.assemble_slices(params, merged, 0, 0)
    counts["bloom.bits_set"] = full.pop()
    counts["bloom.fill"] = counts["bloom.bits_set"] / W.BLOOM_M
    counts["bloom.blob_bytes"] = sum(len(b) for b in blobs) / len(blobs)
    counts["bloom.slice_bytes"] = sum(len(s) for p in partials for s in p) / len(partials)
    full_blob = full.serialize()
    t0 = time.perf_counter()
    Sketch.deserialize(full_blob)
    clk.add("probe.deserialize_s", t0)

    # bloom probe side: the probe inputs against the merged filter
    hit = probed = 0.0
    t0 = time.perf_counter()
    fracs = [[full.seen_fraction_arrow(rb.column(1)) for rb in batches] for batches in probe_files]
    clk.add("bloom.probe_busy_s", t0)
    for batches, fr in zip(probe_files, fracs):
        for rb, f in zip(batches, fr):
            lens = pc.binary_length(rb.column(1)).to_numpy(zero_copy_only=False)
            win = np.maximum(lens - W.BLOOM_K + 1, 0)
            hit += float((f * win).sum())
            probed += float(win.sum())
    counts["bloom.probe_hit_ratio"] = hit / probed if probed else 0.0

    # the other sketches: one partial per file, then a merge
    kinds = {
        "hll": (W.make_hll, lambda rb: rb.column(0), "update_arrow"),
        "cms": (W.make_cms, lambda rb: rb.column(2).drop_null(), "update_arrow"),
        "kll": (W.make_kll, lambda rb: _n_tok(rb), "update"),
        "tdigest": (W.make_tdigest, lambda rb: _n_tok(rb), "update"),
    }
    for kind, (make, col, method) in kinds.items():
        inputs = [[col(rb) for rb in batches] for batches in files]
        sks = []
        t0 = time.perf_counter()
        for batch_inputs in inputs:
            sk = make()
            for x in batch_inputs:
                getattr(sk, method)(x)
            sks.append(sk)
        clk.add(f"{kind}.update_busy_s", t0)
        sblobs = [sk.serialize() for sk in sks]
        counts[f"{kind}.blob_bytes"] = sum(len(b) for b in sblobs) / len(sblobs)
        t0 = time.perf_counter()
        Sketch.merge_blobs(sblobs)
        clk.add(f"{kind}.merge_s", t0)
    return clk.t, counts


def _n_tok(rb) -> np.ndarray:
    return pc.add(pc.count_substring(rb.column(1), " "), 1).to_numpy(zero_copy_only=False).astype(np.float64)


def replay(paths: list[Path], probe_paths: list[Path], reps: int = 3) -> dict[str, float]:
    """Kernel times (median of ``reps`` passes) and counts: sketches are
    built from ``paths``; the Bloom probe reads ``probe_paths``."""
    files = _files(paths)
    probe_files = files if probe_paths == paths else _files(probe_paths)
    times: dict[str, list[float]] = {}
    counts: dict[str, float] = {}
    for _ in range(reps):
        t, counts = _one_pass(files, probe_files)
        for k, v in t.items():
            times.setdefault(k, []).append(v)
    out = {k: statistics.median(v) for k, v in times.items()}
    out.update(counts)
    out["hashing.windows_per_s"] = counts["hashing.windows"] / out["hashing.busy_s"]
    return out
