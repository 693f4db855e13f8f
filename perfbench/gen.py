"""Seeded transcript-table generator owned by the benchmark.

Writes the inputs the workloads read, once per (seed, size), as
parquet under a work directory:

    corpus/part-NNNNN.parquet     the transcript turns
    negatives/part-NNNNN.parquet  as many zz-vocabulary turns, never inserted
    batches/batch-NNNNN.parquet   micro-batches for incremental_ingest

Schema follows the library's transcript ``input_hint``:
``conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp``.  Every row is drawn from one ``numpy`` generator seeded
by ``seed``, and every byte written is covered by a SHA-256 content
digest, stored next to the files and re-checked on every read, so two
trees benchmarked with the same seed provably read identical inputs.

Deliberately independent of ``btl_bloomfilter_spark.sources``: the
library's own generator may change in a later revision, and the
benchmark must keep reading the same bytes.

Shape (all seeded):
- conversation sizes: geometric(0.12) turns, capped at 64, until the
  requested turn count is reached;
- roles user/assistant/tool/system weighted 40/40/15/5;
- text: 5-200 words (tokens) from a 512-word vocabulary (``word0000``
  ..), one space between words, the per-turn length of the library's
  ``transcripts`` fixture (FIXTURES.md section 1); 12-byte windows of corpus text never contain a
  ``z``, so every window of a negative turn (``zzng0000`` words) is a
  true negative;
- tool: null unless role is ``tool``, else Zipf(1.2) over 50 names;
- conv_id ``<prefix>-<conv:07d>``: about 90% of conversations use the
  prefix ``hot0``, the rest one of 15 cold prefixes (skew for the
  salted grouped path);
- ts: a per-conversation offset plus 7 s per turn.
"""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GEN_VERSION = 2
WORD_BYTES = 8  # every vocabulary word is 8 ASCII bytes
VOCAB = np.frombuffer("".join(f"word{i:04d}" for i in range(512)).encode(), np.uint8).reshape(512, 8)
NEG_VOCAB = np.frombuffer("".join(f"zzng{i:04d}" for i in range(512)).encode(), np.uint8).reshape(512, 8)
TOOLS = np.array([f"tool{i:02d}" for i in range(50)], dtype=object)
ROLES = np.array(["user", "assistant", "tool", "system"], dtype=object)
ROLE_W = np.array([0.40, 0.40, 0.15, 0.05])
COLD_PREFIXES = np.array([f"c{i:03d}" for i in range(15)], dtype=object)
HOT_SHARE = 0.90
WORDS_MIN, WORDS_MAX = 5, 200
BASE_TS_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z in microseconds

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def _texts(rng: np.random.Generator, n: int, vocab: np.ndarray) -> pa.Array:
    """n space-joined texts of WORDS_MIN..WORDS_MAX words, built as one
    Arrow string array straight from a byte buffer (no per-row Python)."""
    words = rng.integers(WORDS_MIN, WORDS_MAX + 1, size=n)
    ids = rng.integers(0, vocab.shape[0], size=int(words.sum()))
    stride = WORD_BYTES + 1
    cells = np.empty((ids.size, stride), dtype=np.uint8)
    cells[:, :WORD_BYTES] = vocab[ids]
    cells[:, WORD_BYTES] = ord(" ")
    flat = cells.reshape(-1)
    keep = np.ones(flat.size, dtype=bool)
    keep[np.cumsum(words) * stride - 1] = False  # no trailing space per text
    data = flat[keep]
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(words * stride - 1, out=offsets[1:])
    return pa.StringArray.from_buffers(n, pa.py_buffer(offsets), pa.py_buffer(data))


def transcripts(seed: int, n_turns: int) -> tuple[pa.Table, pa.Table]:
    """(corpus, negatives): exactly n_turns corpus turns (the last
    conversation is cut short) and as many negative turns."""
    rng = np.random.default_rng([GEN_VERSION, seed])
    sizes = np.minimum(rng.geometric(0.12, size=n_turns), 64)
    n_convs = int(np.searchsorted(np.cumsum(sizes), n_turns)) + 1
    sizes = sizes[:n_convs]
    sizes[-1] -= int(sizes.sum()) - n_turns
    n = n_turns
    conv = np.repeat(np.arange(n_convs), sizes)
    starts = np.cumsum(sizes) - sizes
    turn_idx = (np.arange(n) - np.repeat(starts, sizes)).astype(np.int32)
    hot = rng.random(n_convs) < HOT_SHARE
    prefix = np.where(hot, "hot0", COLD_PREFIXES[rng.integers(0, COLD_PREFIXES.size, n_convs)])
    conv_ids = np.array([f"{p}-{i:07d}" for i, p in enumerate(prefix)], dtype=object)[conv]
    roles = ROLES[rng.choice(ROLES.size, size=n, p=ROLE_W)]
    zipf = np.minimum(rng.zipf(1.2, size=n), TOOLS.size) - 1
    tools = np.where(roles == "tool", TOOLS[zipf], None)
    offset_s = rng.integers(0, 86_400 * 30, size=n_convs)[conv]
    ts = BASE_TS_US + (offset_s + 7 * turn_idx.astype(np.int64)) * 1_000_000
    corpus = pa.table(
        [
            pa.array(conv_ids, pa.string()),
            pa.array(turn_idx, pa.int32()),
            pa.array(roles, pa.string()),
            _texts(rng, n, VOCAB),
            pa.array(tools, pa.string()),
            pa.array(ts, pa.timestamp("us", tz="UTC")),
        ],
        schema=SCHEMA,
    )
    neg_ids = np.array([f"zzng-{i:07d}" for i in range(n)], dtype=object)
    negatives = pa.table(
        [
            pa.array(neg_ids, pa.string()),
            pa.array(np.zeros(n, np.int32), pa.int32()),
            pa.array(np.full(n, "user", dtype=object), pa.string()),
            _texts(rng, n, NEG_VOCAB),
            pa.nulls(n, pa.string()),
            pa.array(np.full(n, BASE_TS_US), pa.timestamp("us", tz="UTC")),
        ],
        schema=SCHEMA,
    )
    return corpus, negatives


def _write_parts(table: pa.Table, out: Path, stem: str, parts: int) -> list[Path]:
    out.mkdir(parents=True, exist_ok=True)
    n = table.num_rows
    bounds = [n * i // parts for i in range(parts + 1)]
    paths = []
    for i in range(parts):
        p = out / f"{stem}-{i:05d}.parquet"
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), p, compression="snappy")
        paths.append(p)
    return paths


def digest_files(paths: list[Path], root: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def _all_files(root: Path) -> list[Path]:
    return sorted(p for p in root.rglob("*.parquet"))


def materialize(work: Path, seed: int, n_turns: int, parts: int, batch_turns: int) -> dict:
    """Write (or reuse) the inputs for (seed, size) under ``work`` and
    return the manifest: paths, row counts and the content digest.
    Raises if files on disk do not match the digest they were written
    with."""
    root = work / f"gen{GEN_VERSION}-s{seed}-t{n_turns}-p{parts}-b{batch_turns}"
    manifest_path = root / "manifest.json"
    if manifest_path.exists():
        manifest = json.loads(manifest_path.read_text())
        if digest_files(_all_files(root), root) != manifest["digest"]:
            raise RuntimeError(f"input files under {root} do not match their digest")
        manifest["reused"] = True
        return manifest
    corpus, negatives = transcripts(seed, n_turns)
    tmp = root.with_name(root.name + ".tmp")
    if tmp.exists():
        for p in sorted(tmp.rglob("*"), reverse=True):
            p.unlink() if p.is_file() else p.rmdir()
    _write_parts(corpus, tmp / "corpus", "part", parts)
    _write_parts(negatives, tmp / "negatives", "part", parts)
    n_batches = corpus.num_rows // batch_turns
    # batches: the corpus re-cut into consecutive batch_turns slices
    for i in range(n_batches):
        _write_parts(corpus.slice(i * batch_turns, batch_turns), tmp / "batches", f"batch-{i:05d}", 1)
    manifest = {
        "seed": seed,
        "turns": corpus.num_rows,
        "convs": int(pc.count_distinct(corpus.column("conv_id")).as_py()),
        "negatives": negatives.num_rows,
        "parts": parts,
        "batch_turns": batch_turns,
        "n_batches": n_batches,
        "text_bytes": int(pc.sum(pc.binary_length(corpus.column("text"))).as_py()),
        "digest": digest_files(_all_files(tmp), tmp),
    }
    (tmp / "manifest.json").write_text(json.dumps(manifest, indent=1))
    os.replace(tmp, root)
    manifest["reused"] = False
    return manifest


def input_dir(work: Path, manifest: dict) -> Path:
    m = manifest
    return work / f"gen{GEN_VERSION}-s{m['seed']}-t{m['turns']}-p{m['parts']}-b{m['batch_turns']}"


def batch_paths(root: Path, n: int) -> list[Path]:
    """The first n (n <= n_batches) batch files, in batch order."""
    # _write_parts names a single-part batch '<stem>-00000.parquet'
    return [root / "batches" / f"batch-{i:05d}-00000.parquet" for i in range(n)]
