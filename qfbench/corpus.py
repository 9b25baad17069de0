"""Workload corpora and their reference labels, staged on disk.

A corpus is a pure function of (workload, seed, scale): it is drawn with
``synth.gen_conversation`` -- the per-conversation generator that
``synth.gen_transcripts_spark`` maps over conversation serials, bit-identical
to it -- in a pool of processes, and written as a fixed number of parquet
files.  The reference labels come from ``reference.run_reference`` on the same
rows.  Both are the benchmark's own load generation: they are cached under the
work directory, keyed by workload, seed, scale and a hash of the package
sources, and neither counts toward any metric.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil
import time
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "bytefreq_spark")

ARROW_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
])
KEYS = ["conv_id", "turn_idx"]
LABELS = ["keep", "drop_reason", "scrubbed_text"]

N_FILES = 8          # staged input files per corpus (the whale adds one)
DELTA_EVERY = 10     # resumable: 1 in 10 conversations is the delta
CACHE_KEEP = 32      # cached corpora kept per checkout, newest first
CHUNK = 250          # conversations per generator task
WHALE_SERIAL = 10**6 - 1  # past every ordinary serial a corpus draws


@dataclass(frozen=True)
class Shape:
    """One workload's corpus at scale 1.

    Conversations are drawn in serial order until the next one would pass
    ``turns``, so every seed stages nearly the same number of turns and the
    per-turn metrics do not inherit the spread of Zipf conversation lengths.
    """
    turns: int
    whale_len: int = 0   # one conversation this long, in a file of its own
    delta: bool = False  # hold out every DELTA_EVERY-th conversation

    def scaled(self, scale: float) -> "Shape":
        return Shape(round(self.turns * scale), round(self.whale_len * scale),
                     self.delta)


SHAPES = {
    "balanced": Shape(129_000),
    "whale": Shape(124_000, whale_len=65_000),
    "resumable": Shape(150_000, delta=True),
}
# warm-up corpus: tiny, with a fixed seed, so set-up does the same work every
# run (a larger one measured no steadier first timed op)
WARMUP_SCALE = 0.04
WARMUP_SEED = 1


def source_hash() -> str:
    """Hash of every source a corpus or its labels depend on: the package
    and this file."""
    h = hashlib.sha256()
    paths = [os.path.join(PKG, n) for n in sorted(os.listdir(PKG)) if n.endswith(".py")]
    for path in paths + [os.path.abspath(__file__)]:
        with open(path, "rb") as f:
            h.update(os.path.basename(path).encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def _gen(args: tuple) -> pd.DataFrame:
    """Pool task: conversations ``serials`` as synth draws them.

    Ordinary conversations keep synth's defaults (natural Zipf lengths and a
    1500-turn conversation every 997th); the whale is drawn with
    ``skew_every``/``skew_len`` so that only it is long."""
    from bytefreq_spark.synth import gen_conversation

    serials, seed, whale_len = args
    kw = dict(skew_every=WHALE_SERIAL + 1, skew_len=whale_len) if whale_len else {}
    return pd.concat([gen_conversation(s, seed, **kw) for s in serials],
                     ignore_index=True)


def _draw(pool, shape: Shape, seed: int) -> pd.DataFrame:
    """Ordinary conversations in serial order, up to ``shape.turns`` turns
    in all (the whale included)."""
    want = shape.turns - shape.whale_len
    whale = (pool.apply_async(_gen, (([WHALE_SERIAL], seed, shape.whale_len),))
             if shape.whale_len else None)
    parts, have, next_serial = [], 0, 0
    while have < want:
        # ~18.4 turns per conversation on synth's defaults; draw 10% extra
        n = max(CHUNK, int((want - have) / 18.4 * 1.1))
        chunks = [list(range(a, min(a + CHUNK, next_serial + n)))
                  for a in range(next_serial, next_serial + n, CHUNK)]
        next_serial += n
        for df in pool.map(_gen, [(c, seed, 0) for c in chunks], chunksize=1):
            parts.append(df)
            have += len(df)
    pdf = pd.concat(parts, ignore_index=True)
    sizes = pdf.groupby("conv_id", sort=True).size()
    keep = sizes.index[sizes.cumsum() <= want]
    pdf = pdf[pdf["conv_id"].isin(set(keep))]
    if whale is not None:
        pdf = pd.concat([pdf, whale.get()], ignore_index=True)
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    return pdf


def _write(pdf: pd.DataFrame, path: str) -> None:
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=ARROW_SCHEMA, preserve_index=False),
        path)


def _reference(args: tuple) -> int:
    """Pool task: reference labels of the rows in ``files``; returns the
    dictionary cardinality."""
    from bytefreq_spark.reference import run_reference

    files, out_path = args
    pdf = pd.concat([pq.read_table(f).to_pandas() for f in files],
                    ignore_index=True)
    ref = run_reference(pdf)
    ref[KEYS + LABELS].to_parquet(out_path, index=False)
    return int(ref["lu_key"].nunique())


@dataclass
class Corpus:
    dir: str
    meta: dict

    def files(self, part: str) -> list[str]:
        return [os.path.join(self.dir, f) for f in self.meta["files"][part]]

    @property
    def turns(self) -> int:
        return self.meta["turns"]


def _files(pdf: pd.DataFrame, shape: Shape) -> dict[str, list[pd.DataFrame]]:
    """Staged files by part (``base`` / ``delta``): conversations dealt
    round-robin in serial order, the whale alone in the last base file."""
    serial = pdf["conv_id"].str.slice(5).astype(int)
    whale = serial == WHALE_SERIAL
    rank = serial.rank(method="dense").astype(int) - 1
    parts = {"base": ~whale}
    if shape.delta:
        parts = {"base": rank % DELTA_EVERY != DELTA_EVERY - 1,
                 "delta": rank % DELTA_EVERY == DELTA_EVERY - 1}
    out = {}
    for part, mask in parts.items():
        n = N_FILES if part == "base" else N_FILES // 2
        sub, r = pdf[mask], rank[mask].rank(method="dense").astype(int) - 1
        out[part] = [sub[r % n == i] for i in range(n)]
    if whale.any():
        out["base"].append(pdf[whale])
    return out


def stage(cache_dir: str, workload: str, seed: int, scale: float,
          with_reference: bool = True) -> Corpus:
    """Stage (or reuse) the corpus and its reference labels."""
    shape = SHAPES[workload].scaled(scale)
    key = f"{workload}-s{seed}-x{scale:g}-{source_hash()}"
    d = os.path.join(cache_dir, key)
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if with_reference <= ("reference_s" in meta):
            os.utime(meta_path)
            return Corpus(d, meta)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    ctx = multiprocessing.get_context("spawn")
    meta = {"workload": workload, "seed": seed, "scale": scale,
            "shape": shape.__dict__, "files": {}, "part_turns": {}}
    with ctx.Pool(max(1, min(4, os.cpu_count() or 1))) as pool:
        t0 = time.perf_counter()
        pdf = _draw(pool, shape, seed)
        for part, frames in _files(pdf, shape).items():
            meta["files"][part] = []
            for i, frame in enumerate(frames):
                name = f"{part}-{i:02d}.parquet"
                _write(frame, os.path.join(d, name))
                meta["files"][part].append(name)
            meta["part_turns"][part] = sum(map(len, frames))
        meta["staging_s"] = time.perf_counter() - t0
        meta["turns"] = len(pdf)
        meta["conversations"] = int(pdf["conv_id"].nunique())
        meta["text_mb"] = float(pdf["text"].str.len().fillna(0).sum()) / 1e6
        del pdf
        if with_reference:
            files = meta["files"]
            full = [os.path.join(d, f) for p in files for f in files[p]]
            jobs = [(full, os.path.join(d, "ref.parquet"))]
            if "delta" in files:
                jobs.append(([os.path.join(d, f) for f in files["base"]],
                             os.path.join(d, "ref_base.parquet")))
            t0 = time.perf_counter()
            cards = pool.map(_reference, jobs, chunksize=1)
            meta["reference_s"] = time.perf_counter() - t0
            meta["dict_cardinality"] = cards[0]
        pool.close()
        pool.join()
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f, sort_keys=True)
    os.replace(tmp, meta_path)  # the entry exists once its meta does
    _evict(cache_dir)
    return Corpus(d, meta)


def _evict(cache_dir: str) -> None:
    entries = []
    for name in os.listdir(cache_dir):
        meta = os.path.join(cache_dir, name, "meta.json")
        if os.path.exists(meta):
            entries.append((os.path.getmtime(meta), name))
    for _, name in sorted(entries, reverse=True)[CACHE_KEEP:]:
        shutil.rmtree(os.path.join(cache_dir, name), ignore_errors=True)


def sample_texts(path: str, n: int) -> pd.Series:
    """The first ``n`` non-null texts of one staged file."""
    texts = pq.read_table(path, columns=["text"]).to_pandas()["text"]
    return texts.dropna().head(n).reset_index(drop=True)


def read_labels(path: str) -> pd.DataFrame:
    """Keys and labels of a parquet file or directory."""
    return pq.read_table(path, columns=KEYS + LABELS).to_pandas()


def expected_labels(corpus: Corpus) -> pd.DataFrame:
    """The labels every op must reproduce, row for row.

    One-shot ops label the whole corpus against its own dictionary.  The
    resumable op labels the base against the base's dictionary and then the
    delta against the dictionary of base and delta together."""
    full = read_labels(os.path.join(corpus.dir, "ref.parquet"))
    if "delta" not in corpus.meta["files"]:
        return full
    base = read_labels(os.path.join(corpus.dir, "ref_base.parquet"))
    delta = full[~full["conv_id"].isin(set(base["conv_id"]))]
    return pd.concat([base, delta], ignore_index=True)


def count_mismatches(out: pd.DataFrame, ref: pd.DataFrame) -> int:
    """Rows of ``out`` and ``ref`` that disagree on any label, with exact
    equality per (conv_id, turn_idx); a missing, extra or duplicated row
    counts as a mismatch."""
    dup = int(out.duplicated(KEYS).sum())
    m = out.drop_duplicates(KEYS).merge(
        ref, on=KEYS, how="outer", suffixes=("_out", "_ref"), indicator=True)
    bad = m["_merge"] != "both"
    for c in LABELS:
        a, b = m[c + "_out"], m[c + "_ref"]
        bad |= ~((a == b) | (a.isna() & b.isna()))
    return int(bad.sum()) + dup
