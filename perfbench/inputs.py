"""Seeded benchmark inputs, cached by (seed, size, oracles, program source)
under the benchmark's data dir.

Clips come from `datagen.gen_batch` over a seed-chosen index range, written
as parquet files the fused manifest scan reads; the optional delta is one
more file of fresh indices. The single-process oracles for every clip are
computed in the same worker pass and cached beside the input: the curation
labels (`oracle.oracle_labels`) and/or the clip-feature results (the
`oracle_rows` of the scripts that build the committed audio fixtures). The
cache key includes a hash of the generator, oracle and kernel sources, so a
checkout with other program code rebuilds its inputs.
"""

from __future__ import annotations

import hashlib
import importlib.util
import multiprocessing as mp
import os
import shutil

import pandas as pd

N_PARTS = 64
_BASE_FILES = 8
# seed -> index range: ranges of different seeds never overlap
_SEED_STRIDE = 100_000
_KEEP_ENTRIES = 1  # older cache entries kept besides the one being built
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# clip-feature oracle -> the fixture script whose oracle_rows(indices) computes it
FEATURE_SCRIPTS = {
    "audio_ops": "make_audio_ops_fixture",       # resample + log-mel digests
    "audio_vad": "make_audio_vad_fixture",       # VAD / trim metrics
    "audio_quality": "make_audio_quality_fixture",  # spectral quality
    "audio_norm": "make_audio_norm_fixture",     # peak-normalize digests
}


def _script(name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, "scripts", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _oracle(kind: str, pdf: pd.DataFrame, idx: list[int]) -> pd.DataFrame:
    if kind == "labels":
        from datasmith_spark import oracle

        return oracle.oracle_labels(pdf, n_parts=N_PARTS)
    return _script(FEATURE_SCRIPTS[kind]).oracle_rows(idx)


def _write_clips(args: tuple[str, list[int], tuple[str, ...]]) -> dict[str, pd.DataFrame]:
    """Pool worker: write one parquet file of clips, return their oracles."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datasmith_spark import datagen

    path, idx, kinds = args
    gen_batch = datagen.gen_batch
    pdf = gen_batch(idx)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    # the fixture oracles regenerate their clips: hand them this batch instead
    datagen.gen_batch = lambda i: pdf if list(i) == idx else gen_batch(i)
    try:
        return {k: _oracle(k, pdf, idx) for k in kinds}
    finally:
        datagen.gen_batch = gen_batch


def _source_hash(kinds: tuple[str, ...]) -> str:
    """Hash of the sources the inputs and their oracles are computed from."""
    pkg = os.path.join(ROOT, "datasmith_spark")
    files = [os.path.join(pkg, "datagen.py"), os.path.join(pkg, "oracle.py")]
    core = os.path.join(pkg, "core")
    files += sorted(os.path.join(core, f) for f in os.listdir(core) if f.endswith(".py"))
    files += [os.path.join(ROOT, "scripts", f"{FEATURE_SCRIPTS[k]}.py")
              for k in kinds if k in FEATURE_SCRIPTS]
    h = hashlib.sha1()
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def _evict(cache_dir: str, prefix: str, keep: str) -> None:
    """Bound the cache's disk use: keep only the newest entries."""
    old = sorted(
        (os.path.join(cache_dir, d) for d in os.listdir(cache_dir)
         if d.startswith(prefix) and os.path.join(cache_dir, d) != keep),
        key=os.path.getmtime,
    )
    for d in old[: max(0, len(old) - _KEEP_ENTRIES)]:
        shutil.rmtree(d, ignore_errors=True)


class ClipInputs:
    """Base table (`base_dir`), one-file delta (`delta_file`, when n_delta > 0)
    and one oracle frame per kind in `oracles` (`self.oracles[kind]`, rows in
    clip order, delta last)."""

    def __init__(self, cache_dir: str, seed: int, n_clips: int, n_delta: int, procs: int,
                 oracles: tuple[str, ...] = ("labels",)):
        self.n_clips, self.n_delta = n_clips, n_delta
        key = f"s{seed}-n{n_clips}-d{n_delta}-{'+'.join(oracles)}-{_source_hash(oracles)}"
        self.dir = os.path.join(cache_dir, f"clips-{key}")
        self.base_dir = os.path.join(self.dir, "base")
        self.delta_file = os.path.join(self.dir, "delta", "part-delta.parquet")
        if not os.path.exists(os.path.join(self.dir, "_SUCCESS")):
            os.makedirs(cache_dir, exist_ok=True)
            _evict(cache_dir, "clips-", keep=self.dir)
            self._build(seed, procs, oracles)
        self.oracles = {
            k: pd.read_parquet(os.path.join(self.dir, f"oracle-{k}.parquet")) for k in oracles
        }

    def _build(self, seed: int, procs: int, kinds: tuple[str, ...]) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.base_dir)
        lo = (seed % 1_000_000) * _SEED_STRIDE
        if self.n_clips + self.n_delta > _SEED_STRIDE:
            raise ValueError("input larger than one seed's index range")
        step = -(-self.n_clips // _BASE_FILES)
        tasks = [
            (os.path.join(self.base_dir, f"part-{k:03d}.parquet"),
             list(range(lo + s, lo + min(s + step, self.n_clips))))
            for k, s in enumerate(range(0, self.n_clips, step))
        ]
        if self.n_delta:
            os.makedirs(os.path.dirname(self.delta_file))
            end = lo + self.n_clips
            tasks.append((self.delta_file, list(range(end, end + self.n_delta))))
        tasks = [(path, idx, kinds) for path, idx in tasks]
        with mp.get_context("spawn").Pool(procs) as pool:
            parts = pool.map(_write_clips, tasks, chunksize=1)
            pool.close()
            pool.join()
        for k in kinds:
            pd.concat([p[k] for p in parts], ignore_index=True).to_parquet(
                os.path.join(self.dir, f"oracle-{k}.parquet"))
        with open(os.path.join(self.dir, "_SUCCESS"), "w"):
            pass

    def oracle_for(self, with_delta: bool) -> pd.DataFrame:
        """The curation labels of the base clips, or of base + delta."""
        labels = self.oracles["labels"]
        return labels if with_delta else labels.iloc[: self.n_clips]

    def base_files(self) -> list[str]:
        return [os.path.join(self.base_dir, f) for f in sorted(os.listdir(self.base_dir))]

    @staticmethod
    def linked_input(into: str, files: list[str]) -> str:
        """An input directory of hard links to `files` (no data is copied)."""
        shutil.rmtree(into, ignore_errors=True)
        os.makedirs(into)
        for src in files:
            os.link(src, os.path.join(into, os.path.basename(src)))
        return into


def labels_match(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Labels read back from an output table against the oracle: the same
    clips, keep/drop F1 >= 0.99 (keep = positive) and equal scrubbed
    transcripts."""
    m = want[["clip_id", "keep", "scrubbed_transcript"]].merge(
        got[["clip_id", "keep", "scrubbed_transcript"]],
        on="clip_id", how="outer", suffixes=("_want", "_got"), indicator=True,
    )
    if (m["_merge"] != "both").any():
        return False
    kw, kg = m["keep_want"].astype(bool), m["keep_got"].astype(bool)
    tp, fp, fn = int((kw & kg).sum()), int((~kw & kg).sum()), int((kw & ~kg).sum())
    f1 = 2 * tp / (2 * tp + fp + fn) if tp + fp + fn else 1.0
    same_text = (m["scrubbed_transcript_want"].fillna("<null>")
                 == m["scrubbed_transcript_got"].fillna("<null>")).all()
    return f1 >= 0.99 and bool(same_text)
