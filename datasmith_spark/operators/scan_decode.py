"""Fused scan+rules+decode over a parquet file manifest.

The default pipeline path scans clips through the JVM and ships `bytes` to
Python over the Arrow socket. For audio-heavy rows (~300 KB each) that
transfer is pure waste: the decode stage immediately reduces each blob to
five floats. This operator fuses scan -> rules -> decode inside ONE
mapInPandas over a manifest of parquet files — pyarrow reads the row groups
directly in the Python worker, so the audio bytes never cross a process
boundary. Downstream stages (langid/ppl/scrub) see the identical post-decode
schema and compose unchanged.

This is the standard multimodal-scan pattern (decode co-located with the
scan, manifest-distributed): at 10^12-clip scale it removes the largest
byte-movement term from the plan; in this sandbox it also sidesteps the
JVM->Python socket bottleneck (measured ~5x on the end-to-end chain).

Parity: the per-row kernels are the SAME functions the transfer path and the
single-process oracle use (core.rules.rule_reasons for stage R,
stages.decode_features_pdf + stages.decode_epilogue for stage D), and
part_id uses zlib.crc32 which matches F.crc32 bit-for-bit — so both paths
produce identical labels (asserted by tests/test_scan_decode.py).

Trade-off vs the JVM scan: no Catalyst row-group pruning / predicate
pushdown into this scan. Use it when the query consumes effectively all rows
and the payload column dominates row width (true for the curation pipeline);
use the transfer path when selective predicates would prune the scan.
"""

from __future__ import annotations

import os
import zlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..core import rules as R
from .stages import _DECODE_FIELDS, decode_epilogue, decode_features_pdf

CLIP_COLUMNS = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]

POST_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
        T.StructField("codec", T.StringType()),
        T.StructField("transcript", T.StringType()),
        T.StructField("part_id", T.IntegerType()),
        T.StructField("drop_stage", T.StringType()),
        T.StructField("drop_reasons", T.ArrayType(T.StringType())),
    ]
    + _DECODE_FIELDS
)
_POST_COLS = [f.name for f in POST_DECODE_SCHEMA.fields]


def list_manifest(input_dir: str) -> list[str]:
    """All parquet leaf files under input_dir (non-recursive, sorted)."""
    return sorted(
        os.path.join(input_dir, f)
        for f in os.listdir(input_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _rules_decode_pdf(pdf: pd.DataFrame, n_parts: int) -> pd.DataFrame:
    """Stage R (python kernel, parity-tested vs the Column exprs) + stage D."""
    part_ids, stages, reasons = [], [], []
    for row in pdf.itertuples(index=False):
        part_ids.append(zlib.crc32(row.clip_id.encode("utf-8")) % n_parts)
        # null int32 columns arrive from pyarrow's to_pandas as float64 NaN,
        # not None — pd.isna covers both (None and NaN)
        rs = R.rule_reasons(
            None if pd.isna(row.codec) else row.codec,
            None if pd.isna(row.sr_hz) else int(row.sr_hz),
            None if pd.isna(row.dur_ms) else int(row.dur_ms),
            None if row.bytes is None else len(row.bytes),
            None if pd.isna(row.transcript) else row.transcript,
        )
        stages.append(R.STAGE_RULES if rs else None)
        reasons.append(rs)
    pdf = pdf.copy(deep=False)
    pdf["part_id"] = pd.array(part_ids, dtype="int32")
    pdf["drop_stage"] = pd.array(stages, dtype="string")
    pdf["drop_reasons"] = reasons
    return decode_features_pdf(pdf)[_POST_COLS]


LABELS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("part_id", T.IntegerType()),
        T.StructField("codec", T.StringType()),
        T.StructField("keep", T.BooleanType()),
        T.StructField("drop_stage", T.StringType()),
        T.StructField("drop_reasons", T.ArrayType(T.StringType())),
        T.StructField("lang", T.StringType()),
        T.StructField("lang_prob", T.DoubleType()),
        T.StructField("ppl", T.DoubleType()),
        T.StructField("pii_count", T.IntegerType()),
        T.StructField("tox_count", T.IntegerType()),
        T.StructField("scrubbed_transcript", T.StringType()),
    ]
)
_LABEL_COLS = [f.name for f in LABELS_SCHEMA.fields]


def label_batch_pdf(pdf: pd.DataFrame, n_parts: int) -> pd.DataFrame:
    """Whole filter chain for one Arrow batch of raw clips rows.

    Python analogue of the staged chain (with_rule_stage -> decode_stage ->
    langid_stage -> ppl_stage -> scrub_stage) composed from the SAME core
    kernels, with identical stage precedence and identical retained values
    (a row dropped at stage k keeps every enrichment computed at stages < k
    plus the one that failed it, exactly like the staged Column logic).
    Fusing the chain into one batch kernel removes three JVM<->Python hops
    per row — the python-side analogue of whole-stage codegen.
    """
    from ..core import langid as L
    from ..core import lm as M
    from ..core.scrub import count_words, scrub_text

    post = _rules_decode_pdf(pdf.reset_index(drop=True), n_parts)
    n = len(post)
    stage = np.array([None if pd.isna(s) else s for s in post["drop_stage"]], dtype=object)
    reasons = list(post["drop_reasons"])
    # decode-stage drop (mirrors stages.decode_epilogue / rules.decode_reasons)
    for i in range(n):
        if stage[i] is not None:
            continue
        d = R.decode_reasons(
            bool(post["decode_ok"].iat[i]),
            float(post["rms"].iat[i]),
            float(post["peak"].iat[i]),
            float(post["finite_frac"].iat[i]),
        )
        if d:
            stage[i] = R.STAGE_DECODE
            reasons[i] = d

    lid = L.model()
    lm_ = M.model()
    texts = post["transcript"].to_numpy(dtype=object)
    lang = np.full(n, None, dtype=object)
    # lang_prob: object (None for never-scored) -> null, matching the staged
    # langid UDF; ppl: float64 (NaN for never-scored), matching the staged
    # ppl UDF's float series
    prob: list = [None] * n
    ppl = np.full(n, np.nan)
    pii = np.full(n, np.nan)
    tox = np.full(n, np.nan)
    scrubbed = np.full(n, None, dtype=object)

    # ---- langid: one batched score over all still-alive rows (bit-identical
    # to per-row predict_one — canonical reduceat order, core/langid.py)
    alive_idx = np.array([i for i in range(n) if stage[i] is None], dtype=np.int64)
    if alive_idx.size:
        b_langs, b_probs = lid.predict_batch([texts[i] for i in alive_idx])
        for j, i in enumerate(alive_idx):
            lg, p = b_langs[j], b_probs[j]
            lang[i], prob[i] = lg, p
            if lg is None or p < R.LANG_PROB_MIN:
                stage[i] = R.STAGE_LANGID
                reasons[i] = ["lang_confidence"]

    # ---- perplexity: batched over rows that survived langid
    alive_idx = np.array([i for i in range(n) if stage[i] is None], dtype=np.int64)
    if alive_idx.size:
        b_ppl = lm_.ppl_batch([texts[i] for i in alive_idx], [lang[i] for i in alive_idx])
        for j, i in enumerate(alive_idx):
            v = float(b_ppl[j])
            ppl[i] = v
            if not lm_.in_band(v, lang[i]):
                stage[i] = R.STAGE_PPL
                reasons[i] = ["ppl_outlier"]

    # ---- scrub (regex-bound; stays per surviving row)
    for i in range(n):
        if stage[i] is not None:
            continue
        s, pc, tc = scrub_text(texts[i])
        nw = count_words(texts[i])
        scrubbed[i], pii[i], tox[i] = s, pc, tc
        if nw > 0 and tc / nw > R.TOX_RATIO_MAX:
            stage[i] = R.STAGE_SCRUB
            reasons[i] = ["toxicity"]

    out = pd.DataFrame(
        {
            "clip_id": post["clip_id"],
            "part_id": post["part_id"],
            "codec": post["codec"],
            "keep": pd.array([s is None for s in stage], dtype="boolean"),
            "drop_stage": pd.array(list(stage), dtype="string"),
            "drop_reasons": reasons,
            "lang": pd.array(list(lang), dtype="string"),
            "lang_prob": prob,
            "ppl": ppl,
            "pii_count": pd.array(pii, dtype="Int32"),
            "tox_count": pd.array(tox, dtype="Int32"),
            "scrubbed_transcript": pd.array(list(scrubbed), dtype="string"),
        }
    )
    return out[_LABEL_COLS]


def manifest_scan(
    spark: SparkSession,
    manifest: list[str],
    per_pdf: Callable[[pd.DataFrame], pd.DataFrame],
    schema: T.StructType | str,
    columns: list[str] = CLIP_COLUMNS,
    batch_rows: int = 256,
    scan_parallelism: int | None = None,
    row_mask: Callable[[pd.DataFrame], list[bool]] | None = None,
) -> DataFrame:
    """Fused worker-side parquet scan: the only rows the JVM sees are the
    manifest's file paths, built through Arrow (session.local_frame) and
    spread round-robin over scan_parallelism tasks; each task opens its
    files with pyarrow and streams bounded row-group batches through
    per_pdf, so heavy binary columns stay inside the Python worker.
    row_mask, when given, drops rows before per_pdf sees them (empty
    batches are skipped).

    scan_parallelism: concurrent scan tasks. Default: min(files, session
    parallelism, $SPARK_GRAFT_SCAN_PAR or 8). The cap exists because on a
    host whose kernel serializes page faults/file I/O globally, decode
    throughput INVERTS beyond ~8 concurrent readers (measured at local[32]:
    8-way 1,340-1,370 clips/s vs 16-way 814-917 on the identical job;
    BASELINE.md "Sandbox scaling protocol"); on a real cluster set
    SPARK_GRAFT_SCAN_PAR high — the operator itself is width-agnostic and
    each task streams row groups at bounded memory.
    """
    from ..session import local_frame

    if scan_parallelism is None:
        cap = int(os.environ.get("SPARK_GRAFT_SCAN_PAR", "8"))
        scan_parallelism = min(len(manifest), spark.sparkContext.defaultParallelism, cap)
    paths = local_frame(spark, pd.DataFrame({"path": pd.Series(manifest, dtype=object)}), "path string")

    def _scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for b in batches:
            for path in b["path"]:
                # memory_map: page-cache-resident files skip the read()
                # syscall path entirely (measured 13x at 32-way concurrency)
                pf = pq.ParquetFile(path, memory_map=True)
                for rb in pf.iter_batches(batch_size=batch_rows, columns=columns):
                    pdf = rb.to_pandas()
                    if row_mask is not None:
                        pdf = pdf[row_mask(pdf)]
                        if not len(pdf):
                            continue
                    yield per_pdf(pdf)

    return paths.repartition(max(scan_parallelism, 1)).mapInPandas(_scan, schema=schema)


def _parts_mask(
    n_parts: int, parts_filter: list[int] | None
) -> Callable[[pd.DataFrame], list[bool]] | None:
    """Row mask keeping the clips whose part_id is in parts_filter."""
    if parts_filter is None:
        return None
    wanted = {int(p) for p in parts_filter}
    return lambda pdf: [zlib.crc32(c.encode("utf-8")) % n_parts in wanted for c in pdf["clip_id"]]


def scan_labels(
    spark: SparkSession,
    manifest: list[str],
    n_parts: int = 32,
    batch_rows: int = 256,
    parts_filter: list[int] | None = None,
    scan_parallelism: int | None = None,
) -> DataFrame:
    """Fully-fused pipeline: parquet manifest -> final labels in ONE
    mapInPandas stage (scan+rules+decode+langid+ppl+scrub). Same label
    output as the staged chain (tests/test_scan_decode.py)."""
    return manifest_scan(
        spark, manifest, lambda pdf: label_batch_pdf(pdf, n_parts), LABELS_SCHEMA,
        batch_rows=batch_rows, scan_parallelism=scan_parallelism,
        row_mask=_parts_mask(n_parts, parts_filter),
    )


def scan_rules_decode(
    spark: SparkSession,
    manifest: list[str],
    n_parts: int = 32,
    batch_rows: int = 256,
    parts_filter: list[int] | None = None,
    scan_parallelism: int | None = None,
) -> DataFrame:
    """Distributed fused scan: manifest entries spread over scan tasks,
    pyarrow row-group reads inside the worker, rules+decode applied before
    anything is emitted.

    parts_filter: optional part_id subset (checkpoint resume) — applied
    worker-side right after part_id is computed, before decode, so resumed
    runs do not decode already-done partitions.

    scan_parallelism: see manifest_scan.
    """
    scanned = manifest_scan(
        spark, manifest, lambda pdf: _rules_decode_pdf(pdf, n_parts), POST_DECODE_SCHEMA,
        batch_rows=batch_rows, scan_parallelism=scan_parallelism,
        row_mask=_parts_mask(n_parts, parts_filter),
    )
    return decode_epilogue(scanned)
