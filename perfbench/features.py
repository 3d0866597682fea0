"""`clip_features` workload: warm passes over the five clip-feature scans of
`operators.audio_ops` on a seeded clip table.

Each call is the body of one clip-feature query (q36 resample, q37 log-mel,
q41 VAD trim, q46 spectral quality, q50 loudness normalize): the public
`audio_ops.*_scan` function with that query's arguments, on the benchmark's
own clip directory instead of the query's fixed clip cache. Fused manifest
scans and the `core.resample`/`spectral`/`vad`/`audio` kernels do the work;
Catalyst shuffles, table writes and the curation kernels do none. Each result
is compared, outside the timed region and normalized as
scripts/check_queries.py does, with the single-process oracle the query's
committed fixture is built from (the scripts' `oracle_rows`), computed on the
same clips while the inputs are generated.
"""

from __future__ import annotations

import analytics
from inputs import ClipInputs

N_CLIPS = 256
SMOKE_CLIPS = 64
ORACLES = ("audio_ops", "audio_vad", "audio_quality", "audio_norm")


def _scans():
    """query name -> (fn(spark, input_dir), oracle kind, the oracle columns
    the query's ORACLE_SQL selects)."""
    from datasmith_spark.core.vad import Q41_ACTIVE_DB
    from datasmith_spark.operators import audio_ops as A

    return {
        "q36_resample_clips": (
            lambda spark, d: A.resample_digest_scan(spark, d, target_sr=16000), "audio_ops",
            ["clip_id", "resample_ok", "sr_hz", "dur_ms", "payload_md5"]),
        "q37_logmel_features": (
            A.logmel_digest_scan, "audio_ops",
            ["clip_id", "ok", "n_frames", "n_mels", "feats_md5"]),
        "q41_audio_vad_trim": (
            lambda spark, d: A.vad_trim_scan(spark, d, active_db=Q41_ACTIVE_DB), "audio_vad",
            ["clip_id", "ok", "n_samples", "n_frames", "n_active", "trim_start_ms",
             "trim_end_ms", "n_clipped", "keep"]),
        "q46_spectral_quality": (
            A.spectral_quality_scan, "audio_quality",
            ["clip_id", "ok", "n_bins", "n_harmonic", "snr_log2", "snr_ok", "bw_hz",
             "narrowband", "keep"]),
        "q50_normalize_loudness": (
            A.normalize_digest_scan, "audio_norm",
            ["clip_id", "normalized", "payload_md5"]),
    }


def prepare(ctx) -> analytics.Prepared:
    """Seeded clips, plus each scan's oracle result on them, normalized."""
    inp = ClipInputs(ctx.cache_dir, ctx.seed, SMOKE_CLIPS if ctx.smoke else N_CLIPS,
                     n_delta=0, procs=ctx.cores, oracles=ORACLES)
    scans = _scans()
    names = list(scans)[:1] if ctx.smoke else list(scans)
    cq = analytics.check_queries(ctx.root)
    expected = {}
    for q in names:
        _, kind, cols = scans[q]
        want = inp.oracles[kind][cols].astype(object)
        # nullable-int NA reads as null, as Spark's None/NaN does
        expected[q] = analytics.normalized(cq, want.where(want.notna(), None))
    calls = {q: (lambda spark, fn=scans[q][0]: fn(spark, inp.base_dir)) for q in names}
    return analytics.Prepared(calls, expected, cq)


run = analytics.run
