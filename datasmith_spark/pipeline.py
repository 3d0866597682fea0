"""The composed curation pipeline: rules -> decode -> langid -> ppl -> scrub.

One narrow Spark chain (zero shuffles until the commit rollup), partition-
level checkpoint/resume, per-partition lineage and per-(lang, codec) metrics
side tables.

Scale design (10^12 clips / 1000 executors):
  * part_id = crc32(clip_id) % n_parts — uniform hash partitioning; the
    labels table is directory/bucket-partitioned by it.
  * the whole filter chain is narrow: scan -> codegen'd rule exprs ->
    Arrow UDF stages; Python sees survivors only; `bytes` is dropped at the
    decode stage so everything downstream moves ~100-byte rows.
  * resume = parts whose latest checkpoint row is 'done' AND whose stored
    per-part input fingerprint still matches the current input are skipped
    (reference cache semantics incl. the pickled-arg cache key,
    /root/reference/src/datasmith/utils.py:69-144, bypass_cache =>
    force=True); recomputed parts are dynamic-partition-overwritten
    (idempotent rewrite). Changed input rows therefore invalidate exactly
    their own partitions; a part whose input rows were all DELETED has its
    stale labels directory dropped explicitly after the overwrite (the
    parquet-mode analogue of the Iceberg MERGE / reference INSERT OR
    REPLACE upsert).
  * commit rollup: after the write, ONE aggregate over the committed
    pending partitions, keyed (part_id, lang, codec, drop_stage), is
    collected and folded on the driver into the lineage rows, the metrics
    rows, the labeled-row count and the non-empty parts (fold_rollup). Its
    key leads with the uniform part_id, so the Zipf-hot (en, pcm16) bucket
    is split n_parts ways across reducers without a salt; the result is at
    most n_parts x langs x codecs x 6 rows. The side-table and checkpoint
    frames are built from pandas through Arrow (session.local_frame).
"""

from __future__ import annotations

import os
import time
import uuid

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .core import rules as R
from .logging_config import configure, stage_timer
from .operators.rules import with_rule_stage
from .operators.stages import decode_stage, langid_stage, ppl_stage, scrub_stage
from .session import local_frame
from .tables import TableLayer

LABEL_COLS = [
    "clip_id", "part_id", "codec", "keep", "drop_stage", "drop_reasons",
    "lang", "lang_prob", "ppl", "pii_count", "tox_count", "scrubbed_transcript",
]

ARROW_BATCH = 256  # bytes-carrying rows are ~0.2-1 MB; keep Arrow batches bounded

# columns hashed into the per-part input fingerprint. Deliberately excludes
# the audio payload: at 100 TB the fingerprint pre-scan must stay a
# column-pruned metadata scan (bytes are immutable blobs in practice; a
# payload swap without any metadata change is not detected — use force=True
# for that).
META_FP_COLS = ("clip_id", "sr_hz", "dur_ms", "codec", "transcript")
_FP_EMPTY = "0:0"  # fingerprint of a part with no input rows
# sentinel written by fingerprint=False runs; a later fingerprinted resume
# treats it as matching-any (toggling the flag must not silently defeat
# resume by recomputing every part)
_FP_ANY = "<unfingerprinted>"

# checkpoint row schema; n_parts stamps the partition LAYOUT the run wrote,
# so a later run with a different n_parts is detected and recomputes clean
_CP_SCHEMA = (
    "part_id int, status string, run_id string, had_rows int, "
    "fingerprint string, n_parts int"
)

# side-table rows folded on the driver (fold_rollup); run_id and ts are added
# as columns. Types match a Spark aggregate: counts and sums are bigint.
_LINEAGE_SCHEMA = "part_id int, n_in bigint, n_keep bigint, " + ", ".join(
    f"drop_{s} bigint" for s in R.STAGES
)
_METRICS_SCHEMA = (
    "lang string, codec string, n bigint, n_keep bigint, pii_total bigint, "
    "tox_total bigint, keep_rate double"
)


def part_fingerprints(clips: DataFrame, n_parts: int, payload: bool = False) -> dict[int, str]:
    """Per-part content fingerprint: order-independent sum of per-row crc32
    over the metadata columns, plus the row count.

    The Spark analogue of the reference's pickled-argument cache keys
    (/root/reference/src/datasmith/utils.py:94-101): a checkpoint is valid
    only for the exact input it was computed from. One column-pruned
    aggregation scan; the shuffle key is part_id (uniform).

    payload=True additionally folds the audio payload's length + a crc32 of
    its first 4 KiB into each row hash — catches a payload swap with
    unchanged metadata at the cost of reading the bytes column in the
    pre-scan (opt-in: at 100 TB the default fingerprint must stay a
    column-pruned metadata scan)."""
    part = F.pmod(F.crc32(F.col("clip_id").cast("binary")), F.lit(n_parts)).cast("int")
    fields = [F.coalesce(F.col(c).cast("string"), F.lit("<null>")) for c in META_FP_COLS]
    if payload:
        fields.append(F.coalesce(F.length("bytes").cast("string"), F.lit("<null>")))
        fields.append(
            F.coalesce(F.crc32(F.substring(F.col("bytes"), 1, 4096)).cast("string"), F.lit("<null>"))
        )
    row_h = F.crc32(F.concat_ws("|", *fields).cast("binary"))
    rows = (
        clips.select(part.alias("part_id"), row_h.alias("h"))
        .groupBy("part_id")
        .agg(F.sum("h").alias("s"), F.count("*").alias("c"))
        .collect()
    )
    return {r.part_id: f"{r.s}:{r.c}" for r in rows}


def label_clips(clips: DataFrame, n_parts: int = 32) -> DataFrame:
    """Full filter chain; returns the labels DataFrame (one row per clip)."""
    df = with_rule_stage(clips, n_parts)
    df = decode_stage(df)
    df = langid_stage(df)
    df = ppl_stage(df)
    df = scrub_stage(df)
    return df.withColumn("keep", F.col("drop_stage").isNull()).select(*LABEL_COLS)


def label_clips_fused(
    spark: SparkSession,
    input_dir: str,
    n_parts: int = 32,
    parts_filter: list[int] | None = None,
) -> DataFrame:
    """Full filter chain fused into ONE mapInPandas stage over the parquet
    manifest (scan+rules+decode+langid+ppl+scrub) — audio bytes never cross
    a process boundary and label rows take zero JVM<->Python hops; see
    operators/scan_decode.py. Produces labels identical to label_clips()
    over the same parquet directory (tests/test_scan_decode.py)."""
    from .operators.scan_decode import list_manifest, scan_labels

    return scan_labels(spark, list_manifest(input_dir), n_parts, parts_filter=parts_filter)


def _set_arrow_batch(spark: SparkSession) -> None:
    # Arrow on: driver-side frames (session.local_frame) then skip the
    # pickled-RDD path even in a session not built by session.get_spark
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))


def lang_bucket() -> Column:
    """The metrics language key: unscored clips (dropped before langid, or
    langid found no language) share the '?' bucket, in batch and streaming
    metrics alike."""
    return F.coalesce(F.col("lang"), F.lit("?"))


def _sql_sum(g) -> pd.DataFrame:
    # SQL SUM: null over a group whose values are all null
    return g.sum(min_count=1).astype("Int64").reset_index()


def fold_rollup(roll: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Fold the (part_id, lang, codec, drop_stage) rollup into the lineage
    rows (one per part) and the metrics rows (one per lang, codec), with the
    values a direct Spark aggregate over the same labels would give: a
    drop_<stage> column is null for a part whose clips were all kept and 0
    where clips dropped only at other stages; pii/tox totals are null for a
    group of rows never scrubbed."""
    ds = roll["drop_stage"]
    drops = {
        f"drop_{s}": roll["n"].where(ds == s, 0).where(ds.notna()) for s in R.STAGES
    }
    per_part = roll[["part_id"]].assign(n_in=roll["n"], n_keep=roll["n_keep"], **drops)
    lineage = _sql_sum(per_part.groupby("part_id"))
    metrics = _sql_sum(
        roll.groupby(["lang", "codec"], dropna=False)[["n", "n_keep", "pii_total", "tox_total"]]
    )
    metrics["keep_rate"] = metrics["n_keep"] / metrics["n"]
    return lineage, metrics


def _checkpoint_frame(
    spark: SparkSession,
    parts: list[int],
    run_id: str,
    had_rows: list[int],
    fingerprints: list[str],
    n_parts: int,
) -> DataFrame:
    pdf = pd.DataFrame({
        "part_id": parts, "status": "done", "run_id": run_id,
        "had_rows": had_rows, "fingerprint": fingerprints, "n_parts": n_parts,
    })
    return local_frame(spark, pdf, _CP_SCHEMA).withColumn("ts", F.current_timestamp())


def run_pipeline(
    spark: SparkSession,
    clips: DataFrame | None,
    out_dir: str,
    n_parts: int = 32,
    force: bool = False,
    fail_after_parts: int | None = None,
    input_dir: str | None = None,
    fingerprint: bool = True,
    fingerprint_payload: bool = False,
    catalog: str | None = None,
) -> dict:
    """Run with partition-level checkpoint/resume.

    force=True mirrors the reference's bypass_cache
    (/root/reference/src/datasmith/utils.py:85-88): recompute all parts.
    fail_after_parts: test hook — process only that many pending parts this
    run (simulates a mid-job crash for resume-idempotency tests).
    input_dir: when the clips live in a parquet directory, pass it (clips
    may be None) to use the fused manifest scan — scan+rules+decode in one
    Python stage, pending-partition pruning applied before decode.
    fingerprint=True (default) records a per-part input fingerprint in the
    checkpoints table and treats a part as done only if its stored
    fingerprint matches the current input — changed input rows invalidate
    exactly their own partitions (reference arg-blob cache-key semantics).
    Pass False to skip the metadata pre-scan and trust part ids alone.
    Checkpoints then carry an "<unfingerprinted>" sentinel: the first
    fingerprinted resume keeps those parts done and ADOPTS the current
    input fingerprint for them (no recompute — changes made while
    unfingerprinted are trusted away, by construction of fingerprint=False),
    after which change invalidation and deletion semantics apply normally.
    fingerprint_payload=True folds payload length + a head-of-blob crc32
    into the fingerprint (detects a bytes swap with unchanged metadata, at
    the cost of a non-column-pruned pre-scan).
    catalog: SQL namespace for the output tables (e.g. an Iceberg
    "local.db" or the builtin "spark_catalog.curation") — labels/lineage/
    metrics/checkpoints become catalog tables with identical semantics
    (see tables.TableLayer); out_dir is then only a log tag.
    """
    t0 = time.time()
    _set_arrow_batch(spark)
    tl = TableLayer(out_dir, catalog=catalog)
    run_id = uuid.uuid4().hex[:12]
    log = configure()

    # ---- partition-layout guard: part_id = crc32(clip_id) % n_parts, so a
    # DIFFERENT n_parts is a different table layout — resuming across it
    # would mix two partitionings in one labels table (shrink 32->16 leaves
    # stale part_id=16..31 directories behind and every clip appears twice).
    # The layout is stamped into every checkpoint row; on mismatch the old
    # labels + checkpoints are wiped and everything recomputes (the
    # reference's cache key covers every argument — partitioning config is
    # an argument, /root/reference/src/datasmith/utils.py:94-101).
    if tl.exists(spark, "checkpoints"):
        cp_raw = tl.read(spark, "checkpoints")
        if "n_parts" not in cp_raw.columns:
            stored_np = None  # pre-guard checkpoints: layout unknown
        else:
            # a null value (schema-merged old rows) means layout unknown too —
            # treat like a missing column and recompute, don't TypeError
            raw_np = cp_raw.orderBy(F.col("ts").desc()).select("n_parts").first()[0]
            stored_np = None if raw_np is None else int(raw_np)
        if stored_np != n_parts:
            log.warning(
                "partition layout changed (checkpointed n_parts=%s, requested %d): "
                "wiping labels+checkpoints and recomputing all parts",
                stored_np, n_parts,
                extra={"out_dir": out_dir, "event": "layout_change", "parts": n_parts},
            )
            tl.wipe("labels")
            tl.wipe("checkpoints")

    def _fp_source() -> DataFrame:
        src = spark.read.parquet(input_dir) if input_dir is not None else clips
        cols = list(META_FP_COLS) + (["bytes"] if fingerprint_payload else [])
        return src.select(*cols)

    fps: dict[int, str] = {}
    if fingerprint:
        fps = part_fingerprints(_fp_source(), n_parts, payload=fingerprint_payload)

    all_parts = list(range(n_parts))
    done: set[int] = set()
    if not force and tl.exists(spark, "checkpoints"):
        latest = tl.latest_per_key(spark, "checkpoints", ["part_id"], "ts").filter(
            F.col("status") == "done"
        )
        if fingerprint:
            if "fingerprint" in latest.columns:
                stored = {r.part_id: r.fingerprint for r in latest.select("part_id", "fingerprint").collect()}
                # _FP_ANY (written by a fingerprint=False run, which trusts
                # part ids alone) counts as done only while the part still
                # has input rows; it is then ADOPTED below — re-checkpointed
                # with the current fingerprint — so every LATER input change
                # invalidates it normally. An _FP_ANY part whose input rows
                # vanished is NOT done: it gets recomputed-empty and its
                # stale labels directory dropped (deletion semantics).
                done = {
                    p for p, f in stored.items()
                    if f == fps.get(p, _FP_EMPTY) or (f == _FP_ANY and p in fps)
                }
                adopted = [p for p, f in stored.items() if f == _FP_ANY and p in fps]
                if adopted:
                    adopt = _checkpoint_frame(
                        spark, adopted, run_id, had_rows=[1] * len(adopted),
                        fingerprints=[fps[p] for p in adopted], n_parts=n_parts,
                    )
                    tl.append(adopt.coalesce(1), "checkpoints")
            # checkpoints written before fingerprints existed: treat all as
            # stale (recompute is idempotent; serving stale labels is not)
        else:
            done = {r.part_id for r in latest.select("part_id").collect()}
    pending = [p for p in all_parts if p not in done]
    if fail_after_parts is not None:
        pending = pending[:fail_after_parts]
    log.info(
        "run %s: %d pending, %d checkpoint-valid of %d parts",
        run_id, len(pending), len(done), n_parts,
        extra={"run_id": run_id, "parts": len(pending), "out_dir": out_dir, "event": "resume"},
    )
    if not pending:
        return {"run_id": run_id, "parts_processed": 0, "n_labeled": 0, "wall_sec": 0.0}

    if input_dir is not None:
        labels = label_clips_fused(spark, input_dir, n_parts=n_parts, parts_filter=pending)
    else:
        part_col = F.pmod(F.crc32(F.col("clip_id").cast("binary")), F.lit(n_parts)).cast("int")
        subset = clips.filter(part_col.isin(pending))
        labels = label_clips(subset, n_parts=n_parts)

    with stage_timer(log, "label+write", run_id=run_id, parts=len(pending)):
        tl.overwrite_partitions(labels, "labels", "part_id")

    # deletion semantics (reference INSERT OR REPLACE upsert,
    # /root/reference/src/datasmith/utils.py:130-138): a pending part with NO
    # current input rows (all its clips were deleted) produces no output, so
    # dynamic overwrite leaves its old labels directory behind — drop it
    # explicitly. Only knowable when the input was fingerprinted.
    if fingerprint:
        emptied = [p for p in pending if p not in fps]
        if emptied:
            log.info(
                "dropping %d label partition(s) with no remaining input: %s",
                len(emptied), emptied,
                extra={"run_id": run_id, "event": "drop_partitions", "parts": len(emptied)},
            )
            tl.drop_partitions("labels", "part_id", emptied)

    # ---- one rollup over the committed pending partitions feeds every side
    # table. Reading the table back (not the in-flight frame) keeps lineage a
    # description of what the table holds. At most n_parts x langs x codecs
    # x 6 rows reach the driver; keyed by the uniform part_id, the Zipf-hot
    # (en, pcm16) bucket is already split n_parts ways before the fold.
    lab = tl.read_partitions(spark, "labels", "part_id", pending, labels.schema)
    roll = lab.groupBy(
        "part_id", lang_bucket().alias("lang"), "codec", "drop_stage"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        F.sum("pii_count").alias("pii_total"),
        F.sum("tox_count").alias("tox_total"),
    ).toPandas()
    lineage, metrics = fold_rollup(roll)
    side = {"run_id": F.lit(run_id), "ts": F.current_timestamp()}

    with stage_timer(log, "lineage", run_id=run_id):
        tl.append(local_frame(spark, lineage, _LINEAGE_SCHEMA).withColumns(side), "lineage")
    with stage_timer(log, "metrics", run_id=run_id):
        tl.append(local_frame(spark, metrics, _METRICS_SCHEMA).withColumns(side), "metrics")

    # ---- checkpoints last (a crash before this point leaves parts pending =>
    # they are recomputed and idempotently overwritten on resume)
    n_labeled = int(lineage["n_in"].sum())
    counted = set(lineage["part_id"].tolist())
    cp = _checkpoint_frame(
        spark,
        pending,
        run_id,
        had_rows=[int(p in counted) for p in pending],
        fingerprints=[fps.get(p, _FP_EMPTY) if fingerprint else _FP_ANY for p in pending],
        n_parts=n_parts,
    )
    # coalesce(1): the done-marker lands as ONE parquet file, so the commit
    # is a single atomic rename (no partially-visible checkpoint append)
    tl.append(cp.coalesce(1), "checkpoints")

    wall = time.time() - t0
    log.info(
        "run %s done: %d parts, %d rows labeled in %.1fs",
        run_id, len(pending), n_labeled, wall,
        extra={"run_id": run_id, "event": "done", "parts": len(pending),
               "rows": n_labeled, "wall_sec": round(wall, 3)},
    )
    return {
        "run_id": run_id,
        "parts_processed": len(pending),
        "n_labeled": n_labeled,
        "wall_sec": wall,
    }


def default_out_dir(tag: str) -> str:
    return os.path.join("/root/repo/.data/out", tag)
