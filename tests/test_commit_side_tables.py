"""Side tables of run_pipeline's commit (one rollup, folded on the driver)
against direct Spark aggregates over the labels table it committed: the
per-part lineage, the salted per-(lang, codec) metrics and the checkpoint
rows — same column names, types and order, same values, nulls included."""

from __future__ import annotations

import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

from datasmith_spark.core import rules as R
from datasmith_spark.oracle import part_id_of
from datasmith_spark.pipeline import META_FP_COLS, part_fingerprints, run_pipeline
from datasmith_spark.tables import TableLayer

from .conftest import N_PARTS

ALL_KEPT = 0  # the crafted input keeps only the kept clips of this part
EMPTIED = 5  # a later input drops every clip of this part


def _direct_lineage(lab):
    return lab.groupBy("part_id").agg(
        F.count("*").alias("n_in"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        *[
            F.sum((F.col("drop_stage") == s).cast("long")).alias(f"drop_{s}")
            for s in R.STAGES
        ],
    )


def _direct_metrics(lab):
    salt = F.pmod(F.crc32(F.col("clip_id").cast("binary")), F.lit(16))
    partial = lab.groupBy(
        F.coalesce(F.col("lang"), F.lit("?")).alias("lang"), F.col("codec"), salt.alias("_salt")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        F.sum("pii_count").alias("pii_total"),
        F.sum("tox_count").alias("tox_total"),
    )
    return partial.groupBy("lang", "codec").agg(
        F.sum("n").alias("n"),
        F.sum("n_keep").alias("n_keep"),
        F.sum("pii_total").alias("pii_total"),
        F.sum("tox_total").alias("tox_total"),
    ).withColumn("keep_rate", F.col("n_keep") / F.col("n"))


def _types(df) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


def _sorted_pdf(df, keys: list[str]) -> pd.DataFrame:
    return df.toPandas().sort_values(keys, na_position="last").reset_index(drop=True)


def _assert_rows_equal(got: pd.DataFrame, want: pd.DataFrame) -> None:
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    for c in want.columns:
        bad = [
            (u, v)
            for u, v in zip(got[c].astype(object), want[c].astype(object))
            if not ((pd.isna(u) and pd.isna(v)) or u == v)
        ]
        assert not bad, f"{c}: {bad[:5]}"


def _check_run(spark, tl, res, parts, fps) -> dict[str, pd.DataFrame]:
    """Assert the run's lineage, metrics and checkpoint rows equal the
    direct aggregates over its committed parts; returns the written rows."""
    run = F.col("run_id") == res["run_id"]
    lab = tl.read(spark, "labels").filter(F.col("part_id").isin(parts))
    out = {}
    for name, want, keys in (
        ("lineage", _direct_lineage(lab), ["part_id"]),
        ("metrics", _direct_metrics(lab), ["lang", "codec"]),
    ):
        table = tl.read(spark, name)
        assert _types(table) == _types(want) + [("run_id", "string"), ("ts", "timestamp")]
        got = _sorted_pdf(table.filter(run).drop("run_id", "ts"), keys)
        _assert_rows_equal(got, _sorted_pdf(want, keys))
        out[name] = got

    cp = tl.read(spark, "checkpoints")
    assert _types(cp) == [
        ("part_id", "int"), ("status", "string"), ("run_id", "string"), ("had_rows", "int"),
        ("fingerprint", "string"), ("n_parts", "int"), ("ts", "timestamp"),
    ]
    got = _sorted_pdf(cp.filter(run).drop("run_id", "ts"), ["part_id"])
    nonempty = {r.part_id for r in lab.select("part_id").distinct().collect()}
    want = pd.DataFrame({
        "part_id": sorted(parts),
        "status": "done",
        "had_rows": [int(p in nonempty) for p in sorted(parts)],
        "fingerprint": [fps.get(p, "0:0") for p in sorted(parts)],
        "n_parts": N_PARTS,
    })
    _assert_rows_equal(got, want)
    assert res["n_labeled"] == lab.count()
    return out


def _fps(spark, src) -> dict[int, str]:
    return part_fingerprints(src.select(*META_FP_COLS), N_PARTS)


@pytest.fixture(scope="module")
def crafted_clips(spark, clips_path, oracle_pdf):
    """The test clips with part ALL_KEPT reduced to its kept clips."""
    kept = set(oracle_pdf.loc[oracle_pdf["keep"], "clip_id"])
    clips = spark.read.parquet(clips_path)
    ids = [
        r.clip_id for r in clips.select("clip_id").collect()
        if part_id_of(r.clip_id, N_PARTS) != ALL_KEPT or r.clip_id in kept
    ]
    return clips.filter(F.col("clip_id").isin(ids))


def test_side_tables_match_direct_aggregates(spark, crafted_clips, tmp_path):
    inp, out = str(tmp_path / "inp"), str(tmp_path / "out")
    crafted_clips.coalesce(2).write.parquet(inp)
    tl = TableLayer(out)
    res = run_pipeline(spark, None, out, n_parts=N_PARTS, input_dir=inp)
    assert res["parts_processed"] == N_PARTS
    rows = _check_run(spark, tl, res, list(range(N_PARTS)), _fps(spark, spark.read.parquet(inp)))

    lin = rows["lineage"].set_index("part_id")
    drop_cols = [f"drop_{s}" for s in R.STAGES]
    # every clip kept: each drop_<stage> is null, not 0
    assert lin.loc[ALL_KEPT, "n_keep"] == lin.loc[ALL_KEPT, "n_in"]
    assert lin.loc[ALL_KEPT, drop_cols].isna().all()
    # clips dropped at other stages only: 0, not null
    assert (lin.drop(index=ALL_KEPT)[drop_cols] == 0).any().any()
    met = rows["metrics"]
    # clips dropped before langid land in the '?' bucket, never scrubbed
    unknown = met[met["lang"] == "?"]
    assert len(unknown) and unknown["pii_total"].isna().all() and unknown["tox_total"].isna().all()
    assert not met["lang"].isna().any()

    # every input clip of EMPTIED deleted: one pending part, an empty rollup
    crafted_clips.filter(
        F.pmod(F.crc32(F.col("clip_id").cast("binary")), F.lit(N_PARTS)) != EMPTIED
    ).coalesce(2).write.mode("overwrite").parquet(inp)
    res2 = run_pipeline(spark, None, out, n_parts=N_PARTS, input_dir=inp)
    assert res2["parts_processed"] == 1 and res2["n_labeled"] == 0
    rows2 = _check_run(spark, tl, res2, [EMPTIED], _fps(spark, spark.read.parquet(inp)))
    assert rows2["lineage"].empty and rows2["metrics"].empty


def test_partial_run_side_tables(spark, crafted_clips, tmp_path):
    out = str(tmp_path / "out")
    tl = TableLayer(out)
    fps = _fps(spark, crafted_clips)
    r1 = run_pipeline(spark, crafted_clips, out, n_parts=N_PARTS, fail_after_parts=5)
    assert r1["parts_processed"] == 5
    _check_run(spark, tl, r1, list(range(5)), fps)
    r2 = run_pipeline(spark, crafted_clips, out, n_parts=N_PARTS)
    assert r2["parts_processed"] == N_PARTS - 5
    _check_run(spark, tl, r2, list(range(5, N_PARTS)), fps)


def test_catalog_side_tables(spark, crafted_clips, tmp_path):
    db = f"side_test_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path}/warehouse'")
    try:
        catalog = f"spark_catalog.{db}"
        tag = str(tmp_path / "cat_run")
        tl = TableLayer(tag, catalog=catalog)
        fps = _fps(spark, crafted_clips)
        r1 = run_pipeline(spark, crafted_clips, tag, n_parts=N_PARTS, fail_after_parts=3,
                          catalog=catalog)
        _check_run(spark, tl, r1, list(range(3)), fps)
        r2 = run_pipeline(spark, crafted_clips, tag, n_parts=N_PARTS, catalog=catalog)
        _check_run(spark, tl, r2, list(range(3, N_PARTS)), fps)
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
