"""checkpointed_write: ledger read errors, the two-write protocol under a
fault, session-conf hygiene and the per-call Spark job budget."""

import glob
import os

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from trefoil_spark.plans import checkpointing
from trefoil_spark.plans.checkpointing import CHECKPOINT_SCHEMA, checkpointed_write
from trefoil_spark.session import local_frame


@pytest.fixture
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "bucket", (F.col("doc_id") % 4).cast("int")
    )


def _ledger(spark, cp):
    return spark.read.schema(CHECKPOINT_SCHEMA).parquet(cp).collect()


def _ledger_files(cp):
    return len(glob.glob(os.path.join(cp, "part-*.parquet")))


def test_local_frame_roundtrip(spark):
    schema = "s string, n bigint, k int, x double"
    rows = [("a", 1, 2, 2.5), (None, None, None, None), ("é|b", -(2**40), 7, -0.0)]
    df = local_frame(spark, rows, schema)
    assert df.schema.simpleString() == "struct<s:string,n:bigint,k:int,x:double>"
    assert [tuple(r) for r in df.collect()] == rows
    empty = local_frame(spark, [], schema)
    assert empty.schema == df.schema and empty.count() == 0


def test_corrupt_ledger_raises(spark, docs, tmp_path):
    out, cp = str(tmp_path / "out"), str(tmp_path / "ledger")
    os.makedirs(cp)
    with open(os.path.join(cp, "part-00000-corrupt.snappy.parquet"), "wb") as f:
        f.write(b"not a parquet file" * 64)
    # the ledger read itself fails: Spark names the corrupt ledger file
    with pytest.raises(Py4JJavaError, match=r"FAILED_READ_FILE\S* .*ledger/part-00000-corrupt"):
        checkpointed_write(docs, out, cp, "s1", ["bucket"])
    assert not os.path.exists(out)  # no key was redone


def test_no_session_conf_mutation(spark, sf_dir, tmp_path):
    # a fresh session: its SQL conf holds the defaults whatever ran before
    session = spark.newSession()
    docs = session.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "bucket", (F.col("doc_id") % 4).cast("int")
    )
    key = "spark.sql.sources.partitionOverwriteMode"
    assert session.conf.get(key).lower() == "static"
    out, cp = str(tmp_path / "out"), str(tmp_path / "ledger")
    checkpointed_write(docs.filter(F.col("bucket") < 2), out, cp, "s1", ["bucket"])
    checkpointed_write(docs, out, cp, "s1", ["bucket"])
    assert session.conf.get(key).lower() == "static"
    # the per-write dynamic overwrite kept the first call's partitions
    assert session.read.parquet(out).count() == docs.count()


def test_ledger_append_fault_then_restart(spark, docs, tmp_path, monkeypatch):
    out, cp = str(tmp_path / "out"), str(tmp_path / "ledger")
    want = {
        str(r["bucket"]): r["n"]
        for r in docs.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    checkpointed_write(docs.filter(F.col("bucket") < 2), out, cp, "s1", ["bucket"])

    real_append = checkpointing._append_ledger

    def killed_after_data_commit(*args):
        monkeypatch.setattr(checkpointing, "_append_ledger", real_append)
        raise OSError("killed between the data commit and the ledger append")

    monkeypatch.setattr(checkpointing, "_append_ledger", killed_after_data_commit)
    with pytest.raises(OSError):
        checkpointed_write(docs.filter(F.col("bucket") < 3), out, cp, "s1", ["bucket"])
    # bucket 2 reached the output but not the ledger
    assert spark.read.parquet(out).filter("bucket = 2").count() == want["2"]
    assert sorted(r["key"] for r in _ledger(spark, cp)) == ["0", "1"]

    r = checkpointed_write(docs, out, cp, "s1", ["bucket"])
    assert r["skipped_keys"] == 2  # only the keys the ledger committed
    assert r["written_keys"] == 2 and r["written_rows"] == want["2"] + want["3"]

    got = spark.read.parquet(out)
    assert got.count() == docs.count()
    assert got.select("doc_id").distinct().count() == docs.count()
    ledger = _ledger(spark, cp)
    assert sorted(row["key"] for row in ledger) == ["0", "1", "2", "3"]
    assert {row["key"]: row["row_count"] for row in ledger} == want


def test_resume_filter_any_key_text(spark):
    keys = ["plain", "it's", "back\\slash", "a|b", "é", "", "new\nline"]
    df = local_frame(spark, [(k,) for k in keys + ["left", "it"]], "k string")
    kept = checkpointing.resume_filter(df, keys, ["k"])
    assert kept.columns == ["k"]
    assert sorted(r["k"] for r in kept.collect()) == ["it", "left"]


def test_restart_job_budget(spark, docs, tmp_path):
    out, cp = str(tmp_path / "out"), str(tmp_path / "ledger")
    checkpointed_write(docs.filter(F.col("bucket") < 2), out, cp, "s1", ["bucket"])
    assert _ledger_files(cp) == 1

    sc = spark.sparkContext
    group = "test_checkpointing.restart"
    sc.setJobGroup(group, "checkpointed_write restart")
    try:
        r = checkpointed_write(docs, out, cp, "s1", ["bucket"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert r["written_keys"] == 2 and r["skipped_keys"] == 2
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 5
    assert _ledger_files(cp) == 2  # one parquet file per ledger append
