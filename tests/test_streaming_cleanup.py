"""run_to_completion leaves no checkpoint dir behind, and the frame it
returns is served from the memory sink, not from that checkpoint."""

from __future__ import annotations

import glob
import os
import tempfile

from pyspark.sql import functions as F

from eecs485_p4_mapreduce_spark.sources import load_table
from eecs485_p4_mapreduce_spark.streaming import events_stream, run_to_completion


def test_run_to_completion_removes_its_checkpoint(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    agg = events_stream(spark, sf_dir).groupBy("event_type").count()
    out = run_to_completion(agg)
    assert glob.glob(os.path.join(str(tmp_path), "spark-graft-ckpt-*")) == []
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("count"))
    )
    assert sorted(out.collect()) == sorted(want.collect())
