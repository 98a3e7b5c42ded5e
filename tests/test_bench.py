"""bench.py's per-query layer record and its summary line."""

import bench
from __spark_entry__ import queries

LAYERS = {"build_s", "catalyst_ms", "exec_s", "shuffle_write_bytes",
          "memory_spill_bytes", "disk_spill_bytes", "persisted_rdds_after"}


def test_record_and_summary(spark, sf_dir):
    rec = bench.record(spark, queries()["q6_forecast_revenue"], sf_dir)
    assert set(rec) == LAYERS
    for key in ("build_s", "catalyst_ms", "exec_s"):
        assert len(rec[key]) == 2 and min(rec[key]) >= 0
    assert min(rec[k] for k in LAYERS - {"build_s", "catalyst_ms", "exec_s"}) >= 0

    line = bench.summary({"q6_forecast_revenue": rec}, bench.sf_of(sf_dir),
                         bench.run_info(spark))
    assert set(line) == {"metric", "value", "unit", "queries", "sf", "cores",
                         "peak_rss_mb", "gc", "gc_collections", "gc_ms"}
    assert line["peak_rss_mb"] > 0
    assert line["gc"] == ["PS MarkSweep", "PS Scavenge"]
    for key in ("gc_collections", "gc_ms"):
        assert sorted(line[key]) == line["gc"] and min(line[key].values()) >= 0
    assert line["sf"] == 0.001
    assert line["value"] == round(min(b + e for b, e in zip(rec["build_s"], rec["exec_s"])), 3)
