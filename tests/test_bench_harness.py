"""The bench recorders' shared host stamps and per-entry hygiene."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

from usedcars_bigdata_spark.hoststat import cpu_jiffies, steal_pct


def test_cpu_jiffies_pins_busy_on_fixed_stat_line(tmp_path):
    """user nice system idle iowait irq softirq steal guest guest_nice:
    busy leaves out idle and iowait, and guest and guest_nice, which the
    kernel already counts inside user and nice."""
    stat = tmp_path / "stat"
    stat.write_text("cpu  100 20 50 1000 30 5 7 40 60 3\ncpu0 1 2 3 4 5 6 7 8 9 10\n")
    assert cpu_jiffies(str(stat)) == (40, 100 + 20 + 50 + 5 + 7 + 40)
    assert steal_pct((0, 0), (40, 222)) == 18.02
    assert cpu_jiffies(str(tmp_path / "missing")) is None
    assert steal_pct(None, (40, 222)) is None


def _load_bench():
    path = Path(__file__).resolve().parents[1] / "bench.py"
    spec = importlib.util.spec_from_file_location("bench", path)
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    return bench


def test_bench_entry_that_raises_leaves_no_pending_shuffle_snapshot(spark, monkeypatch):
    """An entry raising between a stream build's conf save and its restore
    must leave neither the stream-sized conf nor the saved snapshot behind
    for the next entry."""
    from usedcars_bigdata_spark.streaming import events

    bench = _load_bench()
    default = spark.conf.get("spark.sql.shuffle.partitions")

    def raising_entry(spark, sf_dir):
        events.save_batch_shuffle_conf(spark)
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        raise RuntimeError("stream build failed before start()")

    monkeypatch.setitem(bench.QUERIES, "raising_entry", raising_entry)
    with pytest.raises(RuntimeError):
        bench.time_query(spark, "unused", "raising_entry")
    assert events._SAVED_BATCH_SHUFFLE == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == default
