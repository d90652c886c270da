"""Why ``replication`` leaves out ``warehouse.compact_partitions``.

    python3 perfbench/compaction_repro.py

Lands three small hits batches through ``streaming.cdc.start_append_stream``
(one availableNow drain each, so every week holds several files),
compacts the sink with ``warehouse.compact_partitions`` and reads the
table back.  The read fails: the sink's ``_spark_metadata`` log still
lists the files the compaction replaced.  Exits 0 while that failure
reproduces and 1 once the read succeeds, i.e. once the benchmark can add
compaction to the replication loop.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402
from perfbench.common import Session, log, scratch_dir  # noqa: E402


def main() -> int:
    tmp = scratch_dir("compaction", 0)
    session = Session(tmp)
    try:
        spark = session.start()
        from yc_data_transfer_clickhouse_from_yandex_metrica_spark.sources import warehouse
        from yc_data_transfer_clickhouse_from_yandex_metrica_spark.streaming import cdc

        from perfbench.replication import Lander

        feed = gen.CdcFeed(0, os.path.join(tmp, "stage"))
        feed.make(3)
        schema = spark.read.parquet(feed.batches[0]["hits_file"]).schema
        feeds = {k: os.path.join(tmp, f"feed_{k}") for k in ("hits", "visits")}
        for d in feeds.values():
            os.makedirs(d)
        dest, ck = os.path.join(tmp, "wh_hits"), os.path.join(tmp, "ck_hits")
        for b in range(3):
            Lander(feed.batches, feeds, 0.0, b, b + 1, None).run()
            cdc.start_append_stream(spark, feeds["hits"], schema, dest, ck, "EventDate").awaitTermination()
        with open(os.path.join(dest, "_table_meta.json"), "w") as f:
            json.dump({"date_col": "EventDate", "sort_by": ["CounterID"], "sample_by": None}, f)
        before = warehouse.read_table(spark, dest).count()
        res = warehouse.compact_partitions(spark, dest, max_files_per_week=1)
        log(f"rows before compaction: {before}; compaction: {res}")
        try:
            after = warehouse.read_table(spark, dest).count()
        except Exception as ex:  # the failure this script documents
            if "FileNotFoundException" not in str(ex):
                raise
            cause = next(ln for ln in str(ex).splitlines() if "FileNotFoundException" in ln)
            log(f"read after compaction fails: {cause.strip()[:300]}")
            return 0
        log(f"read after compaction returns {after} rows: compaction is safe on the sink now")
        return 1
    finally:
        session.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
