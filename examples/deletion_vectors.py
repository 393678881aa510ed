"""Deletion-vector walkthrough: trickle row-level deletes with Iceberg V3
deletion vectors (one roaring bitmap per touched data file inside a Puffin
container), the one-vector-per-file replacement rule, migrating V2-style
parquet position deletes, and folding everything back into clean data files.

Why this matters at scale: a parquet position-delete commit adds one file
per commit FOREVER (a month of trickle deletes = thousands of tiny delete
files every reader must anti-join); a deletion vector keeps at most one
compressed bitmap per touched data file no matter how many commits land.
"""
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from denali_spark.catalog import CatalogServer, make_state
from denali_spark.engine.session import get_spark
from denali_spark.sources import (
    SparkCatalogIO,
    convert_deletes_to_dvs,
    delete_where_dv,
    delete_where_mor,
    rewrite_deletes,
)
from denali_spark.sources import expressions as E
from denali_spark.sources.catalog_io import split_entries
from denali_spark.sources.manifests import read_manifest_list
from denali_spark.sources.puffin import read_dv_positions

spark = get_spark("deletion-vectors")
spark.sparkContext.setLogLevel("ERROR")
server = CatalogServer(make_state(tempfile.mkdtemp(prefix="denali-example-wh-"))).start()
io = SparkCatalogIO(spark, server.uri)
ns, name = ["dv"], "users"

# four data files of 1000 rows each
for k in range(4):
    io.write_table(
        spark.range(k * 1000, (k + 1) * 1000).select(
            "id", (F.col("id") % 97).alias("score")
        ).coalesce(1),
        ns, name, mode="append",
    )


def delete_side():
    md = io.client.load_table(ns, name)["metadata"]
    snap = io._resolve_snapshot(md)
    return split_entries(read_manifest_list(snap["manifest-list"]))[1]


# 1. a trickle of DV deletes: each commit REPLACES the touched file's vector
for lo, hi in [(10, 20), (15, 40), (2500, 2600)]:
    delete_where_dv(io, ns, name, E.and_(E.gt_eq("id", lo), E.lt("id", hi)))
deletes = delete_side()
print("after 3 DV delete commits:")
for e in deletes:
    positions = read_dv_positions(
        e["path"], e["content-offset"], e["content-size-in-bytes"]
    )
    print(f"  {Path(e['referenced-data-file']).parent.name}: "
          f"1 vector, {e['record-count']} deleted rows "
          f"(bitmap {e['content-size-in-bytes']} bytes, "
          f"positions {positions[0]}..{positions[-1]})")
assert len(deletes) == 2  # 3 commits, but only one vector per touched file
print("visible rows:", io.read_table(ns, name).count())  # 4000 - 30 - 100

# 2. legacy V2-style parquet position deletes migrate into vectors
delete_where_mor(io, ns, name, E.eq("id", 3999))
print("\ndelete files after a V2-style positional delete:",
      sorted(e["file-format"] for e in delete_side()))
convert_deletes_to_dvs(io, ns, name)
print("after convert_deletes_to_dvs:",
      sorted(e["file-format"] for e in delete_side()))
assert all(e["file-format"] == "puffin" for e in delete_side())

# 3. compaction folds vectors into rewritten data files
rewrite_deletes(io, ns, name)
print("\nafter rewrite_deletes:", len(delete_side()), "delete entries,",
      io.read_table(ns, name).count(), "rows (pure-scan reads restored)")

server.stop()
