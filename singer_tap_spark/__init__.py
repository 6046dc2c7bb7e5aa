"""singer_tap_spark — a PySpark-native CDC / incremental-ingest engine.

A from-scratch re-expression of the capabilities of planetscale/singer-tap
(reference at /root/reference, Go) on Apache Spark:

    change-log tail  ->  vectorized decode  ->  event-time LWW dedup
        ->  skew-safe keyed MERGE upsert  ->  per-partition lineage checkpoint

The reference is a single-threaded Singer.io tap that tails a Vitess VStream
binlog (cmd/internal/planetscale_edge_database.go:80-142), resumes from
per-(stream, shard) GTID cursors (cmd/internal/types.go:455-469) and upserts
batches with per-PK last-writer-wins sequence semantics
(cmd/internal/http_record_writer.go:184-191).  This package rebuilds those
semantics Spark-first: Structured Streaming for the tail, Catalyst-optimised
DataFrame expressions for decode/projection, key-windowed `row_number() == 1`
LWW dedup (map-side WindowGroupLimit => skew-proof), and one lake MERGE sink:
a bucket-partitioned Parquet merge on a local filesystem.  Object storage
waits on an Iceberg runtime jar (`MERGE INTO`), which is not in the repo.
"""

from singer_tap_spark.session import get_spark  # noqa: F401
from singer_tap_spark.changelog import CHANGE_SCHEMA, generate_changelog  # noqa: F401
from singer_tap_spark.dedup import lww_latest, lww_latest_window  # noqa: F401
from singer_tap_spark.lake import ParquetLakeTable  # noqa: F401
from singer_tap_spark.lineage import Lineage, StaleCheckpointError  # noqa: F401
from singer_tap_spark.pipeline import CDCPipeline, PipelineConfig  # noqa: F401
from singer_tap_spark.catalog import Catalog, Stream, discover  # noqa: F401
from singer_tap_spark.sync import SyncLayout, bootstrap_from_snapshot, sync_all  # noqa: F401

__version__ = "0.1.0"
