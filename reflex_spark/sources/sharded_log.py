"""ShardedEventLog: the horizontal scale-out of EventLog.

A single EventLog serializes id assignment per append (like the reference's
MySQL auto-increment). The documented scale-out (reference README cites
Kafka's partition model as its inspiration) is N independent logs with
events routed by key hash:

- per-shard dense monotonic ids → per-key total order (a key always routes
  to the same shard), which is exactly the ordering the reference's
  parallel consumers guarantee (HashOptionEventForeignID,
  rpatterns/parallel.go:26-28);
- appends parallelize across shards; a shard is the unit of consumer
  parallelism (parallel_specs pairs naturally: one Spec per shard);
- global ordering is (shard, event_id) — sufficient for every reference
  pattern, none of which require cross-key total order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reflex_spark.sources.event_log import EVENT_SCHEMA, EventLog


def shard_of(key: F.Column | str, n_shards: int) -> F.Column:
    """Deterministic shard route (stable across runs/engines: crc32)."""
    c = F.col(key) if isinstance(key, str) else key
    return F.pmod(F.crc32(c.cast("string")), F.lit(n_shards)).cast("int")


class ShardedEventLog:
    def __init__(self, spark: SparkSession, path: str, n_shards: int, partitioned: bool = False):
        self.spark = spark
        self.path = path.rstrip("/")
        self.n_shards = n_shards
        self.shards = [
            EventLog(spark, f"{self.path}/shard={m}", partitioned=partitioned)
            for m in range(n_shards)
        ]

    def append(self, events: DataFrame, key_col: str = "foreign_id") -> None:
        """Route rows to shards by key hash; each shard assigns its own
        dense ids. One Spark job per non-empty shard (at scale each shard
        is an independent writer — this loop is the local[?] stand-in)."""
        routed = events.withColumn("__shard", shard_of(key_col, self.n_shards))
        for m, shard in enumerate(self.shards):
            part = routed.where(F.col("__shard") == m).drop("__shard")
            if part.limit(1).count():
                shard.append(part)

    def read(self) -> DataFrame:
        """Union scan with shard provenance: (shard, event_id) is the
        global order; per-key order is just event_id (one shard per key)."""
        out = None
        for m, shard in enumerate(self.shards):
            df = shard.read().withColumn("shard", F.lit(m))
            out = df if out is None else out.unionByName(df)
        return out

    def read_stream(self, max_files_per_trigger: int | None = None) -> DataFrame:
        """One streaming source over all shards (glob path); the checkpoint
        tracks files per shard directory. ``maxFileAge`` as in
        ``EventLog.read_stream``: shards stamp logical mtimes too."""
        reader = (
            self.spark.readStream.schema(EVENT_SCHEMA)
            .option("pathGlobFilter", "*.parquet")
            .option("maxFileAge", EventLog._STREAM_MAX_FILE_AGE)
        )
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        return reader.parquet(f"{self.path}/shard=*")

    def heads(self) -> list[int]:
        return [s.head() for s in self.shards]
