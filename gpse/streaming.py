"""Structured Streaming expression of the engine's stream-shaped ops.

The crawl loop itself is iterated batch by design (SURVEY.md §2.9 — each
round is one Spark job, which is what the north_star prescribes), but every
streaming-semantics capability has a native Structured Streaming mapping
here for continuous-ingest deployments: watermarked event-time windows,
session windows, and stateful streaming dedup of the URL stream.

All entry points take/return streaming DataFrames (spark.readStream …),
and are tested with file sources + Trigger.AvailableNow → memory sink
(deterministic, no wall-clock dependence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpse.synth import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of pages (one file per crawl round in practice:
    the catalog's per-round snapshot dirs double as a stream source)."""
    return spark.readStream.schema(PAGES_SCHEMA).parquet(path)


def hourly_fetch_metrics(pages: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling event-time window over capture time with late-data bound —
    the streaming form of the per-round metrics rollup (D5)."""
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", "1 hour").alias("w"), "lang")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.length("html")).alias("bytes_in"),
        )
        .select(F.col("w.start").alias("hour"), "lang", "n_pages", "bytes_in")
    )


def rolling_fetch_rate(
    pages: DataFrame,
    window: str = "10 minutes",
    slide: str = "1 minute",
    watermark: str = "2 hours",
) -> DataFrame:
    """SLIDING event-time window (§2.9 'rolling fetch-rate'): overlapping
    10-minute windows advancing every minute, so each capture lands in 10
    windows. The streaming form of the batch `sliding_window` query."""
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window, slide).alias("w"))
        .agg(F.count("*").alias("n_fetches"), F.sum(F.length("html")).alias("bytes_in"))
        .select(F.col("w.start").alias("win_start"), "n_fetches", "bytes_in")
    )


def host_fetch_sessions(pages: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-host session windows split by idle gaps (politeness analysis)."""
    host = F.lower(F.parse_url("url", F.lit("HOST")))
    return (
        pages.withWatermark("warc_ts", "2 hours")
        .groupBy(host.alias("host"), F.session_window("warc_ts", gap).alias("w"))
        .agg(F.count("*").alias("n_fetches"))
        .select("host", F.col("w.start").alias("session_start"), "n_fetches")
    )


def streaming_dedup_urls(pages: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful streaming dedup on the canonical URL hash — the seen-set
    semantics expressed as a streaming operator (state store holds the
    within-watermark seen set; the durable cross-round seen set stays the
    batch anti-join in gpse/seen.py)."""
    return (
        pages.withColumn("url_hash", F.xxhash64("url"))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["url_hash"])
        .select("url", "url_hash", "warc_ts")
    )


def host_token_bucket(pages: DataFrame, budget_total: int = 5) -> DataFrame:
    """Custom stateful per-key operator (§2.9): a per-host token bucket that
    persists ACROSS micro-batches via applyInPandasWithState — the
    streaming-native form of the politeness budget. Each host gets
    `budget_total` fetches for the stream's lifetime; the rest are marked
    deferred. State = tokens used so far, kept in the state store."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    host = F.lower(F.parse_url("url", F.lit("HOST")))

    def bucket(key, pdfs, state: GroupState):
        used = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n = len(pdf)
            take = max(0, min(budget_total - used, n))
            used += take
            yield pd.DataFrame(
                {
                    "host": [key[0]] * n,
                    "url": pdf["url"],
                    "allowed": [True] * take + [False] * (n - take),
                }
            )
        state.update((used,))

    return (
        pages.withColumn("host", host)
        .groupBy("host")
        .applyInPandasWithState(
            bucket,
            outputStructType="host string, url string, allowed boolean",
            stateStructType="used long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def host_token_bucket_tws(pages: DataFrame, budget_total: int = 5) -> DataFrame:
    """The same per-host token bucket expressed with Spark 4's
    transformWithStateInPandas — the successor API to
    applyInPandasWithState (StatefulProcessor with typed, named state
    slots instead of one GroupState tuple; supports timers/TTL/multiple
    states, none of which this operator needs). Output equality with the
    GroupState form is pinned by a test, so both stateful surfaces stay
    demonstrated and interchangeable.

    Executing this API requires `google.protobuf` (Spark's state-server
    protocol); the sandbox ships no protobuf wheel and has no pip mirror
    (SURVEY.md §7.2), so the parity test skips offline."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    host = F.lower(F.parse_url("url", F.lit("HOST")))

    class Bucket(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._used = handle.getValueState("used", "used long")

        def handleInputRows(self, key, rows, timerValues):
            got = self._used.get() if self._used.exists() else None
            used = int(got[0]) if got is not None else 0
            for pdf in rows:
                n = len(pdf)
                take = max(0, min(budget_total - used, n))
                used += take
                # state BEFORE yield: if the runner stops consuming the
                # generator early, the budget spent so far must still be
                # recorded or a restart over-grants (ADVICE r03)
                self._used.update((used,))
                yield pd.DataFrame(
                    {
                        "host": [key[0]] * n,
                        "url": pdf["url"],
                        "allowed": [True] * take + [False] * (n - take),
                    }
                )

        def close(self) -> None:
            pass

    return (
        pages.withColumn("host", host)
        .groupBy("host")
        .transformWithStateInPandas(
            Bucket(),
            outputStructType="host string, url string, allowed boolean",
            outputMode="append",
            timeMode="none",
        )
    )


def run_available_now(stream_df: DataFrame, query_name: str, mode: str = "append") -> list:
    """Drain a file-backed stream with Trigger.AvailableNow into a memory
    sink and return the rows (deterministic test/demo harness).

    Aggregations should pass mode='complete': in append mode a window only
    emits once the watermark passes it, so the tail windows of a finite
    stream never surface."""
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {query_name}").collect()
