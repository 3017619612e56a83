"""Stream sources: tick source, tweet-JSON replay, Kafka (gated).

* **tick_source** — 1 row/s wall-clock ticks (`source/TimeSource.java:8-19`):
  the built-in ``rate`` source.
* **tweet_replay_source** — file-based stand-in for the live Twitter filter
  API (`TwitterStreamJob.java:154-173`): replays tweet-JSON lines with
  client-side term/language/bounding-box filters, semantically equivalent to
  the endpoint's server-side params
  (`FilterableTwitterEndpointInitializer.java:38-54`).
* **replay_feed** — a parsed corpus copied k times under distinct ids, the
  feed of the topology drives in ``bench.py`` and ``scripts/``.
* **kafka_source / kafka_sink_options** — thin wrappers over the Kafka
  connector (`TwitterStreamJob.java:227-229`, topics `Constants.java:15-25`);
  no broker exists in this environment, so they are construct-only.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TWITTER_STATUS

# Topic naming convention (`Constants.java:15-25`).
TOPICS = {
    "ner_requests": "ner-requests",
    "ner_responses": "ner-responses.{analysis_id}",
    "nel_requests": "nel-requests",
    "nel_responses": "nel-responses.{analysis_id}",
    "linkresolver_requests": "linkresolver-requests",
    "linkresolver_responses": "linkresolver-responses.{analysis_id}",
    "geodecoder_requests": "geodecoder-requests",
    "geodecoder_responses": "geodecoder-responses.{analysis_id}",
    "results": "analysis-results",
    "heartbeats": "job-heartbeats",
}


def topic(name: str, analysis_id: str | None = None) -> str:
    return TOPICS[name].format(analysis_id=analysis_id)


def tick_source(spark: SparkSession, rows_per_second: int = 1) -> DataFrame:
    """Wall-clock ticks driving progress even with no data (S4)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(F.col("timestamp").alias("tick_ts"), F.col("value").alias("tick"))
    )


def term_filter(terms: Sequence[str], text_col: str = "text") -> Column:
    """Track-terms semantics: keep if any term appears (case-insensitive)."""
    c = F.lower(F.col(text_col))
    pred = F.lit(False)
    for t in terms:
        pred = pred | c.contains(t.lower())
    return pred


def bbox_filter(
    boxes: Sequence[tuple[float, float, float, float]],
    lat_col: str = "coordinates.lat",
    lng_col: str = "coordinates.lng",
) -> Column:
    """Bounding-box semantics: (sw_lng, sw_lat, ne_lng, ne_lat) boxes."""
    pred = F.lit(False)
    for sw_lng, sw_lat, ne_lng, ne_lat in boxes:
        pred = pred | (
            (F.col(lat_col) >= sw_lat)
            & (F.col(lat_col) <= ne_lat)
            & (F.col(lng_col) >= sw_lng)
            & (F.col(lng_col) <= ne_lng)
        )
    return pred


def tweet_replay_source(
    spark: SparkSession,
    path: str,
    terms: Sequence[str] | None = None,
    languages: Sequence[str] | None = None,
    locations: Sequence[tuple[float, float, float, float]] | None = None,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Replay tweet-JSON lines as a stream with endpoint-equivalent filters.

    Output column: ``status`` (TWITTER_STATUS struct); unparseable lines drop
    (P1 drop-malformed).
    """
    raw = (
        spark.readStream.schema("value STRING")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .text(path)
        .withColumnRenamed("value", "value")
    )
    parsed = raw.select(
        F.from_json(F.col("value"), TWITTER_STATUS).alias("status")
    ).filter(F.col("status").isNotNull())
    if terms:
        parsed = parsed.filter(term_filter(terms, "status.text"))
    if languages:
        parsed = parsed.filter(F.col("status.lang").isin(list(languages)))
    if locations:
        parsed = parsed.filter(
            bbox_filter(locations, "status.coordinates.lat", "status.coordinates.lng")
        )
    return parsed


def replay_feed(parsed: DataFrame, copies: int) -> DataFrame:
    """Replay amplification: ``copies`` copies of every row under distinct
    ids (copy 0 keeps ``id``, copy k becomes ``<id>_r<k>``), so a small
    corpus feeds a drive with as many distinct tweets as it needs. One
    explode instead of ``copies - 1`` chained unions: same rows, a
    constant-depth plan (the union chain made Catalyst analysis itself a
    visible setup cost at high amplification)."""
    rep = F.explode(F.array(*[F.lit(i) for i in range(copies)]))
    return (
        parsed.withColumn("_rep", rep)
        .withColumn(
            "id",
            F.when(F.col("_rep") == 0, F.col("id")).otherwise(
                F.concat(F.col("id"), F.lit("_r"), F.col("_rep"))
            ),
        )
        .drop("_rep")
    )


def kafka_source(
    spark: SparkSession,
    brokers: str,
    subscribe: str,
    group_id: str | None = None,
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka consumer (S3). ``maxOffsetsPerTrigger`` is the ingest-rate cap
    (the Spark-native twin of the reference's rows/s throttle). For the full
    topic contract the topology uses (producer + consumer behind one seam),
    see ``streaming.kafka_transport.KafkaTopic``."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", subscribe)
        .option("startingOffsets", "earliest")
    )
    if group_id:
        reader = reader.option("kafka.group.id", group_id)
    if max_offsets_per_trigger:
        reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    return reader.load().selectExpr("CAST(value AS STRING) AS value")


def kafka_sink_options(brokers: str, out_topic: str) -> dict[str, str]:
    """writeStream options for a Kafka sink (K1-K3)."""
    return {"kafka.bootstrap.servers": brokers, "topic": out_topic}
