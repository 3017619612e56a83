"""Batch export job (lifecycle `ExportResultsJob.main`, SURVEY.md §3.2).

Scans analysis-result JSON events (the file stand-in for the Mongo collection
scan S5), filters server-side-equivalently on analysisId (predicate pushdown
replaces `ExportResultsJob.java:120`), unnests, formats one of the four export
formats (`:128-160`), and writes ONE ordered file with a header-first line
(K4, `GridFSOutputFormat.java:185-195`).

Fixed-vs-reference (documented deviations): the dataset format emits rows
(reference bug `TwitterNeelInputRowMapper.java:34-43`), headers match the
format's own schema (not the extended row's, `ResultRowToCsvMapper.java:50-55`),
and output order is deterministic.
"""

from __future__ import annotations

import argparse

from py4j.protocol import Py4JJavaError
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import export, gridfs_sink
from ..operators.export_flatten import flatten_results
from ..schemas import NEEL_PROCESSED_TWEET
from ..session import get_spark

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("analysisId", T.StringType(), False),
        T.StructField("processDate", T.TimestampType(), False),
        T.StructField("payload", NEEL_PROCESSED_TWEET, False),
    ]
)


def run(argv: list[str] | None = None, bucket_factory=None, progress_cb=None) -> None:
    p = argparse.ArgumentParser(prog="export-results-job")
    p.add_argument("--job-id", required=True)
    p.add_argument("--analysis-id", required=True)
    p.add_argument("--input-path", required=True, help="result-event JSON lines")
    p.add_argument("--output-path", required=True)
    p.add_argument("--format", required=True, choices=list(export.FORMATS))
    # GridFS terminal hop (K4): CLI builds the real pymongo bucket; tests
    # inject a fake via the bucket_factory parameter
    p.add_argument("--gridfs-uri")
    p.add_argument("--gridfs-db", default="bigtwine")
    p.add_argument("--document-id")
    args = p.parse_args(argv)

    spark = get_spark(app_name=f"export-{args.job_id}")
    events = (
        spark.read.schema(EVENT_SCHEMA)
        .json(args.input_path)
        .filter(F.col("analysisId") == args.analysis_id)  # pushdown filter (F9)
    )
    # progress accounting (A4, `ExportResultsJob.java:103-108`): the
    # reference pre-counts in a scan of its own; here the count is observed
    # during the export's write
    expected_rows = F.sum(F.greatest(F.size("payload.entities"), F.lit(1)))
    counted = Observation("expected_rows")
    observed = events.observe(counted, expected_rows.alias("n"))

    flat = flatten_results(observed)
    if args.format == "twitter-neel-challenge":
        rows = export.challenge_rows(flat)
        export.write_single_file(
            rows, args.output_path, ["tweet_id", "pos_start"], header=False
        )
    elif args.format == "tsv":
        rows = export.extended_rows(flat)
        export.write_single_file(
            rows, args.output_path, ["status__id", "entity__position"]
        )
    elif args.format == "twitter-neel-dataset":
        rows = export.dataset_rows(flat)
        export.write_single_file(rows, args.output_path, ["id"])
    else:  # json
        nested = observed.select(
            F.to_json(
                F.struct(
                    "analysisId",
                    F.date_format(
                        "processDate", "yyyy-MM-dd'T'HH:mm:ssXXX"
                    ).alias("processDate"),
                    "payload",
                )
            ).alias("value")
        )
        export.write_single_text_file(nested, args.output_path, ["value"])
    try:
        expected = counted.get["n"]
    except Py4JJavaError:
        # the write's shuffle got no row (no event matched, or no entity
        # for the challenge rows): AQE swaps such a stage for an empty
        # relation and drops its observed metrics. Count directly then.
        expected = events.select(expected_rows).first()[0]
    if bucket_factory is None and args.gridfs_uri:
        bucket_factory = gridfs_sink.make_pymongo_bucket_factory(
            args.gridfs_uri, args.gridfs_db
        )
    if bucket_factory is not None:
        n = gridfs_sink.upload_export_dir(
            bucket_factory(),
            args.output_path,
            args.analysis_id,
            args.document_id or args.job_id,
            args.format,
            progress_cb=progress_cb,
        )
        print(f"job={args.job_id} gridfs_records={n}")
    print(f"job={args.job_id} format={args.format} expected_rows={expected}")
    spark.stop()


if __name__ == "__main__":
    run()
