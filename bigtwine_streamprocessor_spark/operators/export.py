"""Export-job row shapers + single-file ordered write (SURVEY.md §2.3 P8-P12, §3.2).

The reference's `ExportResultsJob` scans assembled results, unnests the
per-tweet entity arrays, formats one of four export formats, and writes a
single ordered file with a header (`ExportResultsJob.java:128-172`,
`GridFSOutputFormat.java:185-195`). Here each format is a pure DataFrame
transform over the engine's ``assembled_flat`` grain (one row per
tweet x entity, bare row for zero-entity tweets), so Catalyst prunes the
result scan down to exactly the referenced columns.

Deviations from the reference, deliberate and documented (SURVEY.md §7.4):

* `twitter-neel-dataset` actually emits rows — the reference never collects
  them (`TwitterNeelInputRowMapper.java:34-43`), a bug we fix, not copy;
* output order is deterministic (tweet id, entity position) instead of Mongo
  scan order, so golden files are stable;
* the header for the dataset format matches the dataset schema — the
  reference hard-codes the extended-row header for every format
  (`ResultRowToCsvMapper.java:50-55`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FORMATS = ("twitter-neel-challenge", "tsv", "json", "twitter-neel-dataset")

# Column order fixed by the reference's @JsonPropertyOrder
# (`TwitterNeelExtendedResultRow.java:6-25`).
EXTENDED_COLUMNS = [
    "status__id",
    "status__text",
    "status__coordinates",
    "status__user__id",
    "status__user__name",
    "status__user__location",
    "status__user__coordinates",
    "entity__position",
    "entity__link",
    "entity__nil",
    "entity__nil__cluster",
    "entity__confidence",
    "entity__category",
    "entity__resource__name",
    "entity__resource__thumb",
    "entity__resource__coordinates",
    "entity__resource__extra",
    "process_date",
]


def challenge_rows(flat: DataFrame) -> DataFrame:
    """NEEL-challenge rows: one per entity (`TwitterNeelResultRowMapper.java:17-48`).

    ``resource_uri = nilCluster if isNil else link`` (`:35-39`); tweets with
    no entities emit nothing (inner unnest).
    """
    return flat.filter(F.col("ent_start").isNotNull()).select(
        F.col("id").alias("tweet_id"),
        F.col("ent_start").alias("pos_start"),
        F.col("ent_end").alias("pos_end"),
        F.when(F.col("is_nil"), F.col("nil_cluster"))
        .otherwise(F.col("link"))
        .alias("resource_uri"),
        F.col("confidence"),
        F.col("category"),
    )


CHALLENGE_SQL = """
challenge AS (
    SELECT id AS tweet_id,
           ent_start AS pos_start,
           ent_end AS pos_end,
           CASE WHEN is_nil THEN nil_cluster ELSE link END AS resource_uri,
           confidence,
           category
    FROM assembled_flat
    WHERE ent_start IS NOT NULL
)
"""


def extended_rows(flat: DataFrame, process_date: str | None = None) -> DataFrame:
    """Extended TSV rows, all-string, left-outer unnest
    (`TwitterNeelExtendedResultRowMapper.java:24-81`).

    Formats preserved: position ``"start,end"`` (`:57`), nil ``"1"/"0"``
    (`:59`), confidence ``%.3f`` (`:61`); zero-entity tweets emit one bare row
    (`:48-50`). User coordinates stringify as ``"lat,lng"`` when decoded.
    """
    pd_col = (
        F.col("process_date")
        if "process_date" in flat.columns
        else F.lit(process_date)
    )
    has_ent = F.col("ent_start").isNotNull()
    user_coords = F.when(
        F.col("user_lat").isNotNull(),
        F.concat_ws(",", F.col("user_lat").cast("string"), F.col("user_lng").cast("string")),
    )
    return flat.select(
        F.col("id").alias("status__id"),
        F.col("text").alias("status__text"),
        F.lit(None).cast("string").alias("status__coordinates"),
        F.col("user__id").alias("status__user__id"),
        F.col("user__name").alias("status__user__name"),
        F.col("user__location").alias("status__user__location"),
        user_coords.alias("status__user__coordinates"),
        F.when(has_ent, F.format_string("%d,%d", "ent_start", "ent_end")).alias(
            "entity__position"
        ),
        F.col("link").alias("entity__link"),
        F.when(has_ent, F.when(F.col("is_nil"), "1").otherwise("0")).alias(
            "entity__nil"
        ),
        F.col("nil_cluster").alias("entity__nil__cluster"),
        F.when(has_ent, F.format_string("%.3f", "confidence")).alias(
            "entity__confidence"
        ),
        F.col("category").alias("entity__category"),
        F.col("resource_name").alias("entity__resource__name"),
        F.col("resource_thumb").alias("entity__resource__thumb"),
        F.lit(None).cast("string").alias("entity__resource__coordinates"),
        F.lit(None).cast("string").alias("entity__resource__extra"),
        pd_col.alias("process_date"),
    )


def extended_sql(process_date: str) -> str:
    return f"""
extended AS (
    SELECT id AS status__id,
           text AS status__text,
           CAST(NULL AS VARCHAR) AS status__coordinates,
           user__id AS status__user__id,
           user__name AS status__user__name,
           user__location AS status__user__location,
           CASE WHEN user_lat IS NOT NULL
                THEN CAST(user_lat AS VARCHAR) || ',' || CAST(user_lng AS VARCHAR)
           END AS status__user__coordinates,
           CASE WHEN ent_start IS NOT NULL
                THEN printf('%d,%d', ent_start, ent_end) END AS entity__position,
           link AS entity__link,
           CASE WHEN ent_start IS NOT NULL
                THEN CASE WHEN is_nil THEN '1' ELSE '0' END END AS entity__nil,
           nil_cluster AS entity__nil__cluster,
           CASE WHEN ent_start IS NOT NULL
                THEN printf('%.3f', confidence) END AS entity__confidence,
           category AS entity__category,
           resource_name AS entity__resource__name,
           resource_thumb AS entity__resource__thumb,
           CAST(NULL AS VARCHAR) AS entity__resource__coordinates,
           CAST(NULL AS VARCHAR) AS entity__resource__extra,
           '{process_date}' AS process_date
    FROM assembled_flat
)
"""


def dataset_rows(flat: DataFrame) -> DataFrame:
    """Dataset-input re-extraction (`TwitterNeelInputRowMapper.java:25-47`,
    fixed to actually emit — see module docstring). One row per tweet."""
    return (
        flat.select(
            "id",
            "text",
            "user__id",
            "user__name",
            "user__location",
        )
        .distinct()
    )


DATASET_SQL = """
dataset AS (
    SELECT DISTINCT id, text, user__id, user__name, user__location
    FROM assembled_flat
)
"""


def json_rows(nested: DataFrame, analysis_id: str, process_date: str) -> DataFrame:
    """JSON-lines export (`AnalysisResultToJsonFlatMapFunction.java:17-39`):
    one compact object per line with ISO processDate; `_class` equivalent
    never exists here."""
    return nested.select(
        F.to_json(
            F.struct(
                F.lit(analysis_id).alias("analysisId"),
                F.lit(process_date).alias("processDate"),
                F.struct(F.col("status"), F.col("entities")).alias("payload"),
            )
        ).alias("json")
    )


# ---------------------------------------------------------------------------
# Canonical JSON (oracle-gated twin of json_rows)
# ---------------------------------------------------------------------------
# Engine-native JSON writers disagree on key order and null handling, so the
# gated variant CONSTRUCTS the line with explicit concat: keys sorted at every
# nesting level, nulls rendered literally, doubles pinned to %.6f — the same
# bytes from Spark Columns and from the DuckDB CTE below. A pytest asserts the
# production to_json path (json_rows) parses to the same objects.


# control chars (< 0x20) are invalid raw inside JSON strings: named escapes
# for the common five, \u00xx for the rest — applied AFTER the backslash pass
# so the escape backslashes themselves survive. Same table on the DuckDB side.
_CTRL_ESCAPES = {
    i: {0x08: "\\b", 0x09: "\\t", 0x0A: "\\n", 0x0C: "\\f", 0x0D: "\\r"}.get(
        i, f"\\u{i:04x}"
    )
    for i in range(0x20)
}


def _j_str(c: F.Column) -> F.Column:
    esc = F.replace(
        F.replace(c, F.lit("\\"), F.lit("\\\\")), F.lit('"'), F.lit('\\"')
    )
    for i, rep in _CTRL_ESCAPES.items():
        esc = F.replace(esc, F.lit(chr(i)), F.lit(rep))
    return F.when(c.isNull(), F.lit("null")).otherwise(
        F.concat(F.lit('"'), esc, F.lit('"'))
    )


def _j_long(c: F.Column) -> F.Column:
    return F.when(c.isNull(), F.lit("null")).otherwise(
        c.cast("bigint").cast("string")
    )


def _j_f6(c: F.Column) -> F.Column:
    return F.when(c.isNull(), F.lit("null")).otherwise(
        F.format_string("%.6f", c.cast("double"))
    )


def _j_bool(c: F.Column) -> F.Column:
    return (
        F.when(c.isNull(), F.lit("null"))
        .when(c, F.lit("true"))
        .otherwise(F.lit("false"))
    )


def json_rows_canonical(
    flat: DataFrame, analysis_id: str, process_date: str
) -> DataFrame:
    """P11 with canonical formatting: one JSON line per tweet, keys sorted at
    every level, nulls explicit, doubles %.6f. Entities order by position
    (same deterministic order as assemble_nested)."""
    ent = F.concat(
        F.lit('{"category":'), _j_str(F.col("category")),
        F.lit(',"confidence":'), _j_f6(F.col("confidence")),
        F.lit(',"isNil":'), _j_bool(F.col("is_nil")),
        F.lit(',"link":'), _j_str(F.col("link")),
        F.lit(',"nilCluster":'), _j_str(F.col("nil_cluster")),
        F.lit(',"position":{"end":'), _j_long(F.col("ent_end")),
        F.lit(',"start":'), _j_long(F.col("ent_start")),
        F.lit('},"resource":{"name":'), _j_str(F.col("resource_name")),
        F.lit(',"thumb":'), _j_str(F.col("resource_thumb")),
        F.lit(',"url":'), _j_str(F.col("link")),
        F.lit('},"value":'), _j_str(F.col("value")),
        F.lit("}"),
    )
    status = F.concat(
        F.lit('{"id":'), _j_str(F.col("id")),
        F.lit(',"text":'), _j_str(F.col("text")),
        F.lit(',"user":{"coordinates":{"lat":'), _j_f6(F.col("user_lat")),
        F.lit(',"lng":'), _j_f6(F.col("user_lng")),
        F.lit('},"id":'), _j_str(F.col("user__id")),
        F.lit(',"location":'), _j_str(F.col("user__location")),
        F.lit(',"name":'), _j_str(F.col("user__name")),
        F.lit(',"screenName":'), _j_str(F.col("user__screen_name")),
        F.lit("}}"),
    )
    g = flat.groupBy("id").agg(
        F.min(status).alias("status_json"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("ent_start").isNotNull(),
                            F.struct(F.col("ent_start").alias("s"), ent.alias("j")),
                        )
                    )
                ),
                lambda x: x["j"],
            ),
            ",",
        ).alias("ents"),
    )
    line = F.concat(
        F.lit(f'{{"analysisId":"{analysis_id}","payload":{{"entities":['),
        F.col("ents"),
        F.lit('],"status":'),
        F.col("status_json"),
        F.lit(f'}},"processDate":"{process_date}"}}'),
    )
    return g.select(line.alias("json"))


def _j_str_sql(e: str) -> str:
    esc = f"replace(replace({e}, '\\', '\\\\'), '\"', '\\\"')"
    # control chars via chr(i) (raw bytes can't ride in a SQL literal);
    # DuckDB standard strings don't process backslash escapes, so '\n' is the
    # two characters backslash + n — exactly the JSON escape we want
    for i, rep in _CTRL_ESCAPES.items():
        esc = f"replace({esc}, chr({i}), '{rep}')"
    return f"(CASE WHEN {e} IS NULL THEN 'null' ELSE '\"' || {esc} || '\"' END)"


def _j_long_sql(e: str) -> str:
    return (
        f"(CASE WHEN {e} IS NULL THEN 'null' "
        f"ELSE CAST(CAST({e} AS BIGINT) AS VARCHAR) END)"
    )


def _j_f6_sql(e: str) -> str:
    return (
        f"(CASE WHEN {e} IS NULL THEN 'null' "
        f"ELSE printf('%.6f', CAST({e} AS DOUBLE)) END)"
    )


def _j_bool_sql(e: str) -> str:
    return (
        f"(CASE WHEN {e} IS NULL THEN 'null' "
        f"WHEN {e} THEN 'true' ELSE 'false' END)"
    )


def json_canon_sql(analysis_id: str, process_date: str) -> str:
    """DuckDB CTE ``json_canon`` over assembled_flat — byte-identical lines."""
    ent = (
        "'{\"category\":' || " + _j_str_sql("category")
        + " || ',\"confidence\":' || " + _j_f6_sql("confidence")
        + " || ',\"isNil\":' || " + _j_bool_sql("is_nil")
        + " || ',\"link\":' || " + _j_str_sql("link")
        + " || ',\"nilCluster\":' || " + _j_str_sql("nil_cluster")
        + " || ',\"position\":{\"end\":' || " + _j_long_sql("ent_end")
        + " || ',\"start\":' || " + _j_long_sql("ent_start")
        + " || '},\"resource\":{\"name\":' || " + _j_str_sql("resource_name")
        + " || ',\"thumb\":' || " + _j_str_sql("resource_thumb")
        + " || ',\"url\":' || " + _j_str_sql("link")
        + " || '},\"value\":' || " + _j_str_sql("value")
        + " || '}'"
    )
    status = (
        "'{\"id\":' || " + _j_str_sql("id")
        + " || ',\"text\":' || " + _j_str_sql("text")
        + " || ',\"user\":{\"coordinates\":{\"lat\":' || " + _j_f6_sql("user_lat")
        + " || ',\"lng\":' || " + _j_f6_sql("user_lng")
        + " || '},\"id\":' || " + _j_str_sql("user__id")
        + " || ',\"location\":' || " + _j_str_sql("user__location")
        + " || ',\"name\":' || " + _j_str_sql("user__name")
        + " || ',\"screenName\":' || " + _j_str_sql("user__screen_name")
        + " || '}}'"
    )
    return f"""
json_canon AS (
    SELECT '{{"analysisId":"{analysis_id}","payload":{{"entities":['
           || coalesce(string_agg({ent}, ',' ORDER BY ent_start, {ent})
                       FILTER (ent_start IS NOT NULL), '')
           || '],"status":' || min({status})
           || '}},"processDate":"{process_date}"}}' AS json
    FROM assembled_flat
    GROUP BY id
)
"""


def to_tsv_lines(df: DataFrame, columns: list[str]) -> DataFrame:
    """Rows -> tab-joined lines (`ExportResultsJob.java:132-139`,
    `ResultRowToCsvMapper.java:14-60`); nulls print empty."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("")) for c in columns]
    return df.select(F.concat_ws("\t", *cols).alias("line"))


def single_sorted(df: DataFrame, order_by: list[str]) -> DataFrame:
    """All rows in one partition, sorted by ``order_by``: one shuffle and a
    local sort, where a global ``orderBy`` would first run a range-partition
    sampling job over the whole plan."""
    return df.repartition(1).sortWithinPartitions(*order_by)


def write_single_file(
    df: DataFrame,
    path: str,
    order_by: list[str],
    sep: str = "\t",
    header: bool = True,
) -> None:
    """Single ordered file with header-first, the K4 sink contract
    (`GridFSOutputFormat.java:185-195`, parallelism 1 per
    `ExportResultsJob.java:162-172`).

    Scale note: everything up to the final write runs fully parallel; only the
    terminal sort and file assembly are single-writer, exactly like the
    reference. The rows reach that writer through one shuffle
    (``single_sorted``), so no sampling pass re-runs the plan before the
    write. For cluster-scale exports prefer ``df.write.csv`` (many parts) and
    concatenate at the storage layer.
    """
    (
        single_sorted(df, order_by)
        .write.mode("overwrite")
        .option("header", str(header).lower())
        .option("sep", sep)
        .option("emptyValue", "")
        .csv(path)
    )


def write_single_text_file(df: DataFrame, path: str, order_by: list[str]) -> None:
    """Single ordered raw-text file (JSON-lines export — no CSV quoting)."""
    single_sorted(df, order_by).write.mode("overwrite").text(path)
