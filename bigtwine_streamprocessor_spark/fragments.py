"""Fragment-stream construction: tweets -> four tagged fragment streams.

Mirrors the reference's tagged-tuple normalization + synthetic-empty branches
(P4, `TwitterStreamJob.java:309-346`): every parsed tweet yields exactly

* a ``status`` fragment,
* a ``linkedTweet`` fragment (entity array — possibly empty),
* a ``resource`` fragment (resource array — EMPTY when no entity has a link,
  the empty-resource synth branch `:327-331`),
* a ``decodedLocation`` fragment (null coordinates when the user has no
  usable location, the empty-location synth branch `:339-343`),

so the fan-in's completion set always fills in local mode. Everything here is
per-row Column expressions over the NER/NEL arithmetic of services_local.py —
streaming-safe (no shuffle, no distinct) and identical in batch.

One scan, one projection: the NER -> NEL entity array is computed once per
tweet, the four ``(stream_type, payload_json)`` structs are built from it in
one projection and inlined into four rows, so the source is read and parsed
once (a union of four per-type selects would re-read it, and re-run the NER
fold, in every leg).

Payloads travel as JSON strings (the Kafka wire shape); the fan-in state
stores them untouched.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .services_local import CATEGORIES, LEXICON, LINK_PREFIX, THUMB_PREFIX


def _ner_array() -> Column:
    """Per-row NER: array<struct<token,pos,ent_start>> (same fold as
    services_local.mock_ner, kept per-row for the streaming path)."""
    lex_list = ", ".join(f"'{w}'" for w in LEXICON)
    return F.expr(
        f"""
        aggregate(
          split(text, ' '),
          named_struct(
            'off', 0, 'idx', 0,
            'ents', cast(array() as array<struct<token:string,pos:int,ent_start:int>>)
          ),
          (acc, t) -> named_struct(
            'off', acc.off + length(t) + 1,
            'idx', acc.idx + 1,
            'ents', case when t in ({lex_list})
                    then array_append(acc.ents,
                           named_struct('token', t, 'pos', acc.idx, 'ent_start', acc.off))
                    else acc.ents end),
          acc -> acc.ents
        )
        """
    )


def _nel_entity(e: Column) -> Column:
    """NER item -> linked-entity struct (same arithmetic as mock_nel)."""
    tok_len = F.length(e["token"])
    nil = (e["pos"] + tok_len) % 3 == 0
    return F.struct(
        F.struct(
            e["ent_start"].alias("start"),
            (e["ent_start"] + tok_len).cast("int").alias("end"),
        ).alias("position"),
        F.lit(None).cast("string").alias("value"),
        F.when(~nil, F.concat(F.lit(LINK_PREFIX), e["token"])).alias("link"),
        nil.alias("isNil"),
        F.when(nil, F.concat(F.lit("nil-"), (tok_len % 5).cast("string"))).alias(
            "nilCluster"
        ),
        (((e["pos"] * 7 + tok_len * 13) % 100).cast("double") / F.lit(100.0)).alias(
            "confidence"
        ),
        F.when(tok_len % 3 == 0, CATEGORIES[0])
        .when(tok_len % 3 == 1, CATEGORIES[1])
        .otherwise(CATEGORIES[2])
        .alias("category"),
        # token rides along so the resource branch can derive its fields;
        # dropped before the entity enters the fan-in payload
        e["token"].alias("_token"),
    )


def status_payload_col() -> Column:
    """The ``status`` fragment payload as a JSON Column over parsed-tweet
    columns — shared by the batch fragment builder and the async topology's
    Q1 (which builds fragment lines on executors, never the driver)."""
    return F.to_json(
        F.struct(
            F.col("id"),
            F.col("text"),
            F.lit(False).alias("retweet"),
            F.col("lang"),
            F.lit(None).cast("struct<lat:double,lng:double>").alias("coordinates"),
            F.struct(
                F.col("user__id").alias("id"),
                F.col("user__name").alias("name"),
                F.col("user__screen_name").alias("screenName"),
                F.lit(None).cast("string").alias("profileImageUrl"),
                F.col("user__location").alias("location"),
                F.lit(None)
                .cast("struct<lat:double,lng:double>")
                .alias("coordinates"),
            ).alias("user"),
        )
    )


def build_fragments(parsed: DataFrame) -> DataFrame:
    """Parsed tweets -> fragment stream (tag, stream_type, payload_json),
    four rows per tweet.

    parsed columns: id, text, lang, user__id, user__name, user__screen_name,
    user__location (the corpus shape after P1).
    """
    # the NER fold is a CodegenFallback HOF that Catalyst never shares
    # between expressions: compute the entity array once, in its own
    # projection (CollapseProject keeps a non-cheap column referenced twice)
    with_ents = parsed.withColumn("_ents", F.transform(_ner_array(), _nel_entity))
    ents = F.col("_ents")

    status_payload = status_payload_col()

    entity_clean = lambda e: e.dropFields("_token")
    linked_payload = F.to_json(F.transform(ents, entity_clean))

    resource_struct = lambda e: F.struct(
        e["link"].alias("url"),
        F.col("id").alias("tag"),
        F.upper(e["_token"]).alias("name"),
        F.lit(None).cast("string").alias("shortDesc"),
        F.concat(F.lit(THUMB_PREFIX), e["_token"], F.lit(".png")).alias("thumb"),
        F.lit(None).cast("string").alias("thumbLarger"),
        F.lit(None).cast("string").alias("coordinates"),
    )
    resolved = F.filter(
        ents, lambda e: e["link"].isNotNull() & (F.length(e["_token"]) % 2 == 0)
    )
    # empty-resource synth branch: always emit, possibly [] (`:327-331`)
    resource_payload = F.to_json(F.transform(resolved, resource_struct))

    from .operators.parse import has_user_location

    loc_key = F.split(F.col("user__location"), "_").getItem(1).cast("int")
    has_loc = has_user_location()
    # empty-location synth branch: null coords when no usable location (`:339-343`)
    location_payload = F.to_json(
        F.struct(
            F.when(has_loc, F.col("user__location")).alias("address"),
            F.when(
                has_loc,
                F.struct(
                    (loc_key.cast("double") * 1.5 - 10.0).alias("lat"),
                    (F.lit(27.0) - loc_key.cast("double") * 0.75).alias("lng"),
                ),
            ).alias("coordinates"),
            F.col("id").alias("tag"),
        )
    )

    frags = F.array(
        *[
            F.struct(F.lit(st).alias("stream_type"), p.alias("payload_json"))
            for st, p in (
                ("status", status_payload),
                ("linkedTweet", linked_payload),
                ("resource", resource_payload),
                ("decodedLocation", location_payload),
            )
        ]
    )
    return with_ents.select(F.col("id").alias("tag"), F.inline(frags))


def finalize_results(typed: DataFrame) -> DataFrame:
    """Typed fan-in output -> final NeelProcessedTweet payloads.

    Per-row assembly exactly as `NeelProcessedTweetWindowFunction.java:39-95`:
    attach resources by ``entity.link == resource.url`` (`:78-84`), backfill
    ``value = trim(substring(text, start, end))`` swallowing out-of-bounds
    (`:85-95`), and set user coordinates from the decoded location (`:70-75`).
    """
    text = F.col("status.text")

    def fix_entity(e: Column) -> Column:
        start = e["position"]["start"]
        end = e["position"]["end"]
        value = F.when(
            (start >= 0) & (end <= F.length(text)),
            F.trim(F.substring(text, start + 1, end - start)),
        )
        # try_element_at: unmatched links keep a null resource (ANSI
        # element_at would throw on the empty filter result)
        res = F.try_element_at(
            F.filter(F.col("resources"), lambda r: r["url"] == e["link"]), F.lit(1)
        )
        return e.withField("value", value).withField("resource", res)

    user_coords = F.col("decoded_location.coordinates")
    return typed.select(
        "tag",
        F.struct(
            F.col("status").withField(
                "user", F.col("status.user").withField("coordinates", user_coords)
            ).alias("status"),
            F.array_sort(F.transform(F.col("entities"), fix_entity)).alias(
                "entities"
            ),
        ).alias("payload"),
        "is_partial",
    )
