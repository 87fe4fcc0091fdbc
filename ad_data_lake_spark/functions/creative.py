"""Creative-spec functions (SURVEY.md §2.8 F15–F23, F26, F28): the
nested ``object_story_spec`` manipulation the reference performs with
dict surgery (reference pages/1_Campaign_Cloner.py:250-670,
pages/3_Creative_Composer.py:45-339), re-expressed as nested Column
expressions (coalesce chains, withField, array constructors) — all
JVM-side, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

VIDEO_EXTENSIONS = (".mp4", ".mov", ".avi", ".mkv", ".wmv")

# The branch priority the reference walks when extracting creative text
# (reference pages/1_Campaign_Cloner.py:250-330: template_data →
# link_data → video_data → photo_data).
SPEC_BRANCHES = ("template_data", "link_data", "video_data", "photo_data")


def coalesce_spec_field(spec: Column, field: str) -> Column:
    """F15/F16/F17: first non-empty value of ``field`` across the spec
    branches in reference priority order, with '' treated as missing."""
    candidates = []
    for branch in SPEC_BRANCHES:
        c = spec.getField(branch).getField(field)
        candidates.append(F.when(F.length(F.trim(c)) > 0, F.trim(c)))
    return F.coalesce(*candidates)


def gather_retailer_item_ids(spec: Column) -> Column:
    """F18: union ``retailer_item_ids`` arrays from the spec root and its
    sections, trim entries, ordered-dedupe preserving first occurrence
    (reference pages/1_Campaign_Cloner.py:362-385). ``array_distinct``
    keeps first-occurrence order — exactly the reference's semantics.
    """
    parts = [spec.getField("retailer_item_ids")]
    for branch in SPEC_BRANCHES:
        parts.append(spec.getField(branch).getField("retailer_item_ids"))
    merged = F.flatten(
        F.filter(F.array(*parts), lambda a: a.isNotNull())
    )
    trimmed = F.filter(F.transform(merged, lambda x: F.trim(x)), lambda x: x != "")
    return F.array_distinct(trimmed)


def update_story_spec(spec: Column, new_message: Column, new_image_hash: Column) -> Column:
    """F19: immutable nested rewrite — set link_data.message and swap
    link_data.image_hash (reference pages/1_Campaign_Cloner.py:552-670
    rebuilds the dict tree; here one ``withField`` chain on the struct).
    """
    return spec.withField(
        "link_data",
        spec.getField("link_data")
        .withField("message", new_message)
        .withField("image_hash", new_image_hash),
    )


def clean_retailer_ids(ids: Column) -> Column:
    """F19 helper: trim items, drop empties, dedupe keeping first
    occurrence (``array_distinct`` preserves encounter order) — the
    reference's ``cleaned_retailer_ids`` loop (reference
    pages/1_Campaign_Cloner.py:645-650)."""
    return F.array_distinct(
        F.filter(F.transform(ids, lambda x: F.trim(x)), lambda x: x != "")
    )


def update_object_story_spec(
    spec: Column,
    asset_key: Column,
    asset_value: Column,
    message: Column,
    headline: Column,
    link: Column,
    retailer_item_ids: Column,
) -> Column:
    """F19 (full branch set): immutable rewrite of an
    ``object_story_spec`` tree — the reference's
    ``update_object_story_spec`` (pages/1_Campaign_Cloner.py:553-668)
    re-expressed as one ``withField`` expression tree:

    - asset swap: ``image_hash`` sets link_data/photo_data and pops
      link_data.video_id; ``video_id`` sets link_data/video_data and
      pops link_data.image_hash (dict-pop ≡ null field; ``to_json``
      omits nulls, so the serialized payload drops the key exactly like
      the reference's ``pop``);
    - non-empty ``message`` propagates to link/video/photo_data;
    - ``headline`` sets link_data.headline+name and video_data.title;
    - ``link`` sets link_data.link+link_url and rewrites the
      call_to_action.value link/link_url (building a fresh value struct
      when the original was null, reference :617-624);
    - retailer ids: cleaned via ``clean_retailer_ids``; non-empty →
      stamped on link/video/template_data and the root, else popped
      everywhere.

    ``withField`` on a NULL struct stays NULL, matching the
    reference's isinstance-dict guards. All sections are rebuilt in one
    projection — no shuffle, no Python."""
    has_asset = (
        asset_key.isNotNull()
        & (asset_key != "")
        & asset_value.isNotNull()
        & (asset_value != "")
    )
    is_img = has_asset & (asset_key == "image_hash")
    is_vid = has_asset & (asset_key == "video_id")
    has_msg = message.isNotNull() & (message != "")
    has_headline = headline.isNotNull() & (headline != "")
    has_link = link.isNotNull() & (link != "")
    cleaned = clean_retailer_ids(retailer_item_ids)
    has_ids = retailer_item_ids.isNotNull() & (F.size(cleaned) > 0)
    ids_or_pop = F.when(has_ids, cleaned).otherwise(
        F.lit(None).cast("array<string>")
    )
    null_str = F.lit(None).cast("string")

    ld = spec.getField("link_data")
    cta = ld.getField("call_to_action")
    old_value = cta.getField("value")
    new_value = F.when(
        old_value.isNotNull(),
        old_value.withField("link", link).withField("link_url", link),
    ).otherwise(F.struct(link.alias("link"), null_str.alias("link_url")))
    new_ld = (
        ld.withField(
            "message", F.when(has_msg, message).otherwise(ld.getField("message"))
        )
        .withField(
            "image_hash",
            F.when(is_img, asset_value)
            .when(is_vid, null_str)
            .otherwise(ld.getField("image_hash")),
        )
        .withField(
            "video_id",
            F.when(is_vid, asset_value)
            .when(is_img, null_str)
            .otherwise(ld.getField("video_id")),
        )
        .withField("link", F.when(has_link, link).otherwise(ld.getField("link")))
        .withField(
            "link_url", F.when(has_link, link).otherwise(ld.getField("link_url"))
        )
        .withField(
            "headline", F.when(has_headline, headline).otherwise(ld.getField("headline"))
        )
        .withField(
            "name", F.when(has_headline, headline).otherwise(ld.getField("name"))
        )
        .withField(
            "call_to_action",
            F.when(has_link & cta.isNotNull(), cta.withField("value", new_value)).otherwise(cta),
        )
        .withField("retailer_item_ids", ids_or_pop)
    )

    vd = spec.getField("video_data")
    new_vd = (
        vd.withField(
            "video_id", F.when(is_vid, asset_value).otherwise(vd.getField("video_id"))
        )
        .withField(
            "title", F.when(has_headline, headline).otherwise(vd.getField("title"))
        )
        .withField(
            "message", F.when(has_msg, message).otherwise(vd.getField("message"))
        )
        .withField("retailer_item_ids", ids_or_pop)
    )

    pd_ = spec.getField("photo_data")
    new_pd = pd_.withField(
        "image_hash", F.when(is_img, asset_value).otherwise(pd_.getField("image_hash"))
    ).withField("message", F.when(has_msg, message).otherwise(pd_.getField("message")))

    td = spec.getField("template_data")
    new_td = td.withField("retailer_item_ids", ids_or_pop)

    return (
        spec.withField("link_data", new_ld)
        .withField("video_data", new_vd)
        .withField("photo_data", new_pd)
        .withField("template_data", new_td)
        .withField("retailer_item_ids", ids_or_pop)
    )


def build_call_to_action(cta_type: Column, link: Column) -> Column:
    """F22: upper-case CTA type + optional link value struct (reference
    pages/3_Creative_Composer.py:45-56)."""
    return F.struct(
        F.upper(F.trim(cta_type)).alias("type"),
        F.struct(link.alias("link")).alias("value"),
    )


def flatten_creative_ref(df, struct_col: str = "creative", id_field: str = "id"):
    """F26: ``ad.creative{id}`` → scalar ``creative_id``, struct dropped
    (reference src/main_extractor.py:386-395)."""
    return df.withColumn(
        "creative_id", F.col(f"{struct_col}.{id_field}")
    ).drop(struct_col)


def infer_asset_kind(mime: Column, filename: Column) -> Column:
    """F28: MIME prefix or extension → image|video (reference
    pages/1_Campaign_Cloner.py:397-402, pages/2_Creative_Uploader.py:42-53).
    """
    lower_name = F.lower(filename)
    is_video_ext = F.lit(False)
    for ext in VIDEO_EXTENSIONS:
        is_video_ext = is_video_ext | lower_name.endswith(ext)
    return F.when(
        F.lower(mime).startswith("video/") | is_video_ext, F.lit("video")
    ).otherwise(F.lit("image"))


def assemble_creative_payload(
    name: Column,
    creative_type: Column,
    message: Column,
    link: Column,
    image_hash: Column,
    video_id: Column,
    children: Column,
) -> Column:
    """F23: validated creative payload construction for the three
    creative kinds the reference composes (reference
    pages/3_Creative_Composer.py:175-218 single image, :221-274
    carousel incl. ``child_attachments``, :277-327 video):

    - single_image → link_data{message, link, image_hash}
    - carousel     → link_data{message, link, child_attachments[...]}
    - video        → video_data{video_id, message}

    One struct type covers all branches (Spark structs are
    monomorphic); inapplicable fields/branches are null and vanish at
    ``to_json`` time — exactly the reference's only-set-keys POST dict.
    """
    link_data = F.when(
        creative_type.isin("single_image", "carousel"),
        F.struct(
            message.alias("message"),
            link.alias("link"),
            F.when(creative_type == "single_image", image_hash).alias("image_hash"),
            F.when(creative_type == "carousel", children).alias("child_attachments"),
        ),
    )
    video_data = F.when(
        creative_type == "video",
        F.struct(video_id.alias("video_id"), message.alias("message")),
    )
    return F.struct(
        name.alias("name"),
        F.struct(
            link_data.alias("link_data"), video_data.alias("video_data")
        ).alias("object_story_spec"),
    )


# Stable targeting skeleton (reference pages/4_AdSet_Creator.py:83-102
# accepts dict / JSON-string and passes it through; the long tail of
# targeting keys stays in the raw string per SURVEY §7 risk register).
TARGETING_SCHEMA = (
    "struct<geo_locations: struct<countries: array<string>>, "
    "age_min: int, age_max: int, interests: array<string>>"
)


def parse_targeting(col: Column) -> Column:
    """F24: JSON-string targeting → typed struct (null on malformed,
    mirroring the reference's return-None-on-parse-failure)."""
    return F.from_json(col, TARGETING_SCHEMA)


def strip_nulls_json(payload: Column) -> Column:
    """F27: the null/empty-stripping POST contract — ``to_json`` drops
    null fields (reference pages/4_AdSet_Creator.py:136-151 deletes
    empty keys before POST), so serializing the payload struct IS the
    write contract."""
    return F.to_json(payload)


def is_campaign_budget_optimized(daily: Column, lifetime: Column) -> Column:
    """F20: any campaign-level budget > 0, string-tolerant (reference
    pages/1_Campaign_Cloner.py:238-247)."""
    d = F.trim(daily.cast("string")).try_cast("double")
    lt = F.trim(lifetime.cast("string")).try_cast("double")
    return (F.coalesce(d, F.lit(0.0)) > 0) | (F.coalesce(lt, F.lit(0.0)) > 0)


def resolve_budget(daily: Column, lifetime: Column, default: Column) -> Column:
    """F21: pick daily → lifetime → default (reference
    pages/1_Campaign_Cloner.py:540-547)."""
    return F.coalesce(daily, lifetime, default)
