"""Hierarchy nesting: group children under parents and emit nested
documents (SURVEY.md §2 J1, A9, S14).

The reference builds an ``ads_by_adset`` dict and attaches each ad list
to its ad set (reference src/tools/campaign_inspector.py:221-247), then
writes one nested JSON report (:292-304). Spark form:
``groupBy(parent_key).agg(collect_list(struct(...)))`` + join back to
the parent — one shuffle on the FK, no driver-side assembly.

Oracle-parity note: nested array<struct> columns hash differently across
engines, so the oracle-checked variants serialize the nested payload to
a canonical JSON string (sorted array, explicit field order, no nulls,
integral types only). The genuinely-nested ``nested_report`` feeds its
JSON form and the pytest suite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def nest_children_json(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Oracle-checkable J1: nested children serialized as canonical JSON.

    sort_array over array<struct> orders by fields left-to-right, which
    matches the oracle's ORDER BY line, part_id. Only integral fields go
    into the JSON so both engines print identical literals.
    """
    children = lineitem.groupBy("l_orderkey").agg(
        F.to_json(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("l_linenumber").alias("line"),
                        F.col("l_partkey").alias("part_id"),
                    )
                )
            )
        ).alias("items_json"),
        F.count("*").alias("n_items"),
    )
    return orders.join(children, orders["o_orderkey"] == children["l_orderkey"], "inner").select(
        "o_orderkey", "o_orderstatus", "items_json", "n_items"
    )


def nested_report(
    orders: DataFrame, lineitem: DataFrame, customer: DataFrame
) -> DataFrame:
    """S14: the inspector's one-document nested report
    {campaign, ad_sets:[...ads], counts} (reference
    src/tools/campaign_inspector.py:292-304) — parameterized by parent id
    at the call site; here produced for every parent in one pass (at
    scale you filter first and the parent filter prunes everything
    upstream).
    """
    items = lineitem.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("l_linenumber").alias("line"),
                    F.col("l_partkey").alias("part_id"),
                    F.col("l_suppkey").alias("supplier_id"),
                    F.col("l_quantity").alias("qty"),
                )
            )
        ).alias("ads"),
        F.count("*").alias("n_ads"),
    )
    ads_type = items.schema["ads"].dataType
    return (
        orders.join(items, orders["o_orderkey"] == items["l_orderkey"], "left")
        .join(customer, orders["o_custkey"] == customer["c_custkey"], "left")
        .select(
            F.struct(
                F.col("o_orderkey").alias("id"),
                F.col("o_orderstatus").alias("status"),
                F.col("c_name").alias("account_name"),
            ).alias("campaign"),
            # childless parents carry an empty list, like the reference's
            # dict report (ADVICE r1)
            F.coalesce(F.col("ads"), F.array().cast(ads_type)).alias("ads"),
            F.coalesce(F.col("n_ads"), F.lit(0).cast("long")).alias("n_ads"),
        )
    )


def nested_report_json(
    orders: DataFrame, lineitem: DataFrame, customer: DataFrame
) -> DataFrame:
    """S14 oracle-checkable form: the nested report serialized to
    canonical JSON (struct + sorted ads array), ready for the JSON
    report sink (sinks.write_nested_report_json)."""
    r = nested_report(orders, lineitem, customer)
    return r.select(
        F.to_json("campaign").alias("campaign_json"),
        F.to_json("ads").alias("ads_json"),
        "n_ads",
    )
