"""Relational core: scans, projections, filters, joins, set ops, sorts.

Covers SURVEY.md §2.1–§2.3, §2.6–§2.7. The fixture mapping used
throughout (FIXTURES.md): orders ≈ campaign-like parent, lineitem ≈
ad-like child (FK l_orderkey), part ≈ creative dim, nation/region ≈
small broadcast dims (pixel-like), events ≈ raw insights fact.

Scale notes (100 TB):
- semi/anti joins against a *derived key set* aggregate the keys first
  (dedupe-before-lookup, reference src/main_extractor.py:388-394) so the
  build side is small and AQE can pick a broadcast join.
- dimension joins are explicitly ``broadcast()`` — no shuffle of the fact.
- every filter is a plain Column predicate on a scan, so Catalyst pushes
  it into the parquet reader (PushedFilters) and prunes date partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Scans / projections / filters  (S1, P1-P6)
# ---------------------------------------------------------------------------


def scan_project(orders: DataFrame) -> DataFrame:
    """Declared-field projection + pushed predicate over a parent scan.

    Mirrors the reference's field-list projection + ``filtering`` param
    (reference src/main_extractor.py:56-63,346-355,364-371): only the
    declared columns are read, the status predicate reaches the scan.
    """
    return orders.where(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )


def filter_updated_since(events: DataFrame, cutoff: str) -> DataFrame:
    """Incremental predicate — the reference's daily mode fetches only
    rows with ``updated_time`` above an epoch cutoff (reference
    src/main_extractor.py:42-51,358). Pushed to the scan; on a
    date-partitioned lake this is partition pruning.
    """
    return events.where(F.col("ts") > F.lit(cutoff).cast("timestamp")).select(
        "event_id", "ts", "user_id", "event_type"
    )


def filter_time_range(events: DataFrame, day: str) -> DataFrame:
    """Single-day time_range slice (reference
    src/extractors/api_extractor.py:92, src/main_extractor.py:444-446).
    Half-open [day, day+1) — the shape partition pruning eats at scale.
    """
    start = F.lit(day).cast("timestamp")
    end = F.date_add(F.lit(day).cast("date"), 1).cast("timestamp")
    return events.where((F.col("ts") >= start) & (F.col("ts") < end)).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


# ---------------------------------------------------------------------------
# Joins  (J1-J5, S6, A6, A7)
# ---------------------------------------------------------------------------


def semi_join_lookup(part: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Creative point-lookup batch re-expressed as a semi join: fetch only
    dims referenced by (filtered) facts (reference
    src/main_extractor.py:400-432 — GET one creative per distinct id).

    The key set is aggregated (distinct) before the join so the build side
    is tiny; AQE turns this into a broadcast semi join — no fact shuffle.
    """
    keys = lineitem.where(F.col("l_quantity") >= 45).select("l_partkey").distinct()
    return part.join(keys, part["p_partkey"] == keys["l_partkey"], "left_semi").select(
        "p_partkey", "p_name", "p_brand", "p_retailprice"
    )


def anti_join_missing(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Missing-list diagnostic: requested ids with no fetched payload
    (reference src/extractors/api_extractor.py:158-159 collects ids whose
    creative never arrived). Natural Spark form: left anti join — here,
    customers with no in-progress ('P') order. The probe-side filter is
    applied before the join so the build side shrinks first.
    """
    pending = orders.where(F.col("o_orderstatus") == "P")
    return customer.join(
        pending, customer["c_custkey"] == pending["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


def distinct_ids(lineitem: DataFrame) -> DataFrame:
    """Dedupe-before-expensive-lookup (reference src/main_extractor.py:388-394):
    distinct creative refs across all ads before fetching payloads.
    Map-side partial aggregation keeps the shuffle tiny.
    """
    return (
        lineitem.select(F.col("l_partkey").alias("creative_id"))
        .where(F.col("creative_id").isNotNull())
        .distinct()
    )


def broadcast_dim_join(customer: DataFrame, nation: DataFrame, region: DataFrame) -> DataFrame:
    """Ad-set ⟕ pixel style broadcast lookup (reference
    src/tools/campaign_inspector.py:210-218,236-243 builds a dict index
    of pixels and probes it per ad set — i.e. a hash join with the dim as
    build side). Here: two-hop dim enrichment, both dims broadcast, fact
    never shuffles.
    """
    return (
        customer.join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"], "left")
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"], "left")
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
        )
    )


def hierarchy_flat(
    orders: DataFrame, lineitem: DataFrame, part: DataFrame, supplier: DataFrame
) -> DataFrame:
    """Campaign→AdSet→Ad→Creative multi-way assembly as one flat wide view
    (reference pages/1_Campaign_Cloner.py:445-492,
    src/tools/campaign_inspector.py:250-298 build this by successive
    dict lookups). Spark: fact-to-parent shuffle join + broadcast dims.

    Filtered to one parent status to show predicate transitivity; at scale
    the orders filter prunes before the join (Catalyst pushes it below).
    """
    return (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .join(part, lineitem["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(supplier), lineitem["l_suppkey"] == supplier["s_suppkey"])
        .where(F.col("o_orderstatus") == "F")
        .select(
            "o_orderkey",
            "o_orderdate",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            F.col("p_name").alias("part_name"),
            F.col("p_brand").alias("part_brand"),
            F.col("s_name").alias("supplier_name"),
        )
    )


# ---------------------------------------------------------------------------
# Sorts / limits / top-k  (O1-O5)
# ---------------------------------------------------------------------------


def sort_by_name(part: DataFrame) -> DataFrame:
    """UI list ordering (reference pages/1_Campaign_Cloner.py:418 sorts
    campaigns by name). Total order with key tiebreak for determinism.
    """
    return part.select("p_partkey", "p_name", "p_retailprice").orderBy("p_name", "p_partkey")


def top_k(part: DataFrame, k: int = 10) -> DataFrame:
    """Top-k pattern (reference's first-5 failure preview,
    src/main_extractor.py:313-314). orderBy().limit(k) lets Spark run a
    per-partition TakeOrdered — no global sort materialization.
    """
    return (
        part.select("p_partkey", "p_name", "p_retailprice")
        .orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Set operations  (U1-U3)
# ---------------------------------------------------------------------------


def union_pages(orders: DataFrame) -> DataFrame:
    """Pages-append ≡ union (reference src/main_extractor.py:65-76 drains
    cursor pages into one list). unionByName keeps it schema-safe.
    """
    page1 = orders.where(F.col("o_orderstatus") == "O")
    page2 = orders.where(F.col("o_orderstatus") == "F")
    return page1.unionByName(page2).select("o_orderkey", "o_orderstatus", "o_totalprice")


def stamp_parent_keys(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """S5: per-parent child fetch with parent-key stamping. The
    reference fetches ads one adset at a time and stamps ``ad_set_id``
    onto every child row (reference src/main_extractor.py:144-177,
    327-334). Spark-side the child FK is already in the row; the stamp
    proper is the parent-attribute projection after the join — here the
    parent's account-like key (o_custkey) onto each child. Parents are
    filtered then broadcast: the child table never shuffles.
    """
    parents = orders.where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", F.col("o_custkey").alias("parent_account")
    )
    return lineitem.join(
        F.broadcast(parents), lineitem.l_orderkey == parents.o_orderkey, "inner"
    ).select("l_orderkey", "l_linenumber", "l_quantity", "parent_account")
