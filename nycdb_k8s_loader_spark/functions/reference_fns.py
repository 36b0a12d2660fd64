"""The reference's concretely-named SQL functions, as table functions.

The reference's datasets declare two user-facing Postgres functions
whose EXISTENCE its tests probe after a load:

- ``get_corporate_owner_info_for_regid(int)`` — created by the
  hpd_registrations dataset's SQL, probed at
  /root/reference/tests/test_load_dataset.py:37-41.
- ``wow.get_assoc_addrs_from_bbl(text)`` — the WOW portfolio
  traversal, probed at /root/reference/tests/test_wowutil.py:42-44.

Both are TABLE-VALUED lookups over published tables — not scalar
expressions — so OSS Spark can't host them as SQL functions (a Spark
UDF cannot query the catalog). The engine registers them as named
*table functions*: driver-side callables ``(spark, *args) →
DataFrame`` resolved through the same FunctionRegistry that re-applies
scalar functions after every publish (SURVEY §2 U2/U3; the
re-registration pattern of load_dataset.py:372-376).

Scale shape: each call seeds from one key, so every intermediate frame
is key-neighborhood-sized; the only data-scale frames (wow_landlords /
hpd_contacts) are probed with an equi-filter that pushes down to the
parquet scan, and the tiny seed/portfolio frames broadcast into the
expansion joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def get_corporate_owner_info_for_regid(
    spark: SparkSession, regid: int, db: str = "public"
) -> DataFrame:
    """(registrationid, name, bizaddr) of the corporate-owner contact
    rows for one registration id — the Spark twin of the reference's
    hpd_registrations helper function."""
    contacts = spark.table(f"`{db}`.`hpd_contacts`")
    return (
        contacts.filter(
            (F.col("registrationid") == F.lit(int(regid)))
            & (F.col("type") == "CorporateOwner")
            & F.col("corporationname").isNotNull()
        )
        .select(
            "registrationid",
            F.col("corporationname").alias("name"),
            F.upper(
                F.concat_ws(
                    " ", "businesshousenumber", "businessstreetname"
                )
            ).alias("bizaddr"),
        )
        .distinct()
    )


def get_assoc_addrs_from_bbl(
    spark: SparkSession, bbl: str, wow_db: str = "wow"
) -> DataFrame:
    """Every (bbl, name, bizaddr, portfolio_id) associated with the
    given building through the landlord-portfolio graph — the WOW
    traversal function. Like the reference (which queries the
    portfoliograph-built tables, not raw contacts), this expands
    through the PUBLISHED wow_landlords/wow_portfolios tables:

        bbl → its landlord names → their portfolio ids
            → every name in those portfolios → every address they own

    The seed fans out from ONE building, so names/portfolio frames are
    tiny and broadcast; the final member lookup is one equi-join back
    into wow_landlords.
    """
    landlords = spark.table(f"`{wow_db}`.`wow_landlords`")
    portfolios = spark.table(f"`{wow_db}`.`wow_portfolios`")

    seed_names = (
        landlords.filter(F.col("bbl") == F.lit(bbl))
        .select("name")
        .distinct()
    )
    seed_pids = (
        portfolios.join(F.broadcast(seed_names), "name")
        .select("portfolio_id")
        .distinct()
    )
    member_names = portfolios.join(F.broadcast(seed_pids), "portfolio_id")
    return (
        landlords.join(
            F.broadcast(member_names.select("name", "portfolio_id")), "name"
        )
        .select("bbl", "name", "bizaddr", "portfolio_id")
        .distinct()
    )


def register_reference_fns(registry, target_db: str) -> None:
    """Register both functions under the reference's names (the
    ``wow.`` prefix preserved as part of the name, like the
    schema-qualified Postgres original), the owner lookup bound to an
    engine's ``target_db``; the traversal reads the ``wow`` schema the
    wow dataset publishes into."""
    registry.add_table_fn(
        "get_corporate_owner_info_for_regid",
        lambda spark, regid: get_corporate_owner_info_for_regid(
            spark, regid, db=target_db
        ),
    )
    registry.add_table_fn(
        "wow.get_assoc_addrs_from_bbl", get_assoc_addrs_from_bbl
    )
