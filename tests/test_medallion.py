"""End-to-end golden test: synthetic bronze fixtures (FIXTURES.md A1-A5) ->
silver financial_institution -> gold tables, with quarantine observability."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from bankcreditunion_datapipeline_spark.caching import storage_status
from bankcreditunion_datapipeline_spark.plans.medallion import (
    build_silver,
    gold_directory,
    gold_fact,
    gold_quarterly_assets,
    gold_quarterly_deposits,
    run_gold,
)
from bankcreditunion_datapipeline_spark.schemas import (
    FINANCIAL_INSTITUTION,
    enforce_contract,
)


@pytest.fixture(scope="module")
def bronze(spark):
    institutions = spark.createDataFrame(
        [
            # ACTIVE, CERT, CITY, ID, NAME, REPDTE, STNAME, WEBADDR
            ("1", "101", "MCLEAN", "1", "First National Bank", "3/31/2020", "VIRGINIA", "WWW.FNB.COM"),
            ("1", "102", "new york", "2", "Empire Trust", "3/31/2020", "new york", None),
            ("0", "103", "Austin", "3", "Closed Bank", "3/31/2020", "TEXAS", "x.com"),  # inactive
            ("1", "104", "Boise", "4", "Bad Date Bank", "2020-03-31", "IDAHO", ""),  # malformed REPDTE ok (unused col)
        ],
        "ACTIVE string, CERT string, CITY string, ID string, NAME string, REPDTE string, STNAME string, WEBADDR string",
    )
    financials = spark.createDataFrame(
        [
            # ASSET, CERT, DEP, ID, REPDTE(yyyyMMdd)
            ("1000", "101", "800", "1", "20200331"),
            ("1100", "101", "850", "1", "20200630"),
            ("2000", "102", "1500", "2", "20200331"),
            ("3000", "104", "2500", "4", "20200331"),
            ("9999", "999", "9999", "9", "2020-03-31"),  # malformed date -> quarantine
        ],
        "ASSET string, CERT string, DEP string, ID string, REPDTE string",
    )
    foicu = spark.createDataFrame(
        [
            # CU_NUMBER, CU_NAME, CITY, STATE(abbrev), CYCLE_DATE, extra col
            (101, "Navy Credit Union", "vienna", "VA", "3/31/2020 0:00:00", "x"),
            (201, "Teachers CU", "SAN DIEGO", "CA", "3/31/2020 0:00:00", "y"),
            (202, "Unknown State CU", "Agana", "??", "3/31/2020 0:00:00", "z"),  # bad state -> quarantine
        ],
        "CU_NUMBER int, CU_NAME string, CITY string, STATE string, CYCLE_DATE string, EXTRA string",
    )
    fs220 = spark.createDataFrame(
        [
            (101, "3/31/2020 0:00:00", 500, 400, 99),
            (201, "3/31/2020 0:00:00", 700, 600, 99),
            (202, "3/31/2020 0:00:00", 100, 90, 99),
        ],
        "CU_NUMBER int, CYCLE_DATE string, ACCT_010 long, ACCT_018 long, ACCT_671 long",
    )
    fs220d = spark.createDataFrame(
        [
            (101, "3/31/2020 0:00:00", "WWW.NAVY.ORG"),
            (201, "3/31/2020 0:00:00", None),
        ],
        "CU_NUMBER int, CYCLE_DATE string, Acct_891 string",
    )
    return institutions, financials, foicu, fs220, fs220d


def test_silver_contract_and_content(spark, bronze):
    result = build_silver(*bronze)
    silver = enforce_contract(result.financial_institution, FINANCIAL_INSTITUTION)
    rows = {(r.charter_number, r.institution_type, str(r.quarter_date)): r for r in silver.collect()}

    # banks: 101 has two quarters; 102 one; 103 inactive (filtered); 104 present
    assert len([k for k in rows if k[1] == "bank"]) == 4
    b = rows[(101, "bank", "2020-03-31")]
    assert b.city == "Mclean" and b.name == "FIRST NATIONAL BANK"
    assert b.state == "Virginia" and b.website == "www.fnb.com"
    assert b.assets_total == 1000 and b.deposits_total == 800
    assert rows[(102, "bank", "2020-03-31")].website == "Not Provided"

    # credit unions: 101 collides with bank cert 101 -- type disambiguates
    cu = rows[(101, "credit union", "2020-03-31")]
    assert cu.name == "NAVY CREDIT UNION" and cu.state == "Virginia"
    assert cu.assets_total == 500 and cu.website == "www.navy.org"
    # missing fs220d row -> website defaulted
    assert rows[(201, "credit union", "2020-03-31")].website == "Not Provided"
    # unknown state abbrev quarantined, not silently dropped
    assert (202, "credit union", "2020-03-31") not in rows


def test_quarantine_observability(spark, bronze):
    result = build_silver(*bronze)
    q = result.quarantine.collect()
    reasons = {(r._source, r._reject_reason) for r in q}
    assert ("fdic_financials", "quarter_date") in reasons  # malformed yyyyMMdd
    assert ("ncua_foicu", "state") in reasons  # unknown abbreviation


def test_gold_directory_unique(spark, bronze):
    silver = build_silver(*bronze).financial_institution
    directory = gold_directory(silver)
    assert directory.count() == directory.dropDuplicates(
        ["charter_number", "institution_type"]
    ).count()


def test_gold_fact_year_quarter(spark, bronze):
    silver = build_silver(*bronze).financial_institution
    fact = gold_fact(silver)
    r = fact.filter(
        (F.col("charter_number") == 101)
        & (F.col("institution_type") == "bank")
        & (F.col("quarter_date") == datetime.date(2020, 6, 30))
    ).first()
    assert (r.year, r.quarter) == (2020, 2)


def test_gold_quarterly_pivots(spark, bronze):
    silver = build_silver(*bronze).financial_institution
    assets = gold_quarterly_assets(silver)
    # data-named columns, newest quarter first (P8 ordering)
    assert assets.columns[:3] == ["charter_number", "institution_type", "name"]
    assert assets.columns[3:] == ["2020-06-30", "2020-03-31"]
    row = {
        (r.charter_number, r.institution_type): r for r in assets.collect()
    }[(101, "bank")]
    assert (row["2020-03-31"], row["2020-06-30"]) == (1000, 1100)

    deposits = gold_quarterly_deposits(silver, quarters=["2020-03-31", "2020-06-30"])
    drow = {(r.charter_number, r.institution_type): r for r in deposits.collect()}[(101, "credit union")]
    assert drow["2020-03-31"] == 400 and drow["2020-06-30"] is None


def test_gold_roundtrip_write_read(spark, bronze, tmp_path):
    silver = build_silver(*bronze).financial_institution
    run_gold(silver, str(tmp_path))
    directory = spark.read.parquet(str(tmp_path / "institutions_directory_by_type"))
    assert directory.count() == gold_directory(silver).count()
    # partition columns survive the round trip
    assert set(["institution_type", "state"]) <= set(directory.columns)


GOLD_TABLES = (
    "institutions_directory_by_type",
    "assets_deposits_by_state",
    "quarterly_assets_table",
    "quarterly_deposits_table",
)


def _gold_rows(spark, out_dir):
    out = {}
    for name in GOLD_TABLES:
        df = spark.read.parquet(f"{out_dir}/{name}")
        out[name] = (sorted(df.columns), sorted(df.collect(), key=repr))
    return out


def test_run_gold_finds_quarters_once_same_output(spark, bronze, tmp_path):
    # the quarter list run_gold reads from silver gives the same four
    # tables, column for column, as the caller's explicit list
    silver = build_silver(*bronze).financial_institution
    run_gold(silver, str(tmp_path / "found"))
    run_gold(silver, str(tmp_path / "given"), quarters=["2020-03-31", "2020-06-30"])
    found = _gold_rows(spark, tmp_path / "found")
    assert found == _gold_rows(spark, tmp_path / "given")
    assert spark.read.parquet(str(tmp_path / "found" / "quarterly_assets_table")).columns[3:] == [
        "2020-06-30", "2020-03-31",
    ]


def test_run_gold_one_file_per_partition_directory(spark, bronze, tmp_path):
    # a silver spread over several partitions still yields one file per
    # leaf directory: the fact write is clustered by its partition columns
    silver = build_silver(*bronze).financial_institution.repartition(4)
    run_gold(silver, str(tmp_path))
    leaves = [
        files
        for _, _, files in os.walk(tmp_path / "assets_deposits_by_state")
        if any(f.endswith(".parquet") for f in files)
    ]
    assert len(leaves) == gold_fact(silver).select("year", "quarter", "state").distinct().count()
    assert all(sum(f.endswith(".parquet") for f in files) == 1 for files in leaves)


def test_run_gold_releases_its_silver_cache(spark, bronze, tmp_path):
    silver = build_silver(*bronze).financial_institution
    before = storage_status(spark)["n_cached_rdds"]
    run_gold(silver, str(tmp_path))
    assert storage_status(spark)["n_cached_rdds"] == before
    assert not silver.storageLevel.useMemory


def test_run_gold_keeps_caller_cache(spark, bronze, tmp_path):
    silver = build_silver(*bronze).financial_institution.persist()
    try:
        silver.count()
        run_gold(silver, str(tmp_path))
        assert silver.storageLevel.useMemory, "the caller's cache entry survives"
    finally:
        silver.unpersist()
