"""Reference-parity medallion pipeline: bronze FDIC/NCUA inputs -> silver
`financial_institution` -> four gold tables.

This is the domain capability of the reference re-expressed as pure
DataFrame transforms (testable without IO; `build_silver` returns silver
and its quarantine, `run_gold` composes the gold transforms with sinks --
it computes silver once for all four writes and releases it on return):

  bronze institutions/financials     (FDIC,  silverLayer/BuildSilverLayer.py:139-193)
  bronze foicu/fs220/fs220d          (NCUA,  silverLayer/BuildSilverLayer.py:196-269)
    -> standardize (case, 3 date formats, defaults)  [clean.standardize]
    -> conform joins + union + keyed dedup           [conform]
    -> financial_institution (schemas.FINANCIAL_INSTITUTION)
    -> gold: directory / fact / quarterly pivots     (goldLayer/BuildGoldLayer.py:143-209)

Deliberate divergences from the reference (capability-preserving, SURVEY §4.3):
  - malformed rows are quarantined with a reason, not silently dropped;
  - dedup is on the declared grain (charter_number, institution_type,
    quarter_date), not all columns;
  - the quarter pivot is one groupBy().pivot() instead of O(Q) full joins;
  - the state-abbreviation map is a literal-map expression, not a Python UDF.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.analytics import derive_year_quarter, pivot_by_period
from ..operators.clean import (
    ColumnSpec,
    StandardizeSpec,
    apply_with_quarantine,
    select_sort_dated_cols,
)
from ..operators.conform import dedup_keyed, union_conform

# U.S. state/territory abbreviation -> full name (public data; the reference
# ships the same mapping as StateAbbreviationDict.py and applies it through a
# broadcast-dict UDF -- here it is a literal map expression, SURVEY §2.10).
US_STATES: dict[str, str] = {
    "AL": "Alabama", "AK": "Alaska", "AZ": "Arizona", "AR": "Arkansas",
    "CA": "California", "CO": "Colorado", "CT": "Connecticut", "DE": "Delaware",
    "FL": "Florida", "GA": "Georgia", "HI": "Hawaii", "ID": "Idaho",
    "IL": "Illinois", "IN": "Indiana", "IA": "Iowa", "KS": "Kansas",
    "KY": "Kentucky", "LA": "Louisiana", "ME": "Maine", "MD": "Maryland",
    "MA": "Massachusetts", "MI": "Michigan", "MN": "Minnesota", "MS": "Mississippi",
    "MO": "Missouri", "MT": "Montana", "NE": "Nebraska", "NV": "Nevada",
    "NH": "New Hampshire", "NJ": "New Jersey", "NM": "New Mexico", "NY": "New York",
    "NC": "North Carolina", "ND": "North Dakota", "OH": "Ohio", "OK": "Oklahoma",
    "OR": "Oregon", "PA": "Pennsylvania", "RI": "Rhode Island", "SC": "South Carolina",
    "SD": "South Dakota", "TN": "Tennessee", "TX": "Texas", "UT": "Utah",
    "VT": "Vermont", "VA": "Virginia", "WA": "Washington", "WV": "West Virginia",
    "WI": "Wisconsin", "WY": "Wyoming", "DC": "District Of Columbia",
    "GU": "Guam", "PR": "Puerto Rico", "VI": "Virgin Islands",
}

# The reference's three source date formats with their validation gates
# (silverLayer/BuildSilverLayer.py:156-157,184-185,214-215).
FDIC_INST_DATE = (r"^\d{1,2}/\d{1,2}/\d{4}$", "M/d/yyyy")
FDIC_FIN_DATE = (r"^\d{8}$", "yyyyMMdd")
NCUA_DATE = (r"^\d{1,2}/\d{1,2}/\d{4} 0:00:00$", "M/dd/yyyy H:mm:ss")

GRAIN = ["charter_number", "institution_type", "quarter_date"]


@dataclass
class SilverResult:
    financial_institution: DataFrame
    quarantine: DataFrame  # rejected rows with _reject_reason + _source columns


def _bank_institutions_spec() -> StandardizeSpec:
    # vss_bank_inst (silverLayer/BuildSilverLayer.py:139-165)
    return StandardizeSpec(
        row_filter="ACTIVE = 1",
        columns=[
            ColumnSpec("CERT", name="charter_number", cast="int", required=True),
            ColumnSpec("CITY", name="city", case="initcap", required=True),
            ColumnSpec("NAME", name="name", case="upper", required=True),
            ColumnSpec("STNAME", name="state", case="initcap", required=True),
            ColumnSpec("WEBADDR", name="website", case="lower", default="Not Provided"),
        ],
    )


def _bank_financials_spec() -> StandardizeSpec:
    # vss_bank_fin (silverLayer/BuildSilverLayer.py:168-193)
    return StandardizeSpec(
        columns=[
            ColumnSpec("CERT", name="charter_number", cast="int", required=True),
            ColumnSpec(
                "REPDTE",
                name="quarter_date",
                date_regex=FDIC_FIN_DATE[0],
                date_format=FDIC_FIN_DATE[1],
                required=True,
            ),
            ColumnSpec("ASSET", name="assets_total", cast="long", required=True),
            ColumnSpec("DEP", name="deposits_total", cast="long", required=True),
        ]
    )


def _cu_foicu_spec() -> StandardizeSpec:
    # vss_foicu (silverLayer/BuildSilverLayer.py:196-219); the state UDF
    # becomes a ColumnSpec.value_map literal expression.
    return StandardizeSpec(
        columns=[
            ColumnSpec("CU_NUMBER", name="charter_number", cast="int", required=True),
            ColumnSpec("CU_NAME", name="name", case="upper", required=True),
            ColumnSpec("CITY", name="city", case="initcap", required=True),
            ColumnSpec("STATE", name="state", value_map=US_STATES, required=True),
            ColumnSpec(
                "CYCLE_DATE",
                name="quarter_date",
                date_regex=NCUA_DATE[0],
                date_format=NCUA_DATE[1],
                required=True,
            ),
        ]
    )


def _cu_fs220_spec() -> StandardizeSpec:
    # vss_fs220 (silverLayer/BuildSilverLayer.py:222-244)
    return StandardizeSpec(
        columns=[
            ColumnSpec("CU_NUMBER", name="charter_number", cast="int", required=True),
            ColumnSpec(
                "CYCLE_DATE",
                name="quarter_date",
                date_regex=NCUA_DATE[0],
                date_format=NCUA_DATE[1],
                required=True,
            ),
            ColumnSpec("ACCT_010", name="assets_total", cast="long", required=True),
            ColumnSpec("ACCT_018", name="deposits_total", cast="long", required=True),
        ]
    )


def _cu_fs220d_spec() -> StandardizeSpec:
    # vss_fs220d (silverLayer/BuildSilverLayer.py:247-269); mixed-case column
    # name Acct_891 (case-sensitive resolution is on).
    return StandardizeSpec(
        columns=[
            ColumnSpec("CU_NUMBER", name="charter_number", cast="int", required=True),
            ColumnSpec(
                "CYCLE_DATE",
                name="quarter_date",
                date_regex=NCUA_DATE[0],
                date_format=NCUA_DATE[1],
                required=True,
            ),
            ColumnSpec("Acct_891", name="website", case="lower", default="Not Provided"),
        ]
    )


def build_silver(
    institutions: DataFrame,
    financials: DataFrame,
    foicu: DataFrame,
    fs220: DataFrame,
    fs220d: DataFrame,
) -> SilverResult:
    """Bronze -> silver conform (update_silver_layer,
    silverLayer/BuildSilverLayer.py:280-327, rebuilt)."""
    inst_c, inst_q = apply_with_quarantine(institutions, _bank_institutions_spec())
    fin_c, fin_q = apply_with_quarantine(financials, _bank_financials_spec())
    # Banks: directory x quarterly financials. The directory row fans out to
    # one row per quarter (J1). Inner semantics: a bank must have both a
    # directory row and financials (the reference's left-join + dropna).
    bank = (
        inst_c.join(fin_c, "charter_number")
        .withColumn("institution_type", F.lit("bank"))
    )

    foicu_c, foicu_q = apply_with_quarantine(foicu, _cu_foicu_spec())
    fs220_c, fs220_q = apply_with_quarantine(fs220, _cu_fs220_spec())
    fs220d_c, fs220d_q = apply_with_quarantine(fs220d, _cu_fs220d_spec())
    # Credit unions: FOICU directory x FS220D website x FS220 measures on the
    # composite key (J2). Website stays optional (left) then defaulted;
    # measures are required (inner -- reference's dropna after left join).
    cu = (
        foicu_c.join(fs220d_c.select("charter_number", "quarter_date", "website"), ["charter_number", "quarter_date"], "left")
        .withColumn("website", F.coalesce(F.col("website"), F.lit("Not Provided")))
        .join(fs220_c, ["charter_number", "quarter_date"])
        .withColumn("institution_type", F.lit("credit union"))
    )

    unioned = union_conform([bank, cu])
    silver = dedup_keyed(
        unioned,
        GRAIN,
        order_by=[F.desc("assets_total"), F.asc("name")],
    ).select(
        "charter_number", "city", "name", "quarter_date", "state", "website",
        "assets_total", "deposits_total", "institution_type",
    )
    quarantine = union_conform(
        [
            df.withColumn("_source", F.lit(src))
            for df, src in [
                (inst_q, "fdic_institutions"),
                (fin_q, "fdic_financials"),
                (foicu_q, "ncua_foicu"),
                (fs220_q, "ncua_fs220"),
                (fs220d_q, "ncua_fs220d"),
            ]
        ]
    )
    return SilverResult(silver, quarantine)


# ---------------------------------------------------------------------------
# Gold tables (goldLayer/BuildGoldLayer.py:143-209)
# ---------------------------------------------------------------------------


def gold_directory(silver: DataFrame) -> DataFrame:
    """institutions_directory_by_type (:149-160): one row per institution,
    for a disk layout partitioned by (institution_type, state)."""
    return (
        silver.select("charter_number", "name", "city", "state", "website", "institution_type")
        .distinct()
    )


def gold_fact(silver: DataFrame) -> DataFrame:
    """assets_deposits_by_state (:164-179): quarterly fact with derived
    year/quarter, for partitioning by (year, quarter, state)."""
    return derive_year_quarter(
        silver.select(
            "charter_number", "institution_type", "state", "quarter_date",
            "assets_total", "deposits_total",
        ),
        "quarter_date",
    )


def _gold_pivot(silver: DataFrame, measure_col: str, quarters: list[str] | None) -> DataFrame:
    # pivot_by_period resolves from module globals at call time, so a
    # tracer that patches it on this module sees every gold pivot
    df = silver.withColumn("q", F.date_format("quarter_date", "yyyy-MM-dd"))
    pv = pivot_by_period(
        df,
        keys=["charter_number", "institution_type", "name"],
        period_col="q",
        measure=F.first(measure_col),
        values=quarters,
    )
    return select_sort_dated_cols(pv, ["charter_number", "institution_type", "name"], sort_desc=True)


def gold_quarterly_assets(silver: DataFrame, quarters: list[str] | None = None) -> DataFrame:
    """quarterly_assets_table (:183-194) -- data-named quarter columns,
    newest first; ONE shuffle via pivot (vs the reference's O(Q) join loop).
    Pass `quarters` explicitly at scale to skip the distinct pre-pass."""
    return _gold_pivot(silver, "assets_total", quarters)


def gold_quarterly_deposits(silver: DataFrame, quarters: list[str] | None = None) -> DataFrame:
    """quarterly_deposits_table (:197-209)."""
    return _gold_pivot(silver, "deposits_total", quarters)


def run_gold(silver: DataFrame, out_dir: str, quarters: list[str] | None = None) -> None:
    """Publish the four gold tables with the reference's disk partitioning
    (goldLayer/BuildGoldLayer.py:212-237).

    Silver is computed once for all four writes: it is persisted for the
    duration of the call and released on return, unless the caller already
    holds it cached (the CacheManager looks the entry up by plan, and the
    caller's entry stays the caller's). The quarter list, when not given,
    is read from that cached silver once and shared by both pivots."""
    from ..sinks import write_gold

    level = silver.storageLevel
    owned = not (level.useMemory or level.useDisk)
    if owned:
        silver.persist()
    try:
        if quarters is None:
            quarters = sorted(
                r[0]
                for r in silver.select(F.date_format("quarter_date", "yyyy-MM-dd"))
                .distinct()
                .collect()
            )
        # O3: cluster rows by name inside each write partition (reference
        # repartition + sortWithinPartitions, goldLayer/BuildGoldLayer.py:158-159)
        # so downstream name-range scans read contiguous row groups. Each
        # partitioned write is clustered by its partition columns, so every
        # partition directory gets one file whatever silver's partitioning.
        write_gold(
            gold_directory(silver)
            .repartition("institution_type", "state")
            .sortWithinPartitions("name"),
            f"{out_dir}/institutions_directory_by_type",
            partition_by=["institution_type", "state"],
        )
        write_gold(
            gold_fact(silver).repartition("year", "quarter", "state"),
            f"{out_dir}/assets_deposits_by_state",
            partition_by=["year", "quarter", "state"],
        )
        write_gold(
            gold_quarterly_assets(silver, quarters),
            f"{out_dir}/quarterly_assets_table",
            overwrite_schema=True,
        )
        write_gold(
            gold_quarterly_deposits(silver, quarters),
            f"{out_dir}/quarterly_deposits_table",
            overwrite_schema=True,
        )
    finally:
        if owned:
            silver.unpersist()
