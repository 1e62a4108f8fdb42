"""Seeded input generators for the benchmark.

Two data sets, both written as parquet under a caller-chosen directory:

* ``write_bronze`` -- the medallion job's five bronze inputs (FDIC
  institutions/financials, NCUA foicu/fs220/fs220d) with ~1% malformed
  dates, ~1% unknown state codes and a few duplicate financial rows. It
  returns the counts the silver/gold layers must produce, computed here in
  plain Python so the benchmark can check the engine's outputs against
  them.
* ``write_star`` -- the star schema plus ``documents``, ``embeddings`` and
  ``events`` that the query registry reads (same columns and value shapes
  as the registry's test data), each table split over several files in a
  seed-shuffled row order.

The same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# medallion bronze
# ---------------------------------------------------------------------------

STATES: dict[str, str] = {
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
_ABBREVS = sorted(STATES)
_CITY_WORDS = ["Spring", "Oak", "River", "Lake", "Fair", "Green", "Mill", "Port"]
_CITY_SUFFIX = ["field", "ville", "ton", "wood", "view", "dale"]
_NAME_WORDS = ["First", "Peoples", "Citizens", "Union", "Farmers", "Heritage", "Valley"]

# quarter ends in the three source formats (medallion.py's date gates)
_Q_ENDS = [(3, 31), (6, 30), (9, 30), (12, 31)]


def _quarters(n: int, first_year: int = 2014) -> list[dt.date]:
    out = []
    for i in range(n):
        y, (m, d) = first_year + i // 4, _Q_ENDS[i % 4]
        out.append(dt.date(y, m, d))
    return out


def _vary_case(rng: np.random.Generator, s: str) -> str:
    k = rng.integers(3)
    return s.upper() if k == 0 else s.lower() if k == 1 else s


def _write(table: pa.Table, path: str, rng: np.random.Generator, files: int) -> None:
    """Write `table` as a directory of `files` parquet parts, rows in a
    seed-shuffled order."""
    os.makedirs(path, exist_ok=True)
    order = rng.permutation(table.num_rows)
    table = table.take(pa.array(order))
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def write_bronze(
    out_dir: str,
    seed: int,
    n_banks: int = 200,
    n_cus: int = 150,
    n_quarters: int = 4,
    n_states: int = 8,
    bad_rate: float = 0.01,
    dup_rate: float = 0.005,
    files: int = 4,
) -> dict:
    """Write the five bronze tables under `out_dir` and return what the
    pipeline must produce from them (see module docstring)."""
    rng = np.random.default_rng(seed)
    quarters = _quarters(n_quarters)
    # the gold fact is partitioned by (year, quarter, state): the state and
    # quarter counts set how many files each write makes
    abbrevs = sorted(rng.choice(_ABBREVS, n_states, replace=False).tolist())

    def city() -> str:
        return str(rng.choice(_CITY_WORDS)) + str(rng.choice(_CITY_SUFFIX))

    def name(kind: str) -> str:
        return f"{rng.choice(_NAME_WORDS)} {rng.choice(_NAME_WORDS)} {kind}"

    def website(i: int) -> str | None:
        r = rng.random()
        if r < 0.1:
            return None
        if r < 0.2:
            return ""
        return _vary_case(rng, f"www.inst{i}.com")

    def norm_web(w: str | None) -> str:
        return "Not Provided" if not w else w.lower()

    # silver rows keyed by (charter, type, quarter) -> (directory tuple, assets)
    silver: dict[tuple, tuple] = {}
    quarantine: dict[tuple[str, str], int] = {}
    bronze_rows = 0

    def reject(source: str, reason: str) -> None:
        quarantine[(source, reason)] = quarantine.get((source, reason), 0) + 1

    # ---- FDIC ------------------------------------------------------------
    certs = rng.choice(np.arange(1, 10 * n_banks + 1), size=n_banks, replace=False)
    inst_rows, fin_rows = [], []
    for i, cert in enumerate(certs.tolist()):
        active = rng.random() < 0.9
        c, nm, ab = city(), name("Bank"), str(rng.choice(abbrevs))
        web = website(cert)
        q0 = quarters[int(rng.integers(n_quarters))]
        inst_rows.append({
            "ACTIVE": "1" if active else "0",
            "CERT": str(cert),
            "CITY": _vary_case(rng, c),
            "ID": str(i),
            "NAME": nm,
            "REPDTE": f"{q0.month}/{q0.day}/{q0.year}",
            "STNAME": _vary_case(rng, STATES[ab]),
            "WEBADDR": web,
        })
        directory = (cert, nm.upper(), c, STATES[ab], norm_web(web), "bank")
        for q in quarters:
            asset = int(rng.integers(10_000, 5_000_000))
            bad = rng.random() < bad_rate
            rep = q.isoformat() if bad else q.strftime("%Y%m%d")
            copies = [asset] + ([asset + 1 + int(rng.integers(1000))] if rng.random() < dup_rate else [])
            for a in copies:
                fin_rows.append({
                    "ASSET": str(a), "CERT": str(cert), "DEP": str(a * 4 // 5),
                    "ID": str(i), "REPDTE": rep,
                })
                if bad:
                    reject("fdic_financials", "quarter_date")
                elif active:
                    key = (cert, "bank", q)
                    if key not in silver or silver[key][1] < a:
                        silver[key] = (directory, a)

    # ---- NCUA ------------------------------------------------------------
    foicu_rows, fs220_rows, fs220d_rows = [], [], []
    cu_numbers = rng.choice(np.arange(1, 10 * n_cus + 1), size=n_cus, replace=False)
    for cu in cu_numbers.tolist():
        c, nm, ab = city(), name("Credit Union"), str(rng.choice(abbrevs))
        web = website(cu)
        for q in quarters:
            good_date = f"{q.month}/{q.day:02d}/{q.year} 0:00:00"
            fo_bad_date = rng.random() < bad_rate
            fo_bad_state = rng.random() < bad_rate
            foicu_rows.append({
                "CU_NUMBER": cu,
                "CU_NAME": _vary_case(rng, nm),
                "CITY": _vary_case(rng, c),
                "STATE": "ZZ" if fo_bad_state else ab,
                "CYCLE_DATE": q.isoformat() if fo_bad_date else good_date,
                "PEER_GROUP": int(rng.integers(1, 7)),
            })
            reasons = ["state"] * fo_bad_state + ["quarter_date"] * fo_bad_date
            if reasons:
                reject("ncua_foicu", ",".join(reasons))
            assets = int(rng.integers(1_000, 2_000_000))
            fs_bad = rng.random() < bad_rate
            fs220_rows.append({
                "CU_NUMBER": cu,
                "CYCLE_DATE": q.isoformat() if fs_bad else good_date,
                "ACCT_010": assets,
                "ACCT_018": assets * 9 // 10,
                "ACCT_671": int(rng.integers(100)),
            })
            if fs_bad:
                reject("ncua_fs220", "quarter_date")
            cu_web = "Not Provided"
            if rng.random() < 0.9:
                fd_bad = rng.random() < bad_rate
                fs220d_rows.append({
                    "CU_NUMBER": cu,
                    "CYCLE_DATE": q.isoformat() if fd_bad else good_date,
                    "Acct_891": web,
                })
                if fd_bad:
                    reject("ncua_fs220d", "quarter_date")
                else:
                    cu_web = norm_web(web)
            if not (reasons or fs_bad):
                directory = (cu, nm.upper(), c, STATES[ab], cu_web, "credit union")
                silver[(cu, "credit union", q)] = (directory, assets)

    tables = {
        "fdic_institutions": pa.Table.from_pylist(inst_rows),
        "fdic_financials": pa.Table.from_pylist(fin_rows),
        "ncua_foicu": pa.Table.from_pylist(foicu_rows),
        "ncua_fs220": pa.Table.from_pylist(fs220_rows),
        "ncua_fs220d": pa.Table.from_pylist(fs220d_rows),
    }
    bronze_bytes = 0
    for tname, table in tables.items():
        path = os.path.join(out_dir, tname)
        _write(table, path, rng, files)
        bronze_rows += table.num_rows
        bronze_bytes += sum(
            os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
        )

    directory_rows = {v[0] for v in silver.values()}
    assets = {"bank": 0, "credit union": 0}
    for (_, itype, _), (_, a) in silver.items():
        assets[itype] += a
    institutions = {(k[0], k[1]) for k in silver}
    return {
        "bronze_rows": bronze_rows,
        "bronze_bytes": bronze_bytes,
        "silver_rows": len(silver),
        "quarantine": {f"{s}|{r}": n for (s, r), n in sorted(quarantine.items())},
        "quarantine_rows": sum(quarantine.values()),
        "directory_rows": len(directory_rows),
        "directory_partitions": len({(d[5], d[3]) for d in directory_rows}),
        "fact_partitions": len(
            {(k[2].year, (k[2].month + 2) // 3, v[0][3]) for k, v in silver.items()}
        ),
        "pivot_rows": len(institutions),
        "pivot_cols": len({k[2] for k in silver}),
        "assets_by_type": assets,
    }


# ---------------------------------------------------------------------------
# registry star schema + corpus tables
# ---------------------------------------------------------------------------

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "spring", "valve"]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + d).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(seed: int, sf: float, n_docs: int, n_emb: int) -> dict[str, pa.Table]:
    """Build the registry's tables in memory (unshuffled, one table each)."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_ord).tolist(),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01"), pa.timestamp("us")),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n_li).tolist(),
        "l_shipdate": pa.array(_days(rng, n_li, "1995-01-02", "2001-11-04"), pa.timestamp("us")),
    })
    month_us = 30 * 86_400_000_000
    ts = np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(0, month_us, n_ev).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.sort(ts), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, n_ev // 66), n_ev), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_ev).tolist(),
        "value": np.round(rng.exponential(80.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    # documents: random 10-100 word texts over a small vocabulary; every
    # 20th doc repeats an earlier doc's text plus " dup" (near duplicates)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and i % 20 == 11:
            texts.append(texts[int(rng.integers(i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_VOCAB, n).tolist()))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return out


def write_star(
    out_dir: str,
    shuffle_seed: int | None,
    sf: float,
    n_docs: int,
    n_emb: int,
    data_seed: int = 7,
    files: int = 3,
) -> dict[str, int]:
    """Write every registry table as ``<out_dir>/<table>.parquet``.

    The rows are fixed by `data_seed`; `shuffle_seed` only sets their order
    and split over `files` parts, so query results must not depend on it.
    With ``shuffle_seed=None`` each table is one file in generation order.
    Returns row counts."""
    tables = star_tables(data_seed, sf, n_docs, n_emb)
    os.makedirs(out_dir, exist_ok=True)
    for tname, table in tables.items():
        path = os.path.join(out_dir, f"{tname}.parquet")
        if shuffle_seed is None:
            pq.write_table(table, path)
        else:
            _write(table, path, np.random.default_rng([shuffle_seed, len(tname)]), files)
    return {k: v.num_rows for k, v in tables.items()}
