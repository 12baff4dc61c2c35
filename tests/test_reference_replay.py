"""Reference-replay tests (SURVEY §5.3): run the recomposed pipelines on
reference-SHAPED fixtures (FIXTURES.md §A) and check against an
independently-computed pure-Python expectation.

The fixtures deliberately contain every semantic edge the reference data
has: junk Contract='0', unmapped AppNames (dropped), single-type watchers
(pivot fill 0), duration ties across types (argmax priority), contracts in
all three activeness buckets, null keywords, single-month users (dropped
by the inner join), and exact keyword-count ties (deterministic break).
"""

from __future__ import annotations

import json
import random
from collections import Counter, defaultdict
from datetime import date, timedelta

import pytest

from bigdata_etl_customer360_spark.operators.enrich import RuleClassifier
from bigdata_etl_customer360_spark.plans.reference_replay import (
    APP_TYPE_MAP,
    CONTENT_TYPES,
    MOST_WATCHED_PRIORITY,
    behavior_pipeline,
    interaction_pipeline,
)

# --- log_content fixture -----------------------------------------------------

APPS = list(APP_TYPE_MAP) + ["APP_X", "ERR"]  # two unmapped → dropped


APRIL = [f"202204{d:02d}" for d in range(1, 31)]


def _gen_log_content(tmp_path, days=APRIL, extra=()):
    """Write one ``yyyyMMdd.json`` file per day; ``extra`` adds
    ``(day, contract, app, duration)`` rows on top of the random ones."""
    rng = random.Random(7)
    contracts = [f"CT{i:04d}" for i in range(40)]
    rows_by_day = defaultdict(list)
    for ci, c in enumerate(contracts):
        # active-day count spans the three buckets: <10, 10..20, >20
        n_active = [3, 12, 25][ci % 3]
        for day in rng.sample(days, n_active):
            for _ in range(rng.randint(1, 3)):
                app = rng.choice(APPS)
                rows_by_day[day].append(
                    {
                        "_index": "history",
                        "_type": "kplus",
                        "_id": f"{c}-{day}-{rng.randint(0, 1 << 30)}",
                        "_score": 0,
                        "_source": {
                            "Contract": c,
                            "Mac": "0C96E62FC55C",
                            "TotalDuration": rng.randint(1, 5000),
                            "AppName": app,
                        },
                    }
                )
    # edge rows: junk contract, exact tie between two types for CT_TIE
    rows_by_day[days[0]].append(
        {"_index": "history", "_type": "kplus", "_id": "junk", "_score": 0,
         "_source": {"Contract": "0", "Mac": "x", "TotalDuration": 99, "AppName": "CHANNEL"}}
    )
    for app in ("SPORT", "CHANNEL"):  # tie: The Thao == Truyen Hinh → priority wins
        rows_by_day[days[1]].append(
            {"_index": "history", "_type": "kplus", "_id": f"tie-{app}", "_score": 0,
             "_source": {"Contract": "CT_TIE", "Mac": "x", "TotalDuration": 777, "AppName": app}}
        )
    for day, c, app, dur in extra:
        rows_by_day[day].append(
            {"_index": "history", "_type": "kplus", "_id": f"{c}-{day}", "_score": 0,
             "_source": {"Contract": c, "Mac": "x", "TotalDuration": dur, "AppName": app}}
        )
    paths = []
    for day in days:
        p = tmp_path / f"{day}.json"
        with open(p, "w") as f:
            for r in rows_by_day[day]:
                f.write(json.dumps(r) + "\n")
        paths.append(str(p))
    return paths, rows_by_day


def _expected_interaction(rows_by_day):
    totals = defaultdict(lambda: Counter())
    active = defaultdict(set)
    for day, rows in rows_by_day.items():
        for r in rows:
            s = r["_source"]
            t = APP_TYPE_MAP.get(s["AppName"])
            if t is None or s["Contract"] == "0":
                continue
            totals[s["Contract"]][t] += s["TotalDuration"]
            active[s["Contract"]].add(day)
    out = {}
    for c, tc in totals.items():
        vals = {t: tc.get(t, 0) for t in CONTENT_TYPES}
        best = max(vals.values())
        most = next(t for t in MOST_WATCHED_PRIORITY if vals[t] == best)
        taste = "-".join(t for t in CONTENT_TYPES if vals[t] != 0)
        n = len(active[c])
        level = "High" if n > 20 else ("Medium" if n >= 10 else "Low")
        out[c] = (vals, n, most, taste, level)
    return out


def test_interaction_replay(spark, tmp_path):
    paths, rows_by_day = _gen_log_content(tmp_path)
    got = {
        r["Contract"]: r
        for r in (x.asDict() for x in interaction_pipeline(spark, paths).collect())
    }
    exp = _expected_interaction(rows_by_day)
    assert set(got) == set(exp)
    for c, (vals, n, most, taste, level) in exp.items():
        row = got[c]
        for t in CONTENT_TYPES:
            assert row[f"Total_{t.replace(' ', '_')}"] == vals[t], (c, t)
        assert row["Active"] == n, c
        assert row["Most Watched"] == most, c
        assert row["Taste"] == taste, c
        assert row["Level_Activeness"] == level, c
    # pinned edges
    assert "0" not in got
    assert got["CT_TIE"]["Most Watched"] == "Truyen Hinh"  # tie → priority order


# --- log_search fixture ------------------------------------------------------

KEYWORDS = {
    "phim hanh dong": "Action",
    "phim kinh di": "Horror",
    "nhac tre": "Music",
    "bong da": "Sports",
    "tin tuc": "News",
    "xyzzy": "Other",  # matches no rule → fallback
}
CLASSIFIER = RuleClassifier(
    {
        "Action": ["hanh dong"],
        "Horror": ["kinh di"],
        "Music": ["nhac"],
        "Sports": ["bong da"],
        "News": ["tin tuc"],
    },
    fallback="Other",
)


def _gen_log_search(tmp_path, spark):
    rng = random.Random(11)
    kws = list(KEYWORDS)
    users = [str(10000 + i) for i in range(30)]

    def month_rows(month, user_subset):
        rows = []
        for u in user_subset:
            dominant = kws[(int(u) + month) % len(kws)]
            rows += [(f"e{rng.randint(0, 1 << 30)}", f"2022-0{month}-01 10:00:00",
                      u, dominant, "enter", "viettel", "android", "wifi", "search")] * 3
            other = kws[(int(u) + month + 1) % len(kws)]
            rows.append((f"e{rng.randint(0, 1 << 30)}", f"2022-0{month}-02 10:00:00",
                         u, other, "quit", "fpt", "ios", "3g", "search"))
            rows.append((f"e{rng.randint(0, 1 << 30)}", f"2022-0{month}-03 10:00:00",
                         u, None, "enter", "vnpt", "web", None, "search"))
        return rows

    cols = ["eventID", "datetime", "user_id", "keyword", "category",
            "proxy_isp", "platform", "networkType", "action"]
    june_users = users[:25]          # 5 July-only users dropped by join
    july_users = users[5:]           # 5 June-only users dropped by join
    paths = {}
    for month, subset in ((6, june_users), (7, july_users)):
        rows = month_rows(month, subset)
        p = str(tmp_path / f"202207{month:02d}_search")
        spark.createDataFrame(rows, cols).write.mode("overwrite").parquet(p)
        paths[month] = p
    return paths, june_users, july_users, kws


def test_behavior_replay(spark, tmp_path):
    paths, june_users, july_users, kws = _gen_log_search(tmp_path, spark)
    out = behavior_pipeline(spark, [paths[6]], [paths[7]], CLASSIFIER)
    rows = {r["user_id"]: r.asDict() for r in out.collect()}
    both = set(june_users) & set(july_users)
    assert set(rows) == both  # inner join drops single-month users
    for u, r in rows.items():
        dom6 = kws[(int(u) + 6) % len(kws)]
        dom7 = kws[(int(u) + 7) % len(kws)]
        assert r["most_search_T6"] == dom6
        assert r["most_search_T7"] == dom7
        assert r["category_T6"] == KEYWORDS[dom6]
        assert r["category_T7"] == KEYWORDS[dom7]
        if KEYWORDS[dom6] == KEYWORDS[dom7]:
            assert r["Trending_Type"] == "Unchanged"
            assert r["Category_Change"] == "Unchanged"
        else:
            assert r["Trending_Type"] == "Changed"
            assert r["Category_Change"] == f"{KEYWORDS[dom6]}-{KEYWORDS[dom7]}"


def test_behavior_tie_break(spark, tmp_path):
    """Exact count tie → lexicographically smallest keyword wins (pinned)."""
    cols = ["eventID", "datetime", "user_id", "keyword", "category",
            "proxy_isp", "platform", "networkType", "action"]
    rows = [("e1", "2022-06-01 00:00:00", "1", "bbb", "enter", "x", "x", "x", "search"),
            ("e2", "2022-06-01 00:00:01", "1", "aaa", "enter", "x", "x", "x", "search")]
    p6 = str(tmp_path / "tie6")
    spark.createDataFrame(rows, cols).write.mode("overwrite").parquet(p6)
    p7 = str(tmp_path / "tie7")
    spark.createDataFrame(rows, cols).write.mode("overwrite").parquet(p7)
    out = behavior_pipeline(spark, [p6], [p7], CLASSIFIER).collect()
    assert len(out) == 1
    assert out[0]["most_search_T6"] == "aaa"
    assert out[0]["Trending_Type"] == "Unchanged"


# --- incremental lake (idempotent daily re-runs) -----------------------------


def _profile_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_interaction_incremental_idempotent(spark, tmp_path):
    """Re-running overlapping date windows through the partitioned lake is
    byte-idempotent: the lake and the profile equal a single clean run,
    and the profile matches the one-shot pipeline exactly."""
    from bigdata_etl_customer360_spark.plans.reference_replay import (
        interaction_ingest_daily,
        interaction_profile_from_lake,
    )

    logs = tmp_path / "logs"
    logs.mkdir()
    paths, _ = _gen_log_content(logs)
    lake = str(tmp_path / "lake")

    interaction_ingest_daily(spark, paths, lake)           # full window
    once = _profile_rows(spark.read.parquet(lake))
    interaction_ingest_daily(spark, paths[9:20], lake)     # re-run days 10-20
    interaction_ingest_daily(spark, paths[15:25], lake)    # and 16-25, overlapping
    assert _profile_rows(spark.read.parquet(lake)) == once

    got = _profile_rows(interaction_profile_from_lake(spark, lake))
    want = _profile_rows(interaction_pipeline(spark, paths))
    assert got == want


def test_interaction_ingest_leaves_session_conf_alone(spark, tmp_path):
    """The lake write asks for dynamic partition overwrite per write, so
    ``partitionOverwriteMode`` is exactly as found afterwards (unset stays
    unset, STATIC stays STATIC), and a re-run under an explicit STATIC
    session still replaces only the days it writes."""
    from bigdata_etl_customer360_spark.operators.util import session_conf
    from bigdata_etl_customer360_spark.plans.reference_replay import (
        interaction_ingest_daily,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    logs = tmp_path / "logs"
    logs.mkdir()
    paths, _ = _gen_log_content(logs)
    lake = str(tmp_path / "lake")

    spark.conf.unset(key)
    interaction_ingest_daily(spark, paths, lake)
    assert spark.conf.get(key, None) is None
    once = _profile_rows(spark.read.parquet(lake))
    with session_conf(spark, key, "STATIC"):
        interaction_ingest_daily(spark, paths[9:20], lake)
        assert spark.conf.get(key) == "STATIC"
    assert _profile_rows(spark.read.parquet(lake)) == once


def test_interaction_lake_window_prunes_partitions(spark, tmp_path):
    """start/end become partition filters: a windowed profile equals the
    one-shot pipeline over just those days, and the scan plan carries the
    Date bounds as partition filters (pruning, not a full-lake read)."""
    from bigdata_etl_customer360_spark.plans.reference_replay import (
        interaction_ingest_daily,
        interaction_profile_from_lake,
    )

    logs = tmp_path / "logs"
    logs.mkdir()
    paths, _ = _gen_log_content(logs)
    lake = str(tmp_path / "lake")
    interaction_ingest_daily(spark, paths, lake)

    windowed = interaction_profile_from_lake(
        spark, lake, start="2022-04-05", end="2022-04-14"
    )
    want = _profile_rows(interaction_pipeline(spark, paths[4:14]))
    assert _profile_rows(windowed) == want
    plan = windowed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "Date" in plan.split("PartitionFilters")[1][:200]


def test_behavior_incremental_month_rerun(spark, tmp_path):
    """Re-landing one month (e.g. after a classifier fix) replaces only
    that month's partition; the trend output matches the one-shot
    pipeline."""
    from bigdata_etl_customer360_spark.plans.reference_replay import (
        behavior_ingest_month,
        behavior_trend_from_lake,
    )

    paths, june_users, july_users, kws = _gen_log_search(tmp_path, spark)
    lake = str(tmp_path / "behavior_lake")

    behavior_ingest_month(spark, [paths[6]], CLASSIFIER, lake, "2022-06")
    behavior_ingest_month(spark, [paths[7]], CLASSIFIER, lake, "2022-07")
    once = _profile_rows(spark.read.parquet(lake))
    behavior_ingest_month(spark, [paths[7]], CLASSIFIER, lake, "2022-07")  # re-run
    assert _profile_rows(spark.read.parquet(lake)) == once

    got = behavior_trend_from_lake(spark, lake, "2022-06", "2022-07")
    want = behavior_pipeline(spark, [paths[6]], [paths[7]], CLASSIFIER)
    assert _profile_rows(got) == _profile_rows(want)


# --- partition-window lake reads ---------------------------------------------

# 70 consecutive days from 2022-03-01; day 40 is never landed. CT_E64 is
# active on the first and last day of a 64-day window, CT_E65 on the first
# and last day of a 65-day window (same residue mod 64).
LAKE_DAYS = [
    (date(2022, 3, 1) + timedelta(days=k)).strftime("%Y%m%d") for k in range(70)
]
MISSING_DAY = 40
WIN64 = (2, 65)
WIN65 = (3, 67)


def _iso(day: str) -> str:
    return f"{day[:4]}-{day[4:6]}-{day[6:]}"


@pytest.fixture(scope="module")
def window_lake(spark, tmp_path_factory):
    from bigdata_etl_customer360_spark.plans.reference_replay import (
        interaction_ingest_daily,
    )

    root = tmp_path_factory.mktemp("window_lake")
    logs = root / "logs"
    logs.mkdir()
    extra = [
        (LAKE_DAYS[WIN64[0]], "CT_E64", "SPORT", 5),
        (LAKE_DAYS[WIN64[1]], "CT_E64", "VOD", 7),
        (LAKE_DAYS[WIN65[0]], "CT_E65", "SPORT", 11),
        (LAKE_DAYS[WIN65[1]], "CT_E65", "VOD", 13),
    ]
    paths, _ = _gen_log_content(logs, days=LAKE_DAYS, extra=extra)
    lake = str(root / "lake")
    interaction_ingest_daily(
        spark, [p for k, p in enumerate(paths) if k != MISSING_DAY], lake
    )
    return paths, lake


def _windowed(spark, window_lake, first, last):
    """(profile read from the lake, interaction_pipeline over the same
    landed files) for the inclusive day-index window [first, last]."""
    from bigdata_etl_customer360_spark.plans.reference_replay import (
        interaction_profile_from_lake,
    )

    paths, lake = window_lake
    got = interaction_profile_from_lake(
        spark, lake, _iso(LAKE_DAYS[first]), _iso(LAKE_DAYS[last])
    )
    files = [paths[k] for k in range(first, last + 1) if k != MISSING_DAY]
    return got, interaction_pipeline(spark, files)


def _build_with_jobs(spark, group, build):
    """(frame returned by ``build()``, ids of the Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "frame build only")
    try:
        df = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, list(sc.statusTracker().getJobIdsForGroup(group))


def test_lake_reader_builds_run_no_spark_job(spark, window_lake, tmp_path):
    """A 30-day window over a 69-day lake, and a two-month behavior trend,
    resolve their partitions on the driver: building the frames runs no
    listing or footer job."""
    from bigdata_etl_customer360_spark.plans.reference_replay import (
        behavior_ingest_month,
        behavior_trend_from_lake,
        interaction_profile_from_lake,
    )

    paths, lake = window_lake
    profile, jobs = _build_with_jobs(spark, "build-profile", lambda: (
        interaction_profile_from_lake(spark, lake, _iso(LAKE_DAYS[0]), _iso(LAKE_DAYS[29]))
    ))
    assert jobs == []
    assert _profile_rows(profile) == _profile_rows(interaction_pipeline(spark, paths[:30]))

    log_paths, _, _, _ = _gen_log_search(tmp_path, spark)
    blake = str(tmp_path / "behavior_lake")
    behavior_ingest_month(spark, [log_paths[6]], CLASSIFIER, blake, "2022-06")
    behavior_ingest_month(spark, [log_paths[7]], CLASSIFIER, blake, "2022-07")
    trend, jobs = _build_with_jobs(spark, "build-trend", lambda: (
        behavior_trend_from_lake(spark, blake, "2022-06", "2022-07")
    ))
    assert jobs == []
    want = behavior_pipeline(spark, [log_paths[6]], [log_paths[7]], CLASSIFIER)
    assert _profile_rows(trend) == _profile_rows(want)


def test_lake_schemas_match_what_ingest_writes(spark, window_lake, tmp_path):
    from bigdata_etl_customer360_spark.plans.reference_replay import (
        BEHAVIOR_LAKE_SCHEMA,
        INTERACTION_LAKE_SCHEMA,
        behavior_ingest_month,
    )

    _, lake = window_lake
    assert spark.read.parquet(lake).schema == INTERACTION_LAKE_SCHEMA

    log_paths, _, _, _ = _gen_log_search(tmp_path, spark)
    blake = str(tmp_path / "behavior_lake")
    behavior_ingest_month(spark, [log_paths[6]], CLASSIFIER, blake, "2022-06")
    assert spark.read.parquet(blake).schema == BEHAVIOR_LAKE_SCHEMA


def test_lake_window_skips_missing_day(spark, window_lake):
    got, want = _windowed(spark, window_lake, MISSING_DAY - 15, MISSING_DAY + 14)
    assert _profile_rows(got) == _profile_rows(want)


def test_lake_window_with_no_landed_day_is_empty(spark, window_lake):
    from bigdata_etl_customer360_spark.plans.reference_replay import (
        interaction_profile_from_lake,
    )

    paths, lake = window_lake
    got = interaction_profile_from_lake(spark, lake, "2021-01-01", "2021-01-30")
    assert got.collect() == []
    shape = interaction_pipeline(spark, paths[:1]).schema
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in shape
    ]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_lake_window_64_days_counts_active_days_by_bitmask(spark, window_lake):
    got, want = _windowed(spark, window_lake, *WIN64)
    assert "bit_or" in _plan(got)
    rows = _profile_rows(got)
    assert rows == _profile_rows(want)
    active = {r["Contract"]: r["Active"] for r in got.collect()}
    assert active["CT_E64"] == 2 and active["CT_E65"] == 1


def test_lake_window_65_days_counts_distinct(spark, window_lake):
    got, want = _windowed(spark, window_lake, *WIN65)
    assert "bit_or" not in _plan(got)
    assert _profile_rows(got) == _profile_rows(want)
    active = {r["Contract"]: r["Active"] for r in got.collect()}
    assert active["CT_E65"] == 2
