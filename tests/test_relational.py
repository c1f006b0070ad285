"""Unit tests for relational, health, and search operator compositions."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from team_126_spark.operators import health as H
from team_126_spark.operators import relational as R
from team_126_spark.operators import search as S


@pytest.fixture(scope="module")
def facts(spark):
    rows = [
        # group, ts, seq, val
        ("a", "2024-01-01 10:00:00", 1, 10.0),
        ("a", "2024-01-03 10:00:00", 2, 30.0),
        ("a", "2024-01-03 10:00:00", 3, 20.0),  # tie on ts, higher seq wins
        ("b", "2024-01-02 09:00:00", 4, 5.0),
    ]
    return spark.createDataFrame(rows, ["g", "ts", "seq", "val"]).withColumn(
        "ts", F.to_timestamp("ts")
    )


def test_latest_per_group(facts):
    got = {r["g"]: r["seq"] for r in R.latest_per_group(facts, ["g"], "ts", "seq").collect()}
    assert got == {"a": 3, "b": 4}


def test_topk_per_group(facts):
    got = R.topk_per_group(facts, ["g"], [F.desc("val"), F.asc("seq")], 2)
    assert sorted((r["g"], r["seq"]) for r in got.collect()) == [("a", 2), ("a", 3), ("b", 4)]


def test_ordered_limit_deterministic(facts):
    got = R.ordered_limit(facts, [F.desc("val"), F.asc("seq")], 2).collect()
    assert [r["seq"] for r in got] == [2, 3]


def test_dedup_by_key(facts):
    got = R.dedup_by_key(facts, ["g"], [F.asc("seq")])
    assert sorted(r["seq"] for r in got.collect()) == [1, 4]


def test_union_datasets_fills_missing_columns(spark):
    a = spark.createDataFrame([(1, "x")], ["id", "only_a"])
    b = spark.createDataFrame([(2, 9.5)], ["id", "only_b"])
    got = R.union_datasets([a, b])
    assert set(got.columns) == {"id", "only_a", "only_b"}
    assert got.count() == 2
    row = {r["id"]: r for r in got.collect()}
    assert row[1]["only_b"] is None and row[2]["only_a"] is None


def test_conditional_count(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], ["x"])
    got = df.agg(R.conditional_count(F.col("x") > 1).alias("n")).first()["n"]
    assert got == 2


# ------------------------------------------------------------------ health

def test_trends_window_and_rounding(spark):
    rows = [
        ("headache", "2024-01-10 00:00:00", 3.0),
        ("headache", "2024-01-12 00:00:00", 8.0),
        ("nausea", "2023-12-01 00:00:00", 9.0),  # outside 30-day window? no — inside
        ("nausea", "2023-11-01 00:00:00", 2.0),  # outside
    ]
    df = spark.createDataFrame(rows, ["symptom", "ts", "severity"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    got = {
        r["symptom"]: (r["occurrences"], r["avg_value"], r["max_value"])
        for r in H.trends(df, "symptom", "severity", "ts", "2024-01-15 00:00:00", 60).collect()
    }
    assert got == {"headache": (2, 5.5, 8.0), "nausea": (1, 9.0, 9.0)}


def test_adherence_breakdown(spark):
    dim = spark.createDataFrame([(1, "med-a")], ["med_id", "name"])
    rows = [
        (1, "taken", "2024-01-10 08:00:00"),
        (1, "taken", "2024-01-11 08:00:00"),
        (1, "missed", "2024-01-12 08:00:00"),
        (1, "taken", "2020-01-01 08:00:00"),  # outside window
    ]
    fact = spark.createDataFrame(rows, ["med_id", "status", "ts"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    r = H.adherence(fact, dim, "med_id", "status", "ts", "2024-01-15 00:00:00", 30, "taken", "missed").first()
    assert (r["total"], r["n_taken"], r["n_missed"], r["pct_taken"]) == (3, 2, 1, 66.7)


def test_expand_schedule_double_explode(spark):
    df = spark.createDataFrame([(1, ["08:00", "20:00"]), (2, ["12:30"])], ["med", "times"])
    got = H.expand_schedule(df, "med", "2024-01-01", 3, "times")
    assert got.count() == 3 * 2 + 3 * 1
    first = got.filter((F.col("med") == 1) & (F.col("reminder_time") == "08:00")).orderBy("day").first()
    assert first["scheduled_at"] == datetime(2024, 1, 1, 8, 0)


def test_abnormal_flags(spark):
    rules = {"heart_rate": (60.0, 100.0), "temp": (36.0, 37.5)}
    rows = [("heart_rate", 120.0), ("heart_rate", 80.0), ("temp", 36.5), ("other", 1e9)]
    df = spark.createDataFrame(rows, ["mtype", "value"])
    got = [(r["mtype"], r["value"], r["is_abnormal"]) for r in H.abnormal_flags(df, "mtype", "value", rules).collect()]
    assert ("heart_rate", 120.0, True) in got
    assert ("heart_rate", 80.0, False) in got
    assert ("temp", 36.5, False) in got
    assert ("other", 1e9, False) in got  # no rule -> never abnormal


def test_dashboard_counts_one_row(spark):
    a = spark.createDataFrame([(1,), (2,)], ["x"])
    b = spark.createDataFrame([(1,), (2,), (3,)], ["y"])
    r = H.dashboard_counts(
        {"n_a": (a, F.col("x") > 0), "n_b": (b, F.col("y") > 1)}
    ).first()
    assert (r["n_a"], r["n_b"]) == (2, 2)


# ------------------------------------------------------------------ search

@pytest.fixture(scope="module")
def housing(spark):
    rows = [
        (1, "City of San Diego", "Vacant", "residential", 100, "city of san diego vacant residential"),
        (2, "City of San Diego", "Occupied", "residential", 60, "city of san diego occupied residential"),
        (3, "Chula Vista", "Vacant", "commercial", 200, "chula vista vacant commercial"),
        (4, "City of San Diego", "Vacant", "residential", 10, "city of san diego vacant residential"),
    ]
    return spark.createDataFrame(
        rows, ["objectid", "jurisdiction", "vacancy", "zoning_simplified", "units", "searchable_text"]
    )


def test_housing_search_conjunction(housing):
    got = S.housing_search(
        housing, jurisdiction="city of SAN diego", vacancy_status="Vacant", min_units=50, limit=5
    )
    assert [r["objectid"] for r in got.collect()] == [1]


def test_housing_search_text_and_range(housing):
    got = S.housing_search(housing, query="VACANT", max_units=150, limit=5)
    assert [r["objectid"] for r in got.collect()] == [1, 4]


def test_route_sources_prunes_and_falls_back(spark):
    src = {
        "healthcare": spark.createDataFrame([(1,)], ["id"]),
        "shelters": spark.createDataFrame([(2,)], ["id"]),
        "food_banks": spark.createDataFrame([(3,)], ["id"]),
    }
    assert len(S.route_sources("need a doctor", src)) == 1
    assert len(S.route_sources("food and shelter please", src)) == 2
    assert len(S.route_sources("unrelated query", src)) == 3  # fallback: all


def test_dataset_search_distance_sort_nulls_last(spark):
    hc = spark.createDataFrame(
        [(1, 32.71, -117.16), (2, 32.90, -117.10), (3, None, None)],
        "id int, lat double, lon double",
    )
    got = S.dataset_search({"healthcare": hc}, "clinic near me", 32.7157, -117.1611, limit=10)
    rows = got.collect()
    assert [r["id"] for r in rows] == [1, 2, 3]
    assert rows[0]["distance_miles"] < rows[1]["distance_miles"]
    assert rows[2]["distance_miles"] is None


def test_salted_join_matches_plain_join(spark):
    from team_126_spark.operators.relational import salted_join

    # skewed left: 90% of rows share key 1
    left = spark.createDataFrame(
        [(i, 1 if i % 10 else 2, f"v{i}") for i in range(200)], "row_id long, k long, v string"
    )
    right = spark.createDataFrame([(1, "hot"), (2, "cold"), (3, "none")], "k long, tag string")
    got = salted_join(left, right, "k", salt_from="row_id", n_salts=4)
    want = left.join(right, "k")
    key = lambda r: tuple(str(v) for v in r)  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    from team_126_spark.sources.io import write_bucketed
    from tools.plan_capture import plan_text

    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS cust_b")
    orders = spark.createDataFrame(
        [(i, i % 50, 10.0 * i) for i in range(1000)], "o_id long, custkey long, total double"
    )
    cust = spark.createDataFrame(
        [(i, f"c{i}") for i in range(50)], "custkey long, name string"
    )
    write_bucketed(orders, "orders_b", ["custkey"], n_buckets=8)
    write_bucketed(cust, "cust_b", ["custkey"], n_buckets=8)
    joined = (
        spark.table("orders_b")
        .hint("merge")
        .join(spark.table("cust_b").hint("merge"), "custkey")
    )
    plan = plan_text(joined)
    # bucket-aligned sort-merge join: no Exchange on either side
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    n = joined.count()
    assert n == 1000
    spark.sql("DROP TABLE orders_b")
    spark.sql("DROP TABLE cust_b")


def test_asof_join_semantics(spark):
    """Inclusive as-of (right.ts <= left.ts), max-tiebreak on equal ts,
    NULLs when no prior right row, and layout-independence."""
    import datetime as dt

    from team_126_spark.operators.relational import asof_join

    t = lambda m: dt.datetime(2024, 1, 1, 12, m)  # noqa: E731
    left = spark.createDataFrame(
        [(1, 100, t(10), 9.9), (2, 100, t(0), 1.1), (3, 200, t(30), 5.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    right = spark.createDataFrame(
        [
            (10, 100, t(5), 50.0),   # before left 1
            (11, 100, t(10), 60.0),  # ties left 1's ts -> inclusive, and
            (12, 100, t(10), 70.0),  # same ts, higher id -> tiebreak winner
            (13, 200, t(40), 80.0),  # after left 3 -> never matched
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    out = asof_join(left, right, "user_id", "ts", ["value"], right_tiebreak="event_id")
    got = {r["event_id"]: r for r in out.collect()}
    assert got[1]["asof_value"] == 70.0 and got[1]["asof_ts"] == t(10)
    assert got[2]["asof_value"] is None and got[2]["asof_ts"] is None
    assert got[3]["asof_value"] is None
    again = asof_join(
        left.repartition(5), right.repartition(3), "user_id", "ts", ["value"],
        right_tiebreak="event_id",
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_rolling_features_no_future_leakage(spark):
    import datetime as dt

    from team_126_spark.operators.relational import rolling_features

    t = lambda m: dt.datetime(2024, 1, 1, 12, 0) + dt.timedelta(minutes=m)  # noqa: E731
    df = spark.createDataFrame(
        [
            (1, 7, t(0), 10.0),
            (2, 7, t(30), 20.0),   # 30 min after 1 -> window covers both
            (3, 7, t(70), 40.0),   # 70 min after 1 -> row 1 aged out, row 2 in
            (4, 8, t(30), 5.0),    # other key, isolated
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    got = {r["event_id"]: r for r in rolling_features(df, "user_id", "ts", "value").collect()}
    assert got[1]["w_count"] == 1 and got[1]["w_sum"] == 10.0
    assert got[2]["w_count"] == 2 and got[2]["w_sum"] == 30.0
    assert got[3]["w_count"] == 2 and got[3]["w_sum"] == 60.0  # rows 2+3 only
    assert got[4]["w_count"] == 1 and got[4]["w_mean"] == 5.0


def test_housing_demo_searches(spark):
    """The reference's five demo searches (search_housing.py:96-140), run
    against one fixture corpus: each demo is a conjunction the operator
    must express, with the reference's limit=5."""
    rows = [
        (1, "City of San Diego", "Vacant", "High Density Residential", 120, "vacant high density residential"),
        (2, "City of San Diego", "Occupied", "High Density Residential", 80, "occupied high density"),
        (3, "City of San Diego", "Vacant", "Commercial", 60, "vacant commercial near transit hub"),
        (4, "Chula Vista", "Vacant", "Commercial", 40, "vacant commercial"),
        (5, "City of San Diego", "Occupied", "Mixed Use", 55, "occupied mixed use transit corridor"),
        (6, "Chula Vista", "Occupied", "Mixed Use", 30, "occupied mixed use"),
        (7, "City of San Diego", "Occupied", "Low Density Residential", 20, "occupied low density"),
    ]
    housing = spark.createDataFrame(
        rows, ["objectid", "jurisdiction", "vacancy", "zoning_simplified", "units", "searchable_text"]
    )

    def ids(**kw):
        return [r["objectid"] for r in S.housing_search(housing, limit=5, **kw).collect()]

    # 1: vacant high-density residential
    assert ids(vacancy_status="Vacant", zoning_type="High Density Residential") == [1]
    # 2: City of San Diego with 50+ units
    assert ids(jurisdiction="City of San Diego", min_units=50) == [1, 2, 3, 5]
    # 3: commercial zoning
    assert ids(zoning_type="Commercial") == [3, 4]
    # 4: mixed use
    assert ids(zoning_type="Mixed Use") == [5, 6]
    # 5: text search for "transit"
    assert ids(query="transit") == [3, 5]


def test_asof_join_null_value_and_null_ts_rows(spark):
    """The matched right row's NULL value must stay NULL (not resurrect an
    older row's value), and NULL-ts rows never match on either side."""
    import datetime as dt

    from team_126_spark.operators.relational import asof_join

    t = lambda m: dt.datetime(2024, 1, 1, 12, 0) + dt.timedelta(minutes=m)  # noqa: E731
    left = spark.createDataFrame(
        [(1, 9, t(10), 1.0), (2, 9, None, 2.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    right = spark.createDataFrame(
        [(20, 9, t(1), 50.0), (21, 9, t(5), None), (22, 9, None, 99.0)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    got = {
        r["event_id"]: r
        for r in asof_join(left, right, "user_id", "ts", ["value"], right_tiebreak="event_id").collect()
    }
    # true as-of row is ts=12:05 with NULL value: keep the NULL, keep its ts
    assert got[1]["asof_ts"] == t(5) and got[1]["asof_value"] is None
    # NULL-ts left row matches nothing; NULL-ts right row (id 22) matched nobody
    assert got[2]["asof_ts"] is None and got[2]["asof_value"] is None


def test_safe_sleep_search_routes_filters_and_advises(spark):
    """tools/safe_places_to_sleep.py parity: include_type prunes categories,
    radius filter applies in miles, weather advisory is attached, unknown
    weather falls back."""
    from team_126_spark.operators.search import safe_sleep_search

    mk = lambda rows: spark.createDataFrame(rows, "id long, lat double, lon double")  # noqa: E731
    sources = {
        "safe_parking": mk([(1, 32.716, -117.161)]),
        "facilities_24h": mk([(2, 32.72, -117.16)]),
        "parks": mk([(3, 33.5, -117.0)]),        # ~55 miles away -> filtered
        "transit_hubs": mk([(4, 32.71, -117.17)]),
    }
    got = safe_sleep_search(sources, 32.7157, -117.1611, weather="rain").collect()
    assert [r["id"] for r in got] == [1, 2, 4]  # distance order, park too far
    assert all(r["weather_recommendation"].startswith("Rain Advisory") for r in got)
    only_parking = safe_sleep_search(sources, 32.7157, -117.1611, include_type="safe_parking")
    assert [r["id"] for r in only_parking.collect()] == [1]
    fallback = safe_sleep_search(sources, 32.7157, -117.1611, weather="hail").first()
    assert fallback["weather_recommendation"].startswith("Stay safe")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="include_type"):
        safe_sleep_search(sources, 0.0, 0.0, include_type="bogus")


def test_budget_sample_invariants(spark):
    from team_126_spark.operators.relational import budget_sample

    rows = [(i, "a" if i % 2 else "b", 10 + (i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, ["id", "grp", "w"])
    got = budget_sample(df, "w", "id", "grp", budgets={"a": 150}, default_budget=100)
    out = got.collect()
    # running totals never exceed the group budget, and every kept row's
    # cumulative weight is consistent with the kept set (prefix property)
    by_grp = {}
    for r in out:
        by_grp.setdefault(r["grp"], []).append(r)
    assert set(by_grp) == {"a", "b"}
    for g, budget in (("a", 150), ("b", 100)):
        rs = sorted(by_grp[g], key=lambda r: r["cum_weight"])
        assert rs[-1]["cum_weight"] <= budget
        total = 0
        for r in rs:
            total += r["weight"]
            assert r["cum_weight"] == total  # exact ordered prefix sums
    # layout- and shard-count-independent: same keep set
    again = {
        (r["id"], r["cum_weight"])
        for r in budget_sample(
            df.repartition(7), "w", "id", "grp", budgets={"a": 150},
            default_budget=100, n_shards=4,
        ).collect()
    }
    assert again == {(r["id"], r["cum_weight"]) for r in out}
    # appending rows never evicts or reorders the previously kept prefix
    bigger = df.union(spark.createDataFrame([(1000 + i, "a", 5) for i in range(20)], df.schema))
    grown = {
        (r["id"], r["cum_weight"])
        for r in budget_sample(
            bigger, "w", "id", "grp", budgets={"a": 150}, default_budget=100
        ).collect()
        if r["grp"] == "a"
    }
    # old kept "a" rows either survive with the same or larger cum (new docs
    # can only slot in at md5 positions, shifting cums up) — the KEY
    # guarantee: the priority ORDER of old rows is unchanged
    old_a_ids = [r["id"] for r in sorted(by_grp["a"], key=lambda r: r["cum_weight"])]
    grown_order = [i for i, _ in sorted(grown, key=lambda t: t[1]) if i < 1000]
    assert grown_order == [i for i in old_a_ids if i in set(grown_order)]


def test_interval_join_boundaries_and_multibucket(spark):
    from datetime import datetime

    from team_126_spark.operators.relational import interval_join

    pts = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 10, 0, 0)),   # == start -> in
            (2, datetime(2024, 1, 1, 11, 59, 59)), # inside, crosses bucket
            (3, datetime(2024, 1, 1, 12, 0, 0)),   # == end -> OUT (half-open)
            (4, datetime(2024, 1, 1, 9, 59, 59)),  # before -> out
            (5, datetime(2024, 1, 2, 10, 30, 0)),  # inside second interval
        ],
        "pid long, ts timestamp",
    )
    ivs = spark.createDataFrame(
        [
            (100, datetime(2024, 1, 1, 10, 0, 0), datetime(2024, 1, 1, 12, 0, 0)),
            (200, datetime(2024, 1, 2, 10, 0, 0), datetime(2024, 1, 2, 11, 0, 0)),
        ],
        "iv_id long, s timestamp, e timestamp",
    )
    got = {
        (r["pid"], r["iv_id"])
        for r in interval_join(pts, ivs, "ts", "s", "e", bucket_seconds=3600).collect()
    }
    assert got == {(1, 100), (2, 100), (5, 200)}
    # a giant bucket (everything in one) gives identical results — the
    # bucket size is a performance dial, never a semantics dial
    big = {
        (r["pid"], r["iv_id"])
        for r in interval_join(pts, ivs, "ts", "s", "e", bucket_seconds=10**6).collect()
    }
    assert big == got

    # outer-join semantics survive: unmatched points keep a NULL interval row
    left = {
        (r["pid"], r["iv_id"])
        for r in interval_join(pts, ivs, "ts", "s", "e", how="left").collect()
    }
    assert left == got | {(3, None), (4, None)}

    # inverted and empty intervals match nothing (and never explode into
    # descending bucket sequences)
    from datetime import datetime as _dt
    bad = spark.createDataFrame(
        [
            (300, _dt(2024, 1, 1, 10, 0, 0), _dt(2024, 1, 1, 10, 0, 0)),  # empty
            (400, _dt(2025, 1, 1, 0, 0, 0), _dt(2024, 1, 1, 0, 0, 0)),    # inverted
        ],
        "iv_id long, s timestamp, e timestamp",
    )
    assert interval_join(pts, bad, "ts", "s", "e").count() == 0

    # right join: every interval row survives exactly once NULL-padded when
    # unmatched — even a multi-bucket-span one (no per-bucket duplication)
    # and even degenerate (empty/inverted) intervals that never join
    allivs = ivs.unionByName(bad).unionByName(
        spark.createDataFrame(
            # spans 20 buckets at bucket_seconds=3600, matches no point
            [(500, datetime(2024, 3, 1, 0, 0, 0), datetime(2024, 3, 1, 20, 0, 0))],
            "iv_id long, s timestamp, e timestamp",
        )
    )
    right = [
        (r["pid"], r["iv_id"])
        for r in interval_join(pts, allivs, "ts", "s", "e", how="right").collect()
    ]
    assert sorted(right, key=str) == sorted(
        [(1, 100), (2, 100), (5, 200), (None, 300), (None, 400), (None, 500)], key=str
    )

    # full join: matched pairs + unmatched points + unmatched intervals
    full = [
        (r["pid"], r["iv_id"])
        for r in interval_join(pts, allivs, "ts", "s", "e", how="full").collect()
    ]
    assert sorted(full, key=str) == sorted(
        right + [(3, None), (4, None)], key=str
    )

    # duplicate interval rows keep SQL outer-join multiplicity (one padded
    # row per duplicate, not collapsed)
    dup = allivs.filter("iv_id = 500").unionByName(allivs.filter("iv_id = 500"))
    assert interval_join(pts, dup, "ts", "s", "e", how="right").count() == 2

    import pytest as _pytest

    with _pytest.raises(ValueError, match="how="):
        interval_join(pts, ivs, "ts", "s", "e", how="cross")


def test_weighted_resample_multiplicity(spark):
    """floor(w) guaranteed copies + at most one extra; w<=0/NULL drop; the
    realized total tracks sum(weights); pure function of the id (stable
    under repartitioning)."""
    from pyspark.sql import functions as F

    from team_126_spark.operators.relational import weighted_resample

    df = spark.range(0, 1000).select(
        F.col("id").alias("doc"),
        F.when(F.col("id") == 0, None)
        .when(F.col("id") == 1, -1.0)
        .when(F.col("id") == 2, 0.0)
        .when(F.col("id") % 2 == 0, 2.5)
        .otherwise(0.5)
        .cast("double")
        .alias("w"),
    )
    out = weighted_resample(df, "w", "doc")
    counts = {r["doc"]: r["n"] for r in out.groupBy("doc").agg(F.count("*").alias("n")).collect()}
    assert 0 not in counts and 1 not in counts and 2 not in counts
    for doc, n in counts.items():
        if doc % 2 == 0:
            assert n in (2, 3), (doc, n)
        else:
            assert n == 1, (doc, n)
    total = sum(counts.values())
    # E[total] = 499*2.5 + 498*0.5 ≈ 1496; md5-uniform keeps it within ~5%
    assert abs(total - 1496.5) < 75, total
    # copy_idx runs 1..n
    idx = out.filter("doc = 4").select("copy_idx").collect()
    assert sorted(r["copy_idx"] for r in idx) == list(range(1, len(idx) + 1))
    again = weighted_resample(df.repartition(7), "w", "doc")
    assert again.count() == total


def test_weighted_resample_runaway_guard(spark):
    from team_126_spark.operators.relational import weighted_resample

    df = spark.createDataFrame([(1, 2.0), (2, 5000.0)], "doc long, w double")
    with pytest.raises(Exception, match="max_weight"):
        weighted_resample(df, "w", "doc").count()
    # lifting the cap allows the heavy repeat
    assert weighted_resample(df, "w", "doc", max_weight=None).count() >= 5001


def test_interval_join_outer_rejects_shared_column_names(spark):
    from datetime import datetime

    from team_126_spark.operators.relational import interval_join

    pts = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 10, 0))], "user_id long, ts timestamp"
    )
    ivs = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 9, 0), datetime(2024, 1, 1, 11, 0))],
        "user_id long, s timestamp, e timestamp",
    )
    with pytest.raises(ValueError, match="user_id"):
        interval_join(pts, ivs, "ts", "s", "e", how="right")
    # inner/left keep their existing (lenient) behavior
    assert interval_join(pts, ivs, "ts", "s", "e", how="inner").count() == 1


def test_cdc_apply_latest_wins_and_deletes(spark):
    from team_126_spark.operators.relational import cdc_apply

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "s", "v"]
    )
    changes = spark.createDataFrame(
        [
            (2, "b", 21.0, 1, "U"),   # update 2
            (2, "b", 22.0, 2, "U"),   # later update wins
            (3, "c", 30.0, 1, "D"),   # delete 3
            (4, "d", 40.0, 1, "I"),   # insert new key
            (5, "e", 50.0, 1, "I"),   # insert then delete -> absent
            (5, "e", 50.0, 2, "D"),
            (6, "f", 60.0, 1, "D"),   # delete then re-insert -> present
            (6, "f", 61.0, 2, "I"),
        ],
        ["k", "s", "v", "seq", "op"],
    )
    out = {r["k"]: (r["s"], r["v"]) for r in cdc_apply(base, changes, ["k"], "seq", "op").collect()}
    assert out == {1: ("a", 10.0), 2: ("b", 22.0), 4: ("d", 40.0), 6: ("f", 61.0)}


def test_cdc_apply_validates_columns(spark):
    import pytest

    from team_126_spark.operators.relational import cdc_apply

    base = spark.createDataFrame([(1, "a")], ["k", "s"])
    missing_meta = spark.createDataFrame([(1, "a")], ["k", "s"])
    with pytest.raises(ValueError):
        cdc_apply(base, missing_meta, ["k"], "seq", "op")
    missing_payload = spark.createDataFrame([(1, 1, "I")], ["k", "seq", "op"])
    with pytest.raises(ValueError):
        cdc_apply(base, missing_payload, ["k"], "seq", "op")


def test_cdc_apply_rejects_malformed_changelog(spark):
    """ADVICE r4: a NULL/unknown op must raise, not silently delete; a NULL
    key must raise, not survive on both sides of the anti join; a
    pre-existing `_rn` column must not be clobbered by the internal window
    rank."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from team_126_spark.operators.relational import cdc_apply

    base = spark.createDataFrame([(1, "a", 10.0)], ["k", "s", "v"])
    null_op = spark.createDataFrame(
        [(1, "a", 11.0, 1, None)], "k long, s string, v double, seq long, op string"
    )
    with pytest.raises(SparkRuntimeException, match="invalid op"):
        cdc_apply(base, null_op, ["k"], "seq", "op").collect()
    bad_op = spark.createDataFrame(
        [(1, "a", 11.0, 1, "X")], "k long, s string, v double, seq long, op string"
    )
    with pytest.raises(SparkRuntimeException, match="invalid op=X"):
        cdc_apply(base, bad_op, ["k"], "seq", "op").collect()
    null_key = spark.createDataFrame(
        [(None, "a", 11.0, 1, "U")], "k long, s string, v double, seq long, op string"
    )
    with pytest.raises(SparkRuntimeException, match="NULL key k"):
        cdc_apply(base, null_key, ["k"], "seq", "op").collect()

    # a user column named `_rn` passes through untouched
    base_rn = spark.createDataFrame([(1, "a", 7)], ["k", "s", "_rn"])
    chg_rn = spark.createDataFrame(
        [(1, "b", 9, 1, "U")], ["k", "s", "_rn", "seq", "op"]
    )
    out = cdc_apply(base_rn, chg_rn, ["k"], "seq", "op").collect()
    assert [(r["k"], r["s"], r["_rn"]) for r in out] == [(1, "b", 9)]


def test_expect_checks_counts_and_circuit_breaker(spark):
    from team_126_spark.operators.relational import expect_checks

    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, None), (4, 2.0)], "id long, v double"
    )
    out = expect_checks(
        df, {"v_positive": F.col("v") > 0, "id_low": F.col("id") < 100}
    ).first()
    # NULL predicate (v=None) counts as a violation alongside v=-5
    assert (out["n_rows"], out["v_positive"], out["id_low"]) == (4, 2, 0)

    import pytest

    with pytest.raises(ValueError, match="v_positive.*2"):
        expect_checks(df, {"v_positive": F.col("v") > 0}, fail_on_violation=True)
    ok = expect_checks(df, {"id_low": F.col("id") < 100}, fail_on_violation=True)
    assert ok.first()["id_low"] == 0
    with pytest.raises(ValueError, match="non-empty"):
        expect_checks(df, {})
    # ADVICE r4: reserved name collision raises; empty input counts 0, not NULL
    with pytest.raises(ValueError, match="reserved"):
        expect_checks(df, {"n_rows": F.col("v") > 0})
    empty = df.filter(F.col("id") < 0)
    row = expect_checks(empty, {"v_positive": F.col("v") > 0}).first()
    assert (row["n_rows"], row["v_positive"]) == (0, 0)


def test_hierarchy_resolve_semantics(spark):
    """Roots (NULL or self parent) get depth 0; chains resolve to the true
    root and depth; a dangling parent resolves as a root AT the missing id;
    a cycle raises instead of returning wrong depths."""
    import pytest

    from team_126_spark.operators.relational import hierarchy_resolve

    rows = [
        (1, None),   # root
        (2, 1),      # depth 1
        (3, 2),      # depth 2
        (4, 3),      # depth 3 (chain exercises doubling)
        (5, 5),      # self-parent: also a root
        (6, 99),     # dangling parent -> root at 99, depth 1
    ]
    df = spark.createDataFrame(rows, "id long, parent long")
    stats: dict = {}
    got = {
        r["id"]: (r["root_id"], r["depth"])
        for r in hierarchy_resolve(df, "id", "parent", stats=stats).collect()
    }
    assert got == {
        1: (1, 0), 2: (1, 1), 3: (1, 2), 4: (1, 3), 5: (5, 0), 6: (99, 1)
    }
    # depth-3 chain needs 2 doubling rounds + 1 confirming round at most
    assert stats["rounds"] <= 4

    cyc = spark.createDataFrame([(1, 2), (2, 1)], "id long, parent long")
    with pytest.raises(RuntimeError, match="CYCLE|cycle"):
        hierarchy_resolve(cyc, "id", "parent", max_iter=6)


def test_hierarchy_resolve_deep_chain(spark):
    """A 300-deep chain converges in ~log2(300)+slack rounds — the pointer
    doubling actually doubles."""
    from team_126_spark.operators.relational import hierarchy_resolve

    n = 300
    df = spark.createDataFrame(
        [(i, i - 1 if i > 0 else None) for i in range(n)], "id long, parent long"
    )
    stats: dict = {}
    got = {
        r["id"]: (r["root_id"], r["depth"])
        for r in hierarchy_resolve(df, "id", "parent", stats=stats).collect()
    }
    assert got[n - 1] == (0, n - 1) and got[0] == (0, 0)
    assert stats["rounds"] <= 12  # ceil(log2(300)) = 9, plus confirm slack


def test_pagerank_known_graph_and_mass(spark):
    """Hand-checkable graphs: (a) symmetric 2-node graph is uniform; (b) a
    star pulls rank into the hub; rank mass sums to 1 in both (the power
    method conserves probability)."""
    from team_126_spark.operators.relational import pagerank

    two = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    got = {r["node"]: r["pr"] for r in pagerank(two, "src", "dst", iterations=3).collect()}
    assert got["a"] == pytest.approx(0.5) and got["b"] == pytest.approx(0.5)

    # star: spokes 1..4 <-> hub; hub must outrank every spoke
    edges = [("h", str(i)) for i in range(4)] + [(str(i), "h") for i in range(4)]
    star = spark.createDataFrame(edges, "src string, dst string")
    stats: dict = {}
    pr = {
        r["node"]: r["pr"]
        for r in pagerank(star, "src", "dst", iterations=5, stats=stats).collect()
    }
    assert sum(pr.values()) == pytest.approx(1.0)
    assert all(pr["h"] > pr[str(i)] for i in range(4))
    assert stats["has_dangling"] is False and stats["n_nodes"] == 5
    # assume_distinct dial (r11 optimization): on an already-unique edge
    # list, skipping the operator's safety dedup is value-identical
    pr_fast = {
        r["node"]: r["pr"]
        for r in pagerank(
            star, "src", "dst", iterations=5, assume_distinct=True
        ).collect()
    }
    assert pr_fast == pr

    # empty edge list: |V| = 0 comes back from the node-table checkpoint
    empty = spark.createDataFrame([], "src string, dst string")
    out = pagerank(empty, "src", "dst", iterations=3)
    assert out.columns == ["node", "pr"] and out.collect() == []


def test_pagerank_dangling_mass_redistributed(spark):
    """a->b with no out-edge from b: the naive update leaks b's mass; the
    dangling pool must be redistributed so total rank stays 1."""
    from team_126_spark.operators.relational import pagerank

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    stats: dict = {}
    pr = {
        r["node"]: r["pr"]
        for r in pagerank(df, "src", "dst", iterations=4, stats=stats).collect()
    }
    assert stats["has_dangling"] is True
    assert sum(pr.values()) == pytest.approx(1.0)
    assert pr["b"] > pr["a"]  # b receives a's push plus its teleport share

    with pytest.raises(ValueError, match="iterations"):
        pagerank(df, "src", "dst", iterations=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank(df, "src", "dst", damping=1.0)


def test_skew_report_shares_and_bounds(spark):
    from team_126_spark.operators.relational import skew_report

    df = spark.createDataFrame(
        [(k,) for k in ["x"] * 6 + ["y"] * 3 + ["z"]], "k string"
    )
    rows = {r["key"]: r for r in skew_report(df, "k", top_k=2).collect()}
    assert set(rows) == {"x", "y"}  # z cut by top_k
    assert rows["x"]["rank"] == 1 and rows["x"]["share_r"] == pytest.approx(0.6)
    assert rows["y"]["cum_share_r"] == pytest.approx(0.9)

    with pytest.raises(ValueError, match="top_k"):
        skew_report(df, "k", top_k=0)


def test_triangle_count_known_graphs(spark):
    """Hand-checkable: K3 has exactly 1 triangle and clustering 1.0; a
    4-star has 0 triangles but 6 wedges; duplicate/reversed edge rows and
    self-loops must not distort the census."""
    from team_126_spark.operators.relational import triangle_count

    k3 = spark.createDataFrame(
        # duplicates, a reversal, and a self-loop thrown in on purpose
        [(1, 2), (2, 3), (1, 3), (2, 1), (1, 2), (3, 3)],
        "src long, dst long",
    )
    row = triangle_count(k3, "src", "dst").collect()[0]
    assert (row["n_edges"], row["n_wedges"], row["n_triangles"]) == (3, 3, 1)
    assert row["clustering_r"] == pytest.approx(1.0)

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "src long, dst long"
    )
    row = triangle_count(star, "src", "dst").collect()[0]
    assert (row["n_edges"], row["n_wedges"], row["n_triangles"]) == (4, 6, 0)
    assert row["clustering_r"] == pytest.approx(0.0)

    # two triangles sharing an edge: {1,2,3} and {2,3,4}
    diamond = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)], "src long, dst long"
    )
    row = triangle_count(diamond, "src", "dst").collect()[0]
    assert row["n_triangles"] == 2


def test_pagerank_null_endpoint_edges_dropped(spark):
    """An edge with a NULL endpoint is not an edge: it must not create a
    phantom NULL vertex or absorb rank mass."""
    from team_126_spark.operators.relational import pagerank

    clean = spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string")
    dirty = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", None), (None, "b")], "src string, dst string"
    )
    want = {r["node"]: r["pr"] for r in pagerank(clean, "src", "dst", iterations=3).collect()}
    got = {r["node"]: r["pr"] for r in pagerank(dirty, "src", "dst", iterations=3).collect()}
    assert got == want and None not in got


def test_iterative_operators_run_no_probe_actions(spark, monkeypatch):
    """The loop scalars (convergence counts, |V|, dangling and stranded
    sizes) come from observe() on each eager localCheckpoint, not from
    separate Spark actions: with count/first/head/take raising, all four
    iterative operators still build and return the right answers."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from team_126_spark.operators import dedup as D
    from team_126_spark.operators.relational import (
        hierarchy_resolve,
        label_propagation,
        pagerank,
    )

    # chain 1-2-3-4 plus a dangling sink (4 has no out-edge) and an
    # isolated pair, directed: exercises dangling and stranded branches
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8)], "src long, dst long"
    )
    forest = spark.createDataFrame(
        [(1, None), (2, 1), (3, 2), (4, 3), (5, 9)], "id long, parent long"
    )

    def no_action(*_a, **_k):
        raise AssertionError("probe action in an iterative operator")

    for name in ("count", "first", "head", "take"):
        monkeypatch.setattr(ClassicDataFrame, name, no_action)
    comps = D.dedup_components(edges, "src", "dst")
    tree = hierarchy_resolve(forest, "id", "parent")
    pr_stats: dict = {}
    pr = pagerank(edges, "src", "dst", iterations=3, stats=pr_stats)
    lp = label_propagation(edges, "src", "dst", iters=2)
    monkeypatch.undo()

    assert {r["id"]: r["cluster_id"] for r in comps.collect()} == {
        1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7
    }
    assert {r["id"]: (r["root_id"], r["depth"]) for r in tree.collect()} == {
        1: (1, 0), 2: (1, 1), 3: (1, 2), 4: (1, 3), 5: (9, 1)
    }
    assert pr_stats["n_nodes"] == 6 and pr_stats["has_dangling"] is True
    assert sum(r["pr"] for r in pr.collect()) == pytest.approx(1.0)
    assert {r["node"] for r in lp.collect()} == {1, 2, 3, 4, 7, 8}


def test_skew_report_null_key_kept_and_sorted_last(spark):
    """A NULL-heavy key column is often the real skew culprit: NULL is
    reported as a key, and on count ties it ranks AFTER non-null keys
    (the ANSI nulls-last convention the oracle shares)."""
    from team_126_spark.operators.relational import skew_report

    df = spark.createDataFrame(
        [(k,) for k in ["x", "x", None, None, "y"]], "k string"
    )
    rows = sorted(skew_report(df, "k", top_k=3).collect(), key=lambda r: r["rank"])
    assert [r["key"] for r in rows] == ["x", None, "y"]  # tie x/null -> x first
    assert rows[1]["share_r"] == pytest.approx(0.4)


def test_rank_auc_hand_computed(spark):
    """Tie-aware Mann-Whitney AUC against a hand-computed pair count:
    U = 6.5 over 3x3 pos/neg pairs (one tied pair scores 0.5), and
    threshold-0 accuracy 3/6; single-class input yields NULL auc."""
    from team_126_spark.operators.relational import rank_auc

    rows = [(0.9, 1.0), (0.8, 0.0), (0.8, 1.0), (0.3, 0.0), (-0.5, 1.0), (-0.7, 0.0)]
    df = spark.createDataFrame(rows, ["s", "y"])
    got = rank_auc(df, "s", "y").collect()[0]
    assert got["n_eval"] == 6 and got["n_pos"] == 3 and got["n_neg"] == 3
    assert got["auc_r"] == round(6.5 / 9, 6)
    assert got["acc_r"] == 0.5

    solo = spark.createDataFrame([(0.2, 1.0), (0.1, 1.0)], ["s", "y"])
    one = rank_auc(solo, "s", "y").collect()[0]
    assert one["auc_r"] is None and one["n_neg"] == 0 and one["acc_r"] == 1.0


def test_auc_eval_score_margins(spark):
    """Cross-engine float-edge pin for classifier_auc_eval: rank ties and
    the 0-accuracy-threshold only disagree between Spark and DuckDB if two
    true dots straddle a 9dp rounding boundary within ~1e-12 of each other.
    Assert the sf0.01 eval scores keep >=1e-6 margins (distinct-score gap
    and distance from 0), so the rounded comparison is safely determined."""
    from pyspark.sql import functions as F

    from team_126_spark import queries as Q

    e = Q.load(spark, "/root/testdata/sf0.01", "embeddings")
    bucket = F.pmod(
        Q.X.md5_low60(F.concat(F.col("vec_id").cast("string"), F.lit(":auc"))),
        F.lit(100),
    )
    e = e.withColumn("_b", bucket)
    ex_tr, ys_tr = Q._logreg_features(e.filter(F.col("_b") < 80))
    ex_ev, _ = Q._logreg_features(e.filter(F.col("_b") >= 80))
    w = Q._logreg_weights(spark, ex_tr, ys_tr)
    dots = sorted(
        r["d"]
        for r in ex_ev.join(F.broadcast(w), "i")
        .groupBy("rid")
        .agg(F.sum(F.col("x") * F.col("w")).alias("d"))
        .collect()
    )
    assert dots, "eval split is empty at sf0.01"
    assert min(abs(d) for d in dots) > 1e-6  # accuracy threshold margin
    gaps = [b - a for a, b in zip(dots, dots[1:]) if b != a]
    assert not gaps or min(gaps) > 1e-6  # rank-tie margin


def test_calibration_bin_margins(spark):
    """Bin-edge float pin for classifier_calibration: the decile binning of
    p only disagrees cross-engine if a p sits within ~1e-15 of a 0.1
    multiple. Assert every sf0.01 held-out p keeps a >=1e-6 margin from
    all bin edges, and the query's bins tile [0,9] with consistent counts."""
    from pyspark.sql import functions as F

    from team_126_spark import queries as Q

    e = Q.load(spark, "/root/testdata/sf0.01", "embeddings")
    bucket = F.pmod(
        Q.X.md5_low60(F.concat(F.col("vec_id").cast("string"), F.lit(":auc"))),
        F.lit(100),
    )
    e = e.withColumn("_b", bucket)
    ex_tr, ys_tr = Q._logreg_features(e.filter(F.col("_b") < 80))
    ex_ev, _ = Q._logreg_features(e.filter(F.col("_b") >= 80))
    w = Q._logreg_weights(spark, ex_tr, ys_tr)
    p_expr = F.round(
        F.lit(1.0)
        / (F.lit(1.0) + F.exp(-F.round(F.sum(F.col("x") * F.col("w")), 9))),
        9,
    )
    ps = [
        r["p"]
        for r in ex_ev.join(F.broadcast(w), "i").groupBy("rid").agg(p_expr.alias("p")).collect()
    ]
    assert ps
    for p in ps:
        edge_dist = min(abs(p - k / 10.0) for k in range(11))
        assert edge_dist > 1e-6, f"p={p} too close to a bin edge"

    rows = Q.REGISTRY["classifier_calibration"].fn(spark, "/root/testdata/sf0.01").collect()
    assert sum(r["n"] for r in rows) == len(ps)
    assert all(0 <= r["bin"] <= 9 for r in rows)
    assert all(0.0 <= r["frac_pos"] <= 1.0 and 0.0 < r["mean_p"] < 1.0 for r in rows)


def test_association_rules_exact_counts(spark):
    """Apriori depth-2 semantics on a hand-computable basket set:
    supports, both directed confidences, and lift = n*supp_ab/
    (supp_a*supp_b) are exact; pairs under min_support are absent;
    duplicate (basket, item) rows collapse before counting."""
    from pyspark.sql import functions as F

    from team_126_spark.operators.relational import association_rules

    rows = [
        (1, "x"), (1, "y"), (1, "y"),  # dup (1, y) must collapse
        (2, "x"), (2, "y"),
        (3, "x"), (3, "y"),
        (4, "x"), (4, "z"),
        (5, "y"),
        (6, "z"),
    ]
    df = spark.createDataFrame(rows, ["bk", "it"])
    got = {
        (r["antecedent"], r["consequent"]): (
            r["support"], r["confidence"], r["lift"]
        )
        for r in association_rules(df, "bk", "it", min_support=2).collect()
    }
    # supports: x=4, y=4, z=2, n=6; pairs: (x,y)=3, (x,z)=1 (pruned)
    assert got == {
        ("x", "y"): (3, 0.75, round(6 * 3 / (4 * 4), 6)),
        ("y", "x"): (3, 0.75, round(6 * 3 / (4 * 4), 6)),
    }


def test_label_propagation_two_cliques(spark):
    """Planted structure: two triangles bridged by a single edge resolve
    to exactly two communities (one per triangle) under 4 sync rounds
    with the deterministic lowest-label tie-break; every node is
    labeled; a rerun is identical."""
    from team_126_spark.operators.relational import label_propagation

    tri1 = [("a", "b"), ("b", "c"), ("a", "c")]
    tri2 = [("x", "y"), ("y", "z"), ("x", "z")]
    bridge = [("c", "x")]
    und = []
    for u, v in tri1 + tri2 + bridge:
        und += [(u, v), (v, u)]
    edges = spark.createDataFrame(und, ["a", "b"])
    got = {
        r["node"]: r["community"]
        for r in label_propagation(edges, "a", "b", iters=4).collect()
    }
    assert set(got) == {"a", "b", "c", "x", "y", "z"}
    assert len({got["a"], got["b"], got["c"]}) == 1
    assert len({got["x"], got["y"], got["z"]}) == 1
    assert got["a"] != got["x"]
    again = {
        r["node"]: r["community"]
        for r in label_propagation(edges, "a", "b", iters=4).collect()
    }
    assert again == got
    # assume_distinct dial (r11 optimization): on an already-unique edge
    # list, skipping the operator's safety dedup is output-identical
    fast = {
        r["node"]: r["community"]
        for r in label_propagation(
            edges, "a", "b", iters=4, assume_distinct=True
        ).collect()
    }
    assert fast == got


def test_attribution_models_hand_computed(spark):
    """First/last/linear attribution on a hand-built journey: user 1 has
    view(t1) -> click(t2) -> purchase(100) and a signup OUTSIDE the
    7-day window; user 2 purchases with no prior touches (excluded
    entirely). first=view, last=click, linear=50/50."""
    import datetime as dt

    from team_126_spark.queries import REGISTRY

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)

    def ts(days):
        return t0 + dt.timedelta(days=days)

    rows = [
        (1, ts(-10), 1, "signup", 0.0, None),   # outside the 7-day window
        (2, ts(-3), 1, "view", 0.0, None),
        (3, ts(-1), 1, "click", 0.0, None),
        (4, ts(0), 1, "purchase", 100.0, None),
        (5, ts(0), 2, "purchase", 50.0, None),  # no touches
        (6, ts(1), 1, "view", 0.0, None),       # after purchase — ignored
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    import tempfile

    d = tempfile.mkdtemp(prefix="attr_fixture_")
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {
        r["channel"]: (r["first_touch_rev"], r["last_touch_rev"], r["linear_rev"])
        for r in REGISTRY["attribution"].fn(spark, d).collect()
    }
    assert got == {"view": (100.0, 0.0, 50.0), "click": (0.0, 100.0, 50.0)}


def test_label_propagation_directed_seed(spark):
    """ADVICE r9: on a NON-symmetrized edge list, dst-only nodes are seeded
    too — every endpoint of every edge gets a community."""
    from team_126_spark.operators.relational import label_propagation

    # q is dst-only, p and q2 are src-only — all must be labeled
    directed = spark.createDataFrame([("p", "q"), ("q2", "q")], ["a", "b"])
    got = {
        r["node"]: r["community"]
        for r in label_propagation(directed, "a", "b", iters=2).collect()
    }
    assert set(got) == {"p", "q", "q2"}


def test_skew_report_prune_bounds_window_input(spark):
    """VERDICT r9 #5: the per-partition top_k prefilter makes the global
    ranking window's input cluster-bounded even on a NEAR-UNIQUE key —
    pinned identical output (all five columns, including cumulative
    shares) vs the unpruned path on both a skewed key and a near-unique
    key, and the pruned plan carries two row_number windows (the
    partitioned prefilter feeding the bounded global rank)."""
    from team_126_spark.operators.relational import skew_report
    from team_126_spark.tables import table

    orders = table(spark, "/root/testdata/sf0.001", "orders")
    for key, k in (("o_orderpriority", 3), ("o_orderkey", 7)):
        got = sorted(map(tuple, skew_report(orders, key, top_k=k).collect()))
        want = sorted(
            map(tuple, skew_report(orders, key, top_k=k, prune=False).collect())
        )
        assert got == want and len(got) == k, key

    plan = (
        skew_report(orders, "o_orderkey", top_k=7)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the prefilter plans as WindowGroupLimit Partial/Final: each input
    # partition is cut to top_k rows BEFORE any exchange — the global
    # window's input is provably ≤ partitions × top_k
    assert plan.count("row_number()") >= 2 and "WindowGroupLimit" in plan
    assert plan.count("WindowGroupLimit") >= 2  # Partial + Final


def test_sequence_mining_hand_pairs(spark):
    """Hand-built event log: consecutive pairs per user match the hand
    enumeration, support counts users not occurrences, and the
    min_support filter drops the singleton pair."""
    import datetime as dt

    from team_126_spark.operators.relational import sequence_mining

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: view -> click -> buy
        (1, t0, 1, "view"), (2, t0 + dt.timedelta(minutes=1), 1, "click"),
        (3, t0 + dt.timedelta(minutes=2), 1, "buy"),
        # user 2: view -> click
        (4, t0, 2, "view"), (5, t0 + dt.timedelta(minutes=1), 2, "click"),
        # user 3: click -> view (reverse order pair)
        (6, t0, 3, "click"), (7, t0 + dt.timedelta(minutes=1), 3, "view"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {
        (r["a"], r["b"]): (r["n_pairs"], r["n_users"], r["support_r"])
        for r in sequence_mining(
            df, "user_id", "ts", "event_type", "event_id", min_support=0.5
        ).collect()
    }
    # 3 users have >= 2 events; (view, click) supported by users 1 and 2
    assert got == {("view", "click"): (2, 2, round(2 / 3, 6))}
    loose = {
        (r["a"], r["b"])
        for r in sequence_mining(
            df, "user_id", "ts", "event_type", "event_id", min_support=0.0
        ).collect()
    }
    assert loose == {("view", "click"), ("click", "buy"), ("click", "view")}


def test_sliding_distinct_exact_and_sketch(spark):
    """Hand-built 3-day log: each day's trailing-7-day exact distinct
    matches the hand count and every sketch verdict is TRUE (HLL is
    exact at these cardinalities)."""
    import datetime as dt

    from team_126_spark.operators.relational import sliding_distinct

    def ts(day, user):
        return (day, dt.datetime(2024, 1, day, 8, 0, 0), user)

    rows = [ts(1, 10), ts(1, 11), ts(2, 10), ts(3, 12)]
    df = spark.createDataFrame(
        [(i, t, u) for i, (_, t, u) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long",
    )
    got = {
        str(r["day"]): (r["exact_nd"], r["sketch_ok"])
        for r in sliding_distinct(df, "ts", "user_id", window_days=7).collect()
    }
    # day 1 covers events of day 1; day 3 covers days 1-3 (within 7)
    assert got["2024-01-01"] == (2, True)
    assert got["2024-01-02"] == (2, True)
    assert got["2024-01-03"] == (3, True)
    # day 9 still covered by day-3 event only... day 7 covers days 1-7
    assert got["2024-01-07"] == (3, True)
    assert got["2024-01-09"] == (1, True)  # only day-3 event still in range
    assert all(ok for _, ok in got.values())


def test_grouped_ranks_matches_window_rank(spark):
    """grouped_ranks equals row_number() OVER (PARTITION BY group ORDER
    BY order) exactly, on a skewed multi-group input, at several
    partition counts — the scalable per-group rank is EXACT by
    construction (boundary placement cancels out)."""
    from pyspark.sql import Window

    from team_126_spark.operators.relational import grouped_ranks

    rows = [(f"g{i % 3}", (i * 7) % 50, i) for i in range(200)]
    rows += [("g0", 7, 1000 + i) for i in range(30)]  # heavy skewed group + ties
    df = spark.createDataFrame(rows, ["grp", "v", "uid"]).repartition(6)
    order = [F.desc("v"), F.asc("uid")]
    want = {
        r["uid"]: r["rank"]
        for r in df.withColumn(
            "rank", F.row_number().over(Window.partitionBy("grp").orderBy(*order))
        ).collect()
    }
    for parts in (1, 3, 11):
        got = {
            r["uid"]: r["rank"]
            for r in grouped_ranks(df, "grp", order, partitions=parts).collect()
        }
        assert got == want, parts


def test_quality_ensemble_scalable_dial_identical(spark):
    """The scalable=True grouped-rank path produces the IDENTICAL result
    to the window path on the fixture corpus — exact, not approximate
    (ranks cannot be sketched; the scalable form just computes them
    without a group-sized window partition)."""
    from team_126_spark.operators.textops import quality_ensemble
    from team_126_spark.tables import table

    docs = table(spark, "/root/testdata/sf0.001", "documents")
    key = lambda r: tuple(str(v) for v in r)  # noqa: E731
    a = sorted(map(key, quality_ensemble(docs, "text", "doc_id", "lang").collect()))
    b = sorted(
        map(
            key,
            quality_ensemble(
                docs, "text", "doc_id", "lang", scalable=True
            ).collect(),
        )
    )
    assert a == b and len(a) == 500


def test_grouped_ranks_null_group_kept_and_matches_window(spark):
    """ADVICE r10: NULL group keys must rank within their own group,
    exactly as PARTITION BY treats them — the offsets join is null-safe
    (a plain equi-join dropped every null-group row silently)."""
    from pyspark.sql import Window

    from team_126_spark.operators.relational import grouped_ranks

    rows = [("g0", 5, 1), (None, 9, 2), ("g0", 1, 3), (None, 2, 4), (None, 7, 5)]
    df = spark.createDataFrame(rows, ["grp", "v", "uid"]).repartition(3)
    order = [F.desc("v"), F.asc("uid")]
    want = {
        r["uid"]: r["rank"]
        for r in df.withColumn(
            "rank", F.row_number().over(Window.partitionBy("grp").orderBy(*order))
        ).collect()
    }
    got = {
        r["uid"]: r["rank"]
        for r in grouped_ranks(df, "grp", order, partitions=2).collect()
    }
    assert got == want and len(got) == 5


def test_ppl_buckets_scalable_keeps_null_language_rows(spark):
    """ADVICE r10 consumer check: a NULL-language row survives the
    scalable path (null-safe joins to counts) and lands in the same
    bucket as the window path gives it."""
    from team_126_spark.operators.textops import ppl_buckets

    rows = [(i, None if i % 4 == 0 else f"l{i % 2}", float(i)) for i in range(24)]
    scored = spark.createDataFrame(rows, ["doc_id", "lang", "surprisal"])
    win = {
        r["doc_id"]: r["ppl_bucket"]
        for r in ppl_buckets(scored, "surprisal", "lang", "doc_id").collect()
    }
    got = {
        r["doc_id"]: r["ppl_bucket"]
        for r in ppl_buckets(
            scored, "surprisal", "lang", "doc_id", scalable=True
        ).collect()
    }
    assert set(got) == set(win)  # null-lang rows retained
    assert got == win


def test_sliding_distinct_sketch_only_dial_and_span_guard(spark):
    """VERDICT r10 #6: exact=False emits (day, sketch_nd) from the
    daily-sketch table only (raw rows never cover-explode) and the
    estimate sits within the HLL bound of the exact count on the
    fixture; exact=True refuses a 90-day span (the 90x raw-row explode)
    unless max_exact_span is raised."""
    import pytest as _pytest

    from team_126_spark.operators.relational import sliding_distinct
    from team_126_spark.tables import table

    events = table(spark, "/root/testdata/sf0.001", "events")
    exact = {
        r["day"]: r["exact_nd"]
        for r in sliding_distinct(events, "ts", "user_id", window_days=7).collect()
    }
    sk = {
        r["day"]: r["sketch_nd"]
        for r in sliding_distinct(
            events, "ts", "user_id", window_days=7, exact=False
        ).collect()
    }
    assert set(sk) == set(exact)
    assert all(
        abs(sk[d] - exact[d]) <= max(3.0, 0.15 * exact[d]) for d in exact
    )
    with _pytest.raises(RuntimeError, match="max_exact_span"):
        sliding_distinct(events, "ts", "user_id", window_days=90)
    # sketch arm has no span bound; a 90-day window is fine there
    assert (
        sliding_distinct(
            events, "ts", "user_id", window_days=90, exact=False
        ).count()
        > 0
    )
