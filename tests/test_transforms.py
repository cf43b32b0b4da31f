"""Golden-fixture tests for the transform library, ported from the reference's
tests/test_dataflow_utils.py (semantics pinned to the current operator code
where the reference's own tests have drifted — see SURVEY.md §5)."""

from __future__ import annotations

import math

from pyspark.sql import Row
from pyspark.sql import types as T

from data_rivers_spark.operators import transforms as X


def rows(df):
    return [r.asDict() for r in df.collect()]


def test_columns_camel_to_snake_case(spark):
    df = spark.createDataFrame([("foo", "bar")], ["exampleColumn", "anotherExample"])
    out = X.columns_camel_to_snake_case(df)
    assert out.columns == ["example_column", "another_example"]


def test_columns_to_lower_case(spark):
    df = spark.createDataFrame([("a", "b", "c")], ["Example_Column", "anotherExample", "With a Space"])
    assert X.columns_to_lower_case(df).columns == ["example_column", "anotherexample", "with a space"]


def test_change_data_types(spark):
    schema = T.StructType(
        [
            T.StructField("count", T.StringType()),
            T.StructField("zip", T.LongType()),
            T.StructField("temp", T.LongType()),
            T.StructField("day", T.DoubleType()),
            T.StructField("pos", T.LongType()),
            T.StructField("bool1", T.StringType()),
            T.StructField("bool2", T.LongType()),
            T.StructField("nan_float", T.DoubleType()),
            T.StructField("nan_int", T.DoubleType()),
            T.StructField("nan_str", T.DoubleType()),
        ]
    )
    df = spark.createDataFrame(
        [("1", 15213, 72, 31.1, -3019057200, "TRUE", 1, float("nan"), float("nan"), float("nan"))],
        schema,
    )
    out = rows(
        X.change_data_types(
            df,
            [
                ("count", "int"),
                ("zip", "str"),
                ("temp", "float"),
                ("day", "int"),
                ("pos", "posint"),
                ("bool1", "bool"),
                ("bool2", "bool"),
                ("nan_float", "float"),
                ("nan_int", "int"),
                ("nan_str", "str"),
            ],
        )
    )[0]
    assert out == {
        "count": 1,
        "zip": "15213",
        "temp": 72.0,
        "day": 31,
        "pos": None,
        "bool1": True,
        "bool2": True,
        "nan_float": None,
        "nan_int": None,
        "nan_str": None,
    }


def test_change_data_types_bad_strings(spark):
    df = spark.createDataFrame([("31.1", "abc", "")], ["a", "b", "c"])
    out = rows(X.change_data_types(df, [("a", "int"), ("b", "float"), ("c", "nullstr")]))[0]
    # Python int('31.1') raises → NULL; float('abc') raises → NULL; '' → NULL
    assert out == {"a": None, "b": None, "c": None}


def test_convert_booleans_strict(spark):
    df = spark.createDataFrame(
        [("yeah", "nope", "nah", "yup", None)],
        "bool_1 string, bool_2 string, bool_3 string, bool_4 string, bool_6 string",
    )
    out = rows(
        X.convert_booleans(
            df,
            [
                ("bool_1", "yeah", "nah", None),
                ("bool_2", "yup", "nope", False),
                ("bool_3", "yeah", "nah", None),
                ("bool_4", "yup", "nope", False),
                ("bool_6", "yup", "nope", False),
            ],
            include_defaults=False,
        )
    )[0]
    assert out == {"bool_1": True, "bool_2": False, "bool_3": False, "bool_4": True, "bool_6": False}


def test_convert_booleans_defaults(spark):
    df = spark.createDataFrame([("YES", "negative", "maybe")], ["a", "b", "c"])
    out = rows(
        X.convert_booleans(
            df,
            [("a", "yup", "nope", False), ("b", "yup", "nope", False), ("c", "yup", "nope", None)],
            include_defaults=True,
        )
    )[0]
    assert out == {"a": True, "b": False, "c": None}


def test_convert_string_case(spark):
    df = spark.createDataFrame(
        [("abc", "DEF", "ghi jkl", "mno", None)], "u string, l string, t string, c string, n string"
    )
    out = rows(
        X.convert_string_case(
            df, [("u", "upper"), ("l", "lower"), ("t", "title"), ("c", "capitalize"), ("n", "upper")]
        )
    )[0]
    assert out == {"u": "ABC", "l": "def", "t": "Ghi Jkl", "c": "Mno", "n": None}


def test_filter_outliers(spark):
    df = spark.createDataFrame([(446, 6)], ["num_bridges", "num_super_bowls"])
    out = rows(X.filter_outliers(df, [("num_bridges", 1, 445), ("num_super_bowls", 6, 9999)]))[0]
    assert out == {"num_bridges": None, "num_super_bowls": 6}


def test_filter_fields(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["a", "b", "c"])
    assert X.filter_fields(df, ["b"]).columns == ["a", "c"]
    assert X.filter_fields(df, ["b"], exclude_target_fields=False).columns == ["b"]


def test_swap_field_names(spark):
    df = spark.createDataFrame([(1, 2)], ["old_a", "old_b"])
    out = X.swap_field_names(df, [("old_a", "new_a"), ("missing", "new_c")])
    assert set(out.columns) == {"new_a", "old_b", "new_c"}
    assert rows(out)[0]["new_c"] is None


def test_strip_before_delim(spark):
    df = spark.createDataFrame(
        [
            ("1999-01-25T00:00:00.0000000", None, "Bureau of School Crossing Guards"),
            ("2015-01-01T00:00:00.0000000", "2016-03-14T23:59:00.0000000", "Department of Public Works-ES Co Driver"),
            ("09/20/2023", None, None),
        ],
        ["hire", "term", "dept"],
    )
    out = rows(X.strip_before_delim(df, ["hire", "term", "dept"], ["T", "T", "-"], [0, 0, 1]))
    assert out[0] == {"hire": "1999-01-25", "term": None, "dept": None}
    assert out[1] == {"hire": "2015-01-01", "term": "2016-03-14", "dept": "ES Co Driver"}
    assert out[2] == {"hire": "09/20/2023", "term": None, "dept": None}


def test_prepend_characters(spark):
    df = spark.createDataFrame([("123",), ("abcde",), (None,)], ["id"])
    out = rows(X.prepend_characters(df, "id", 5, "0", check_numeric=True))
    assert [r["id"] for r in out] == ["00123", "abcde", None]


def test_reformat_phone_numbers(spark):
    us = [
        "+1(412)-6368126",
        "+1-4126368126",
        "14126368126",
        "412-636-8126",
        "412,636,8126",
        "412.636/8126",
        "412+636+8126",
        "$ 4 1 2 6 3 6 8 1 2 6 /",
    ]
    intl = [
        "+44 7911 123456",
        "+44(791)-1123456",
        "+44-7911123456",
        "447911123456",
        "44-791-112-3456",
        "+44+791+112+3456",
    ]
    df = spark.createDataFrame([(p,) for p in us + intl], ["phone"])
    out = [r["phone"] for r in rows(X.reformat_phone_numbers(df, "phone"))]
    assert out[: len(us)] == ["+1 (412) 636-8126"] * len(us)
    assert out[len(us) :] == ["+44 (791) 112-3456"] * len(intl)


def test_anonymize_address_block(spark):
    df = spark.createDataFrame(
        [("513 N. Neville St, Apt A1, Pittsburgh",), ("5565 Fifth Avenue, Apt D206, Pittsburgh",), ("No Number St",), (None,)],
        ["pii_addr"],
    )
    for accuracy, exp in [
        (10, ["51X N. Neville St, Apt A1, Pittsburgh", "556X Fifth Avenue, Apt D206, Pittsburgh"]),
        (100, ["5XX N. Neville St, Apt A1, Pittsburgh", "55XX Fifth Avenue, Apt D206, Pittsburgh"]),
        (1000, ["X N. Neville St, Apt A1, Pittsburgh", "5XXX Fifth Avenue, Apt D206, Pittsburgh"]),
    ]:
        out = [r["anon_addr"] for r in rows(X.anonymize_address_block(df, [("pii_addr", accuracy)]))]
        assert out == exp + ["No Number St", None], f"accuracy={accuracy}"


def test_anonymize_lat_long(spark):
    df = spark.createDataFrame([(45.18492716, 130.8153100), (18.1738281, 100.46518390)], ["pii_lat", "pii_long"])
    out = rows(X.anonymize_lat_long(df, [("pii_lat", "pii_long", 200)]))
    assert out[0]["anon_lat"] == "45.185" and out[0]["anon_long"] == "130.815"
    assert out[1]["anon_lat"] == "18.174" and out[1]["anon_long"] == "100.465"


def test_standardize_times_conflicting_tz(spark):
    # test_dataflow_utils.py:334-356 — declared zone overrides in-string tz
    df = spark.createDataFrame(
        [("Fri July 19 03:21:55 UTC 2019", "2021-05-01 01:44:00-04:00")],
        ["openedDate", "closedDate"],
    )
    out = rows(
        X.standardize_times(df, [("openedDate", "America/Denver"), ("closedDate", "UTC")], lenient=True)
    )[0]
    assert out["openedDate_UNIX"] == 1563528115
    assert out["openedDate_UTC"] == "07/19/2019 09:21:55+0000"
    assert out["openedDate_EST"] == "07/19/2019 05:21:55-0400"
    assert out["closedDate_UNIX"] == 1619833440
    assert out["closedDate_UTC"] == "05/01/2021 01:44:00+0000"
    assert out["closedDate_EST"] == "04/30/2021 21:44:00-0400"


def test_standardize_times_native(spark):
    df = spark.createDataFrame(
        [("2021-05-01 01:44:00-04:00", None)], "closedDate string, empty string"
    )
    out = rows(X.standardize_times(df, [("closedDate", "UTC"), ("empty", "UTC")]))[0]
    assert out["closedDate_UNIX"] == 1619833440
    assert out["closedDate_UTC"] == "05/01/2021 01:44:00+0000"
    assert out["closedDate_EST"] == "04/30/2021 21:44:00-0400"
    assert out["empty_UNIX"] is None and out["empty_UTC"] is None


def test_get_date_strings_from_unix(spark):
    df = spark.createDataFrame([(1563528115,)], ["ts_unix"])
    out = rows(X.get_date_strings_from_unix(df, [("ts_unix", "ts_utc", "ts_east")]))[0]
    assert out["ts_utc"] == "2019-07-19 09:21:55+00:00"
    assert out["ts_east"] == "2019-07-19 05:21:55-04:00"


def test_format_and_classify_address(spark):
    # address classification matrix, test_dataflow_utils.py:167-219
    cases = [
        ("5939", "5TH AVE", "", "Pittsburgh", 0.0, 0.0, "Precise", "5939 5TH AVE, Pittsburgh"),
        ("5821-5823", "STANTON AVE", "ROBLEY WAY", "Pittsburgh", 40.47, -79.92, "Underspecified", "5821-5823 STANTON AVE, Pittsburgh"),
        ("", "S 22ND ST", "E CARSON ST", "Pittsburgh", 40.43, -79.97, "Intersection", "S 22ND ST and E CARSON ST, Pittsburgh"),
        ("2100 BLK", "CAREY WAY", "", "Pittsburgh", 40.43, -79.98, "Underspecified", "2100 BLK CAREY WAY, Pittsburgh"),
        ("", None, "", "Pittsburgh", 40.48, -79.93, "Coordinates Only", None),
        ("", None, "", "Pittsburgh", 0.0, 0.0, "Missing", None),
    ]
    df = spark.createDataFrame(
        [c[:6] for c in cases],
        ["streetNum", "streetName", "crossStreetName", "cityName", "latitude", "longitude"],
    )
    loc = {
        "street_num_field": "streetNum",
        "street_name_field": "streetName",
        "cross_street_field": "crossStreetName",
        "city_field": "cityName",
        "lat_field": "latitude",
        "long_field": "longitude",
    }
    out = rows(X.format_and_classify_address(df, loc, contains_pii=True))
    for got, case in zip(out, cases):
        assert got["address_type"] == case[6], case
        assert got["pii_input_address"] == case[7], case


def test_convert_geography(spark):
    df = spark.createDataFrame(
        [("[{lat: 40.5, lng: -80.1}, {lat: 40.6, lng: -80.2}]",), (None,)],
        ["geo"],
    )
    out = [r["geo"] for r in rows(X.convert_geography(df, "geo", "LINESTRING"))]
    assert out == ["LINESTRING(-80.1 40.5, -80.2 40.6)", None]
    out2 = [r["geo"] for r in rows(X.convert_geography(df, "geo", "POLYGON"))]
    assert out2[0] == "POLYGON((-80.1 40.5, -80.2 40.6))"


def test_standardize_parcel_numbers(spark):
    cases = [
        ("1-X-1-1-1", "0001X00001000101"),
        ("0001-X-00001-0001-01", "0001X00001000101"),
        ("0001X00001000101", "0001X00001000101"),
        ("1234-A-12345", "1234A12345000000"),
        ("0000A00000000000", "invalid input"),  # <3 distinct chars
        ("12#4-X-1", "invalid input"),  # special char
        ("1-2-3-4-5-6", "invalid input"),  # too many components
        ("123", "invalid input"),  # not 16 chars, no hyphens
        ("12A4X00001000101", "invalid input"),  # letter in numeric component
        (None, "invalid_input"),
    ]
    df = spark.createDataFrame([(c[0],) for c in cases], ["parc"])
    out = [r["parc"] for r in rows(X.standardize_parcel_numbers(df, "parc"))]
    assert out == [c[1] for c in cases]


def test_replace_pii(spark):
    df = spark.createDataFrame(
        [("Call me at 412-636-8126 or mail bob@example.com",)], ["comments"]
    )
    out = rows(X.replace_pii(df, "comments", "anon_comments"))[0]
    assert out["anon_comments"] == "Call me at [PHONE_NUMBER] or mail [EMAIL_ADDRESS]"


def test_crosswalk(spark):
    df = spark.createDataFrame([("A",), ("B",), ("Z",)], ["code"])
    out = [r["name"] for r in rows(X.get_vals_from_crosswalk(df, {"A": "Alpha", "B": "Beta"}, "code", "name"))]
    assert out == ["Alpha", "Beta", "Z"]
    cw = spark.createDataFrame([("A", "Alpha"), ("B", "Beta")], ["key", "value"])
    out2 = [r["name"] for r in rows(X.crosswalk_join(df, cw, "code", "name"))]
    assert sorted(out2) == ["Alpha", "Beta", "Z"]


def test_decode_status_and_closed_date(spark):
    df = spark.createDataFrame(
        [(0, "e1", "u1", 1), (1, "e2", "u2", 2)],
        ["status_code", "last_action_est", "last_action_utc", "last_action_unix"],
    )
    out = rows(X.get_closed_date(X.decode_status(df)))
    assert out[0]["status_name"] == "open" and out[0]["closed_date_utc"] is None
    assert out[1]["status_name"] == "closed" and out[1]["closed_date_utc"] == "u2"


def test_map_lookups_raise_no_future_warning(spark):
    """``Column.getItem(<Column>)`` is deprecated and warns before forwarding
    to ``column[key]``; both map lookups index the map directly."""
    import warnings

    df = spark.createDataFrame([(0, "A"), (1, "Z")], ["status_code", "code"])
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        out = X.decode_status(X.get_vals_from_crosswalk(df, {"A": "Alpha"}, "code", "name"))
    assert [(r["name"], r["status_name"]) for r in rows(out)] == [("Alpha", "open"), ("Z", "closed")]


def test_detect_child_ticket(spark):
    df = spark.createDataFrame([(0,), (12345,)], ["parent_ticket_id"])
    assert [r["child_ticket"] for r in rows(X.detect_child_ticket(df))] == [False, True]


def test_standardize_ethnicity_names(spark):
    df = spark.createDataFrame([("Asian (not Hispanic)",), (None,)], ["eth"])
    out = [r["eth"] for r in rows(X.standardize_ethnicity_names(df, "eth"))]
    assert out == ["Asian", "Decline to Answer"]


def test_extract_field_with_complexity(spark):
    df = spark.createDataFrame(
        [Row(fields=[Row(name="IncidentID", value="42"), Row(name="Status", value="Closed")])]
    )
    out = rows(
        X.extract_field_with_complexity(df, "fields", "name", "IncidentID", "value", "incident_id")
    )[0]
    assert out["incident_id"] == "42"


def test_account_code_conversion(spark):
    df = spark.createDataFrame([(512,), (514,), (99,)], ["uac"])
    assert [r["enabled"] for r in rows(X.account_code_conversion(df, "uac"))] == [True, False, None]


def test_deduplicate(spark):
    df = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], ["k", "v"])
    assert X.deduplicate(df).count() == 2


def test_extract_field_nested_paths(spark):
    df = spark.createDataFrame(
        [Row(src=Row(nested="v1", deeper=Row(extra="v2")))]
    )
    out = rows(
        X.extract_field(
            df,
            source_fields=["src", "src"],
            nested_fields=["nested", "deeper"],
            new_field_names=["flat1", "flat2"],
            additional_nested_fields=["", "extra"],
        )
    )[0]
    assert out["flat1"] == "v1" and out["flat2"] == "v2"


def test_identify_active_permits(spark):
    import time

    now = int(time.time())
    df = spark.createDataFrame(
        [(now - 100, now + 100), (now + 1000, now + 2000), (now - 2000, now - 1000)],
        "from_unix long, to_unix long",
    )
    out = [r.active for r in rows_df(X.identify_active_permits(df, "from_unix", "to_unix"))]
    assert out == [1, 0, 0]


def rows_df(df):
    return df.collect()


def test_replace_chars(spark):
    df = spark.createDataFrame([("a-b-c", "x.y")], ["f1", "f2"])
    out = rows(X.replace_chars(df, [("f1", "-", "_"), ("f2", r"\.", "/")]))[0]
    assert out == {"f1": "a_b_c", "f2": "x/y"}


def test_unnest_two_level(spark):
    df = spark.createDataFrame(
        [Row(xref=Row(inner=Row(PARCEL="0001X", ADDRESS="1 Main St")))]
    )
    out = rows(X.unnest_two_level(df, "xref", "inner", ["PARCEL", "ADDRESS"], prefix="p_"))[0]
    assert out["p_parcel"] == "0001X" and out["p_address"] == "1 Main St"


def test_fill_leading_zeroes(spark):
    df = spark.createDataFrame([("42",), ("abc",), (None,)], ["v"])
    out = [r.v for r in X.fill_leading_zeroes(df, "v", 5).collect()]
    assert out == ["00042", None, None]


def test_swap_two_columns(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["a", "b", "c"])
    assert X.swap_two_columns(df, "a", "c").columns == ["c", "b", "a"]


def test_set_col_b_based_on_col_a(spark):
    df = spark.createDataFrame([("x", "old"), ("y", "old")], ["a", "b"])
    out = {r.a: r.b for r in X.set_col_b_based_on_col_a_val(df, "a", "b", "x", "new").collect()}
    assert out == {"x": "new", "y": "old"}


def test_extract_middle_initial(spark):
    df = spark.createDataFrame(
        [("Doe, John M",), ("Doe, Jane",), ("Smith, A B.",)], ["name"]
    )
    out = [r.middle_initial for r in X.extract_middle_initial(df, "name").collect()]
    assert out == ["M", None, "B"]
