"""Unit tests for the predicate→key-range composer — pure Python, no JVM.

Mirrors the pruning behavior the reference exercises through its golden
queries (src/datasource.rs:198-239, 268-297) plus the error paths
(composer.rs:72-77, 127-133).
"""

import pytest

from datafusion_bigtable_spark.plans.composer import (
    Between,
    ComposerError,
    Eq,
    In,
    KeyRange,
    compose,
    from_datasource_filters,
)

SIMPLE = ("_row_key",)
COMPOSITE = ("region", "balloon_id", "event_minute")


def test_eq_single_key_point_range():
    ranges = compose([Eq("_row_key", "us-west2#3698#2021-03-05-1200")], SIMPLE)
    assert ranges == [KeyRange("us-west2#3698#2021-03-05-1200", "us-west2#3698#2021-03-05-1200")]
    assert ranges[0].is_point


def test_in_list_multiple_points():
    ranges = compose([In("_row_key", ("b", "a"))], SIMPLE)
    assert ranges == [KeyRange("a", "a"), KeyRange("b", "b")]


def test_between_tail_range():
    ranges = compose([Between("_row_key", "k1", "k5")], SIMPLE)
    assert ranges == [KeyRange("k1", "k5")]


def test_negated_between_ignored_then_error():
    with pytest.raises(ComposerError, match="not provided or not supported"):
        compose([Between("_row_key", "a", "b", negated=True)], SIMPLE)


def test_composite_all_eq():
    ranges = compose(
        [Eq("region", "us-west2"), Eq("balloon_id", "3698"), Eq("event_minute", "2021-03-05-1200")],
        COMPOSITE,
    )
    assert ranges == [KeyRange("us-west2#3698#2021-03-05-1200", "us-west2#3698#2021-03-05-1200")]


def test_composite_cross_product():
    ranges = compose(
        [In("region", ("us-east1", "us-west2")), In("balloon_id", ("3698", "3700")), Eq("event_minute", "m")],
        COMPOSITE,
    )
    assert len(ranges) == 4
    assert KeyRange("us-east1#3700#m", "us-east1#3700#m") in ranges


def test_composite_tail_between():
    ranges = compose(
        [Eq("region", "us-west2"), In("balloon_id", ("3698",)), Between("event_minute", "2021-03-05-1200", "2021-03-05-1201")],
        COMPOSITE,
    )
    assert ranges == [KeyRange("us-west2#3698#2021-03-05-1200", "us-west2#3698#2021-03-05-1201")]


def test_between_on_non_tail_component_ignored():
    # BETWEEN is honored on the last component only (composer.rs:234).
    with pytest.raises(ComposerError, match="balloon_id: filter is required"):
        compose([Eq("region", "r"), Between("balloon_id", "a", "b"), Eq("event_minute", "m")], COMPOSITE)


def test_missing_middle_component_errors():
    # Deviation 1: the reference silently builds a wrong key here.
    with pytest.raises(ComposerError, match="balloon_id: filter is required"):
        compose([Eq("region", "r"), Eq("event_minute", "m")], COMPOSITE)


def test_missing_tail_errors():
    with pytest.raises(ComposerError, match="event_minute: filter is required"):
        compose([Eq("region", "r"), Eq("balloon_id", "b")], COMPOSITE)


def test_no_filters_errors_unless_full_scan_allowed():
    with pytest.raises(ComposerError, match="not provided or not supported"):
        compose([], SIMPLE)
    assert compose([], SIMPLE, allow_full_scan=True) == []


def test_non_key_filters_ignored():
    ranges = compose([Eq("pressure", "94558"), Eq("_row_key", "k")], SIMPLE)
    assert ranges == [KeyRange("k", "k")]


def test_tail_values_and_range_union():
    # Deviation 2: values + range on the tail are a union of ranges.
    ranges = compose([Eq("_row_key", "zz"), Between("_row_key", "a", "b")], SIMPLE)
    assert ranges == [KeyRange("a", "b"), KeyRange("zz", "zz")]


def test_dedup_and_deterministic_order():
    r1 = compose([In("_row_key", ("a", "a", "b"))], SIMPLE)
    r2 = compose([In("_row_key", ("b", "a"))], SIMPLE)
    assert r1 == r2 == [KeyRange("a", "a"), KeyRange("b", "b")]


def test_from_datasource_filters_reassembles_between():
    class EqualTo:
        def __init__(self, attribute, value):
            self.attribute = attribute
            self.value = value

    class GreaterThanOrEqual:
        def __init__(self, attribute, value):
            self.attribute = attribute
            self.value = value

    class LessThanOrEqual:
        def __init__(self, attribute, value):
            self.attribute = attribute
            self.value = value

    preds = from_datasource_filters(
        [EqualTo(("region",), "r"), GreaterThanOrEqual(("event_minute",), "a"), LessThanOrEqual(("event_minute",), "b")],
        COMPOSITE,
    )
    assert Eq("region", "r") in preds
    assert Between("event_minute", "a", "b") in preds


@pytest.mark.parametrize("reverse", [False, True])
def test_from_datasource_filters_keeps_tightest_tail_bounds(reverse):
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        LessThan,
        LessThanOrEqual,
    )

    m = "2021-03-05-"
    filters = [
        EqualTo(("region",), "us-west2"),
        EqualTo(("balloon_id",), "3698"),
        GreaterThanOrEqual(("event_minute",), m + "1200"),
        GreaterThanOrEqual(("event_minute",), m + "1000"),
        LessThanOrEqual(("event_minute",), m + "1300"),
        LessThanOrEqual(("event_minute",), m + "1400"),
    ]
    preds = from_datasource_filters(filters[::-1] if reverse else filters, COMPOSITE)
    assert Between("event_minute", m + "1200", m + "1300") in preds
    assert compose(preds, COMPOSITE) == [
        KeyRange("us-west2#3698#" + m + "1200", "us-west2#3698#" + m + "1300")
    ]

    # Int keys: strict bounds tighten to inclusive ones before the comparison.
    from datafusion_bigtable_spark.plans.keycodec import encode_int_key

    int_filters = [
        GreaterThanOrEqual(("id",), -5),
        GreaterThan(("id",), 7),
        LessThan(("id",), 100),
        LessThanOrEqual(("id",), 120),
    ]
    preds = from_datasource_filters(
        int_filters[::-1] if reverse else int_filters, ("id",), key_types=("int64",)
    )
    assert preds == [Between("id", encode_int_key(8), encode_int_key(99))]


def test_overlapping_ranges_merge():
    # A point value inside a BETWEEN must not yield two overlapping scan
    # partitions (would duplicate rows at the data source).
    ranges = compose([Eq("_row_key", "b"), Between("_row_key", "a", "c")], SIMPLE)
    assert ranges == [KeyRange("a", "c")]

    ranges = compose(
        [In("_row_key", ("a", "m", "z")), Between("_row_key", "a", "n")], SIMPLE
    )
    assert ranges == [KeyRange("a", "n"), KeyRange("z", "z")]


def test_merged_ranges_never_overlap_property():
    from itertools import product
    ranges = compose(
        [In("region", ("r1", "r2")), Eq("balloon_id", "b"),
         In("event_minute", ("m1", "m5")), Between("event_minute", "m0", "m3")],
        COMPOSITE,
    )
    for r1, r2 in product(ranges, ranges):
        if r1 is not r2:
            assert r1.end < r2.start or r2.end < r1.start


def test_config_rejects_physical_column_collisions():
    import pytest as _pytest

    from datafusion_bigtable_spark.config import BigtableTableConfig, ColumnSpec

    with _pytest.raises(ValueError, match="physical"):
        BigtableTableConfig(
            table="t", column_family="f",
            columns=(ColumnSpec("ts", "string"),),
            table_partition_cols=("_row_key",),
        )
    with _pytest.raises(ValueError, match="reserved/key"):
        BigtableTableConfig(
            table="t", column_family="f",
            columns=(ColumnSpec("_timestamp", "string"),),
            table_partition_cols=("_row_key",),
        )
    # sane names still pass
    BigtableTableConfig(
        table="t", column_family="f",
        columns=(ColumnSpec("pressure", "int64"),),
        table_partition_cols=("region", "minute"),
    )


# --- NOT BETWEEN pruning (extension; reference drops all negations) --------


def test_not_between_tail_two_ranges():
    ranges = compose(
        [Eq("region", "us"), Eq("balloon", "b1"), Between("minute", "m3", "m6", negated=True)],
        ("region", "balloon", "minute"),
    )
    assert ranges == [
        KeyRange("us#b1#", "us#b1#m3"),
        KeyRange("us#b1#m6", "us#b1$"),  # '$' = '#' incremented: end of prefix
    ]


def test_not_between_with_positive_tail_constraint_ignored():
    # a positive tail constraint wins; the negation is left to re-filtering
    ranges = compose(
        [Eq("region", "us"), In("minute", ("m1", "m9")), Between("minute", "m3", "m6", negated=True)],
        ("region", "minute"),
    )
    assert ranges == [KeyRange("us#m1", "us#m1"), KeyRange("us#m9", "us#m9")]


def test_not_between_single_component_full_scan_or_error():
    # a lone negation on a single-component key has a right-unbounded
    # complement: the mandatory-filter guard treats it as not-supported
    # (reference semantics for every negation)
    preds = [Between("_row_key", "a", "b", negated=True)]
    assert compose(preds, ("_row_key",), allow_full_scan=True) == []
    with pytest.raises(ComposerError, match="not provided or not supported"):
        compose(preds, ("_row_key",), allow_full_scan=False)
