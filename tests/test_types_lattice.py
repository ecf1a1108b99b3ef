"""Type-merging lattice parity tests.

Mirrors flink-cdc-common SchemaMergingUtilsTest (SURVEY.md §5 layer 1):
getLeastCommonType / mergeDecimalType / mergeTimestampType / numeric
precision semantics, re-expressed over Spark types.
"""

import functools

import pytest
from pyspark.sql import types as T

from source_flink_cdc_3_5_0_spark.common.types import (
    get_least_common_type,
    is_type_compatible,
    merge_decimal,
    merge_timestamp,
    mysql_type_to_spark,
    numeric_precision,
)

INT = T.IntegerType()
BIGINT = T.LongType()
SMALLINT = T.ShortType()
TINYINT = T.ByteType()
DOUBLE = T.DoubleType()
FLOAT = T.FloatType()
STRING = T.StringType()
BOOL = T.BooleanType()
DATE = T.DateType()
TS_NTZ = T.TimestampNTZType()
TS_LTZ = T.TimestampType()


@pytest.mark.parametrize("a,b,expected", [
    (INT, INT, INT),
    (INT, BIGINT, BIGINT),
    (TINYINT, SMALLINT, SMALLINT),
    (SMALLINT, FLOAT, FLOAT),          # SMALLINT merges into FLOAT per tree
    (INT, FLOAT, DOUBLE),              # INT skips FLOAT (10 digits > float)
    (INT, DOUBLE, DOUBLE),
    (FLOAT, DOUBLE, DOUBLE),
    (BIGINT, DOUBLE, DOUBLE),
    (INT, STRING, STRING),
    (BOOL, INT, STRING),               # no numeric path for boolean
    (DATE, TS_NTZ, TS_NTZ),
    (DATE, TS_LTZ, TS_LTZ),
    (TS_NTZ, TS_LTZ, TS_LTZ),          # NTZ level 0 < LTZ level 1
    (DATE, STRING, STRING),
    (BOOL, STRING, STRING),
])
def test_least_common_type(a, b, expected):
    assert get_least_common_type(a, b) == expected
    assert get_least_common_type(b, a) == expected  # commutative


def test_decimal_merge_rules():
    # DECIMAL(p1,s1) + DECIMAL(p2,s2) -> max int digits + max scale
    assert merge_decimal(T.DecimalType(10, 2), T.DecimalType(8, 4)) == T.DecimalType(12, 4)
    # int + decimal keeps scale, widens precision to fit the int
    assert merge_decimal(T.DecimalType(10, 2), INT) == T.DecimalType(12, 2)
    assert merge_decimal(T.DecimalType(10, 2), BIGINT) == T.DecimalType(21, 2)
    # double + decimal is not exact-mergeable -> STRING
    assert merge_decimal(T.DecimalType(10, 2), DOUBLE) == STRING
    assert get_least_common_type(T.DecimalType(5, 0), T.DecimalType(5, 0)) == T.DecimalType(5, 0)
    assert get_least_common_type(DOUBLE, T.DecimalType(10, 2)) == STRING


def test_numeric_precision():
    assert numeric_precision(TINYINT) == 3
    assert numeric_precision(SMALLINT) == 5
    assert numeric_precision(INT) == 10
    assert numeric_precision(BIGINT) == 19
    assert numeric_precision(T.DecimalType(12, 3)) == 12


def test_timestamp_merge():
    assert merge_timestamp(TS_NTZ, TS_NTZ) == TS_NTZ
    assert merge_timestamp(TS_NTZ, TS_LTZ) == TS_LTZ


def test_fold_across_many():
    """Route-merge folds the pairwise rule across N schemas."""
    def fold(types):
        return functools.reduce(get_least_common_type, types)
    assert fold([TINYINT, SMALLINT, INT]) == INT
    assert fold([INT, BIGINT, DOUBLE]) == DOUBLE
    assert fold([INT, STRING, DOUBLE]) == STRING


def test_compatibility():
    assert is_type_compatible(BIGINT, INT)
    assert not is_type_compatible(INT, BIGINT)
    assert is_type_compatible(STRING, BOOL)
    assert is_type_compatible(None, INT) is False
    assert is_type_compatible(T.DecimalType(12, 2), T.DecimalType(10, 2))
    assert not is_type_compatible(T.DecimalType(10, 2), T.DecimalType(12, 2))
    assert is_type_compatible(T.DecimalType(12, 2), INT)


def test_mysql_type_mapping():
    assert mysql_type_to_spark("TINYINT UNSIGNED") == SMALLINT
    assert mysql_type_to_spark("INT UNSIGNED") == BIGINT
    assert mysql_type_to_spark("BIGINT UNSIGNED") == T.DecimalType(20, 0)
    assert mysql_type_to_spark("DECIMAL", 8, 4) == T.DecimalType(8, 4)
    assert mysql_type_to_spark("DECIMAL", 65, 1) == STRING  # p>38 -> STRING
    assert mysql_type_to_spark("JSON") == STRING
    assert mysql_type_to_spark("DATETIME") == TS_NTZ
    assert mysql_type_to_spark("TIMESTAMP") == TS_LTZ
    assert mysql_type_to_spark("BIT", 1) == BOOL
    assert mysql_type_to_spark("BIT", 8) == T.BinaryType()


class TestPostgresTypeMapping:
    """PostgresTypeUtils.java:84-196 parity (name-keyed, PRECISE/adaptive
    modes)."""

    def test_scalar_mappings(self):
        from source_flink_cdc_3_5_0_spark.common.types import postgres_type_to_spark as m

        assert m("bool") == T.BooleanType()
        assert m("int2") == T.ShortType()
        assert m("serial") == T.IntegerType()
        assert m("bigserial") == T.LongType()
        assert m("oid") == T.LongType()
        assert m("float4") == T.FloatType()
        assert m("double precision") == T.DoubleType()
        assert m("bytea") == T.BinaryType()
        assert m("uuid") == T.StringType()
        assert m("jsonb") == T.StringType()
        assert m("tstzrange") == T.StringType()
        assert m("money") == T.DecimalType(19, 2)
        assert m("timestamp") == T.TimestampNTZType()
        assert m("timestamptz") == T.TimestampType()
        assert m("hstore") == T.MapType(T.StringType(), T.StringType())

    def test_numeric_precise_mode(self):
        from source_flink_cdc_3_5_0_spark.common.types import postgres_type_to_spark as m

        assert m("numeric", 10, 2) == T.DecimalType(10, 2)
        # unconstrained / over-max precision -> DECIMAL(38, 0)
        assert m("numeric") == T.DecimalType(38, 0)
        assert m("numeric", 131072, 0) == T.DecimalType(38, 0)

    def test_bit_and_arrays(self):
        from source_flink_cdc_3_5_0_spark.common.types import postgres_type_to_spark as m

        assert m("bit", 1) == T.BooleanType()
        assert m("varbit", 16) == T.BinaryType()
        assert m("int4[]") == T.ArrayType(T.IntegerType())
        assert m("_text") == T.ArrayType(T.StringType())
        assert m("numeric[]", 12, 3) == T.ArrayType(T.DecimalType(12, 3))

    def test_zoned_marker_and_unmapped(self):
        import pytest

        from source_flink_cdc_3_5_0_spark.common.types import (
            postgres_type_is_zoned, postgres_type_to_spark as m)

        assert postgres_type_is_zoned("timestamptz")
        assert postgres_type_is_zoned("_timestamptz")
        assert not postgres_type_is_zoned("timestamp")
        with pytest.raises(ValueError):
            m("box")
