"""Driver-contract helpers of ``__spark_entry__``."""

from decimal import Decimal


def test_local_df_ddl_with_parameterized_type(spark):
    import __spark_entry__ as m

    # "decimal(12,2)" holds a comma; the field names must still be two.
    rows = [(Decimal("1.50"), "x"), (Decimal("-3.25"), "y")]
    df = m._local_df(spark, rows, "a decimal(12,2), b string")
    assert df.columns == ["a", "b"]
    assert df.schema["a"].dataType.simpleString() == "decimal(12,2)"
    assert [tuple(r) for r in df.collect()] == rows
