"""Source-side readers: the overflow-safe varint path."""


def test_overflow_safe_varints_rescues_wide_values(spark):
    from cql_replicator_spark.sources.varint import overflow_safe_varints

    wide = "9" * 45          # 45 digits: > DECIMAL(38,0)
    ok = "123456789"
    df = spark.createDataFrame([(1, wide), (2, ok)], ["pk", "v"])
    out = overflow_safe_varints(df, ["v"]).collect()
    by_pk = {r.pk: r for r in out}
    assert by_pk[1].v == wide and not by_pk[1].v_fits and by_pk[1].v_dec is None
    assert by_pk[2].v_fits and str(by_pk[2].v_dec) == ok
    # the lossless string survives a CQL literal render round-trip
    from cql_replicator_spark.types import render_cql_value
    assert render_cql_value(wide, "varint") == wide
