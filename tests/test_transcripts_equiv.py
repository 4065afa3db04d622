"""load_transcripts (DataFrame form, conv_id-partitioned turn numbering)
must be ROW-IDENTICAL to TRANSCRIPTS_FROM_EVENTS_SQL — the portable SQL
the DuckDB oracles restate. The DataFrame form exists only so the
turn-numbering window's exchange doubles as the conv_id hash partitioning
every downstream conv-keyed operator reuses (r7 optimization); `conv_id =
'conv-' || user_id` is a bijection, so the per-partition ROW_NUMBER is
unchanged. This test pins that equivalence on the real driver tables."""

import os

from tmframe_spark.data.transcripts import (
    TRANSCRIPTS_FROM_EVENTS_SQL,
    load_transcripts,
    register_tables,
)

SF_DIR = os.environ.get("TMFRAME_TEST_SF_DIR", "/root/testdata/sf0.01")


def test_load_transcripts_matches_portable_sql(spark):
    register_tables(spark, SF_DIR)
    sql_rows = sorted(
        tuple(r)
        for r in spark.sql(
            TRANSCRIPTS_FROM_EVENTS_SQL.format(events="events")
        ).collect()
    )
    df_rows = sorted(tuple(r) for r in load_transcripts(spark, SF_DIR).collect())
    assert df_rows == sql_rows
    # schema (names + types) must match too — oracles hash by column name
    sql_schema = spark.sql(TRANSCRIPTS_FROM_EVENTS_SQL.format(events="events")).schema
    assert load_transcripts(spark, SF_DIR).schema == sql_schema


def test_register_tables_sees_in_place_rewrite(spark, tmp_path):
    # the registration memo must not serve a stale listing after a table
    # is rewritten in place mid-session
    import shutil

    import pyarrow.parquet as pq

    from tests.conftest import SF_DIR as TEST_SF_DIR

    for name in os.listdir(TEST_SF_DIR):
        shutil.copyfile(os.path.join(TEST_SF_DIR, name), tmp_path / name)
    try:
        register_tables(spark, str(tmp_path))
        n = spark.table("events").count()
        assert n > 10
        events = tmp_path / "events.parquet"
        pq.write_table(pq.read_table(events).slice(0, 10), events)
        register_tables(spark, str(tmp_path))
        assert spark.table("events").count() == 10
        # unchanged tables keep the memo: a second call is a no-op
        key = spark._tmframe_registered_sf
        register_tables(spark, str(tmp_path))
        assert spark._tmframe_registered_sf is key
    finally:
        register_tables(spark, TEST_SF_DIR)
