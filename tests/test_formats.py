"""Batch source/sink format surface: Avro/ORC/JSON/CSV round-trips with
explicit schemas, the permissive corrupt-line policy, and parquet schema
evolution under mergeSchema."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from kafka_streams_rosetta_demo_spark.sources.formats import read_table, write_table
from kafka_streams_rosetta_demo_spark.sources.parquet import load_table


def _sorted_rows(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def test_avro_round_trip_preserves_rows(spark, sf_smoke, tmp_path):
    """Genuine JVM Avro container files via the FQCN file format (the short
    name needs the absent spark-avro DataSourceRegister), readable back
    with the same explicit schema AND by the jar-less pure-Python OCF
    reader — the batch twin of the reference's Avro topic values."""
    from kafka_streams_rosetta_demo_spark.streaming.avro_codec import read_ocf

    nation = load_table(spark, sf_smoke, "nation")
    path = str(tmp_path / "nation_avro")
    write_table(nation.coalesce(1), path, "avro")
    back = read_table(spark, path, nation.schema, "avro")
    cols = nation.columns
    assert _sorted_rows(back, cols) == _sorted_rows(nation, cols)

    # cross-check with the standalone codec (JVM default codec is snappy,
    # which needs a native lib — rewrite uncompressed for the Python read)
    spark.conf.set("spark.sql.avro.compression.codec", "uncompressed")
    try:
        write_table(nation.coalesce(1), path, "avro")
    finally:
        spark.conf.unset("spark.sql.avro.compression.codec")
    (part,) = glob.glob(f"{path}/part-*.avro")
    _, recs = read_ocf(part)
    got = sorted(tuple(r[c] for c in cols) for r in recs)
    assert got == _sorted_rows(nation, cols)


def test_avro_reader_schema_projects_columns(spark, sf_smoke, tmp_path):
    """Schema-on-read with a NARROWER reader schema must project (Avro
    reader schema resolution) — the column-pruning contract every other
    format surface honors."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    nation = load_table(spark, sf_smoke, "nation")
    path = str(tmp_path / "nation_avro_proj")
    write_table(nation, path, "avro")
    narrow = StructType(
        [
            StructField("n_nationkey", LongType()),
            StructField("n_name", StringType()),
        ]
    )
    back = read_table(spark, path, narrow, "avro")
    assert back.columns == ["n_nationkey", "n_name"]
    assert _sorted_rows(back, back.columns) == _sorted_rows(
        nation.select("n_nationkey", "n_name"), ["n_nationkey", "n_name"]
    )


def test_orc_round_trip_preserves_rows(spark, sf_smoke, tmp_path):
    nation = load_table(spark, sf_smoke, "nation")
    path = str(tmp_path / "nation_orc")
    write_table(nation, path, "orc")
    back = read_table(spark, path, nation.schema, "orc")
    cols = nation.columns
    assert _sorted_rows(back, cols) == _sorted_rows(nation, cols)


def test_json_round_trip_preserves_rows(spark, sf_smoke, tmp_path):
    nation = load_table(spark, sf_smoke, "nation")
    path = str(tmp_path / "nation_json")
    write_table(nation, path, "json")
    back = read_table(spark, path, nation.schema, "json")
    cols = nation.columns
    assert _sorted_rows(back, cols) == _sorted_rows(nation, cols)


def test_csv_round_trip_preserves_rows(spark, sf_smoke, tmp_path):
    # customer has strings with punctuation + doubles — the columns CSV
    # quoting/parsing actually gets wrong when it goes wrong.
    cust = load_table(spark, sf_smoke, "customer")
    path = str(tmp_path / "cust_csv")
    write_table(cust, path, "csv")
    back = read_table(spark, path, cust.schema, "csv")
    cols = cust.columns
    assert _sorted_rows(back, cols) == _sorted_rows(cust, cols)


def test_json_corrupt_line_yields_null_row_not_failure(spark, tmp_path):
    # Permissive read: a malformed line must become a null row (the batch
    # analog of LogAndContinueExceptionHandler), never a job failure.
    src = tmp_path / "events.json"
    src.write_text('{"k": "a", "v": 1}\n{not json at all\n{"k": "b", "v": 2}\n')
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([StructField("k", StringType()), StructField("v", LongType())])
    df = read_table(spark, str(src), schema, "json")
    rows = df.collect()
    assert len(rows) == 3
    good = [(r.k, r.v) for r in rows if r.k is not None]
    dropped = [r for r in rows if r.k is None and r.v is None]
    assert sorted(good) == [("a", 1), ("b", 2)]
    assert len(dropped) == 1  # observable drop count, S5-style


def test_parquet_merge_schema_evolution(spark, tmp_path):
    """Lakehouse schema evolution: a later ingest batch adds a column; a
    mergeSchema read must surface the union schema with nulls for the old
    files — the behavior a 100 TB append-only corpus relies on when a new
    metadata field lands mid-history. Also pins the default (no-merge)
    read serving the FIRST footer's schema, which is why the engine's
    sources always pass an explicit schema or opt into merging."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "evolving")
    spark.range(5).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang")
    ).write.mode("overwrite").parquet(p)
    spark.range(5, 8).select(
        F.col("id").alias("doc_id"),
        F.lit("de").alias("lang"),
        F.lit(0.9).alias("quality"),
    ).write.mode("append").parquet(p)

    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"doc_id", "lang", "quality"}
    assert merged.count() == 8
    assert merged.where(F.col("quality").isNull()).count() == 5
    rows = {r.doc_id: r.quality for r in merged.collect()}
    assert rows[6] == 0.9 and rows[1] is None


def test_parquet_merge_schema_absorbs_column_add(spark, tmp_path):
    """Schema drift across snapshot generations: an old file without a
    column and a new file with it must read as the UNION schema under
    mergeSchema, the old rows NULL-filled — the 100 TB landing-zone
    contract where a column addition must not force a historical rewrite.
    Default reads (no mergeSchema) pick one footer; never rely on that."""
    old = str(tmp_path / "gen" / "old.parquet")
    new = str(tmp_path / "gen" / "new.parquet")
    spark.range(3).selectExpr("id AS doc_id", "id * 10 AS n_chars").coalesce(
        1
    ).write.parquet(old)
    spark.range(3, 6).selectExpr(
        "id AS doc_id", "id * 10 AS n_chars", "'en' AS lang"
    ).coalesce(1).write.parquet(new)

    merged = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")  # generations live in subdirs
        .parquet(str(tmp_path / "gen"))
    )
    assert sorted(f.name for f in merged.schema.fields) == [
        "doc_id",
        "lang",
        "n_chars",
    ]
    rows = {r.doc_id: (r.n_chars, r.lang) for r in merged.collect()}
    assert rows[0] == (0, None) and rows[5] == (50, "en")
    # and the drifted column still filters/prunes: predicate on the new
    # column must not error on old files (NULL never matches)
    assert merged.where(F.col("lang") == "en").count() == 3
