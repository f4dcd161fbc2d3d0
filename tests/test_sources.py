import json

from wellmeet_data_pipeline_spark.schemas import REVIEW
from wellmeet_data_pipeline_spark.sources.ingest import fetch_rows, incremental_ingest, seed_frame
from wellmeet_data_pipeline_spark.sources.json_source import read_ids_only, read_json_array


def test_read_json_array(spark, tmp_path):
    # the reference's {place_id}.json layout (storage_manager.py:30)
    f = tmp_path / "31238198.json"
    f.write_text(
        json.dumps(
            [
                {"id": "h1", "place_id": "31238198", "author": "a", "content": "c", "visit_date": "7.25.금"},
                {"id": "h2", "place_id": "31238198", "author": "b", "content": "d", "visit_date": "7.26.토"},
            ],
            ensure_ascii=False,
        )
    )
    df = read_json_array(spark, str(f), REVIEW)
    assert df.count() == 2
    assert df.schema == REVIEW or set(df.columns) == {c.name for c in REVIEW.fields}
    ids = {r["id"] for r in read_ids_only(spark, str(f), REVIEW).collect()}
    assert ids == {"h1", "h2"}


def _make_fetcher():
    # local closure so cloudpickle serializes it by value (executors can't
    # import the tests module); deterministic stand-in for the Naver crawl
    def fetch(key: str, page: int):
        return [
            {
                "id": f"{key}-{page}-{i}",
                "place_id": key,
                "author": "a",
                "content": f"row {i}",
                "visit_date": "7.25.금",
            }
            for i in range(3)
        ]

    return fetch


def test_seed_and_fetch(spark):
    seeds = seed_frame(spark, ["p1", "p2"], pages=4)
    assert seeds.count() == 8
    assert seeds.rdd.getNumPartitions() == 8  # partition-per-page (S3/R6)
    rows = fetch_rows(seeds, _make_fetcher(), REVIEW)
    assert rows.count() == 24


def test_incremental_ingest_anti_join(spark):
    seeds = seed_frame(spark, ["p1"], pages=1)
    rows = fetch_rows(seeds, _make_fetcher(), REVIEW)
    existing = spark.createDataFrame([("p1-1-0",), ("p1-1-2",)], "id string")
    got = {r["id"] for r in incremental_ingest(rows, existing).collect()}
    assert got == {"p1-1-1"}


def test_paginated_datasource(spark):
    from wellmeet_data_pipeline_spark.sources.datasource import PaginatedFeedDataSource

    spark.dataSource.register(PaginatedFeedDataSource)
    df = (
        spark.read.format("paginated_feed")
        .option("keys", "p1,p2")
        .option("pages", "2")
        .option("rows_per_page", "3")
        .load()
    )
    rows = df.collect()
    assert len(rows) == 12
    assert {r["place_id"] for r in rows} == {"p1", "p2"}
    assert df.rdd.getNumPartitions() == 4  # one task per (key, page)


def test_jdbc_plan_insert_if_absent(spark):
    from wellmeet_data_pipeline_spark.operators.joins import insert_if_absent

    incoming = spark.createDataFrame(
        [("r1", "a1"), ("r2", "a2")], "name string, address string"
    )
    existing = spark.createDataFrame([("r2", "a2")], "name string, address string")
    got = insert_if_absent(incoming, existing, ["name", "address"]).collect()
    assert [r["name"] for r in got] == ["r1"]


def test_format_roundtrip_csv_json_orc_parquet(spark, tmp_path):
    """Source/sink format completeness: the same frame must survive a
    write/read roundtrip through every built-in columnar/text format
    with an explicit schema (csv/json are schema-on-read — never infer
    in production paths)."""
    from pyspark.sql.types import StructType

    df = spark.createDataFrame(
        [(1, "hello world", 3.5), (2, "bye, with comma", None)],
        "id long, text string, score double",
    )
    want = {(r["id"], r["text"], r["score"]) for r in df.collect()}
    schema = StructType.fromDDL("id long, text string, score double")
    for fmt, opts in [
        ("parquet", {}),
        ("orc", {}),
        ("json", {}),
        ("csv", {"header": "true", "quote": '"', "escape": '"'}),
    ]:
        path = str(tmp_path / fmt)
        df.write.mode("overwrite").options(**opts).format(fmt).save(path)
        back = spark.read.options(**opts).schema(schema).format(fmt).load(path)
        got = {(r["id"], r["text"], r["score"]) for r in back.collect()}
        assert got == want, fmt


def test_paginated_datasource_streaming_exactly_once(spark, tmp_path):
    """The streaming half of the Python DataSource: availableNow drains
    pages in offset order; a second activation with the same checkpoint
    adds nothing once the page horizon is reached (offsets are durable)."""
    from wellmeet_data_pipeline_spark.sources.datasource import PaginatedFeedDataSource
    from wellmeet_data_pipeline_spark.streaming.pipeline import drain

    spark.dataSource.register(PaginatedFeedDataSource)
    out, ckpt = str(tmp_path / "pf_out"), str(tmp_path / "pf_ckpt")

    def activate():
        feed = (
            spark.readStream.format("paginated_feed")
            .option("keys", "p1,p2")
            .option("rows_per_page", "3")
            .option("pages_per_batch", "1")
            .option("max_pages", "4")
            .load()
        )
        drain(feed.writeStream.format("parquet").option("path", out), ckpt)
        return spark.read.parquet(out).count()

    # each activation advances the durable {"page": n} offset by one
    # pages_per_batch increment; counts grow 6 -> 12 -> 18 -> 24
    counts = [activate() for _ in range(4)]
    assert counts == [6, 12, 18, 24]
    ids = {r["id"] for r in spark.read.parquet(out).collect()}
    assert len(ids) == 24 and "p1-1-0" in ids and "p2-4-2" in ids
    # horizon reached, offset durable -> a further activation adds nothing
    assert activate() == 24
