"""The synthetic corpus generator's parquet output is readable by Spark."""

from crawler_spark.corpus import make_corpus, write_corpus


def test_write_corpus_tables_read_back_in_spark(spark, tmp_path):
    """write_corpus must write microsecond timestamps: Spark's parquet reader
    rejects pyarrow's default TIMESTAMP(NANOS) for pandas input."""
    kw = dict(seed=3, n_hosts=3, pages_per_host=4, n_seed_hosts=2)
    paths = write_corpus(str(tmp_path), **kw)
    want = make_corpus(**kw)
    assert set(paths) == {"pages", "seeds", "robots", "politeness"}
    for name, path in paths.items():
        df = spark.read.parquet(path)
        assert df.count() == len(want[name]), name
        assert df.columns == list(want[name].columns), name
    pages = spark.read.parquet(paths["pages"])
    assert dict(pages.dtypes)["warc_ts"].startswith("timestamp")
    got = sorted(r["warc_ts"].timestamp() for r in pages.select("warc_ts").collect())
    assert got == sorted(t.timestamp() for t in want["pages"]["warc_ts"])
