from crawler_spark.corpus.generator import make_corpus  # noqa: F401
