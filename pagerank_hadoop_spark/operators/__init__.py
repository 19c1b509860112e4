from pagerank_hadoop_spark.operators.pagerank import (  # noqa: F401
    pagerank,
    top_ranks,
)
