from airbyte_module_spark.sources.feed import read_feed_stream
from airbyte_module_spark.sources.files import read_file, write_file
from airbyte_module_spark.sources.generator import FeedSpec, generate_feed, generate_feed_spark
from airbyte_module_spark.sources.jdbc import jdbc_options, jdbc_url, read_jdbc, write_jdbc

__all__ = [
    "FeedSpec",
    "generate_feed",
    "generate_feed_spark",
    "jdbc_options",
    "jdbc_url",
    "read_feed_stream",
    "read_file",
    "read_jdbc",
    "write_file",
    "write_jdbc",
]
