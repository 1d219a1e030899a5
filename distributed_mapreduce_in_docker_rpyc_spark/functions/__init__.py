from distributed_mapreduce_in_docker_rpyc_spark.functions.text import WORD_PATTERN, tokenize_column, tokenize_line

__all__ = [
    "WORD_PATTERN",
    "tokenize_column",
    "tokenize_line",
]
