from search_suite_spark.functions.normalise import normalise

__all__ = ["normalise"]
