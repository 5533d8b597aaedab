from invoicenet_spark.functions.analyzer import tokens_col
from invoicenet_spark.functions.extract import extract_text

__all__ = ["tokens_col", "extract_text"]
