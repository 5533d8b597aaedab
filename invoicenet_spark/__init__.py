"""invoicenet_spark — a PySpark-native full-text index + BM25 query engine.

Brand-new engine with the data-processing capabilities of
naiveHobo/InvoiceNet (reference at /root/reference, read-only), re-expressed
Spark-first: the reference's document-analytics skeleton (binary ingest →
deterministic text extraction → tokenization/candidate generation → hashed
dictionaries → sparse candidate store → masked scoring → top-k selection →
checkpointed lifecycle) becomes an inverted-index build + BM25 query engine
over web-page tables (see SURVEY.md for the full operator mapping with
reference file:line citations).

Nothing here is a translation of the reference's TensorFlow execution; all
plans are declarative DataFrame/SQL handed to Catalyst, with numpy-vectorized
Arrow UDF kernels only for the posting-list codec and the query scoring kernels.
"""

from invoicenet_spark.config import EngineConfig

__all__ = ["EngineConfig"]
__version__ = "0.1.0"
