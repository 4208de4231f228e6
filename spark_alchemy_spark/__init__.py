"""spark_alchemy_spark — a PySpark-native analytics engine with the
capabilities of swoop-inc/spark-alchemy (re-aggregatable HLL sketch
algebra) extended with large-scale training-data pipeline operators
(deduplication, similarity search, multimodal columns, text analysis).

Everything is expressed through the DataFrame/SQL API so Catalyst and
Tungsten own the physical plan; Python appears only in Arrow-batched
UDFs where Spark has no built-in (byte-format interop, stubbed media
decoders).  The per-row sketch writer is one compiled Java UDF
(``functions/RowSketch.java``).
"""

from . import functions, multimodal, operators, sources, streaming
from .functions import register
from .session import build_session

__version__ = "0.2.0"

__all__ = [
    "functions",
    "operators",
    "sources",
    "streaming",
    "multimodal",
    "register",
    "build_session",
    "__version__",
]
