"""deepex_spark — a from-scratch PySpark-native knowledge-graph construction engine.

Re-creates the query/data-processing capabilities of the reference
(wang-research-lab/deepex: zero-shot text-to-triple translation, EMNLP 2021)
as an idiomatic Spark DataFrame pipeline:

    pages -> normalize -> sentences -> [fused Arrow kernel: tokenize ->
    NP mentions -> align -> attention -> bidirectional beam search ->
    triple assembly -> per-sentence dedup] -> candidates -> distill
    (flatten + reverse emission + doc sort) -> rerank -> entity linking ->
    canonicalize -> edges/vertices.

All heavy per-sentence work runs inside one ``mapInPandas`` stage (Arrow
batches, zero shuffles); relational stages are pure DataFrame ops so
Catalyst/AQE handle pushdown, broadcast, and skew.
"""

from deepex_spark import zip_guard
from deepex_spark.config import DeepExConfig

zip_guard.install()

__version__ = "0.1.0"

__all__ = ["DeepExConfig", "__version__"]
