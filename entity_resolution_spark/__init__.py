"""entity_resolution_spark — PySpark-native record-linkage engine.

A from-scratch distributed re-expression of the capabilities of
``encrypted-ai/entity_resolution`` (see SURVEY.md): blocking → pairwise
scoring → transitive clustering over a source-code-repository table, the
lifecycle verbs of a standing resolution (incremental fold, retraction,
review, re-threshold), and the reference's schema-matching /
consolidation semantics. The operator catalogue registered in
``contract/`` sits outside the engine: the engine never imports it.

Drop-in reference API (``SimilarColumnFinder`` etc.) lives in
``entity_resolution_spark.compat``.
"""

from .config import (
    DEFAULT_CONSOLIDATION_THRESHOLD,
    DEFAULT_SIMILARITY_THRESHOLD,
    DEFAULT_VALIDATION_SAMPLE,
    MinHashConfig,
    PipelineConfig,
)
from .session import ensure_py_files, get_spark

__all__ = [
    "DEFAULT_CONSOLIDATION_THRESHOLD",
    "DEFAULT_SIMILARITY_THRESHOLD",
    "DEFAULT_VALIDATION_SAMPLE",
    "MinHashConfig",
    "PipelineConfig",
    "ensure_py_files",
    "get_spark",
    "resolve",
    "SimilarColumnFinder",
    "SemanticConsolidation",
    "EntityAssignment",
    "LangGraphWorkflow",
]

__version__ = "0.2.0"


def __getattr__(name):  # lazy: avoid importing pyspark plan modules eagerly
    if name == "resolve":
        from .plans.pipeline import resolve

        return resolve
    if name in ("SimilarColumnFinder", "SemanticConsolidation", "EntityAssignment",
                "LangGraphWorkflow", "ColumnMatchingWorkflow", "NodeGraph"):
        from . import compat

        return getattr(compat, name)
    raise AttributeError(name)
