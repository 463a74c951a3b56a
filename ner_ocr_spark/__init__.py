"""ner_ocr_spark — a PySpark-native OCR+NER span-extraction engine.

From-scratch reimplementation of the query/data-processing capabilities of
UCL-ARC/ner-ocr (reference at /root/reference, read-only), re-expressed on
the Spark DataFrame/Catalyst stack per SURVEY.md. Nothing here ports the
reference's execution machinery; only its *semantics* are preserved
(span-sequence equality (kind, text, media_ref, order) per document).
"""

from ner_ocr_spark import _pyworker

__version__ = "0.1.0"

# every python worker that loads engine code skips pyspark.zip's per-task
# directory re-read from its next task on (see _pyworker)
_pyworker.install()
