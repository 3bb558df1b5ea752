"""v2_ocr_spark — a from-scratch PySpark-native extraction engine.

Re-expresses the document-processing core of the reference system
(NayerAli/v2-ocr: OCR-result cleanup, page/region ordering, text-block
assembly, resumable idempotent batch pipeline, and its small relational
query surface) as an idiomatic Spark DataFrame pipeline over
conversation-transcript tables:

    transcripts(conv_id string, turn_idx int, role string,
                text string, tool string, ts timestamp)
    -> extracted(conv_id string, turn_idx int, extracted_text string,
                 spans array<struct<start:int,end:int,kind:string>>)

Design principles (see SURVEY.md):
  * DataFrame/Catalyst first; extraction kernels run over whole Arrow
    batches inside a single ``mapInArrow`` pass (never per-row Python
    UDFs).
  * Per-turn extraction is a narrow map — zero shuffles.
  * Per-conversation assembly is JVM-side
    ``sort_array(collect_list(...))`` with an optional two-phase
    chunked merge for skewed (very long) conversations.
  * Writes are idempotent MERGE-style upserts keyed on
    (conv_id, turn_idx) via a transactional manifest sink
    (Iceberg MERGE stand-in; this sandbox has no Iceberg runtime jar).
"""

__version__ = "0.1.0"

# the only import-time side effect: inside a Spark Python worker, stop
# the per-task importer invalidation from re-reading zip archives and
# freeze the import-time heap (workerhook.py); a no-op in the driver
from v2_ocr_spark.workerhook import lighten_worker

lighten_worker()
