"""docling_spark — a from-scratch, PySpark-native document-to-structured-text
extraction engine with the capabilities of the reference Docling pipeline
(zhengwu119/docling, surveyed in SURVEY.md).

Everything here is built on public knowledge only: the PySpark API, the Python
standard library, and observable behavior of the reference repo's golden files.

Layout:
    htmlx/      from-scratch HTML DOM + extraction core (vectorized-UDF payload)
    pdfx/       pure-Python PDF text-cell extraction + layout heuristics
    ops/        web-scale training-data operators (dedup, lang-id, quality, ANN)
    model.py    flattened DoclingDocument-equivalent span model
    serialize.py  markdown / indented-text serializers (golden-file parity)
    schema.py   Spark StructTypes for all tables
    job.py      the Spark job: dispatch, mapInPandas branches, lineage, resume
    zipcache.py stops Spark Python workers re-reading zip archives per task
"""

import sys

__version__ = "0.1.0"

# imported inside a Spark task: this process is a Python worker, which runs
# importlib.invalidate_caches() at the start of every task
_taskcontext = sys.modules.get("pyspark.taskcontext")
if _taskcontext is not None and _taskcontext.TaskContext.get() is not None:
    from docling_spark import zipcache

    zipcache.install()
del _taskcontext
