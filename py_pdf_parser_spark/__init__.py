"""spark-pdf-extract: PySpark-native layout-extraction engine.

From-scratch reimplementation of jstockwin/py-pdf-parser's semantics
(reference read-only at /root/reference) over Spark DataFrames +
vectorized pandas/Arrow kernels.  See SURVEY.md for the blueprint.
"""

from . import _worker  # noqa: F401  (once per process, see _worker.py)

__version__ = "0.1.0"
