"""Scalar column-function library (the engine's WHERE/cleaner/extract
surface) plus the shared regex and word-list data.

The column functions return pyspark Column expressions built from
JVM-side built-ins, so cleaners and extractors stay inside whole-stage
codegen (reference implements these as row-at-a-time Python string
functions; SURVEY §2.3). Element classification has one rule, in
``parsers/classify.py``; it imports ``patterns`` and ``english_words``
from here.
"""
