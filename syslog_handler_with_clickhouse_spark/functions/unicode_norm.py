"""Unicode normalization family — the ClickHouse ``normalizeUTF8NFC``
analogue plus accent stripping, as Arrow-batched
pandas UDFs over stdlib ``unicodedata`` (the UCD tables ship with
CPython; Spark has no native normalizer).

Cross-implementation differential by construction: DuckDB's
independent ``nfc_normalize`` and ``strip_accents`` builtins (ICU-free
utf8proc) produce IDENTICAL strings to these on the q350 oracle rows —
two unrelated UCD implementations must agree byte-for-byte.
strip_accents == NFD then drop the Mn (combining mark) category,
verified equal to DuckDB's semantics on composed, decomposed,
multi-mark, and ligature inputs.
"""

from __future__ import annotations

import unicodedata

import pandas as pd


def _norm_series(form: str):
    def f(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: None if x is None else unicodedata.normalize(form, x)
        )

    return f


def _strip_series(s: pd.Series) -> pd.Series:
    def strip(x):
        if x is None:
            return None
        return "".join(
            c
            for c in unicodedata.normalize("NFD", x)
            if unicodedata.category(c) != "Mn"
        )

    return s.map(strip)


def nfc_col(c):
    from pyspark.sql.functions import pandas_udf

    return pandas_udf(_norm_series("NFC"), "string")(c)


def strip_accents_col(c):
    from pyspark.sql.functions import pandas_udf

    return pandas_udf(_strip_series, "string")(c)
