"""Unicode text normalization — the one text-surface task that
genuinely needs Python (Spark SQL has no NFC/NFD builtin), done as
Arrow-batched SCALAR ``pandas_udf``s, never row-at-a-time Python.

Why a corpus pipeline needs this: the same visible string can arrive
composed (U+00E9 'é') or decomposed (U+0065 U+0301 'e'+combining
acute); without canonicalization they hash differently, so exact
dedup, the md5 hash split, and the stratified sample would all treat
duplicates as distinct documents. Run NFC before any content hashing.

Scale note: a scalar pandas_udf keeps whole-stage codegen intact
around it and transfers columns as Arrow batches; unicodedata.normalize
is a C-implemented stdlib call, so the per-batch Python cost is the
loop, not the normalization. ASCII-only corpora pay ~nothing: the
fast-path check skips strings that are already NFC.
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql.functions import pandas_udf


@pandas_udf("string")
def nfc(s: pd.Series) -> pd.Series:
    """Canonical composition (NFC). NULL-safe; already-normalized
    strings pass through via unicodedata.is_normalized (no rewrite)."""
    def norm(x):
        if x is None or unicodedata.is_normalized("NFC", x):
            return x
        return unicodedata.normalize("NFC", x)
    return s.map(norm)


@pandas_udf("string")
def strip_accents(s: pd.Series) -> pd.Series:
    """NFD-decompose then drop combining marks ('café' → 'cafe') —
    the search/matching normalization, NOT for content hashing (it is
    lossy; use :func:`nfc` for hashing)."""
    def strip(x):
        if x is None:
            return None
        return "".join(ch for ch in unicodedata.normalize("NFD", x)
                       if not unicodedata.combining(ch))
    return s.map(strip)

